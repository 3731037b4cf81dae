"""Pins for round-13 optimization internals.

1. `_sum6` fast default grid (floor-long micros, shift/mask split) is
   value-identical to the legacy decimal accumulation on adversarial
   inputs: negatives, nulls, all-null groups, 2/4-dp grids, zero.
2. WeightedDeterministicLinker's low-parallelism repartition rescue keeps
   the scored pair set identical on a narrow (single-partition) input.
3. The extended driver-local catalog paths (multi-source index insert via
   the clusters mirror, resolver insert via the contains mirror with G4
   expansion) produce a byte-identical catalog to the distributed paths
   on the full multi-source stacked-resolver pipeline shape.
4. The driver-path inserts submit a pinned number of Spark jobs per call,
   and the Spark source-index inserts at most a pinned number.
5. The driver mirrors are a cache of their tables: after a distributed
   step or a reopen they rebuild (equal to their tables) and put the next
   driver-CC resolver insert back on the driver kernel; an over-budget
   table is size-checked once.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as em

    return em


def test_sum6_fast_matches_legacy_adversarial(spark, entry):
    rows = [
        (1, 0.07),
        (1, -3.5),
        (1, None),
        (1, 123456.78),
        (1, -0.0001),
        (2, None),  # all-null group
        (3, 0.123456),
        (3, -98765.4321),
        (3, 1e9),
        (3, -1e9),
        (4, 0.0),
    ]
    df = spark.createDataFrame(rows, "g int, v double")
    fast = (
        df.groupBy("g").agg(entry._sum6(F.col("v")).alias("s")).orderBy("g")
    ).collect()
    legacy = (
        df.groupBy("g")
        .agg(entry._sum6(F.col("v"), dec=entry._dec6).alias("s"))
        .orderBy("g")
    ).collect()
    assert [r.asDict() for r in fast] == [r.asDict() for r in legacy]
    # dtype parity: both decimal(28,6)
    fdf = df.groupBy("g").agg(entry._sum6(F.col("v")).alias("s"))
    assert fdf.schema["s"].dataType.simpleString() == "decimal(28,6)"


def test_weighted_linker_rescue_same_pairs(spark):
    from matchbox_spark.operators.linkers import WeightedDeterministicLinker

    left = spark.createDataFrame(
        [(i, i % 5, float(i % 3)) for i in range(200)],
        "lid long, k int, b double",
    ).coalesce(1)
    right = spark.createDataFrame(
        [(100 + j, j % 5, float(j % 3)) for j in range(50)],
        "rid long, k int, b double",
    ).coalesce(1)
    linker = WeightedDeterministicLinker(
        left_id="lid",
        right_id="rid",
        weighted_comparisons=[
            {"comparison": "l.k = r.k", "weight": 2.0},
            {"comparison": "l.b = r.b", "weight": 1.0},
        ],
        threshold=0.66,
    )
    out = linker.link(left, right)
    got = {(r.left_id, r.right_id, round(r.score, 6)) for r in out.collect()}

    # independent reference: per-rule distinct pair sets, then weight sum
    lp = {(r.lid, r.k, r.b) for r in left.collect()}
    rp = {(r.rid, r.k, r.b) for r in right.collect()}
    exp = {}
    for lid, lk, lb in lp:
        for rid, rk, rb in rp:
            w = (2.0 if lk == rk else 0.0) + (1.0 if lb == rb else 0.0)
            if w / 3.0 >= 0.66:
                exp[(lid, rid)] = round(w / 3.0, 6)
    assert got == {(k[0], k[1], v) for k, v in exp.items()}


def _linked_catalog(spark, sf_dir, cat=None, cust_edge_limit=None, link=True):
    """The j7b linked-DAG shape: two sources, per-source dedupe resolvers,
    a cross-source linker, a stacked top resolver — run on ``cat`` (default
    a fresh catalog). ``cust_edge_limit`` is the first resolver's public
    ``driver_edge_limit``; ``link=False`` stops before the linker."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.operators.linkers import DeterministicLinker
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    dag = DAG(spark, Catalog(spark) if cat is None else cat)
    custx = SourceConfig(
        name="custx",
        location=f"{sf_dir}/customer.parquet",
        key_field="c_custkey",
        index_fields=["c_name", "c_nationkey", "c_mktsegment"],
    )
    suppx = SourceConfig(
        name="suppx",
        location=f"{sf_dir}/supplier.parquet",
        key_field="s_suppkey",
        index_fields=["s_name", "s_nationkey"],
    )
    dag.source(custx)
    dag.source(suppx)
    dag.model(
        "dedupe_cust",
        NaiveDeduper(
            id="id", unique_fields=["custx_c_nationkey", "custx_c_mktsegment"]
        ),
        QueryConfig(sources=[custx]),
    )
    dag.resolver(
        "resolve_cust",
        Components(driver_edge_limit=cust_edge_limit),
        ["dedupe_cust"],
    )
    dag.model(
        "dedupe_supp",
        NaiveDeduper(id="id", unique_fields=["suppx_s_nationkey"]),
        QueryConfig(sources=[suppx]),
    )
    dag.resolver("resolve_supp", Components(), ["dedupe_supp"])
    if not link:
        dag.run()
        return dag
    dag.model(
        "link_cs",
        DeterministicLinker(
            left_id="id",
            right_id="id",
            comparisons=[
                "l.custx_c_nationkey = r.suppx_s_nationkey "
                "AND l.custx_c_mktsegment = 'BUILDING'"
            ],
        ),
        QueryConfig(sources=[custx], resolvers=["resolve_cust"]),
        QueryConfig(sources=[suppx], resolvers=["resolve_supp"]),
    )
    dag.resolver("resolve_link", Components(), ["link_cs"])
    dag.run()
    return dag


def _catalog_state(cat):
    """Canonical content of every catalog table + step fingerprints."""
    from matchbox_spark.plans.catalog import _SCHEMAS

    state = {"steps": {k: v.get("fingerprint") for k, v in cat.steps.items()}}
    for name in cat._table_names():
        # schema column order: a reopened table reads its partition column last
        df = getattr(cat, name).select(
            *[f.split()[0] for f in _SCHEMAS[name].split(", ")]
        )
        rows = [
            tuple(
                v.hex() if isinstance(v, (bytes, bytearray)) else v
                for v in r
            )
            for r in df.collect()
        ]
        state[name] = sorted(rows)
    state["max_id"] = cat._max_id
    return state


def test_local_and_distributed_catalog_paths_byte_identical(
    spark, sf_dir, force_distributed
):
    # local paths live (default): mirrors survive the whole pipeline
    local_dag = _linked_catalog(spark, sf_dir)
    assert local_dag.catalog._mirrors.get("clusters") is not None
    assert local_dag.catalog._mirrors.get("contains") is not None
    local_state = _catalog_state(local_dag.catalog)

    # force every insert through the distributed branches
    force_distributed("index")
    dist_dag = _linked_catalog(spark, sf_dir)
    assert dist_dag.catalog._mirrors.get("clusters") is None
    dist_state = _catalog_state(dist_dag.catalog)

    assert local_state == dist_state


def test_contains_mirror_matches_table(spark, sf_dir):
    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    mirror = cat._mirrors["contains"]
    table = {}
    for r in cat.contains.collect():
        table.setdefault(r["root"], []).append(r["leaf"])
    assert mirror == {k: tuple(sorted(v)) for k, v in table.items()}
    _assert_cluster_copy(cat)


def _assert_cluster_copy(cat, copy=None):
    """The clusters copy (default: the catalog's) agrees with the table in
    both directions."""
    copy = cat._mirrors["clusters"] if copy is None else copy
    rows = {r["cluster_id"]: bytes(r["cluster_hash"]) for r in cat.clusters.collect()}
    assert {i: h for i, h in enumerate(copy.hashes) if h is not None} == rows
    assert copy.ids == {h: i for i, h in rows.items()}


def _hash_index(spark, rows):
    """A source index ``(hash, keys)`` over sha256 digests of the labels."""
    import hashlib

    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "hash": [hashlib.sha256(h.encode()).digest() for h, _ in rows],
                "keys": [list(k) for _, k in rows],
            }
        ),
        "hash binary, keys array<string>",
    )


# streamed by the third step of _overlap_catalogs(delta=True): h1 and h4
# are already clusters of srcA/srcB, h5 is new; c5 repeats within its array
_OVERLAP_DELTA = [("h1", ["c1"]), ("h4", ["c4"]), ("h5", ["c5", "c5x", "c5"])]


def _overlap_catalogs(spark, delta=False):
    """Two source inserts whose index HASHES overlap (h2, h3 shared):
    the second insert must reuse the existing cluster ids for the shared
    hashes and only mint ids for the new one — the rev-lookup branch of
    the mirror path that distinct-field pipelines never exercise. With
    ``delta``, a third step streams :data:`_OVERLAP_DELTA` through
    ``insert_source_index_delta`` (a merge: reuse across steps, mint for
    the rest)."""
    from matchbox_spark.plans.catalog import Catalog

    cat = Catalog(spark)
    cat.insert_source_index(
        "srcA",
        _hash_index(spark, [("h1", ["a1"]), ("h2", ["a2", "a2x"]), ("h3", ["a3"])]),
    )
    cat.insert_source_index(
        "srcB", _hash_index(spark, [("h2", ["b2"]), ("h3", ["b3"]), ("h4", ["b4"])])
    )
    if delta:
        cat.insert_source_index_delta("srcC", _hash_index(spark, _OVERLAP_DELTA))
    return cat


def test_cluster_copy_matches_table_both_directions(spark):
    """The clusters copy's id → hash list and hash → id map both agree
    with the ``clusters`` table after a bulk, a delta and a hierarchy
    insert, each of which mints ids on the copy."""
    import hashlib

    import pandas as pd

    cat = _overlap_catalogs(spark)
    _assert_cluster_copy(cat)
    cat.insert_source_index_delta("srcC", _hash_index(spark, _OVERLAP_DELTA))
    _assert_cluster_copy(cat)
    ids = sorted(cat._mirrors["clusters"].ids.values())
    assert ids == [1, 2, 3, 4, 5]
    # pandas, as the driver union-find hands it on
    apdf = pd.DataFrame({"parent_id": [1, 1, 2, 2, 2], "child_id": ids})
    cat.insert_resolver_clusters(
        "res", apdf, fingerprint=hashlib.sha256(b"res").digest()
    )
    assert cat._mirrors["contains"]  # the hierarchy insert stayed driver-side
    _assert_cluster_copy(cat)
    assert len(cat._mirrors["clusters"].ids) == 7


def test_overlapping_hash_insert_local_matches_distributed(
    spark, force_distributed
):
    local = _overlap_catalogs(spark)
    assert local._mirrors.get("clusters") is not None  # stayed on the mirror path
    local_state = _catalog_state(local)
    assert len(local_state["clusters"]) == 4  # h2/h3 reused, only h4 minted

    force_distributed("index")
    dist = _overlap_catalogs(spark)
    assert dist._mirrors.get("clusters") is None
    assert local_state == _catalog_state(dist)


def test_overlapping_hash_delta_insert_local_matches_distributed(
    spark, force_distributed
):
    """Merge mode over overlapping hashes: the streamed step reuses the ids
    other steps minted, mints only h5, and a replay of the same delta
    appends nothing — on the driver path and the distributed path alike."""

    def run():
        cat = _overlap_catalogs(spark, delta=True)
        state = _catalog_state(cat)
        parts = {k: len(v) for k, v in cat._parts.items()}
        cat.insert_source_index_delta("srcC", _hash_index(spark, _OVERLAP_DELTA))
        assert _catalog_state(cat) == state  # replay is idempotent
        return cat, state, parts

    local, local_state, parts = run()
    assert local._mirrors.get("clusters") is not None  # stayed on the mirror path
    assert local._mirrors.get("cluster_keys") is not None
    assert {k: len(v) for k, v in local._parts.items()} == parts  # no append
    assert len(local_state["clusters"]) == 5  # h1/h4 reused, only h5 minted
    assert sorted(k for _, s, k in local_state["cluster_keys"] if s == "srcC") == [
        "c1", "c4", "c5", "c5x"
    ]

    force_distributed("index")
    dist, dist_state, _ = run()
    assert dist._mirrors.get("clusters") is None
    assert local_state == dist_state


def test_delta_insert_null_key_and_empty_index_match_distributed(
    spark, force_distributed
):
    """A merge insert drops a null key on both paths (on the Spark path it
    could never anti-join away, so each replay appended it again), and an
    empty index registers its step on both."""

    def run():
        cat = _overlap_catalogs(spark)
        idx = _hash_index(spark, [("h1", ["c1", None]), ("h6", [None])])
        cat.insert_source_index_delta("srcC", idx)
        cat.insert_source_index_delta("srcC", idx)  # a replay
        cat.insert_source_index_delta("srcD", _hash_index(spark, []))
        return _catalog_state(cat)

    local = run()
    assert sorted(k for _, s, k in local["cluster_keys"] if s == "srcC") == ["c1"]
    assert len(local["clusters"]) == 5  # h6 is minted with no key
    assert "srcD" in local["steps"]
    force_distributed("index")
    assert run() == local


def _job_counter(spark, monkeypatch, names, owner=None):
    """Run every call of the named methods of ``owner`` (default
    ``Catalog``) under its own job group. Returns a function giving, per
    method, the number of Spark jobs each call submitted (in call order);
    its ``groups`` attribute holds each call's job group."""
    import uuid

    from matchbox_spark.plans.catalog import Catalog

    owner = Catalog if owner is None else owner
    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    groups = {n: [] for n in names}
    for name in names:

        def wrapper(self, *args, _fn=getattr(owner, name), _name=name, **kw):
            group = f"jobcount-{uuid.uuid4().hex}"
            # a streaming batch runs on the query's thread, which carries
            # the query's own job group: restore it, do not clear it
            saved = [(p, sc.getLocalProperty(p)) for p in props]
            sc.setJobGroup(group, _name)
            try:
                return _fn(self, *args, **kw)
            finally:
                for p, v in saved:
                    sc.setLocalProperty(p, v)
                groups[_name].append(group)

        monkeypatch.setattr(owner, name, wrapper)

    def counts():
        # job starts reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        return {
            n: [len(tracker.getJobIdsForGroup(g)) for g in gs]
            for n, gs in groups.items()
        }

    counts.groups = groups
    return counts


def test_driver_insert_job_counts(spark, monkeypatch):
    """Jobs per call of the driver-path inserts on live mirrors: one
    collect per source-index insert (bulk or merge) and none for a
    resolver insert whose assignments the driver union-find produced."""
    import hashlib

    import pandas as pd

    counts = _job_counter(
        spark,
        monkeypatch,
        [
            "insert_source_index",
            "insert_source_index_delta",
            "insert_resolver_clusters",
        ],
    )
    cat = _overlap_catalogs(spark, delta=True)
    ids = sorted(cat._mirrors["clusters"].ids.values())
    # pandas, as the driver union-find hands it on
    apdf = pd.DataFrame({"parent_id": [1, 1, 2, 2, 2], "child_id": ids})
    cat.insert_resolver_clusters(
        "res", apdf, fingerprint=hashlib.sha256(b"res").digest()
    )
    assert cat._mirrors["contains"]  # the resolver insert stayed driver-side
    assert counts() == {
        "insert_source_index": [1, 1],
        "insert_source_index_delta": [1],
        "insert_resolver_clusters": [0],
    }


def test_spark_index_insert_job_counts(spark, monkeypatch, force_distributed):
    """At most a pinned number of jobs per call of the Spark source-index
    inserts, which every over-budget or forced source insert takes: the
    bulk insert on an empty catalog (its first-insert branch) and on a
    non-empty one, then the merge insert of a new step and its replay."""
    force_distributed("index")
    counts = _job_counter(
        spark, monkeypatch, ["insert_source_index", "insert_source_index_delta"]
    )
    cat = _overlap_catalogs(spark, delta=True)
    cat.insert_source_index_delta("srcC", _hash_index(spark, _OVERLAP_DELTA))
    assert cat._mirrors.get("clusters") is None  # every insert went to Spark
    # a call's count can vary by one job from run to run, before the shared
    # Spark body as after it (the replay read 12 jobs in 2 of 20 runs, else
    # 11), so this pins the most each call may submit
    most = {"insert_source_index": [5, 14], "insert_source_index_delta": [12, 12]}
    got = counts()
    assert {n: len(c) for n, c in got.items()} == {n: 2 for n in most}
    assert all(c <= m for n in most for c, m in zip(got[n], most[n])), got


def _company_dedupe_dag(spark, path, budget):
    """er_batch's dedupe in miniature: 50 entities of 4 rows sharing a
    crn and a hub of 60, so the pair model emits near-cliques (2,070
    pairs), into a resolver with ``driver_edge_limit=budget``."""
    import pandas as pd

    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    sizes = [4] * 50 + [60]
    crn = [f"C{e:03d}" for e, k in enumerate(sizes) for _ in range(k)]
    pd.DataFrame({
        "key": [f"k{i}" for i in range(len(crn))],
        "company_name": [f"{c} co {i}" for i, c in enumerate(crn)],
        "crn": crn,
    }).to_parquet(path)
    dag = DAG(spark)
    src = dag.source(SourceConfig(
        name="crn", location=str(path), key_field="key",
        index_fields=["company_name", "crn"],
    )).config
    dag.model("dedupe_crn", NaiveDeduper(id="id", unique_fields=["crn_crn"]),
              QueryConfig(sources=[src]))
    dag.resolver("resolve_crn", Components(driver_edge_limit=budget), ["dedupe_crn"])
    return dag


def test_finished_cc_job_counts(spark, monkeypatch, tmp_path, caplog):
    """A distributed CC that one star round shrinks under its budget
    finishes on the driver: the resolve submits at most 12 jobs and its
    hierarchy insert none (the driver kernel). Budget 0 still runs every
    round, the distributed ranking and the distributed insert, into the
    same catalog."""
    import logging

    from matchbox_spark.plans.resolvers import Components

    lines, jobs, states = {}, {}, {}
    for budget in (1_000, 0):
        cc = _job_counter(spark, monkeypatch, ["compute_clusters"], owner=Components)
        ins = _job_counter(spark, monkeypatch, ["insert_resolver_clusters"])
        dag = _company_dedupe_dag(spark, tmp_path / "crn.parquet", budget)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="matchbox_spark.plans.resolvers"):
            dag.run()
        (lines[budget],) = [m for m in caplog.messages if m.startswith("Components:")]
        jobs[budget] = (cc()["compute_clusters"], ins()["insert_resolver_clusters"])
        states[budget] = _catalog_state(dag.catalog)
        monkeypatch.undo()
    assert lines[1_000] == (
        "Components: auto → distributed union-find (2,070 edges > 1,000;"
        " driver finish after 1 round at 209 edges)"
    ), lines
    assert lines[0].startswith(
        "Components: auto → distributed union-find (2,070 edges > 0; "
    ) and "driver finish" not in lines[0], lines
    (compute,), (insert,) = jobs[1_000]
    assert compute <= 12 and insert == 0, jobs
    (compute,), (insert,) = jobs[0]
    assert compute > 12 and insert > 0, jobs
    # the catalog stores no step's budget, and the hierarchy is the same
    assert states[1_000] == states[0]


@pytest.mark.parametrize("path", ["driver_index", "spark"])
def test_matcher_lookup_job_counts(spark, monkeypatch, force_distributed, path):
    """Jobs per ``Matcher.lookup``: none on the driver index; on the forced
    Spark path two for a present key (its root ids, then its root's rows)
    and one for an absent key, each a single stage — no shuffle."""
    from matchbox_spark.plans.dag import Matcher

    if path == "spark":
        force_distributed("index")
    # 8 partitions and no shuffle in the lineage: every stage is the lookup's
    proj = spark.range(0, 400, 1, 8).selectExpr(
        "id div 4 AS id",
        "id AS leaf_id",
        "CAST(id AS string) AS key",
        "'s' AS source",
    )
    m = Matcher(proj.persist())
    counts = _job_counter(spark, monkeypatch, ["lookup"], owner=Matcher)
    try:
        assert (m.index is not None) == (path == "driver_index")
        for key in ("0", "399", "nope"):
            m.lookup(key, "s", ["s"])
        assert m.lookup("399", "s", ["s"])[0].target_keys == {
            "396", "397", "398", "399"
        }
        want = [0, 0, 0, 0] if path == "driver_index" else [2, 2, 1, 2]
        assert counts()["lookup"] == want
        tracker = spark.sparkContext.statusTracker()
        for group in counts.groups["lookup"]:
            for job in tracker.getJobIdsForGroup(group):
                assert len(tracker.getJobInfo(job).stageIds) == 1
    finally:
        m.close()


def _delta_stream_catalog(spark, tmp_path, name, batches=None):
    """st7's shape in miniature: 3 micro-batches through the delta-link
    loop (index delta → blocked superset → model → edge delta → star
    union → CC → claim merge), including a cross-batch merge so the
    tombstone path fires. ``batches`` replaces the rows of the 3 batches
    (``k long, a string, u string``; one file per batch, an empty list
    writing a zero-row file).

    The file source orders a backlog by modification time, and files that
    share one come in directory-listing order, so the batches are given
    strictly increasing mtimes in list order; the stream's source log must
    then show one file per batch, in that order."""
    import json
    import os
    import time
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    schema = "k long, a string, u string"
    batches = batches or [
        [(1, "A1", "u1"), (2, "A1", "u2"), (10, "Z1", "u10")],
        [(3, "A2", "u3"), (4, "A2", "u4"), (11, "Z1", "u11")],
        [(5, "A1", "u5"), (6, "A2", "u6")],
    ]
    data_dir = tmp_path / f"data_{name}"
    data_dir.mkdir()
    files: list[str] = []
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
        files += sorted(
            {p.name for p in data_dir.glob("*.parquet")} - set(files)
        )
    t0 = time.time() - len(files)
    for i, f in enumerate(files):
        os.utime(data_dir / f, (t0 + i, t0 + i))
    cat = Catalog(spark)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=["a", "u"],
        model=NaiveDeduper(id="id", unique_fields=["s_a"]),
        resolver_method=Components(),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        source_location=str(data_dir),
    )
    q.awaitTermination(600)
    log = tmp_path / f"ckpt_{name}" / "sources" / "0"
    per_batch = [
        [
            os.path.basename(json.loads(line)["path"])
            for line in (log / str(b)).read_text().splitlines()[1:]
        ]
        for b in range(len(files))
    ]
    assert per_batch == [[f] for f in files]
    assert not (log / str(len(files))).exists()
    return cat


def test_streaming_delta_twins_byte_identical_to_distributed(
    spark, tmp_path, force_distributed
):
    """The r13 driver twins for the streaming delta inserts
    (the one-collect index merge kernel, insert_model_edges_delta's mirror
    path, merge_resolver_clusters_delta over _hierarchy_insert_local, the
    driver star edges and the pandas CC shortcut) produce a byte-identical
    catalog to the distributed loop they replace."""
    local = _delta_stream_catalog(spark, tmp_path, "twin")
    cat = local
    assert cat._mirrors.get("clusters") is not None  # twins stayed live
    assert cat._mirrors.get("cluster_keys") is not None
    assert cat._mirrors.get("resolver_clusters") is not None
    assert cat._mirrors.get("model_edges") is not None
    local_state = _catalog_state(cat)

    # mirror completeness: each mirror equals its table / view
    keys_rows = {
        (r["cluster_id"], r["key"])
        for r in cat.cluster_keys.where(F.col("source") == "s").collect()
    }
    assert cat._mirrors["cluster_keys"]["s"] == keys_rows
    rc_rows = {
        r["cluster_id"]
        for r in cat.resolver_clusters.where(
            F.col("step") == "s_resolve"
        ).collect()
    }
    assert cat._mirrors["resolver_clusters"]["s_resolve"] == rc_rows
    edge_rows = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "s_model").collect()
    }
    import numpy as np

    acc = cat._mirrors["model_edges"]["s_model"]
    # packed (l << 32) | r keys
    mirror_pairs = {
        (int(v >> np.uint64(32)), int(v & np.uint64(0xFFFFFFFF))) for v in acc
    }
    assert mirror_pairs == edge_rows

    # force the legacy distributed loop end to end and compare
    force_distributed("index", "cc")
    dist = _delta_stream_catalog(spark, tmp_path, "dist")
    assert dist._mirrors.get("clusters") is None  # loop went distributed
    assert local_state == _catalog_state(dist)


def test_streaming_delta_insert_job_counts(spark, tmp_path, monkeypatch):
    """Jobs per micro-batch of the streaming catalog inserts in the 3-batch
    delta-link loop: one for the batch-index collect (the hashed rows are
    grouped on the driver, so no shuffle-map job) and none for the edge
    and claim merges, which stay on the mirrors."""
    counts = _job_counter(
        spark,
        monkeypatch,
        [
            "insert_source_index_delta",
            "insert_source_index_delta_mapped",
            "insert_model_edges_delta",
            "merge_resolver_clusters_delta",
        ],
    )
    cat = _delta_stream_catalog(spark, tmp_path, "jobs")
    # every batch stayed driver-side
    assert cat._mirrors.get("resolver_clusters") is not None
    assert counts() == {
        "insert_source_index_delta": [],
        "insert_source_index_delta_mapped": [1, 1, 1],
        "insert_model_edges_delta": [0, 0, 0],
        "merge_resolver_clusters_delta": [0, 0, 0],
    }


def test_streaming_pairs_kernel_edge_rows_match_distributed(
    spark, tmp_path, force_distributed
):
    """The pairs route's one-collect kernel groups the hashed rows on the
    driver as Spark's ``groupBy("hash")`` would: a null key drops out of
    its group, a group whose keys are all null keeps no key, a duplicate
    row's key lands once, and a null blocking value never pairs. The
    catalog it reaches equals the distributed index path's."""
    batches = [
        [
            (1, "A1", "u1"),
            (None, "A1", "u1"),  # null key beside a keyed row of its hash
            (2, "A1", "u2"),
            (2, "A1", "u2"),  # duplicate row: one key
            (None, "B1", "u9"),  # a hash whose keys are all null
            (3, None, "u3"),  # null blocking value
        ],
        [(4, "A1", "u4"), (5, None, "u5"), (None, "B1", "u9"), (8, "B1", "u8")],
        [(6, "A2", "u6"), (7, "A2", "u7"), (9, "B1", "u9")],
    ]
    local = _delta_stream_catalog(spark, tmp_path, "kernel", batches)
    assert local._mirrors.get("cluster_keys") is not None  # kernel stayed live
    local_state = _catalog_state(local)
    keys = sorted(k for _, s, k in local_state["cluster_keys"] if s == "s")
    assert keys == ["1", "2", "3", "4", "5", "6", "7", "8", "9"]

    force_distributed("index")
    dist = _delta_stream_catalog(spark, tmp_path, "kernel_dist", batches)
    assert dist._mirrors.get("clusters") is None  # loop went distributed
    assert local_state == _catalog_state(dist)


def test_resolver_assignments_mirror_path_matches_join(
    spark, sf_dir, force_distributed
):
    """The r13 mirror-native resolver_assignments (one LocalRelation built
    from the claim + contains mirrors, replacing the contains⋈claims join
    whose broadcast-semi pushdown below the part-Union went quadratic on
    deep lineages) returns exactly the join path's rows."""
    from matchbox_spark.plans.query import resolver_assignments

    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    assert cat._mirrors.get("resolver_clusters") is not None
    steps = ("resolve_cust", "resolve_supp", "resolve_link")
    mirror = {}
    for step in steps:
        # EVERY driver-local insert registers its step — including a
        # legitimately empty one (sf0.001's dedupe_supp yields zero pairs,
        # so resolve_supp claims nothing); an absent key would push the
        # step onto the join fallback (r14 fix, catalog.py
        # insert_resolver_clusters registers the empty claim set)
        assert step in cat._mirrors["resolver_clusters"]
        mirror[step] = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
    # the join path: no copy, and none rebuilt
    force_distributed("index")
    cat._mirrors.pop("resolver_clusters")
    nonempty = 0
    for step in steps:
        mirror_rows = mirror[step]
        join_rows = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
        assert mirror_rows == join_rows
        nonempty += bool(mirror_rows)
    # the mirror path must be exercised with real rows somewhere
    assert nonempty >= 2


@pytest.fixture(scope="module")
def healed(spark, sf_dir, tmp_path_factory):
    """Linked catalogs whose driver mirrors must heal, each with the Spark
    jobs of every ``insert_resolver_clusters`` call of its final run: the
    first resolver went distributed through the public
    ``Components(driver_edge_limit=0)``; a saved catalog reopened with
    ``Catalog(spark, path)``; one reopened with ``Catalog.load_tables``.
    The reopened ones run the whole DAG again, so their first two resolver
    steps are fingerprint-skipped and the linker is new."""
    from matchbox_spark.plans.catalog import Catalog

    tmp = tmp_path_factory.mktemp("healed")
    db = "mbspark_test_healed"
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        counts = _job_counter(spark, mp, ["insert_resolver_clusters"])

        def run(name, **kw):
            before = len(counts()["insert_resolver_clusters"])
            cat = _linked_catalog(spark, sf_dir, **kw).catalog
            out[name] = (cat, counts()["insert_resolver_clusters"][before:])

        run("distributed_first", cust_edge_limit=0)
        path = str(tmp / "cat")
        saved = _linked_catalog(spark, sf_dir, cat=Catalog(spark, path), link=False)
        saved.catalog.save()
        run("reopened", cat=Catalog(spark, path))
        first = _linked_catalog(spark, sf_dir, link=False).catalog
        first.save_as_tables(db, n_buckets=4, location=str(tmp / "wh"))
        run("load_tables", cat=Catalog.load_tables(spark, db))
    yield out
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_healed_mirrors_keep_resolver_inserts_on_driver(
    spark, sf_dir, healed, force_distributed
):
    """After a distributed resolver or a reopen, the next driver-CC
    resolver insert rebuilds the clusters and contains mirrors (one
    collect; one count and one collect) and runs the driver kernel, and
    every catalog ends byte-identical to the all-driver and the
    all-distributed builds."""
    driver = _catalog_state(_linked_catalog(spark, sf_dir).catalog)
    force_distributed("index", "cc")
    forced = _catalog_state(_linked_catalog(spark, sf_dir).catalog)
    assert forced == driver
    for kind, (cat, jobs) in healed.items():
        # the reopened runs skip both dedupe resolvers on their fingerprint
        # before inserting; the distributed-first run inserts its first
        # resolver distributed
        after = jobs[1:] if kind == "distributed_first" else jobs
        assert after and all(n <= 3 for n in after), (kind, jobs)
        # the driver_edge_limit a resolver was built with is not part of
        # its fingerprint, so every state equals the forced build's in full
        assert _catalog_state(cat) == forced, kind


def _assert_mirrors_match_tables(cat):
    """Every driver copy equals its table: claims as the view shows them
    (appends minus tombstones), edge keys sorted and unique."""
    import numpy as np

    clusters, contains, keys, claims, edges = cat.mirror(
        "clusters", "contains", "cluster_keys", "resolver_clusters", "model_edges"
    )
    _assert_cluster_copy(cat, clusters)
    leaves = {}
    for r in cat.contains.collect():
        leaves.setdefault(r["root"], []).append(r["leaf"])
    assert contains == {k: tuple(sorted(v)) for k, v in leaves.items()}
    want = {}
    for r in cat.cluster_keys.collect():
        want.setdefault(r["source"], set()).add((r["cluster_id"], r["key"]))
    assert keys == want
    want = {s: set() for s, m in cat.steps.items() if m["type"] == "resolver"}
    for r in cat.resolver_clusters.collect():
        want[r["step"]].add(r["cluster_id"])
    assert claims == want
    want = {}
    for r in cat.model_edges.collect():
        want.setdefault(r["step"], set()).add((r["left_id"], r["right_id"]))
    for acc in edges.values():
        assert (np.diff(acc.astype("float64")) > 0).all()
    got = {
        s: {(int(v >> np.uint64(32)), int(v & np.uint64(0xFFFFFFFF))) for v in acc}
        for s, acc in edges.items()
    }
    assert got == want


def test_healed_mirrors_match_tables(spark, tmp_path, healed):
    """Mirrors rebuilt on a miss equal their tables: on the healed linked
    catalogs (clusters and contains rebuilt then kept by the driver
    resolver insert; keys, claims and edges rebuilt here), and on a
    streaming catalog with retired claims, kept per batch and then
    rebuilt from scratch."""
    for cat, _ in healed.values():
        _assert_mirrors_match_tables(cat)
    cat = _delta_stream_catalog(spark, tmp_path, "heal")
    assert cat._rc_tombstones  # the view subtracts retired claims
    _assert_mirrors_match_tables(cat)
    cat._mirrors.clear()
    _assert_mirrors_match_tables(cat)


def _local_edges(rows):
    """Pandas scored edges, as the streaming delta-link hands them to
    ``insert_model_edges_delta``."""
    import pandas as pd

    return pd.DataFrame(
        {
            "left_id": pd.array([r[0] for r in rows], dtype="int64"),
            "right_id": pd.array([r[1] for r in rows], dtype="int64"),
            "score": pd.array([1.0] * len(rows), dtype="float32"),
        }
    )


def test_over_budget_table_is_size_checked_once(
    spark, tmp_path, monkeypatch, force_distributed
):
    """A reopened catalog whose tables exceed the driver budget refuses
    their mirrors and remembers it, so its inserts submit only the jobs of
    the distributed branches — every reopened catalog's path before
    mirrors healed — plus one size check. The clusters refusal is read
    from the id watermark (no job); the edge table is sized by one row
    count, paid on the first of three edge inserts only."""
    import hashlib

    import pandas as pd

    from matchbox_spark.plans import catalog as catalog_mod
    from matchbox_spark.plans.catalog import Catalog

    path = str(tmp_path / "cat")
    cat = Catalog(spark, path)
    cat.insert_source_index(
        "s", _hash_index(spark, [(f"h{i}", [f"k{i}"]) for i in range(200)])
    )
    cat.insert_model_edges_delta(
        "m", _local_edges([(i, i + 1) for i in range(1, 151)])
    )
    cat.save()

    def run():
        cat = Catalog(spark, path)
        for b in range(3):
            cat.insert_source_index_delta(
                "s", _hash_index(spark, [(f"x{b}", [f"y{b}"]), (f"h{b}", [f"k{b}"])])
            )
            apdf = pd.DataFrame(
                {"parent_id": [1, 1], "child_id": [2 * b + 1, 2 * b + 2]}
            )
            cat.insert_resolver_clusters(
                f"r{b}", apdf, fingerprint=hashlib.sha256(bytes([b])).digest()
            )
            cat.insert_model_edges_delta("m", _local_edges([(b, 300 + b)]))
        return cat

    # the size checks run inside mirror(), under its own job group
    counts = _job_counter(spark, monkeypatch, ["mirror"])
    # above each batch's size estimate, below each table's size
    monkeypatch.setattr(catalog_mod, "_INDEX_DRIVER_BYTES", 5000)
    over = run()
    assert over._mirrors == {"clusters": None, "model_edges": None}
    checks = counts()["mirror"]
    assert len(checks) == 9 and sum(checks) == 1
    force_distributed("index")
    assert _catalog_state(over) == _catalog_state(run())
