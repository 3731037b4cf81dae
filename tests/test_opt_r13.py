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
4. The driver-path inserts submit a pinned number of Spark jobs per call.
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


def _linked_catalog(spark, sf_dir):
    """The j7b linked-DAG shape: two sources, per-source dedupe resolvers,
    a cross-source linker, a stacked top resolver."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.operators.linkers import DeterministicLinker
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    dag = DAG(spark, Catalog(spark))
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
    dag.resolver("resolve_cust", Components(method="auto"), ["dedupe_cust"])
    dag.model(
        "dedupe_supp",
        NaiveDeduper(id="id", unique_fields=["suppx_s_nationkey"]),
        QueryConfig(sources=[suppx]),
    )
    dag.resolver("resolve_supp", Components(method="auto"), ["dedupe_supp"])
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
    dag.resolver("resolve_link", Components(method="auto"), ["link_cs"])
    dag.run()
    return dag


def _catalog_state(cat):
    """Canonical content of every catalog table + step fingerprints."""
    state = {"steps": {k: v.get("fingerprint") for k, v in cat.steps.items()}}
    for name in cat._table_names():
        df = getattr(cat, name)
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
    spark, sf_dir, monkeypatch
):
    # local paths live (default): mirrors survive the whole pipeline
    local_dag = _linked_catalog(spark, sf_dir)
    assert local_dag.catalog._driver_cluster_hashes is not None
    assert local_dag.catalog._driver_contains is not None
    local_state = _catalog_state(local_dag.catalog)

    # force every insert through the distributed branches
    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    dist_dag = _linked_catalog(spark, sf_dir)
    assert dist_dag.catalog._driver_cluster_hashes is None
    dist_state = _catalog_state(dist_dag.catalog)

    assert local_state == dist_state


def test_contains_mirror_matches_table(spark, sf_dir):
    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    mirror = cat._driver_contains
    table = {}
    for r in cat.contains.collect():
        table.setdefault(r["root"], []).append(r["leaf"])
    assert mirror == {k: tuple(sorted(v)) for k, v in table.items()}
    cmirror = cat._driver_cluster_hashes
    rows = {r["cluster_id"]: bytes(r["cluster_hash"]) for r in cat.clusters.collect()}
    assert cmirror == rows


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
    ``insert_source_index_delta`` (merge mode: reuse across steps, mint
    for the rest)."""
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


def test_overlapping_hash_insert_local_matches_distributed(spark, monkeypatch):
    local = _overlap_catalogs(spark)
    assert local._driver_cluster_hashes is not None  # stayed on the mirror path
    local_state = _catalog_state(local)
    assert len(local_state["clusters"]) == 4  # h2/h3 reused, only h4 minted

    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    dist = _overlap_catalogs(spark)
    assert dist._driver_cluster_hashes is None
    assert local_state == _catalog_state(dist)


def test_overlapping_hash_delta_insert_local_matches_distributed(
    spark, monkeypatch
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
    assert local._driver_cluster_hashes is not None  # stayed on the mirror path
    assert local._driver_step_keys is not None
    assert {k: len(v) for k, v in local._parts.items()} == parts  # no append
    assert len(local_state["clusters"]) == 5  # h1/h4 reused, only h5 minted
    assert sorted(k for _, s, k in local_state["cluster_keys"] if s == "srcC") == [
        "c1", "c4", "c5", "c5x"
    ]

    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    dist, dist_state, _ = run()
    assert dist._driver_cluster_hashes is None
    assert local_state == dist_state


def test_index_driver_budget_rejects_malformed_value(spark, monkeypatch):
    """The driver-path byte budget fails closed: a malformed override is an
    error, not a silent fall-back to the default budget."""
    from matchbox_spark.plans.catalog import Catalog

    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "256MB")
    cat = Catalog(spark)
    with pytest.raises(ValueError):
        cat.insert_source_index("srcA", _hash_index(spark, [("h1", ["a1"])]))
    with pytest.raises(ValueError):
        cat.insert_source_index_delta("srcA", _hash_index(spark, [("h1", ["a1"])]))


def _job_counter(spark, monkeypatch, names):
    """Run every call of the named ``Catalog`` methods under its own job
    group. Returns a function giving, per method, the number of Spark jobs
    each call submitted (in call order)."""
    import uuid

    from matchbox_spark.plans.catalog import Catalog

    sc = spark.sparkContext
    props = (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    )
    groups = {n: [] for n in names}
    for name in names:

        def wrapper(self, *args, _fn=getattr(Catalog, name), _name=name, **kw):
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

        monkeypatch.setattr(Catalog, name, wrapper)

    def counts():
        # job starts reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        return {
            n: [len(tracker.getJobIdsForGroup(g)) for g in gs]
            for n, gs in groups.items()
        }

    return counts


def test_driver_insert_job_counts(spark, monkeypatch):
    """Jobs per call of the driver-path inserts on live mirrors: one
    collect per source-index insert (bulk or merge mode) and none for a
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
    apdf = pd.DataFrame(
        {"parent_id": [1, 1, 2, 2, 2], "child_id": sorted(cat._driver_cluster_hashes)}
    )
    assigns = spark.createDataFrame(apdf, "parent_id long, child_id long")
    assigns._mb_local_pdf = apdf  # as the driver union-find attaches it
    cat.insert_resolver_clusters(
        "res", assigns, fingerprint=hashlib.sha256(b"res").digest()
    )
    assert cat._driver_contains  # the resolver insert stayed driver-side
    assert counts() == {
        "insert_source_index": [1, 1],
        "insert_source_index_delta": [1],
        "insert_resolver_clusters": [0],
    }


def _delta_stream_catalog(spark, tmp_path, name):
    """st7's shape in miniature: 3 micro-batches through the delta-link
    loop (index delta → blocked superset → model → edge delta → star
    union → CC → claim merge), including a cross-batch merge so the
    tombstone path fires."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    schema = "k long, a string, u string"
    batches = [
        [(1, "A1", "u1"), (2, "A1", "u2"), (10, "Z1", "u10")],
        [(3, "A2", "u3"), (4, "A2", "u4"), (11, "Z1", "u11")],
        [(5, "A1", "u5"), (6, "A2", "u6")],
    ]
    data_dir = tmp_path / f"data_{name}"
    data_dir.mkdir()
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
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
        resolver_method=Components(method="auto"),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        source_location=str(data_dir),
    )
    q.awaitTermination(600)
    return cat


def test_streaming_delta_twins_byte_identical_to_distributed(
    spark, tmp_path, monkeypatch
):
    """The r13 driver twins for the streaming delta inserts
    (_index_insert_local in merge mode, insert_model_edges_delta's mirror
    path, merge_resolver_clusters_delta over _hierarchy_insert_local, the
    driver star edges and the pandas CC shortcut) produce a byte-identical
    catalog to the distributed loop they replace."""
    local = _delta_stream_catalog(spark, tmp_path, "twin")
    cat = local
    assert cat._driver_cluster_hashes is not None  # twins stayed live
    assert cat._driver_step_keys is not None
    assert cat._driver_rc is not None
    assert cat._driver_step_edges is not None
    local_state = _catalog_state(cat)

    # mirror completeness: each mirror equals its table / view
    keys_rows = {
        (r["cluster_id"], r["key"])
        for r in cat.cluster_keys.where(F.col("source") == "s").collect()
    }
    assert cat._driver_step_keys["s"] == keys_rows
    rc_rows = {
        r["cluster_id"]
        for r in cat.resolver_clusters.where(
            F.col("step") == "s_resolve"
        ).collect()
    }
    assert cat._driver_rc["s_resolve"] == rc_rows
    edge_rows = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "s_model").collect()
    }
    import numpy as np

    acc = cat._driver_step_edges["s_model"]
    if acc.dtype == np.uint64:
        # r14 mirror format: packed (l << 32) | r keys while ids fit 32 bits
        mirror_pairs = {
            (int(v >> np.uint64(32)), int(v & np.uint64(0xFFFFFFFF)))
            for v in acc
        }
    else:
        mirror_pairs = {(int(p["l"]), int(p["r"])) for p in acc}
    assert mirror_pairs == edge_rows

    # force the legacy distributed loop end to end and compare
    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    monkeypatch.setenv("MATCHBOX_SPARK_CC_EDGE_LIMIT", "0")
    dist = _delta_stream_catalog(spark, tmp_path, "dist")
    assert dist._driver_cluster_hashes is None  # loop went distributed
    assert local_state == _catalog_state(dist)


def test_streaming_delta_insert_job_counts(spark, tmp_path, monkeypatch):
    """Jobs per micro-batch of the streaming catalog inserts in the 3-batch
    delta-link loop: two for the batch-index collect (its groupBy runs as
    a shuffle-map job plus the collect job under adaptive execution) and
    none for the edge and claim merges, which stay on the mirrors."""
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
    assert cat._driver_rc is not None  # every batch stayed driver-side
    assert counts() == {
        "insert_source_index_delta": [],
        "insert_source_index_delta_mapped": [2, 2, 2],
        "insert_model_edges_delta": [0, 0, 0],
        "merge_resolver_clusters_delta": [0, 0, 0],
    }


def test_resolver_assignments_mirror_path_matches_join(spark, sf_dir):
    """The r13 mirror-native resolver_assignments (one LocalRelation built
    from the claim + contains mirrors, replacing the contains⋈claims join
    whose broadcast-semi pushdown below the part-Union went quadratic on
    deep lineages) returns exactly the join path's rows."""
    from matchbox_spark.plans.query import resolver_assignments

    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    assert cat._driver_rc is not None
    nonempty = 0
    for step in ("resolve_cust", "resolve_supp", "resolve_link"):
        # EVERY driver-local insert registers its step — including a
        # legitimately empty one (sf0.001's dedupe_supp yields zero pairs,
        # so resolve_supp claims nothing); an absent key would push the
        # step onto the join fallback forever (r14 fix, catalog.py
        # insert_resolver_clusters registers the empty claim set)
        assert step in cat._driver_rc
        mirror_rows = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
        saved = cat._driver_rc
        cat._driver_rc = None
        join_rows = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
        cat._driver_rc = saved
        assert mirror_rows == join_rows
        nonempty += bool(mirror_rows)
    # the mirror path must be exercised with real rows somewhere
    assert nonempty >= 2
