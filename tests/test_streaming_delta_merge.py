"""Pins for the flat streaming resolver path (round 7).

The per-batch resolver refresh in delta-link mode is O(touched), never
O(accumulated state): only components sharing a block with the batch are
starred and recomputed (streaming/incremental._touched_star_edges), new
claims APPEND, and merged-away roots retire through the catalog's
tombstone overlay (Catalog.merge_resolver_clusters_delta) instead of an
O(total claims) rewrite. Full mode auto-routes through that path when the
model declares block-locality (NaiveDeduper.delta_blocking_fields).
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.catalog import _COMPACT_WIDTH, Catalog
from matchbox_spark.plans.query import unified_query
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.streaming.incremental import incremental_resolve_stream


def _run_stream(spark, tmp_path, batches, schema, name, **kwargs):
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
        index_fields=[f.split()[0] for f in schema.split(", ")][1:],
        resolver_method=Components(),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        source_location=str(data_dir),
        **kwargs,
    )
    q.awaitTermination(600)
    return cat


def _clusters(cat):
    ids = unified_query(cat, ["s_resolve", "s_model", "s"], ["s"], level="key")
    by_id: dict = {}
    for r in ids.collect():
        by_id.setdefault(r["id"], set()).add(int(r["key"]))
    return {frozenset(v) for v in by_id.values()}


def test_merge_retires_superseded_roots(spark, tmp_path):
    """A bridging batch merges two earlier clusters: the two old roots'
    claims are tombstoned away — exactly one claim per surviving
    component remains, and untouched components keep their root ids."""
    batches = [
        # u is unique per row so every key gets its own leaf cluster
        [(1, "A1", "u1"), (2, "A1", "u2"), (10, "Z1", "u10"), (11, "Z1", "u11")],
        [(3, "A2", "u3"), (4, "A2", "u4")],
        [(5, "A1", "u5"), (6, "A2", "u6")],  # joins {1,2} and {3,4}
    ]
    cat = _run_stream(
        spark, tmp_path, batches, "k long, a string, u string", "retire",
        model=NaiveDeduper(id="id", unique_fields=["s_a"]),
    )
    assert _clusters(cat) == {
        frozenset({1, 2, 5}),
        frozenset({3, 4, 6}),
        frozenset({10, 11}),
    }
    claims = cat.resolver_clusters.where(F.col("step") == "s_resolve")
    rows = claims.collect()
    # one claim per component, none duplicated, none stale
    assert len(rows) == 3
    assert len({r["cluster_id"] for r in rows}) == 3
    # the untouched {10,11} component was never recomputed: its claim's
    # root still maps to exactly its two leaves through contains
    keys = unified_query(cat, ["s_resolve", "s_model", "s"], ["s"], "key")
    z_root = {
        r["id"] for r in keys.collect() if int(r["key"]) in (10, 11)
    }
    assert len(z_root) == 1 and z_root <= {r["cluster_id"] for r in rows}


def test_merge_replay_is_idempotent(spark, tmp_path):
    """Re-applying a merge with the same assignments + candidates appends
    no duplicate claims and no harmful tombstones (batch-replay path)."""
    cat = Catalog(spark)
    idx = spark.createDataFrame(
        [(bytes([i]), [str(i)]) for i in range(1, 5)],
        "hash binary, keys array<string>",
    )
    cat.insert_source_index_delta("s", idx)
    leaf = {
        r["key"]: r["cluster_id"]
        for r in cat.cluster_keys.join(cat.clusters, "cluster_id").collect()
    }
    assigns = spark.createDataFrame(
        [(100, leaf["1"]), (100, leaf["2"]), (200, leaf["3"]), (200, leaf["4"])],
        "parent_id long, child_id long",
    )
    cat.merge_resolver_clusters_delta("r", assigns)
    first = sorted(
        r["cluster_id"]
        for r in cat.resolver_clusters.where(F.col("step") == "r").collect()
    )
    assert len(first) == 2
    # replay: same assignments, candidates = the roots just claimed
    cand = spark.createDataFrame([(c,) for c in first], "root_id long")
    cat.merge_resolver_clusters_delta("r", assigns, candidate_roots=cand)
    again = sorted(
        r["cluster_id"]
        for r in cat.resolver_clusters.where(F.col("step") == "r").collect()
    )
    assert again == first


def test_tombstones_fold_after_compaction_width(spark, tmp_path):
    """Tombstone runs tier LSM-style (round 10): the overlay stays
    log-bounded however many retire batches land — no single batch folds
    the whole base table (the old fold-at-_COMPACT_WIDTH policy made one
    streaming micro-batch pay O(total state), the measured compaction
    spike) — and the view stays correct throughout. ``save()`` still
    folds the overlay (test_save_folds_tombstones)."""
    cat = Catalog(spark)
    n = _COMPACT_WIDTH + 2
    idx = spark.createDataFrame(
        [(bytes([i, 7]), [str(i)]) for i in range(2 * n + 2)],
        "hash binary, keys array<string>",
    )
    cat.insert_source_index_delta("s", idx)
    leaf = {
        int(r["key"]): r["cluster_id"]
        for r in cat.cluster_keys.join(cat.clusters, "cluster_id").collect()
    }
    # chain-grow one component: {0,1}, then {0,1,2}, ... — every step
    # retires the previous root
    prev_root = None
    for i in range(1, n + 1):
        members = [leaf[j] for j in range(i + 1)]
        assigns = spark.createDataFrame(
            [(1, m) for m in members], "parent_id long, child_id long"
        )
        cand = (
            spark.createDataFrame([(prev_root,)], "root_id long")
            if prev_root is not None
            else None
        )
        cat.merge_resolver_clusters_delta("r", assigns, candidate_roots=cand)
        claims = cat.resolver_clusters.where(F.col("step") == "r").collect()
        assert len(claims) == 1, f"step {i}: {claims}"
        prev_root = claims[0]["cluster_id"]
    # binary-counter bound: ≤ bit_length(total retire appends) runs live,
    # and the weights account for every append exactly once
    n_retires = n - 1  # first merge had no candidate_roots
    assert len(cat._rc_tombstones) <= max(1, n_retires.bit_length())
    assert sum(cat._rc_tomb_weights) == n_retires
    assert len(cat._rc_tomb_weights) == len(cat._rc_tombstones)
    # terminal claim resolves to the full member set
    leaves = (
        cat.contains.join(
            cat.resolver_clusters.where(F.col("step") == "r"),
            F.col("root") == F.col("cluster_id"),
        )
        .select("leaf")
        .collect()
    )
    assert {r["leaf"] for r in leaves} == {leaf[j] for j in range(n + 1)}


def test_save_folds_tombstones(spark, tmp_path):
    """Persistence reads the overlay-applied view: a reloaded catalog has
    no stale claims even when tombstones were live at save time."""
    cat = Catalog(spark)
    idx = spark.createDataFrame(
        [(bytes([i, 9]), [str(i)]) for i in range(4)],
        "hash binary, keys array<string>",
    )
    cat.insert_source_index_delta("s", idx)
    leaf = {
        int(r["key"]): r["cluster_id"]
        for r in cat.cluster_keys.join(cat.clusters, "cluster_id").collect()
    }
    a2 = spark.createDataFrame(
        [(1, leaf[0]), (1, leaf[1])], "parent_id long, child_id long"
    )
    cat.merge_resolver_clusters_delta("r", a2)
    old_root = cat.resolver_clusters.collect()[0]["cluster_id"]
    a3 = spark.createDataFrame(
        [(1, leaf[0]), (1, leaf[1]), (1, leaf[2])],
        "parent_id long, child_id long",
    )
    cat.merge_resolver_clusters_delta(
        "r", a3, spark.createDataFrame([(old_root,)], "root_id long")
    )
    assert cat._rc_tombstones  # overlay live
    cat.path = str(tmp_path / "cat")
    cat.save()
    reloaded = Catalog(spark, path=str(tmp_path / "cat"))
    rows = reloaded.resolver_clusters.where(F.col("step") == "r").collect()
    assert len(rows) == 1 and rows[0]["cluster_id"] != old_root


def test_full_mode_auto_routes_block_local_model(spark, tmp_path):
    """NaiveDeduper declares block-locality, so full mode (no
    blocking_fields) rides the flat delta path — streaming meta on the
    resolver step proves the route; clusters match the batch pipeline.
    auto_delta=False forces the general full recompute (fingerprint
    meta)."""
    batches = [
        [(i, f"g{i % 3}", f"u{i}") for i in range(9)],
        [(i, f"g{i % 3}", f"u{i}") for i in range(9, 18)],
    ]
    expected = {
        frozenset(k for k in range(18) if k % 3 == g) for g in range(3)
    }
    routed = _run_stream(
        spark, tmp_path, batches, "k long, g string, u string", "auto",
        model=NaiveDeduper(id="id", unique_fields=["s_g"]),
    )
    assert _clusters(routed) == expected
    assert routed.steps["s_resolve"].get("streaming") is True

    forced = _run_stream(
        spark, tmp_path, batches, "k long, g string, u string", "full",
        model=NaiveDeduper(id="id", unique_fields=["s_g"]),
        auto_delta=False,
    )
    assert _clusters(forced) == expected
    assert forced.steps["s_resolve"].get("streaming") is None


class _TwoFieldOrDeduper:
    """OR of two single-field naive passes; block-local per field."""

    def dedupe(self, data):
        a = NaiveDeduper(id="id", unique_fields=["s_a"]).dedupe(data)
        b = NaiveDeduper(id="id", unique_fields=["s_b"]).dedupe(data)
        return a.unionByName(b).dropDuplicates(["left_id", "right_id"])

    def delta_blocking_fields(self):
        return ["s_a", "s_b"]


def _expected_components(labels):
    """Driver union-find over i~j iff a_i==a_j or b_i==b_j."""
    parent = list(range(len(labels)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_val: dict = {}
    for i, (a, b) in enumerate(labels):
        by_val.setdefault(("a", a), []).append(i)
        by_val.setdefault(("b", b), []).append(i)
    for members in by_val.values():
        for m in members[1:]:
            parent[find(m)] = find(members[0])
    comps: dict = {}
    for i in range(len(labels)):
        comps.setdefault(find(i), set()).add(i)
    return {frozenset(v) for v in comps.values()}


@given(
    labels=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)),
        min_size=4,
        max_size=16,
    ),
    n_batches=st.integers(1, 4),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_delta_link_stream_equals_batch_union_find(spark, labels, n_batches):
    """PROPERTY: for any row set and any micro-batch split, the auto-routed
    delta-link stream's terminal clusters equal a driver union-find over
    the OR-of-two-fields relation — merges across batches, tombstoned
    retirements, and touched-only recompute included."""
    expected = _expected_components(labels)
    rows = [(k, f"a{a}", f"b{b}", f"u{k}") for k, (a, b) in enumerate(labels)]
    schema = "k long, a string, b string, u string"
    tmp = Path(tempfile.mkdtemp(prefix="prop_stream_"))
    per = max(1, len(rows) // n_batches)
    batches = [rows[i : i + per] for i in range(0, len(rows), per)]
    cat = _run_stream(
        spark, tmp, batches, schema, "prop", model=_TwoFieldOrDeduper()
    )
    got = _clusters(cat)
    assert got == expected, (labels, n_batches)


def test_resolve_cadence_with_finalize(spark, tmp_path):
    """Cadenced full mode: only every Nth batch pays the O(state)
    recompute; finalize_resolve makes the terminal state exactly the batch
    pipeline's despite the trailing unresolved batches."""
    from matchbox_spark.streaming.incremental import finalize_resolve

    batches = [
        [(i, f"g{i % 4}", f"u{i}") for i in range(b * 8, b * 8 + 8)]
        for b in range(5)
    ]
    expected = {
        frozenset(k for k in range(40) if k % 4 == g) for g in range(4)
    }
    model = NaiveDeduper(id="id", unique_fields=["s_g"])
    cat = _run_stream(
        spark, tmp_path, batches, "k long, g string, u string", "cadence",
        model=model,
        auto_delta=False,
        resolve_cadence=3,
    )
    # batches 0..4 ran; only 0 and 3 resolved — the served state is stale
    # (covers keys 0..31) but every batch was indexed (all 40 keys present)
    assert cat.cluster_keys.where(F.col("source") == "s").count() == 40
    stale = _clusters(cat)
    assert stale != expected  # trailing batch 4 not yet resolved
    finalize_resolve(
        spark, cat, "s", "k", ["g", "u"], model,
        Components(),
        source_location=str(tmp_path / "data_cadence"),
    )
    assert _clusters(cat) == expected


def test_quiet_delta_batch_is_a_noop(spark):
    """An empty assignments delta (a micro-batch that recomputed nothing)
    must append NOTHING — no empty claim/contains parts, no tombstone
    entries — while still registering the step; and an empty catalog's
    table views must be stable across accesses (a join built from two
    property reads of an empty table must analyse)."""
    cat = Catalog(spark)
    empty = spark.createDataFrame([], "parent_hash binary, leaf long")
    parts_before = {k: len(v) for k, v in cat._parts.items()}
    cat.merge_resolver_clusters_delta("s_resolve", empty)
    assert {k: len(v) for k, v in cat._parts.items()} == parts_before
    assert cat._rc_tombstones == []
    assert cat.steps["s_resolve"]["streaming"] is True
    # double property access on empty tables joins cleanly (attr-id pin)
    from matchbox_spark.plans.query import resolver_assignments

    assert resolver_assignments(cat, "s_resolve").count() == 0


def test_append_tiering_bounds_parts_without_full_folds(spark):
    """Catalog._append tiers delta runs LSM-style (round 10): after n
    appends the table holds ≤ bit_length(n) parts (binary-counter
    invariant: one run per weight class), weights account for every
    append, content is the exact union, and no append ever folds the
    whole table (the weights never collapse to one giant run unless the
    counter genuinely carries that far)."""
    cat = Catalog(spark)
    n = 20
    for i in range(n):
        delta = spark.createDataFrame(
            [(100 + i, bytes([i]))], "cluster_id long, cluster_hash binary"
        )
        cat._append("clusters", delta)
        w = cat._part_weights["clusters"]
        assert sum(w) == i + 1
        assert len(w) <= (i + 1).bit_length()
        # binary-counter invariant: strictly decreasing weight classes
        classes = [x.bit_length() for x in w]
        assert classes == sorted(classes, reverse=True)
    assert cat.clusters.count() == n
    assert {r["cluster_id"] for r in cat.clusters.collect()} == {
        100 + i for i in range(n)
    }
    # a wholesale reassignment (commit) resets to one fully-compacted run
    cat._commit("clusters", cat.clusters)
    assert cat._part_weights["clusters"] == [1 << 30]
    # and subsequent appends tier above it without ever merging the base
    for i in range(3):
        cat._append(
            "clusters",
            spark.createDataFrame(
                [(500 + i, bytes([200 + i]))],
                "cluster_id long, cluster_hash binary",
            ),
        )
    assert cat._part_weights["clusters"][0] == 1 << 30
    assert cat.clusters.count() == n + 3
