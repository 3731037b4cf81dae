"""Catalog driver runs: the pandas chunks the driver kernels append, which
reach Spark only when a read needs them (``Catalog._read``)."""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import SparkSession
from test_opt_r13 import _catalog_state, _hash_index

from matchbox_spark.plans.catalog import Catalog, _DriverRun
from matchbox_spark.plans.query import resolver_assignments
from matchbox_spark.plans.resolvers import Components


def _edges(rows):
    return pd.DataFrame(
        {
            "left_id": pd.array([r[0] for r in rows], dtype="int64"),
            "right_id": pd.array([r[1] for r in rows], dtype="int64"),
            "score": pd.array([r[2] for r in rows], dtype="float32"),
        }
    )


def _assigns(rows):
    return pd.DataFrame(
        {
            "parent_id": pd.array([p for p, _ in rows], dtype="int64"),
            "child_id": pd.array([c for _, c in rows], dtype="int64"),
        }
    )


def _driver_inserts(spark, cat):
    """Every driver kernel, with no table read in between: ids 1-8 are the
    eight source hashes, 9 and 10 the roots the first merge mints, which
    the second merge retires."""
    cat.insert_source_index(
        "a", _hash_index(spark, [(f"h{i}", [f"a{i}"]) for i in range(6)])
    )
    cat.insert_source_index_delta(
        "b", _hash_index(spark, [("h1", ["b1"]), ("h7", ["b7"]), ("h8", ["b8", "b8x"])])
    )
    cat.insert_model_edges_delta("m", _edges([(1, 2, 0.9), (2, 3, 0.8), (4, 5, 0.7)]))
    cat.insert_model_edges_delta("m", _edges([(1, 2, 0.9), (3, 4, 0.6)]))
    cat.merge_resolver_clusters_delta(
        "r", _assigns([(1, 1), (1, 2), (1, 3), (2, 4), (2, 5)])
    )
    cat.merge_resolver_clusters_delta(
        "r",
        _assigns([(1, c) for c in range(1, 6)]),
        candidate_roots=pd.DataFrame({"root_id": pd.array([9, 10], dtype="int64")}),
    )
    cat.insert_resolver_clusters(
        "r2", _assigns([(1, 7), (1, 8)]), fingerprint=hashlib.sha256(b"r2").digest()
    )


def test_saved_pending_runs_reopen_as_the_distributed_inserts(
    spark, tmp_path, force_distributed
):
    """``save()`` writes the pending driver runs: the reopened catalog holds
    what the same inserts give on the distributed branches."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    _driver_inserts(spark, cat)
    assert cat._rc_tombstones  # the second merge retired roots 9 and 10
    for runs in [*cat._parts.values(), cat._rc_tombstones]:
        assert all(isinstance(r, _DriverRun) and r.df is None for r in runs)
    cat.save()
    reopened = _catalog_state(Catalog(spark, str(tmp_path / "cat")))
    force_distributed("index")
    dist = Catalog(spark)
    _driver_inserts(spark, dist)
    assert dist._mirrors == {}
    assert reopened == _catalog_state(dist)
    assert reopened["max_id"] == 12


def test_first_read_uploads_pending_runs_once(spark, monkeypatch):
    """A read concatenates a table's pending driver runs into one upload;
    later reads reuse it, so a join built from two reads of one table
    analyses."""
    cat = Catalog(spark)
    _driver_inserts(spark, cat)
    uploads = []
    create = SparkSession.createDataFrame

    def counted(self, *args, **kw):
        uploads.append(1)
        return create(self, *args, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", counted)
    keys, clusters = cat.cluster_keys, cat.clusters
    assert len(uploads) == 2
    on = cat.cluster_keys["cluster_id"] == cat.clusters["cluster_id"]
    joined = keys.join(clusters, on)
    assert joined.count() == 10
    assert len(uploads) == 2
    assert all(r.df is not None for r in cat._parts["clusters"])


def test_all_singleton_step_assignments_plan_a_local_relation(spark):
    """A resolver step that clusters nothing claims no root; its leaf →
    root map is then empty, and still a LocalRelation, so a retrieval
    join can broadcast it."""
    cat = Catalog(spark)
    cat.insert_source_index("s", _hash_index(spark, [("h1", ["k1"]), ("h2", ["k2"])]))
    edges = spark.createDataFrame(
        [(1, 2, 0.1)], "left_id long, right_id long, score float"
    )
    assigns = Components(thresholds={"m": 0.5}).compute_clusters({"m": edges})
    fingerprint = hashlib.sha256(b"r").digest()
    cat.insert_resolver_clusters("r", assigns, fingerprint=fingerprint)
    out = resolver_assignments(cat, "r")
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
    assert names == ["LocalRelation"]
    assert out.count() == 0


def test_empty_table_reads_plan_a_local_relation(spark):
    """A table with no rows reads as one memoised empty LocalRelation: its
    size is known, so a join against it can broadcast, and two reads share
    attribute ids, so a join built from both analyses."""
    cat = Catalog(spark)
    plan = cat.resolver_clusters._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # each side's column comes from a separate read of its table
    joined = cat.clusters.join(
        cat.resolver_clusters,
        cat.clusters["cluster_id"] == cat.resolver_clusters["cluster_id"],
    )
    assert joined.columns == ["cluster_id", "cluster_hash", "step", "cluster_id"]
    assert joined.count() == 0


def test_served_pairs_stream_keeps_partitions_to_runs(spark, tmp_path):
    """24 ``pairs`` batches with a serving ``Matcher``, so every batch reads
    the catalog: each table keeps at most ``defaultParallelism`` partitions
    per run, and few runs."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.dag import Matcher
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    src = tmp_path / "in"
    schema = "k long, a string, u string"
    for b in range(24):
        rows = [(10 * b + i, f"A{(b + i) % 3}", f"u{b}_{i}") for i in range(3)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    cat = Catalog(spark)
    m = Matcher()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        "s",
        key_field="k",
        index_fields=["a", "u"],
        model=NaiveDeduper(id="id", unique_fields=["s_a"]),
        resolver_method=Components(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_location=str(src),
        serving_matcher=m,
    )
    assert q.awaitTermination(600)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 24
    dp = spark.sparkContext.defaultParallelism
    for name in cat._table_names():
        if name == "block_keys":  # the pairs route keeps none
            continue
        runs = cat._parts[name]
        parts = cat._table(name).rdd.getNumPartitions()
        assert len(runs) <= 6 and parts <= len(runs) * dp, (name, len(runs), parts)
    assert m.lookup("0", "s", ["s"])[0].target_keys == {
        str(10 * b + i) for b in range(24) for i in range(3) if (b + i) % 3 == 0
    }
    m.close()
