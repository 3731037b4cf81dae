"""Incremental indexing via Structured Streaming (file source, availableNow)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.streaming import incremental_index_stream


def test_incremental_index_two_batches(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("k1", "alice"), ("k2", "alice"), ("k3", "bob")], "key string, name string"
    ).write.parquet(str(src_dir / "batch1"))

    catalog = Catalog(spark)
    schema = "key string, name string"
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(
        str(src_dir)
    )
    q = incremental_index_stream(
        stream, catalog, "s", key_field="key", index_fields=["name"],
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)

    assert catalog.clusters.count() == 2  # alice, bob
    keys = {
        r["key"] for r in catalog.cluster_keys.where(F.col("source") == "s").collect()
    }
    assert keys == {"k1", "k2", "k3"}

    # second batch: one known content (alice — new key only), one new (carol)
    spark.createDataFrame(
        [("k4", "alice"), ("k5", "carol")], "key string, name string"
    ).write.parquet(str(src_dir / "batch2"))
    q2 = incremental_index_stream(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(
            str(src_dir)
        ),
        catalog, "s", key_field="key", index_fields=["name"],
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)

    assert catalog.clusters.count() == 3  # + carol only; alice deduped by hash
    keys = {
        r["key"] for r in catalog.cluster_keys.where(F.col("source") == "s").collect()
    }
    assert keys == {"k1", "k2", "k3", "k4", "k5"}

    # alice's cluster carries all three of her keys
    alice_keys = (
        catalog.cluster_keys.groupBy("cluster_id")
        .agg(F.collect_set("key").alias("ks"))
        .where(F.size("ks") == 3)
        .collect()
    )
    assert len(alice_keys) == 1
    assert set(alice_keys[0]["ks"]) == {"k1", "k2", "k4"}


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window count over a file stream (availableNow),
    checked against the equivalent batch aggregation."""
    import pyspark.sql.functions as F

    src = tmp_path / "events_in"
    src.mkdir()
    rows = [
        (1, "2026-01-01 00:05:00", "click"),
        (2, "2026-01-01 00:07:00", "click"),
        (3, "2026-01-01 00:15:00", "view"),
        (4, "2026-01-01 01:02:00", "click"),
        (5, "2026-01-01 00:06:30", "view"),  # late within watermark
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(str(src / "b1"))

    schema = "event_id long, ts timestamp, event_type string"
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["win"], r["event_type"]): r["n"]
        for r in spark.sql("select * from win_agg").collect()
    }
    expected = {
        ("2026-01-01 00:00:00", "click"): 2,
        ("2026-01-01 00:00:00", "view"): 1,
        ("2026-01-01 00:10:00", "view"): 1,
        ("2026-01-01 01:00:00", "click"): 1,
    }
    assert got == expected


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    from matchbox_spark.streaming.windows import (
        drain_to_memory,
        streaming_session_stats,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),  # same session (gap 10m < 30m)
        (1, "2024-01-01 11:30:00"),  # new session
        (2, "2024-01-01 09:00:00"),
        (2, "2024-01-01 09:45:00"),  # new session (45m > 30m)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    src = tmp_path / "events"
    df.write.parquet(str(src))

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    out = drain_to_memory(
        streaming_session_stats(stream, gap="30 minutes"),
        spark,
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()
    }
    assert got == {
        (1, "2024-01-01 10:00:00"): 2,
        (1, "2024-01-01 11:30:00"): 1,
        (2, "2024-01-01 09:00:00"): 1,
        (2, "2024-01-01 09:45:00"): 1,
    }
    # batch equivalence: identical expression over spark.read
    batch = streaming_session_stats(spark.read.parquet(str(src)), gap="30 minutes")
    assert {
        (r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()
    } == got


def test_streaming_distinct_within_watermark(spark, tmp_path):
    from matchbox_spark.streaming.windows import drain_to_memory, streaming_distinct

    rows = [
        (1, "a", "2024-01-01 10:00:00"),
        (1, "a", "2024-01-01 10:05:00"),  # dup within horizon -> dropped
        (1, "b", "2024-01-01 10:00:00"),
        (2, "a", "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = tmp_path / "ev2"
    df.write.parquet(str(src))

    stream = spark.readStream.schema(
        "user_id long, event_type string, ts timestamp"
    ).parquet(str(src))
    out = drain_to_memory(
        streaming_distinct(stream, ["user_id", "event_type"], watermark="1 hour")
        .select("user_id", "event_type"),
        spark,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert sorted((r["user_id"], r["event_type"]) for r in out.collect()) == [
        (1, "a"),
        (1, "b"),
        (2, "a"),
    ]


def test_stateful_stats_accumulates_across_batches(spark, tmp_path):
    from matchbox_spark.streaming.stateful import stateful_user_stats
    from matchbox_spark.streaming.windows import drain_to_memory

    src = tmp_path / "ev3"
    src.mkdir()
    spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 9.0), (12, 2, 3.0)],
        "event_id long, user_id long, value double",
    ).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(13, 1, 7.0), (14, 3, 1.0)],
        "event_id long, user_id long, value double",
    ).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = drain_to_memory(
        stateful_user_stats(stream),
        spark,
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    # append mode emits a cumulative row per (key, batch); the terminal
    # emission per key (max n_events) must equal the global aggregate
    rows = out.collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    got = {
        u: (r["n_events"], r["max_value"], r["min_event"])
        for u, r in final.items()
    }
    assert got == {1: (3, 9.0, 10), 2: (1, 3.0, 12), 3: (1, 1.0, 14)}


def test_stream_stream_interval_join_bounds(spark, tmp_path):
    from matchbox_spark.streaming.windows import (
        drain_to_memory,
        stream_stream_interval_join,
    )

    lrows = [(1, 7, "2024-01-01 10:00:00")]
    rrows = [
        (100, 7, "2024-01-01 09:30:00"),  # inside [09:00, 10:00]
        (101, 7, "2024-01-01 08:30:00"),  # too old
        (102, 7, "2024-01-01 10:30:00"),  # after the click
        (103, 8, "2024-01-01 09:30:00"),  # other user
    ]
    ld = spark.createDataFrame(lrows, "click_id long, user_id long, c_ts string").withColumn(
        "c_ts", F.to_timestamp("c_ts")
    )
    rd = spark.createDataFrame(
        rrows, "purchase_id long, user_id long, p_ts string"
    ).withColumn("p_ts", F.to_timestamp("p_ts"))
    lp, rp = tmp_path / "l", tmp_path / "r"
    ld.write.parquet(str(lp)); rd.write.parquet(str(rp))

    ls = spark.readStream.schema("click_id long, user_id long, c_ts timestamp").parquet(str(lp))
    rs = spark.readStream.schema("purchase_id long, user_id long, p_ts timestamp").parquet(str(rp))
    out = drain_to_memory(
        stream_stream_interval_join(
            ls, rs, on="user_id", left_ts="c_ts", right_ts="p_ts", lookback="1 hour"
        ).select("click_id", "purchase_id"),
        spark,
        checkpoint_dir=str(tmp_path / "ckpt5"),
    )
    assert [(r["click_id"], r["purchase_id"]) for r in out.collect()] == [(1, 100)]


def test_transform_with_state_gated_or_batch_equivalent(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: runs the per-user ValueState +
    MapState processor when the runtime has protobuf; otherwise asserts the
    clear capability error (this container ships a broken google.protobuf)."""
    import pytest as _pytest

    from matchbox_spark.streaming.transform_state import (
        stateful_user_type_stats,
        transform_with_state_available,
    )

    import __spark_entry__ as entrymod

    stream = entrymod._events_stream(spark, sf_dir)
    if not transform_with_state_available():
        with _pytest.raises(ImportError, match="protobuf"):
            stateful_user_type_stats(stream)
        return
    from pyspark.sql import functions as F

    from matchbox_spark.streaming.windows import drain_to_memory

    out = drain_to_memory(
        stateful_user_type_stats(stream), spark, output_mode="update"
    )
    batch = (
        entrymod._events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.max("value").alias("max_value"),
            F.min("event_id").alias("min_event"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_incremental_resolve_stream_matches_batch(spark, tmp_path):
    """Streaming ER over 3 micro-batches: terminal clusters equal the batch
    pipeline's, and mid-stream models only ever see ingested rows."""
    from pyspark.sql import functions as F

    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.query import unified_query
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    rows = [(i, f"g{i % 5}") for i in range(60)]
    df = spark.createDataFrame(rows, "k long, grp string")
    data_dir = str(tmp_path / "data")
    df.repartition(3).write.parquet(data_dir)

    cat = Catalog(spark)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data_dir)
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=["grp"],
        model=NaiveDeduper(id="id", unique_fields=["s_grp"]),
        resolver_method=Components(method="auto"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_location=data_dir,
    )
    q.awaitTermination(600)

    ids = unified_query(cat, ["s_resolve", "s_model", "s"], ["s"], level="key")
    clusters: dict[int, set[int]] = {}
    for r in ids.collect():
        clusters.setdefault(r["id"], set()).add(int(r["key"]))
    got = {frozenset(v) for v in clusters.values()}
    expected = {
        frozenset(k for k, g in rows if g == f"g{i}") for i in range(5)
    }
    assert got == expected


class _TwoPassDeduper:
    """OR of two single-field naive passes — lets a record bridge clusters."""

    def dedupe(self, data):
        from matchbox_spark.operators.dedupers import NaiveDeduper

        a = NaiveDeduper(id="id", unique_fields=["s_a"]).dedupe(data)
        b = NaiveDeduper(id="id", unique_fields=["s_b"]).dedupe(data)
        return a.unionByName(b).dropDuplicates(["left_id", "right_id"])


def test_delta_link_bridging_record_merges_old_clusters(spark, tmp_path):
    """Delta-link mode: batch 3's record shares field a with cluster {3,4}
    and field b with cluster {1,2} — the case a naive delta (new edges only,
    no prior-component stars) would leave as two clusters."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.query import unified_query
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    schema = "k long, a string, b string"
    batches = [
        [(1, "A1", "B1"), (2, "A1", "B2")],   # cluster {1,2} via a
        [(3, "A2", "B3"), (4, "A2", "B4")],   # cluster {3,4} via a
        [(5, "A2", "B2")],                     # bridges both via a AND b
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))

    cat = Catalog(spark)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(data_dir))
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=["a", "b"],
        model=_TwoPassDeduper(),
        resolver_method=Components(method="auto"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_location=str(data_dir),
        blocking_fields=["s_a", "s_b"],
    )
    q.awaitTermination(600)

    ids = unified_query(cat, ["s_resolve", "s_model", "s"], ["s"], level="key")
    clusters: dict[int, set[int]] = {}
    for r in ids.collect():
        clusters.setdefault(r["id"], set()).add(int(r["key"]))
    got = {frozenset(v) for v in clusters.values()}
    assert got == {frozenset({1, 2, 3, 4, 5})}

    # model_edges moved append-only and replays deduped: the pair set is
    # exactly the batch pipeline's — a:(1,2),(3,4),(3,5),(4,5); b:(2,5)
    assert cat.model_edges.where(F.col("step") == "s_model").count() == 5


def _guarded_stream(entry, spark, src, cat, ckpt, max_files=None):
    """Start ``entry`` (the index or the resolve stream) over the parquet
    batch directories under ``src``, as step ``s`` keyed by ``key``."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    reader = spark.readStream.schema("key string, name string").option(
        "recursiveFileLookup", "true"
    )
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    stream = reader.parquet(str(src))
    if entry == "index":
        return incremental_index_stream(
            stream, cat, "s", key_field="key", index_fields=["name"],
            checkpoint_dir=ckpt,
        )
    return incremental_resolve_stream(
        stream, cat, "s", key_field="key", index_fields=["name"],
        model=NaiveDeduper(id="id", unique_fields=["s_name"]),
        resolver_method=Components(method="auto"),
        checkpoint_dir=ckpt,
        source_location=str(src / "*" / "*.parquet"),
    )


@pytest.mark.parametrize("entry", ["index", "resolve"])
def test_checkpoint_resume_against_fresh_catalog_raises(spark, tmp_path, entry):
    """ADVICE: a durable checkpoint replayed onto an empty catalog must
    fail fast, not silently resolve only post-restart batches — through
    either entry point's copy of the guard."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "key string, name string"
    spark.createDataFrame([("k1", "x")], schema).write.parquet(str(src / "b1"))

    cat = Catalog(spark)
    _guarded_stream(entry, spark, src, cat, ckpt).awaitTermination(120)

    # new data + same checkpoint, but a FRESH catalog: batch_id > 0 with no
    # step state → the guard raises inside foreachBatch
    spark.createDataFrame([("k2", "y")], schema).write.parquet(str(src / "b2"))
    fresh = Catalog(spark)
    q = _guarded_stream(entry, spark, src, fresh, ckpt)
    with pytest.raises(Exception, match="no state for step"):
        q.awaitTermination(120)


@pytest.mark.parametrize("entry", ["index", "resolve"])
def test_empty_leading_batches_do_not_trip_checkpoint_guard(
    spark, tmp_path, entry
):
    """A run that witnesses batch 0 may accumulate any number of EMPTY
    leading micro-batches (Kafka startingOffsets=latest, availableNow
    before files exist) — the first non-empty batch then has batch_id > 0
    with a step-less catalog, which must NOT be mistaken for a resumed
    checkpoint with lost state."""
    src = tmp_path / "in"
    src.mkdir()
    schema = "key string, name string"
    # batch 0 exists but is EMPTY (a zero-row parquet file)
    spark.createDataFrame([], schema).write.parquet(str(src / "b0"))
    spark.createDataFrame([("k1", "x")], schema).write.parquet(str(src / "b1"))
    spark.createDataFrame([("k2", "y")], schema).write.parquet(str(src / "b2"))

    cat = Catalog(spark)
    q = _guarded_stream(
        entry, spark, src, cat, str(tmp_path / "ckpt"), max_files=1
    )
    assert q.awaitTermination(240)
    assert q.exception() is None
    assert cat.cluster_keys.where("source = 's'").count() == 2


def test_matcher_refresh_patches_merged_clusters(spark):
    """Matcher.refresh applies a delta: clusters owning a touched key are
    re-read from the plan; everything else stays cached. A merge that
    absorbs an old cluster through a touched row must be served after
    refresh, and the patched projection must equal the plan exactly."""
    import pytest

    from matchbox_spark.plans.dag import Matcher

    m = Matcher()
    with pytest.raises(ValueError):
        m.lookup("1", "s", ["s"])

    v0 = spark.createDataFrame(
        [(10, "s", "1"), (10, "s", "2"), (20, "s", "3")],
        "id long, source string, key string",
    )
    m.refresh(v0)  # first call: full materialise
    assert m.lookup("1", "s", ["s"])[0].target_keys == {"1", "2"}

    # batch ingests key 9 which bridges clusters 10 and 20 → merged root 10
    v1 = spark.createDataFrame(
        [
            (10, "s", "1"), (10, "s", "2"), (10, "s", "3"), (10, "s", "9"),
            (99, "s", "7"),  # untouched cluster — must come from cache
        ],
        "id long, source string, key string",
    )
    # sabotage the untouched cluster's row in the plan to PROVE the refresh
    # does not re-read it: cache holds no row for key 7 yet, so add it first
    m.refresh(
        spark.createDataFrame(
            [(10, "s", "1"), (10, "s", "2"), (20, "s", "3"), (99, "s", "7")],
            "id long, source string, key string",
        )
    )
    touched = spark.createDataFrame([("s", "9")], "source string, key string")
    m.refresh(v1, touched)
    assert m.lookup("3", "s", ["s"])[0].target_keys == {"1", "2", "3", "9"}
    assert m.lookup("7", "s", ["s"])[0].target_keys == {"7"}
    got = {(r["id"], r["key"]) for r in m.projection.collect()}
    assert got == {(10, "1"), (10, "2"), (10, "3"), (10, "9"), (99, "7")}
    m.close()
