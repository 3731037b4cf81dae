"""Pins for computed-blocking streaming delta-link (round 8).

LSH-family models declare ``delta_block_keys`` (a row's band keys are a
pure function of its own text), so ``incremental_resolve_stream`` streams
them O(touched) per micro-batch: each leaf's band keys persist once into
``Catalog.block_keys``, the batch's keys compute O(batch), and one
semi-join selects the accumulated leaves the model could link — signatures
are never recomputed over accumulated state. Terminal clusters must equal
the full-recompute (``auto_delta=False``) stream over identical batches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from matchbox_spark.operators.lsh_linkers import MinHashDeduper
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.query import unified_query
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.streaming.incremental import incremental_resolve_stream

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]


def _doc(lo: int, hi: int) -> str:
    return " ".join(WORDS[lo:hi])


# batch 0: A-group near-dups + one loner; batch 1: B-group; batch 2: the
# bridge C, whose shingle overlap links it to A AND B while A-B stay apart
BATCHES = [
    [(1, _doc(0, 10)), (2, _doc(0, 10) + " alpha"), (10, "zulu yankee xray whiskey")],
    [(3, _doc(4, 14)), (4, _doc(4, 14) + " kilo")],
    [(5, _doc(2, 12))],
]
SCHEMA = "k long, text string"


def _model():
    return MinHashDeduper(
        id="id",
        text_field="s_text",
        num_perm=16,
        bands=16,
        shingle_n=2,
        threshold=0.5,
    )


def _run_stream(spark, tmp_path, name, **kwargs):
    data_dir = tmp_path / f"data_{name}"
    data_dir.mkdir()
    for rows in BATCHES:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
    cat = Catalog(spark)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=["text"],
        model=_model(),
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


def test_lsh_delta_matches_full_recompute(spark, tmp_path):
    """Auto-routed computed-blocking delta-link ends in exactly the clusters
    the O(state)-per-batch full recompute produces — including the batch-2
    bridge merging the batch-0 and batch-1 near-dup groups."""
    delta = _run_stream(spark, tmp_path, "delta")  # auto-routes via keys
    full = _run_stream(spark, tmp_path, "full", auto_delta=False)
    got, want = _clusters(delta), _clusters(full)
    assert got == want
    # the construction is meaningful: C bridges A- and B-groups into one
    # component while the loner stays alone
    assert frozenset({1, 2, 3, 4, 5}) in got
    assert frozenset({10}) in got
    # every leaf's band keys persisted exactly once (6 distinct texts ×
    # 16 bands; the full-mode run never touches the key index)
    bk = delta.block_keys.where(F.col("step") == "s_model")
    assert bk.count() == 6 * 16
    assert bk.select("leaf_id").distinct().count() == 6
    assert full.block_keys.isEmpty()


def test_minhash_deduper_model_surface(spark):
    """The model wrapper emits conformed (left_id, right_id, score) edges
    matching the underlying d3-family pair function."""
    from matchbox_spark.operators.dedup import minhash_dedupe_pairs

    df = spark.createDataFrame(
        [(i + 1, t) for i, (k, t) in enumerate(
            [(k, t) for rows in BATCHES for (k, t) in rows]
        )],
        "id long, s_text string",
    )
    model = _model()
    got = {
        (r["left_id"], r["right_id"], round(r["score"], 5))
        for r in model.dedupe(df).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 5))
        for r in minhash_dedupe_pairs(
            df, "id", "s_text", num_perm=16, bands=16,
            shingle_n=2, threshold=0.5,
        ).collect()
    }
    assert got == want and got  # non-empty: the near-dups really pair


def test_insert_block_keys_delta_idempotent(spark):
    """Replaying a key batch appends nothing (insert-if-absent per leaf),
    while genuinely new leaves append their full key sets."""
    cat = Catalog(spark)
    keys = spark.createDataFrame(
        [(1, 100), (1, 101), (2, 100)], "leaf_id long, block_key long"
    )
    cat.insert_block_keys_delta("m", keys)
    assert cat.block_keys.count() == 3
    cat.insert_block_keys_delta("m", keys)  # replay: no-op
    assert cat.block_keys.count() == 3
    more = spark.createDataFrame(
        [(2, 999), (3, 42)], "leaf_id long, block_key long"
    )
    cat.insert_block_keys_delta("m", more)  # leaf 2 known → only leaf 3 lands
    assert cat.block_keys.count() == 4
    assert cat.block_keys.where(F.col("leaf_id") == 3).count() == 1
    # steps are isolated
    cat.insert_block_keys_delta("other", keys)
    assert cat.block_keys.where(F.col("step") == "other").count() == 3


def test_simhash_delta_matches_full_recompute(spark, tmp_path):
    """SimHashDeduper declares delta_block_keys (pigeonhole half-keys are
    content-derived): auto-routed streaming must end in the clusters the
    full recompute produces, with both half-keys persisted per leaf."""
    import pytest as _pytest

    from matchbox_spark.operators.lsh_linkers import SimHashDeduper

    def run(name, **kwargs):
        data_dir = tmp_path / f"data_{name}"
        data_dir.mkdir()
        for rows in BATCHES:
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(str(data_dir))
        cat = Catalog(spark)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(data_dir))
        )
        q = incremental_resolve_stream(
            stream,
            cat,
            source_step="s",
            key_field="k",
            index_fields=["text"],
            model=SimHashDeduper(
                id="id", text_field="s_text", bits=16, max_hamming=4
            ),
            resolver_method=Components(),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            source_location=str(data_dir),
            **kwargs,
        )
        q.awaitTermination(600)
        return cat

    delta = run("sh_delta")
    full = run("sh_full", auto_delta=False)
    assert _clusters(delta) == _clusters(full)
    bk = delta.block_keys.where(F.col("step") == "s_model")
    # max_hamming + 1 = 5 pigeonhole chunk keys per distinct text
    assert bk.count() == 6 * 5
    assert full.block_keys.isEmpty()
    # each chunk must span at least one bit
    with _pytest.raises(ValueError, match="pigeonhole"):
        SimHashDeduper(id="id", bits=16, max_hamming=16).dedupe(
            spark.createDataFrame([(1, "a")], "id long, text string")
        )


def test_embedding_delta_matches_full_recompute(spark, tmp_path):
    """EmbeddingDeduper's probe-set keys are content-derived: streamed
    delta-link clusters must equal the full recompute, including a late
    vector bridging two earlier cosine-neighbour groups."""
    from matchbox_spark.operators.lsh_linkers import EmbeddingDeduper

    def v(x, y):
        return [float(x), float(y), 1.0]

    batches = [
        [(1, v(1, 0)), (2, v(0.98, 0.02)), (10, v(-5, -5))],
        [(3, v(0, 1)), (4, v(0.02, 0.98))],
        [(5, v(0.5, 0.5))],  # bridges the x-axis and y-axis groups
    ]
    schema = "k long, embedding array<double>"

    def run(name, **kwargs):
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
            index_fields=["embedding"],
            model=EmbeddingDeduper(
                id="id", vector_field="s_embedding",
                threshold=0.80, bucket_dims=[0, 1, 2],
            ),
            resolver_method=Components(),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            source_location=str(data_dir),
            **kwargs,
        )
        q.awaitTermination(600)
        return cat

    delta = run("emb_delta")
    full = run("emb_full", auto_delta=False)
    got = _clusters(delta)
    assert got == _clusters(full)
    assert frozenset({10}) in got
    bk = delta.block_keys.where(F.col("step") == "s_model")
    # 6 distinct vectors x (1 home + 3 one-bit probes), duplicates possible
    # only via 64-bit equal buckets (none here)
    assert bk.select("leaf_id").distinct().count() == 6
    assert bk.count() == 6 * 4
    assert full.block_keys.isEmpty()


def test_serving_matcher_patches_under_block_key_stream(spark, tmp_path):
    """The computed-block delta route keeps the serving matcher's patch
    invariant (merges only enter through batch rows): after the bridge
    batch, a point lookup serves the fully-merged membership and the
    incrementally-patched projection equals a fresh re-materialisation."""
    from matchbox_spark.plans.dag import Matcher, _LookupIndex

    data_dir = tmp_path / "data_serve"
    data_dir.mkdir()
    cat = Catalog(spark)
    matcher = Matcher()
    src = str(data_dir)
    for rows in BATCHES:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = incremental_resolve_stream(
            stream,
            cat,
            source_step="s",
            key_field="k",
            index_fields=["text"],
            model=_model(),
            resolver_method=Components(),
            checkpoint_dir=str(tmp_path / "ckpt_serve"),
            source_location=src,
            serving_matcher=matcher,
        )
        q.awaitTermination(600)
        # the patched driver index equals one rebuilt from the projection
        rows = matcher.projection.select("id", "source", "key").toPandas()
        assert matcher.index == _LookupIndex(rows)

    got = matcher.lookup("1", "s", ["s"])[0]
    assert got.target_keys == {"1", "2", "3", "4", "5"}
    assert matcher.lookup("10", "s", ["s"])[0].target_keys == {"10"}
    fresh = unified_query(cat, ["s_resolve"], ["s"], level="key")
    assert {
        (r["id"], r["source"], r["key"]) for r in matcher.projection.collect()
    } == {(r["id"], r["source"], r["key"]) for r in fresh.collect()}


def test_stream_refuses_unresolved_auto_params(spark, tmp_path):
    """Corpus-derived 'auto' LSH parameters freeze from the first corpus a
    model sees — in a stream that is micro-batch 1, no proxy for the
    eventual corpus. The delta path always refused this inside
    delta_block_keys; the FULL-recompute path (auto_delta=False) would
    silently freeze the mis-sized width, so the stream must refuse every
    route up front (round 10 review fix)."""
    import pytest

    from matchbox_spark.operators.lsh_linkers import (
        EmbeddingDeduper,
        SimHashDeduper,
    )
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    df = spark.createDataFrame([(1, "a b c")], "k long, text string")
    data_dir = str(tmp_path / "data")
    df.write.parquet(data_dir)
    stream = spark.readStream.schema(df.schema).parquet(data_dir)

    for model, route in (
        (SimHashDeduper(id="id", text_field="s_text"), True),
        (SimHashDeduper(id="id", text_field="s_text"), False),
        (EmbeddingDeduper(id="id", vector_field="s_text"), False),
    ):
        with pytest.raises(ValueError, match="auto"):
            incremental_resolve_stream(
                stream,
                Catalog(spark),
                source_step="s",
                key_field="k",
                index_fields=["text"],
                model=model,
                resolver_method=Components(),
                checkpoint_dir=str(tmp_path / f"ckpt_{route}_{type(model).__name__}"),
                source_location=data_dir,
                auto_delta=route,
            )
