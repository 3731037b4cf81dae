"""Round-14 optimization pins.

Each test pins an r14 change's CORRECTNESS contract:

- the dim-unrolled dot product is bit-equal to the HOF fold, including
  ragged and null rows (the per-row guard);
- exact_cosine_pairs' BNLJ condition no longer contains the similarity
  fold (the r13 passenger column was column-pruned away; the r14
  nondeterministic wrapper survives optimization);
- the packed-uint64 edge mirror answers membership identically to the
  structured representation across batches;
- the streaming delta-pair map path honours max_group_size exactly like
  the distributed blocked-superset branch (stop emitting the moment the
  accumulated group crosses the cap; earlier pairs persist).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def test_dot_expr_dim_unroll_bit_equal(spark):
    from matchbox_spark.functions.vectors import dot_expr

    rows = [
        (1, [0.1, -2.5, 3.25, 7.0], [1.5, 2.5, -0.5, 0.125]),
        (2, [1e-300, 1e300, -1e300, 2.0], [3.0, 1.0, 1.0, 0.5]),
        (3, [0.1, 0.2], [0.3, 0.4]),              # ragged: falls to the fold
        (4, None, [1.0, 2.0, 3.0, 4.0]),          # null side
        (5, [float("nan"), 1.0, 2.0, 3.0], [1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "id int, a array<double>, b array<double>"
    )
    got = df.select(
        "id",
        dot_expr("a", "b").alias("fold"),
        dot_expr("a", "b", dim=4).alias("unrolled"),
    ).collect()
    for r in got:
        f, u = r["fold"], r["unrolled"]
        if f is None or u is None:
            assert f == u, r
        else:
            import struct

            assert struct.pack("d", f) == struct.pack("d", u), r


def test_dot_expr_dim_unroll_on_real_embeddings(spark):
    from matchbox_spark.functions.vectors import dot_expr, vector_dim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = vector_dim(emb, "embedding")
    assert dim and dim > 0
    a = emb.select(F.col("embedding").alias("va")).limit(50)
    b = emb.select(F.col("embedding").alias("vb")).limit(50)
    pair = a.crossJoin(b)
    ne = (
        pair.select(
            (dot_expr("va", "vb") != dot_expr("va", "vb", dim)).alias("ne")
        )
        .where("ne")
        .count()
    )
    assert ne == 0


def test_exact_cosine_pairs_condition_has_no_fold(spark):
    """The similarity fold must live in a Project ABOVE the join, never in
    the BNLJ condition (guide §4.4; the r13 passenger was pruned away)."""
    from matchbox_spark.operators.similarity import exact_cosine_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = exact_cosine_pairs(emb, threshold=0.35, assume_normalized=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    assert join_lines, plan
    for ln in join_lines:
        assert "aggregate(" not in ln, ln
        assert "zip_with" not in ln, ln


def test_edge_mirror_packed_matches_structured(spark, tmp_path):
    """insert_model_edges_delta's packed-uint64 mirror must anti-join
    replayed pairs exactly like the structured representation."""
    import numpy as np
    import pandas as pd

    from matchbox_spark.plans.catalog import Catalog

    cat = Catalog(spark)

    def edges(rows):
        pdf = pd.DataFrame(
            {
                "left_id": pd.array([r[0] for r in rows], dtype="int64"),
                "right_id": pd.array([r[1] for r in rows], dtype="int64"),
                "score": pd.array([1.0] * len(rows), dtype="float32"),
            }
        )
        df = spark.createDataFrame(
            pdf, "left_id long, right_id long, score float"
        )
        df._mb_local_pdf = pdf
        return df

    cat.insert_model_edges_delta("m", edges([(1, 2), (3, 4)]))
    acc = cat._driver_step_edges["m"]
    assert acc.dtype == np.uint64  # small ids pack
    # replay + one new pair: only the new pair appends
    cat.insert_model_edges_delta("m", edges([(1, 2), (5, 6)]))
    got = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "m").collect()
    }
    assert got == {(1, 2), (3, 4), (5, 6)}
    # an id past 32 bits unpacks the mirror and keeps answering correctly
    big = 1 << 40
    cat.insert_model_edges_delta("m", edges([(big, big + 1), (1, 2)]))
    acc = cat._driver_step_edges["m"]
    assert acc.dtype != np.uint64
    got = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "m").collect()
    }
    assert got == {(1, 2), (3, 4), (5, 6), (big, big + 1)}
    # replay after the unpack still appends nothing
    cat.insert_model_edges_delta("m", edges([(big, big + 1), (3, 4)]))
    assert (
        cat.model_edges.where(F.col("step") == "m").count() == 4
    )


@pytest.mark.parametrize("cap", [None, 3])
def test_bitset_jaccard_matches_posting_path(spark, force_distributed, cap):
    """ngram_jaccard_pairs' r14 dense-vocabulary bitmask path must emit
    exactly the posting path's rows — including under max_shingle_freq
    (dropped stop-shingles leave both intersections and sizes)."""
    from matchbox_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def run():
        out = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.3,
            max_shingle_freq=cap,
        )
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in out.collect()
        )

    bitset = run()
    force_distributed("jaccard")
    posting = run()
    assert bitset == posting


def test_bpe_driver_twin_matches_distributed(spark, force_distributed):
    """bpe_train/bpe_encode's r14 driver twin must reproduce the parquet
    round-trip path row for row — merges (order, pairs, counts), the
    it = -1 surviving-symbol total, and every word's final segmentation."""
    from matchbox_spark.operators.tokenize import bpe_encode, bpe_train

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def run():
        trained = bpe_train(docs, n_merges=3, top_words=60)
        rows = [tuple(r) for r in trained.collect()]
        merges = [(r[1], r[2]) for r in rows if r[0] >= 0]
        enc = bpe_encode(docs, merges, top_words=60)
        seg = sorted(
            (r["word"], r["freq"], tuple(r["syms"])) for r in enc.collect()
        )
        return rows, seg

    driver_rows, driver_seg = run()
    force_distributed("bpe")
    dist_rows, dist_seg = run()
    assert driver_rows == dist_rows
    assert driver_seg == dist_seg


@pytest.mark.parametrize("cap", [None, 3])
def test_delta_pair_map_matches_distributed_with_cap(
    spark, tmp_path, force_distributed, cap
):
    """The r14 driver block-map path must produce byte-identical terminal
    model edges to the forced-distributed blocked-superset branch — with
    and without max_group_size (the cap boundary is the subtle case: the
    distributed branch drops a group from a batch's output the moment its
    ACCUMULATED size exceeds the cap, while pairs from earlier, smaller
    incarnations persist)."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    schema = "k long, a string, u string"
    # group A grows 2 → 4 members across batches (crosses cap=3 in batch 2)
    batches = [
        [(1, "A", "u1"), (2, "A", "u2"), (3, "B", "u3")],
        [(4, "A", "u4"), (5, "A", "u5"), (6, "B", "u6")],
    ]

    def run(name, distributed):
        data_dir = tmp_path / f"data_{name}"
        data_dir.mkdir()
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(data_dir))
        if distributed:
            force_distributed("index")
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
            model=NaiveDeduper(
                id="id", unique_fields=["s_a"], max_group_size=cap
            ),
            resolver_method=Components(method="auto"),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            source_location=str(data_dir),
        )
        q.awaitTermination(600)
        edges = {
            (r["left_id"], r["right_id"], r["score"])
            for r in cat.model_edges.where(F.col("step") == "s_model").collect()
        }
        claims = {
            r["cluster_id"]
            for r in cat.resolver_clusters.where(
                F.col("step") == "s_resolve"
            ).collect()
        }
        return edges, claims

    tag = "none" if cap is None else f"cap{cap}"
    e_map, c_map = run(f"map_{tag}", distributed=False)
    e_dist, c_dist = run(f"dist_{tag}", distributed=True)
    assert e_map == e_dist
    assert c_map == c_dist
    assert e_map  # both modes produced pairs (batch-1 A pair, B pair)
    if cap == 3:
        # the capped run must have FEWER pairs than uncapped would give:
        # batch 2's A-group (accumulated size 4 > cap) emitted nothing
        assert len(e_map) == 2
