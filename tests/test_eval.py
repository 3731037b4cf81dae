"""Eval tests pinning the reference's weighted-vote semantics
(common/eval.py docstring example) and precision/recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.eval import (
    cluster_pairs,
    judgement_net_counts,
    precision_recall,
)


def test_net_counts_docstring_example(spark):
    """Shown (1,2,3,4); endorsed (1), (2,3), (4) → (2,3)=+1, others=-1."""
    judgements = spark.createDataFrame(
        [("u", 101, 100), ("u", 102, 100), ("u", 103, 100)],
        "user_name string, endorsed long, shown long",
    )
    expansion = spark.createDataFrame(
        [(100, [1, 2, 3, 4]), (101, [1]), (102, [2, 3]), (103, [4])],
        "root long, leaves array<long>",
    )
    net = {
        (r["a"], r["b"]): r["net"]
        for r in judgement_net_counts(judgements, expansion).collect()
    }
    assert net[(2, 3)] == pytest.approx(1.0)
    for p in [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4)]:
        assert net[p] == pytest.approx(-1.0), p


def test_singleton_endorsed_without_expansion(spark):
    judgements = spark.createDataFrame(
        [("u", 7, 100)], "user_name string, endorsed long, shown long"
    )
    expansion = spark.createDataFrame(
        [(100, [7, 8])], "root long, leaves array<long>"
    )
    net = {
        (r["a"], r["b"]): r["net"]
        for r in judgement_net_counts(judgements, expansion).collect()
    }
    # endorsing singleton 7 of shown (7,8) rejects pair (7,8) with weight 1/2
    assert net[(7, 8)] == pytest.approx(-0.5)


def test_cluster_pairs(spark):
    rl = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20)], "root long, leaf long"
    )
    pairs = {(r["a"], r["b"]) for r in cluster_pairs(rl).collect()}
    assert pairs == {(10, 11), (10, 12), (11, 12)}


def test_precision_recall_perfect_and_partial(spark):
    # ground truth from judgements: (1,2) good; (1,3),(2,3) bad
    judgements = spark.createDataFrame(
        [("u", 101, 100), ("u", 102, 100)],
        "user_name string, endorsed long, shown long",
    )
    expansion = spark.createDataFrame(
        [(100, [1, 2, 3]), (101, [1, 2]), (102, [3])],
        "root long, leaves array<long>",
    )
    perfect = spark.createDataFrame(
        [(50, 1), (50, 2), (51, 3)], "root long, leaf long"
    )
    overmerge = spark.createDataFrame(
        [(60, 1), (60, 2), (60, 3)], "root long, leaf long"
    )
    (p1, r1), (p2, r2) = precision_recall(
        [perfect, overmerge], judgements, expansion
    )
    assert (p1, r1) == (1.0, 1.0)
    assert p2 == pytest.approx(1 / 3) and r2 == 1.0


def test_empty_judgements_rejected(spark):
    judgements = spark.createDataFrame(
        [], "user_name string, endorsed long, shown long"
    )
    expansion = spark.createDataFrame([], "root long, leaves array<long>")
    model = spark.createDataFrame([(1, 2)], "root long, leaf long")
    with pytest.raises(ValueError):
        precision_recall([model], judgements, expansion)


def test_threshold_sweep_curve(spark):
    """Sweep over a 3-leaf chain: edge (1,2)=0.9 (true pair), (2,3)=0.5
    (false pair per judgements). High t: precision 1, recall 1 (only the
    true pair clusters). Low t: overmerge — all three leaves cluster,
    precision 1/3, recall 1. Above every score: zeros, not a raise."""
    from matchbox_spark.eval import threshold_sweep

    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5)],
        "left_id long, right_id long, score double",
    )
    judgements = spark.createDataFrame(
        [("u", 101, 100), ("u", 102, 100)],
        "user_name string, endorsed long, shown long",
    )
    expansion = spark.createDataFrame(
        [(100, [1, 2, 3]), (101, [1, 2]), (102, [3])],
        "root long, leaves array<long>",
    )
    out = {
        r["threshold"]: r
        for r in threshold_sweep(
            edges, judgements, expansion, [0.3, 0.7, 0.99]
        ).collect()
    }
    assert out[0.7]["precision"] == 1.0 and out[0.7]["recall"] == 1.0
    assert out[0.3]["precision"] == pytest.approx(1 / 3)
    assert out[0.3]["recall"] == 1.0
    assert out[0.3]["n_model_pairs"] == 3 and out[0.3]["tp"] == 1
    assert out[0.99]["n_model_pairs"] == 0
    assert out[0.99]["precision"] == 0.0 and out[0.99]["f1"] == 0.0


def test_threshold_sweep_requires_thresholds(spark):
    from matchbox_spark.eval import threshold_sweep

    df = spark.createDataFrame(
        [(1, 2, 0.9)], "left_id long, right_id long, score double"
    )
    with pytest.raises(ValueError, match="at least one threshold"):
        threshold_sweep(df, df, df, [])


def _sweep_fixture(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.5)],
        "left_id long, right_id long, score double",
    )
    judgements = spark.createDataFrame(
        [("u", 101, 100), ("u", 102, 100)],
        "user_name string, endorsed long, shown long",
    )
    expansion = spark.createDataFrame(
        [(100, [1, 2, 3]), (101, [1, 2]), (102, [3])],
        "root long, leaves array<long>",
    )
    return edges, judgements, expansion


def test_threshold_sweep_max_edges_no_sample_is_equivalent(spark):
    """max_edges >= |edges| must be EXACTLY the unsampled sweep (the
    warehouse-scale pattern's small-data equivalence pin, VERDICT r12 #8)."""
    from matchbox_spark.eval import threshold_sweep

    edges, judgements, expansion = _sweep_fixture(spark)
    ts = [0.3, 0.7, 0.99]
    full = sorted(
        threshold_sweep(edges, judgements, expansion, ts).collect()
    )
    capped = sorted(
        threshold_sweep(
            edges, judgements, expansion, ts, max_edges=2
        ).collect()
    )
    assert full == capped


def test_threshold_sweep_max_edges_sampling_deterministic(spark):
    """Under-cap sampling is a deterministic hash rule: two invocations
    (and a repartitioned input) give bit-identical sweeps, and the edge
    subset is genuinely smaller."""
    from matchbox_spark.eval import threshold_sweep

    _, judgements, expansion = _sweep_fixture(spark)
    rows = [(a, b, 0.8) for a in range(1, 9) for b in range(a + 1, 9)]
    edges = spark.createDataFrame(
        rows, "left_id long, right_id long, score double"
    )
    ts = [0.3, 0.9]
    one = sorted(
        threshold_sweep(
            edges, judgements, expansion, ts, max_edges=10
        ).collect()
    )
    two = sorted(
        threshold_sweep(
            edges.repartition(7), judgements, expansion, ts, max_edges=10
        ).collect()
    )
    assert one == two
    full = sorted(threshold_sweep(edges, judgements, expansion, ts).collect())
    # the sampled sweep saw fewer model pairs than the full one at low t
    assert one[0]["n_model_pairs"] <= full[0]["n_model_pairs"]

    with pytest.raises(ValueError, match="max_edges must be positive"):
        threshold_sweep(edges, judgements, expansion, ts, max_edges=0)


def test_threshold_sweep_driver_matches_distributed(spark, force_distributed):
    """The r13 driver fast path (vectorized same-component membership over
    the net pairs) must emit exactly the distributed loop's rows. Forcing
    the ``cc`` gate selects the distributed branch (limit 0 → the probe
    always overflows); the default path on this fixture takes the driver
    branch."""
    from matchbox_spark.eval import threshold_sweep

    edges, judgements, expansion = _sweep_fixture(spark)
    ts = [0.3, 0.7, 0.99]
    driver = sorted(
        threshold_sweep(edges, judgements, expansion, ts).collect()
    )
    force_distributed("cc")
    dist = sorted(
        threshold_sweep(edges, judgements, expansion, ts).collect()
    )
    assert driver == dist


def test_threshold_sweep_driver_sparse_id_universe(spark):
    """Ids far apart (≥2^60) and judged leaves outside the edge universe:
    the driver path's Spark-side id→index join must map the out-of-universe
    endpoint to the sentinel (never same-component) while the pair still
    counts toward the validation denominator."""
    from matchbox_spark.eval import threshold_sweep

    big = 1 << 60
    edges = spark.createDataFrame(
        [(big + 1, big + 2, 0.9), (big + 2, 3, 0.5)],
        "left_id long, right_id long, score double",
    )
    judgements = spark.createDataFrame(
        [("u", 101, 100), ("u", 102, 100)],
        "user_name string, endorsed long, shown long",
    )
    expansion = spark.createDataFrame(
        [(100, [big + 1, big + 2, 3]), (101, [big + 1, big + 2]), (102, [3])],
        "root long, leaves array<long>",
    )
    out = {
        r["threshold"]: r
        for r in threshold_sweep(
            edges, judgements, expansion, [0.3, 0.7]
        ).collect()
    }
    assert out[0.7]["precision"] == 1.0 and out[0.7]["recall"] == 1.0
    assert out[0.3]["n_model_pairs"] == 3 and out[0.3]["tp"] == 1
