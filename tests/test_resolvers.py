"""Resolver tests: union-find vs distributed CC equivalence, thresholds."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from matchbox_spark.plans.resolvers import (
    Components,
    DisjointSet,
    connected_components,
    connected_components_driver,
)


def test_disjoint_set():
    djs = DisjointSet()
    djs.union(1, 2)
    djs.union(2, 3)
    djs.union(4, 5)
    comps = {frozenset(c) for c in djs.components()}
    assert comps == {frozenset({1, 2, 3}), frozenset({4, 5})}


def _components_from_assignments(df):
    rows = df.collect()
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r["parent_id"], set()).add(r["child_id"])
    return {frozenset(v) for v in by_parent.values()}


def test_components_resolver_thresholds(spark):
    edges_a = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.4), (4, 5, 0.95)],
        "left_id long, right_id long, score float",
    )
    resolver = Components(thresholds={"a": 0.5}, method="driver")
    out = resolver.compute_clusters({"a": edges_a})
    assert _components_from_assignments(out) == {
        frozenset({1, 2}),
        frozenset({4, 5}),
    }
    # parent ids dense + deterministic (ordered by min member)
    parents = {r["parent_id"] for r in out.collect()}
    assert parents == {1, 2}


def test_components_multi_model_union(spark):
    a = spark.createDataFrame([(1, 2, 1.0)], "left_id long, right_id long, score float")
    b = spark.createDataFrame([(2, 3, 1.0)], "left_id long, right_id long, score float")
    out = Components(method="driver").compute_clusters({"a": a, "b": b})
    assert _components_from_assignments(out) == {frozenset({1, 2, 3})}


def test_components_unknown_threshold_model(spark):
    a = spark.createDataFrame([(1, 2, 1.0)], "left_id long, right_id long, score float")
    with pytest.raises(RuntimeError):
        Components(thresholds={"nope": 0.5}).compute_clusters({"a": a})


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_distributed_cc_matches_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = connected_components_driver(edges)

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, strategy="distributed").collect()
    }
    assert got == expected


def test_distributed_cc_long_chain(spark):
    # a path graph exercises the O(log n) contraction (worst case for naive
    # propagation)
    n = 256
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    got = connected_components(df, strategy="distributed")
    comps = got.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0]["component"] == 0
    assert got.count() == n + 1


def test_distributed_method_in_resolver(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)],
        "left_id long, right_id long, score float",
    )
    out = Components(method="distributed").compute_clusters({"m": edges})
    assert _components_from_assignments(out) == {
        frozenset({1, 2, 3}),
        frozenset({10, 11}),
    }


@pytest.mark.parametrize("seed", [0, 1])
def test_auto_cc_small_graph_takes_driver_path_and_matches(spark, seed):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(300), rng.randrange(300)) for _ in range(200)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = connected_components_driver(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == expected


def test_auto_cc_respects_explicit_edge_limit(spark):
    # limit below the edge count forces the distributed rounds; result is
    # identical either way
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    got = connected_components(df, driver_edge_limit=10, strategy="auto")
    # limit=10 < 64 edges, but auto only escapes when count <= limit, so
    # this ran the star rounds — same single component
    comps = got.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0]["component"] == 0
    assert got.count() == 65


def test_zero_driver_edge_limit_goes_distributed(spark, caplog):
    """``driver_edge_limit=0`` means "never the driver", not "unset"."""
    import logging

    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, driver_edge_limit=0)
    plan = got._jdf.queryExecution().logical().toString()
    assert not plan.startswith("LocalRelation")
    assert {r["id"]: r["component"] for r in got.collect()} == (
        connected_components_driver(edges)
    )

    scored = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges],
        "left_id long, right_id long, score float",
    )
    with caplog.at_level(logging.INFO, logger="matchbox_spark.plans.resolvers"):
        out = Components(driver_edge_limit=0).compute_clusters({"m": scored})
    assert "Components: auto → distributed union-find" in caplog.messages
    assert _components_from_assignments(out) == {
        frozenset({1, 2, 3}),
        frozenset({10, 11}),
    }


def test_driver_cc_edge_limit_derived_once(spark, monkeypatch):
    """The memory-derived CC budget lies in [2M, 50M] and is derived once
    per process: a later call reads neither /proc/meminfo nor the conf."""
    import builtins

    from matchbox_spark.plans.resolvers import _driver_cc_edge_limit

    derived = _driver_cc_edge_limit(spark)
    assert 2_000_000 <= derived <= 50_000_000

    opened = []
    real_open = builtins.open

    def tracking_open(file, *args, **kwargs):
        opened.append(str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", tracking_open)
    assert _driver_cc_edge_limit(spark) == derived
    assert "/proc/meminfo" not in opened


def test_numpy_cc_matches_dict_union_find():
    """Round 11: the vectorized driver CC (factorize + reduceat-min +
    pointer jumping) is semantically identical to the dict union-find —
    random multigraphs, self-loop-free rings, singleton-free inputs."""
    import numpy as np

    from matchbox_spark.plans.resolvers import connected_components_numpy

    rng = np.random.default_rng(11)
    for _ in range(25):
        n = int(rng.integers(1, 1500))
        src = rng.integers(0, 400, n)
        dst = rng.integers(0, 400, n)
        expected = connected_components_driver(
            zip(src.tolist(), dst.tolist())
        )
        nodes, comps = connected_components_numpy(src, dst)
        assert dict(zip(nodes.tolist(), comps.tolist())) == expected
    # high-diameter ring: pointer jumping must still converge to min id
    src = np.arange(5000)
    nodes, comps = connected_components_numpy(src, (src + 1) % 5000)
    assert (comps == 0).all() and len(nodes) == 5000
    # empty input
    nodes, comps = connected_components_numpy(
        np.empty(0, np.int64), np.empty(0, np.int64)
    )
    assert len(nodes) == 0 and len(comps) == 0
    # tiny and edge-case inputs: a single edge, a lone self-loop, duplicate
    # edges, negative ids and ids past 32 bits
    big = 1 << 40
    for edges in (
        [(7, 3)],
        [(5, 5)],
        [(1, 2), (1, 2), (2, 1), (3, 4), (3, 4)],
        [(-5, 2), (2, -9), (-1, -1), (-7, 0)],
        [(big + 3, 1 << 32), (1 << 32, 1), (big, -big)],
    ):
        src = np.array([a for a, _ in edges], np.int64)
        dst = np.array([b for _, b in edges], np.int64)
        nodes, comps = connected_components_numpy(src, dst)
        assert dict(zip(nodes.tolist(), comps.tolist())) == (
            connected_components_driver(edges)
        )
