"""Resolver tests: union-find vs driver and distributed CC, thresholds."""

from __future__ import annotations

import random
from collections import defaultdict

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
    resolver = Components(thresholds={"a": 0.5})
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
    out = Components().compute_clusters({"a": a, "b": b})
    assert _components_from_assignments(out) == {frozenset({1, 2, 3})}


def test_components_unknown_threshold_model(spark):
    a = spark.createDataFrame([(1, 2, 1.0)], "left_id long, right_id long, score float")
    with pytest.raises(RuntimeError):
        Components(thresholds={"nope": 0.5}).compute_clusters({"a": a})


def _random_graph(seed):
    rng = random.Random(seed)
    return [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]


def _hub_graph():
    """ER's shape: two near-cliques, a hub with 50 spokes and a few
    spoke-to-spoke edges, a chain bridging a clique to the hub, and
    isolated pairs."""
    rng = random.Random(5)
    edges = [(a, b) for a in range(15) for b in range(a + 1, 15)]
    edges += [
        (a, b) for a in range(20, 32) for b in range(a + 1, 32) if rng.random() < 0.8
    ]
    edges += [(100, 100 + k) for k in range(1, 51)]
    edges += [(100 + rng.randint(1, 50), 100 + rng.randint(1, 50)) for _ in range(10)]
    edges += [(14, 40), (40, 41), (41, 42), (42, 100)]
    edges += [(200 + 2 * k, 201 + 2 * k) for k in range(5)]
    return edges


def _star_round(edges):
    """One large-star then small-star step over a set of ``(src, dst)``
    edges, in plain Python: the reference for the rounds' edge counts."""
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    large = {(v, min(u, *ns)) for u, ns in nbrs.items() for v in ns if v > u}
    oriented = {(max(a, b), min(a, b)) for a, b in large if a != b}
    mins = {}
    for a, b in oriented:
        mins[a] = min(mins.get(a, b), b)
    out = {(b, mins[a]) for a, b in oriented} | set(mins.items())
    return {(a, b) for a, b in out if a != b}


def _round_counts(edges):
    """Edge counts of the distinct loop-free input and of each star round
    until the edge set stops changing (the round that confirms it
    included)."""
    e = {(a, b) for a, b in edges if a != b}
    counts = [len(e)]
    while True:
        nxt = _star_round(e)
        counts.append(len(nxt))
        if nxt == e:
            return counts
        e = nxt


# (left, right, score) rows per input; edges scoring under 0.5 are dropped
_CC_CASES = {
    **{
        f"random{seed}": [(a, b, 0.9) for a, b in _random_graph(seed)]
        for seed in range(3)
    },
    "chain256": [(i, i + 1, 0.9) for i in range(256)],
    "hub": [(a, b, 0.9) for a, b in _hub_graph()],
    # node 5 has only a self-loop: it joins no component on either path
    "self_loop": [(1, 2, 0.9), (5, 5, 0.9), (3, 4, 0.9)],
    "duplicates": [(1, 2, 0.9), (2, 1, 0.9), (1, 2, 0.9), (3, 4, 0.9), (3, 4, 0.9)],
    # Spark SQL orders NaN above every double: a NaN score passes the threshold
    "nan_score": [(1, 2, float("nan")), (3, 4, 0.9), (5, 6, 0.1)],
    "empty": [],
}

# (budget, case) arms: the two fixed budgets over every case, then budgets
# named for where they fall against the case's round counts: "finish" at
# the first round's count (under the input's), "below" one under every
# round's, "initial" at the distinct loop-free input's count when the raw
# rows exceed it
_ARMS = [(a, c) for a in ("limitNone", "limit0") for c in sorted(_CC_CASES)] + [
    ("finish", "hub"),
    ("below", "hub"),
    ("initial", "duplicates"),
]


def _budget(arm, counts, limit_none):
    return {
        "limitNone": limit_none,
        "limit0": 0,
        "finish": counts[1],
        "below": min(counts) - 1,
        "initial": counts[0],
    }[arm]


@pytest.mark.parametrize(
    "arm,entry,case",
    [
        pytest.param(arm, entry, case, id=f"{arm}-{entry}-{case}")
        for arm, case in _ARMS
        for entry in ("connected_components", "Components", "Components_pandas")
    ],
)
def test_cc_path_matrix(spark, caplog, arm, entry, case):
    """Every CC path, reached through both entry points, gives the
    union-find answer over the kept non-self-loop edges, and one INFO line
    names it with its gate inputs:

    - ``driver_edge_limit=None`` takes the driver CC at this size;
    - ``0`` runs every distributed round (an empty edge set is answered on
      the driver either way);
    - a budget the rounds reach finishes them on the driver, after the
      first round or before any round when the raw rows held duplicates.

    A driver result, finished or not, is a LocalRelation, or pandas when
    ``Components`` was given pandas; parent ids are dense 1..k."""
    import logging
    import math

    from matchbox_spark.plans.resolvers import _driver_cc_edge_limit

    rows = _CC_CASES[case]
    kept = [(a, b) for a, b, t in rows if t >= 0.5 or math.isnan(t)]
    expected = connected_components_driver([(a, b) for a, b in kept if a != b])
    counts = _round_counts(kept)
    limit = _budget(arm, counts, _driver_cc_edge_limit(spark))
    if len(kept) <= limit:
        line = f"driver union-find ({len(kept):,} edges ≤ {limit:,})"
    else:
        n0 = counts[0]
        cmp = ">" if n0 > limit else "≤"
        line = f"distributed union-find ({n0:,} edges {cmp} {limit:,}"
        # the first materialisation whose count fits the (non-zero) budget
        done = next((k for k, n in enumerate(counts) if limit and n <= limit), None)
        if done is None:
            ran = len(counts) - 1
            line += f"; {ran} round{'s' * (ran != 1)})"
        else:
            line += (
                f"; driver finish after {done} round{'s' * (done != 1)}"
                f" at {counts[done]:,} edges)"
            )
    driver = "distributed union-find" not in line or "driver finish" in line
    assert arm in ("limitNone", "limit0") or (
        ("driver finish after 1 round" in line) == (arm == "finish")
        and ("driver finish after 0 rounds" in line) == (arm == "initial")
        and (not driver) == (arm == "below")
    ), line
    if entry == "connected_components":
        df = spark.createDataFrame(kept, "src long, dst long")
        got = connected_components(df, driver_edge_limit=limit)
        plan = got._jdf.queryExecution().logical().toString()
        assert plan.startswith("LocalRelation") == driver
        assert {r["id"]: r["component"] for r in got.collect()} == expected
        return
    edges = spark.createDataFrame(rows, "left_id long, right_id long, score float")
    if entry == "Components_pandas":
        edges = edges.toPandas()
    with caplog.at_level(logging.INFO, logger="matchbox_spark.plans.resolvers"):
        out = Components(
            thresholds={"m": 0.5}, driver_edge_limit=limit
        ).compute_clusters({"m": edges})
    assert [m for m in caplog.messages if m.startswith("Components:")] == [
        f"Components: auto → {line}"
    ]
    if entry == "Components_pandas" and driver:
        import pandas as pd

        assert isinstance(out, pd.DataFrame)
        out = spark.createDataFrame(out, "parent_id long, child_id long")
    else:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation") == driver
    # parent ids are dense 1..k, ordered by each component's minimum member
    rank = {m: i + 1 for i, m in enumerate(sorted(set(expected.values())))}
    got = {r["child_id"]: r["parent_id"] for r in out.collect()}
    assert got == {node: rank[m] for node, m in expected.items()}


@pytest.mark.parametrize("seed", range(3))
def test_cc_driver_finish_matches_union_find(spark, seed):
    """Seeded random graphs with isolated pairs, self-loops and duplicate
    edges: a distributed CC that finishes on the driver after its first
    round gives the dict union-find's labels."""
    from matchbox_spark.plans.resolvers import _cc_labels

    rng = random.Random(100 + seed)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    edges += [(1000 + 2 * k, 1001 + 2 * k) for k in range(20)]
    edges += [(v, v) for v in rng.sample(range(2000), 15)]
    edges += rng.sample(edges, 60)
    rng.shuffle(edges)
    counts = _round_counts(edges)
    assert counts[1] < counts[0]
    df = spark.createDataFrame(edges, "src long, dst long")
    labels, path = _cc_labels(df, counts[1])
    assert path.endswith(f"driver finish after 1 round at {counts[1]:,} edges)"), path
    got = dict(zip(labels["id"].tolist(), labels["component"].tolist()))
    assert got == connected_components_driver([(a, b) for a, b in edges if a != b])


def test_auto_cc_respects_explicit_edge_limit(spark):
    # limit below the edge count forces the distributed rounds; result is
    # identical either way
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    got = connected_components(df, driver_edge_limit=10)
    # limit=10 < 64 edges, and the driver path needs count <= limit, so
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
    assert caplog.messages == [
        "Components: auto → distributed union-find (3 edges > 0; 2 rounds)"
    ]
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
