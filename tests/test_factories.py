"""Factory-driven methodology tests (reference §5 strategy: parametrised
dedupers/linkers over seeded testkits, asserting exact cluster/edge sets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.factories import (
    diff_clusters,
    linked_sources_factory,
    source_factory,
    make_true_entities,
    SuffixRule,
)
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.operators.linkers import DeterministicLinker
from matchbox_spark.plans.resolvers import Components


@pytest.fixture(scope="module")
def kit(spark):
    return linked_sources_factory(spark, n_true_entities=8, seed=42)


def test_factory_shapes(kit):
    crn, dh, cdms = kit.sources["crn"], kit.sources["dh"], kit.sources["cdms"]
    assert crn.data.count() == 8 * 4  # base + 3 suffix variations
    assert dh.data.count() == 4  # half universe, no variations
    assert cdms.data.count() == 8 * 2  # repetition=1


def test_factory_determinism(spark):
    a = linked_sources_factory(spark, n_true_entities=5, seed=7)
    b = linked_sources_factory(spark, n_true_entities=5, seed=7)
    assert sorted(a.sources["crn"].data.collect()) == sorted(
        b.sources["crn"].data.collect()
    )
    c = linked_sources_factory(spark, n_true_entities=5, seed=8)
    assert sorted(a.sources["crn"].data.collect()) != sorted(
        c.sources["crn"].data.collect()
    )


def test_naive_dedupe_recovers_crn_entities(spark, kit):
    """Dedupe crn on the stable crn field → exactly the true entities."""
    crn = kit.sources["crn"]
    data = crn.data.withColumn("id", F.monotonically_increasing_id())
    id_map = {r["key"]: r["id"] for r in data.select("key", "id").collect()}

    edges = NaiveDeduper(id="id", unique_fields=["crn"]).dedupe(data)
    got = {(r["left_id"], r["right_id"]) for r in edges.collect()}
    assert got == crn.expected_pairs(id_map)

    # resolve → cluster key-sets equal ground truth entity key-sets
    assignments = Components().compute_clusters({"m": edges})
    inv = {v: k for k, v in id_map.items()}
    produced: dict[int, set[str]] = {}
    for r in assignments.collect():
        produced.setdefault(r["parent_id"], set()).add(inv[r["child_id"]])
    p_only, e_only = diff_clusters(produced, crn.expected_entity_keys())
    assert not p_only and not e_only


def test_deterministic_link_recovers_cross_source(spark, kit):
    """Link crn ↔ cdms on crn equality → exactly the same-entity key pairs."""
    crn, cdms = kit.sources["crn"], kit.sources["cdms"]
    linker = DeterministicLinker(
        left_id="key", right_id="key", comparisons=["l.crn = r.crn"]
    )
    edges = linker.link(crn.data, cdms.data)
    got = {(r["left_id"], r["right_id"]) for r in edges.collect()}
    assert got == kit.expected_cross_pairs("crn", "cdms")


def test_replace_rule_and_cleaning_roundtrip(spark):
    """Suffix-varied names dedupe only after cleaning strips the suffix —
    the e2e cleaning scenario (test_e2e_dag.py:33-55 in the reference)."""
    ents = make_true_entities(5, seed=1)
    src = source_factory(
        spark,
        "s",
        ents,
        ["company_name"],
        variations={"company_name": [SuffixRule(" Ltd"), SuffixRule(" Limited")]},
    )
    raw = src.data.withColumn("id", F.monotonically_increasing_id())
    # without cleaning: names differ → no pairs beyond exact dupes
    edges_raw = NaiveDeduper(id="id", unique_fields=["company_name"]).dedupe(raw)
    assert edges_raw.count() == 0

    cleaned = raw.withColumn(
        "company_name", F.regexp_replace("company_name", r" (Ltd|Limited)$", "")
    )
    edges = NaiveDeduper(id="id", unique_fields=["company_name"]).dedupe(cleaned)
    id_map = {r["key"]: r["id"] for r in raw.select("key", "id").collect()}
    assert {(r["left_id"], r["right_id"]) for r in edges.collect()} == (
        src.expected_pairs(id_map)
    )


def test_scored_linker_diff_model_edges(spark):
    """Mirror of the reference's scored-linker contract
    (test_linkers_probabilistic.py:198-280): at threshold 0 the weighted
    linker recovers the ground truth EXACTLY (diff_model_edges identical);
    at the mean score the result fragments into strict SUBSETS of true
    entities with zero wrong and zero invalid merges."""
    from matchbox_spark.factories import (
        LinkedSourcesTestkit,
        SuffixRule,
        make_true_entities,
        source_factory,
    )
    from matchbox_spark.operators.linkers import WeightedDeterministicLinker

    entities = make_true_entities(10, seed=42)
    kit = LinkedSourcesTestkit(true_entities=entities)
    variations = {
        "company_name": [SuffixRule(" Ltd"), SuffixRule(" Limited")]
    }
    for side in ("source_left", "source_right"):
        kit.sources[side] = source_factory(
            spark, side, entities, ["company_name", "crn"],
            variations=variations, seed=42,
        )
    left, right = kit.sources["source_left"], kit.sources["source_right"]

    linker = WeightedDeterministicLinker(
        left_id="key",
        right_id="key",
        weighted_comparisons=[
            {"comparison": "l.company_name = r.company_name", "weight": 1.0},
            {"comparison": "l.crn = r.crn", "weight": 1.0},
        ],
        threshold=0.0,
    )
    edges = linker.link(left.data, right.data).collect()
    scores = [float(r["score"]) for r in edges]
    assert len(set(scores)) > 1, "expected varying scores"

    lc = {k: {k} for k in left.key_to_entity}
    rc = {k: {k} for k in right.key_to_entity}
    srcs = ["source_left", "source_right"]

    identical, report = kit.diff_model_edges(edges, srcs, lc, rc, threshold=0.0)
    assert identical, f"expected perfect results, got {report}"

    mean = sum(scores) / len(scores)
    identical, report = kit.diff_model_edges(edges, srcs, lc, rc, threshold=mean)
    assert not identical
    assert report["subset"] > 0
    assert report["wrong"] == 0
    assert report["invalid"] == 0


def test_diff_entities_report_categories(spark):
    """Every report category of the reference's diff_entities
    (entities.py:566-613) on a hand-built example."""
    from matchbox_spark.factories import diff_entities

    expected = [{"a", "b", "c"}, {"d", "e"}, {"f"}]
    actual = [
        {"a", "b", "c"},       # perfect
        {"d"},                 # subset of {d, e}
        {"f", "e"},            # superset: contains all of {f}
        {"c", "d"},            # wrong: overlaps keys, no containment
        {"x"},                 # invalid: unknown key
    ]
    identical, report = diff_entities(expected, actual)
    assert not identical
    assert report == {
        "perfect": 1, "subset": 1, "superset": 1, "wrong": 1, "invalid": 1
    }
    ok, empty = diff_entities(expected, [set(s) for s in expected])
    assert ok and empty == {}
