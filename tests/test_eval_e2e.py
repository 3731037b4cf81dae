"""End-to-end evaluation flow over a built catalog (reference
test_e2e_evaluation.py strategy): sample clusters, judge them, score models."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.eval import eval_samples, precision_recall
from matchbox_spark.factories import linked_sources_factory
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig, unified_query
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("eval_e2e")
    kit = linked_sources_factory(spark, n_true_entities=5, seed=42)
    p = str(tmp / "crn.parquet")
    kit.sources["crn"].data.write.parquet(p)
    dag = DAG(spark)
    src = SourceConfig(
        name="crn", location=p, key_field="key", index_fields=["company_name", "crn"]
    )
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(id="id", unique_fields=["crn_crn"]),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), ["dedupe"])
    dag.run()
    return dag, kit


def test_eval_samples_shape_and_determinism(built):
    dag, kit = built
    s1 = eval_samples(dag.catalog, "resolve", ["resolve"], ["crn"], n=3)
    s2 = eval_samples(dag.catalog, "resolve", ["resolve"], ["crn"], n=3)
    rows1 = sorted((r["root"], r["leaf"], r["key"], r["source"]) for r in s1.collect())
    rows2 = sorted((r["root"], r["leaf"], r["key"], r["source"]) for r in s2.collect())
    assert rows1 == rows2  # seedless deterministic sampling
    assert len({r[0] for r in rows1}) == 3
    assert all(r[3] == "crn" for r in rows1)


def test_precision_recall_against_judged_resolver(built):
    dag, kit = built
    spark = dag.spark

    # the resolver's clustering at leaf level
    model = unified_query(dag.catalog, ["resolve"], ["crn"], level="leaf").select(
        F.col("id").alias("root"), F.col("leaf_id").alias("leaf")
    )

    # an overmerged competitor: every leaf under one root
    overmerged = model.select(F.lit(999999).alias("root"), "leaf")

    # the user is SHOWN the overmerged cluster and endorses the correct
    # sub-groups — net +1 for true pairs, negative votes for cross-entity
    # pairs (which the overmerged model claims)
    expansion = model.groupBy("root").agg(
        F.collect_list("leaf").alias("leaves")
    ).unionByName(
        overmerged.groupBy("root").agg(F.collect_list("leaf").alias("leaves"))
    )
    judgements = model.select("root").distinct().select(
        F.lit("u").alias("user_name"),
        F.col("root").alias("endorsed"),
        F.lit(999999).alias("shown"),
    )

    (p1, r1), (p2, r2) = precision_recall(
        [model, overmerged], judgements, expansion
    )
    assert (p1, r1) == (1.0, 1.0)
    assert r2 == 1.0 and p2 < 1.0


def test_judged_recency_filter_on_catalog(built, spark):
    from matchbox_spark.eval import filter_recently_judged

    dag, kit = built
    clusters = dag.catalog.resolver_clusters.where(
        F.col("step") == "resolve"
    ).select("cluster_id")
    n = clusters.count()
    judged = spark.createDataFrame(
        [(int(clusters.first()["cluster_id"]), "2026-08-01 00:00:00")],
        "shown long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = filter_recently_judged(clusters, judged, cutoff_days=365, now="2026-08-13 00:00:00")
    assert out.count() == n - 1


def test_enrich_samples_joins_source_rows(built, spark):
    from matchbox_spark.eval import enrich_samples

    dag, kit = built
    samples = eval_samples(dag.catalog, "resolve", ["resolve"], ["crn"], n=2)
    enriched = enrich_samples(
        samples,
        {"crn": kit.sources["crn"].data},
        {"crn": "key"},
    )
    assert enriched.count() == samples.count()
    assert "crn_company_name" in enriched.columns
    assert enriched.where(F.col("crn_company_name").isNull()).count() == 0
