"""Collections/Runs versioning semantics (reference dtos.py:620-655,
adapter/collections.py:100-215): run isolation, mutability guards, default
resolution, publish flow, confirmed deletion, persistence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.collections import (
    CollectionStore,
    DeletionNotConfirmedError,
    RunNotFoundError,
    RunNotWriteableError,
)
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig


@pytest.fixture()
def crn_parquet(spark, tmp_path):
    rows = []
    for e in range(10):
        crn = f"crn-{e:03d}"
        for v in range(3):
            rows.append((f"k{e}_{v}", f"Company {e} v{v}", crn))
    df = spark.createDataFrame(rows, "key string, company_name string, crn string")
    path = str(tmp_path / "crn.parquet")
    df.write.parquet(path)
    return path


def _run_pipeline(spark, run, crn_parquet, dedupe_fields):
    src = SourceConfig(
        name="crn",
        location=crn_parquet,
        key_field="key",
        index_fields=["company_name", "crn"],
    )
    dag = DAG(spark, run.catalog)
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(id="id", unique_fields=dedupe_fields),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), model_inputs=["dedupe"])
    dag.run()
    return dag


def test_two_runs_same_pipeline_isolated_and_default_resolution(
    spark, crn_parquet
):
    store = CollectionStore(spark)
    coll = store.create_collection("companies")

    # run 1: dedupe on crn → 10 entities; published as default
    r1 = coll.create_run()
    _run_pipeline(spark, r1, crn_parquet, ["crn_crn"])
    coll.publish_run(r1.run_id)
    assert not r1.is_mutable and r1.is_default

    # run 2: different config (dedupe on name too) → 30 entities; mutable
    r2 = coll.create_run()
    _run_pipeline(spark, r2, crn_parquet, ["crn_company_name", "crn_crn"])

    # runs are fully isolated state
    n1 = (
        coll.query(["resolve"], ["crn"], run_id=r1.run_id)
        .select("id").distinct().count()
    )
    n2 = (
        coll.query(["resolve"], ["crn"], run_id=r2.run_id)
        .select("id").distinct().count()
    )
    assert n1 == 10 and n2 == 30

    # no run id → the default (published) run answers
    assert coll.query(["resolve"], ["crn"]).select("id").distinct().count() == 10
    m = coll.match_key("k3_0", "crn", ["crn"], ["resolve"])
    assert m[0].target_keys == {"k3_0", "k3_1", "k3_2"}

    # promote run 2: default pointer flips, run 1 demotes
    coll.publish_run(r2.run_id)
    assert coll.query(["resolve"], ["crn"]).select("id").distinct().count() == 30
    assert not r1.is_default and r2.is_default


def test_immutable_run_rejects_writes(spark, crn_parquet):
    store = CollectionStore(spark)
    coll = store.create_collection("c")
    run = coll.create_run()
    dag = _run_pipeline(spark, run, crn_parquet, ["crn_crn"])
    coll.publish_run(run.run_id)

    src2 = spark.createDataFrame([("x1", "v")], "key string, v string")
    with pytest.raises(RunNotWriteableError):
        run.catalog.insert_source_index(
            "late", src2.groupBy(F.sha2("v", 256).alias("hash")).agg(
                F.collect_list("key").alias("keys")
            ),
        )
    with pytest.raises(RunNotWriteableError):
        run.catalog.drop_step("dedupe")
    # a DAG holding the guarded catalog is blocked too (guard checks at call
    # time, not handle-creation time)
    with pytest.raises(RunNotWriteableError):
        dag.catalog.insert_model_edges(
            "m2", spark.createDataFrame(
                [], "left_id long, right_id long, score float"
            ),
        )
    # every public mutator, found by name, is guarded: the guard raises
    # before the call binds its arguments, so none need building
    mutators = [
        n
        for n in dir(Catalog)
        if n.startswith(("insert_", "merge_")) or n == "drop_step"
    ]
    assert "insert_source_index_delta" in mutators
    steps = dict(run.catalog.steps)
    for name in mutators:
        with pytest.raises(RunNotWriteableError):
            getattr(run.catalog, name)()
    assert run.catalog.steps == steps
    # reads still flow
    assert run.catalog.cluster_keys.count() == 30

    # thawing re-enables writes (reference set_run_mutable)
    coll.set_run_mutable(run.run_id, True)
    run.catalog.drop_step("dedupe")


def test_default_requires_immutable_and_deletion_requires_certain(
    spark, crn_parquet
):
    store = CollectionStore(spark)
    coll = store.create_collection("c")
    run = coll.create_run()
    with pytest.raises(ValueError, match="mutable"):
        coll.set_run_default(run.run_id)

    _run_pipeline(spark, run, crn_parquet, ["crn_crn"])
    with pytest.raises(DeletionNotConfirmedError) as ei:
        coll.delete_run(run.run_id)
    assert set(ei.value.children) == {"crn", "dedupe", "resolve"}
    with pytest.raises(DeletionNotConfirmedError):
        store.delete_collection("c")
    coll.delete_run(run.run_id, certain=True)
    with pytest.raises(RunNotFoundError):
        coll.get_run(run.run_id)
    store.delete_collection("c", certain=True)
    assert store.list_collections() == []


def test_collection_store_persistence_roundtrip(spark, crn_parquet, tmp_path):
    root = str(tmp_path / "store")
    store = CollectionStore(spark, path=root)
    coll = store.create_collection("companies")
    r1 = coll.create_run()
    _run_pipeline(spark, r1, crn_parquet, ["crn_crn"])
    coll.publish_run(r1.run_id)
    store.save()

    store2 = CollectionStore(spark, path=root)
    coll2 = store2.get_collection("companies")
    assert coll2.default_run == r1.run_id
    run2 = coll2.default
    assert not run2.is_mutable and run2.is_default
    # reloaded state answers the same query
    n = coll2.query(["resolve"], ["crn"]).select("id").distinct().count()
    assert n == 10
    # reloaded immutable run still rejects writes
    with pytest.raises(RunNotWriteableError):
        run2.catalog.drop_step("dedupe")
