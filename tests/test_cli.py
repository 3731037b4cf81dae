"""CLI verbs over the collection/run/query/eval surface (VERDICT r11 #6;
reference client/cli/main.py:1-54, collections.py:1-137, the eval loop).

Every command goes through ``matchbox_spark.cli.main(argv, out=...)`` — the
exact path ``python -m matchbox_spark.cli`` takes — against a real on-disk
store, with the pipeline state written by a genuine DAG run.
"""

from __future__ import annotations

import io
import os

import pytest
from pyspark.sql import functions as F

from matchbox_spark.cli import main
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.collections import CollectionStore
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig


@pytest.fixture(scope="module")
def crn_parquet(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cli_data")
    rows = []
    for e in range(6):
        crn = f"crn-{e:03d}"
        for v in range(3):
            rows.append((f"k{e}_{v}", f"Company {e} v{v}", crn))
    df = spark.createDataFrame(
        rows, "key string, company_name string, crn string"
    )
    path = str(tmp / "crn.parquet")
    df.write.parquet(path)
    return path


def _cli(store, *argv, stdin=None):
    out = io.StringIO()
    rc = main(
        ["--store", store, *argv],
        out=out,
        stdin=io.StringIO(stdin) if stdin is not None else None,
    )
    return rc, out.getvalue()


@pytest.fixture(scope="module")
def store_with_run(spark, tmp_path_factory, crn_parquet):
    """A store with collection 'companies', run 1 built + published."""
    store_path = str(tmp_path_factory.mktemp("cli_store"))
    rc, _ = _cli(store_path, "collections", "create", "companies")
    assert rc == 0
    rc, _ = _cli(store_path, "runs", "create", "companies")
    assert rc == 0

    # build the pipeline into run 1 through the library, as a user would
    store = CollectionStore(spark, path=store_path)
    coll = store.get_collection("companies")
    run = coll.get_run(1)
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
        NaiveDeduper(id="id", unique_fields=["crn_crn"]),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), ["dedupe"])
    dag.run()
    coll.save()

    rc, _ = _cli(store_path, "runs", "publish", "companies", "1")
    assert rc == 0
    return store_path


def test_version(tmp_path):
    rc, out = _cli(str(tmp_path), "version")
    assert rc == 0
    assert "matchbox_spark version" in out


def test_collections_lifecycle(tmp_path):
    store = str(tmp_path / "s")
    rc, out = _cli(store, "collections", "list")
    assert rc == 0 and out == ""
    rc, _ = _cli(store, "collections", "create", "a")
    assert rc == 0
    rc, out = _cli(store, "collections", "list")
    assert out.strip() == "a"
    rc, _ = _cli(store, "collections", "delete", "a")
    assert rc == 0
    rc, out = _cli(store, "collections", "list")
    assert out == ""


def test_runs_list_and_publish(store_with_run):
    rc, out = _cli(store_with_run, "runs", "list", "companies")
    assert rc == 0
    assert "run 1 [default, immutable]" in out
    assert "dedupe" in out and "resolve" in out


def test_query_prints_and_writes(store_with_run, tmp_path, spark):
    rc, out = _cli(
        store_with_run,
        "query",
        "companies",
        "--sources",
        "crn",
        "--resolvers",
        "resolve",
        "--limit",
        "5",
    )
    assert rc == 0
    lines = out.strip().splitlines()
    assert lines[0].split("\t") == ["id", "leaf_id", "key", "source"]
    assert len(lines) == 6  # header + 5 rows

    dest = str(tmp_path / "proj.parquet")
    rc, out = _cli(
        store_with_run,
        "query",
        "companies",
        "--sources",
        "crn",
        "--resolvers",
        "resolve",
        "--output",
        dest,
    )
    assert rc == 0 and os.path.isdir(dest)
    df = spark.read.parquet(dest)
    assert df.count() == 18  # 6 entities x 3 variants
    assert df.select("id").distinct().count() == 6


def test_lookup(store_with_run):
    rc, out = _cli(
        store_with_run,
        "lookup",
        "companies",
        "--key",
        "k0_0",
        "--source",
        "crn",
        "--targets",
        "crn",
        "--resolvers",
        "resolve",
    )
    assert rc == 0
    # the entity holds all three variants of entity 0
    assert "k0_0" in out and "k0_1" in out and "k0_2" in out


def test_annotate_scripted(store_with_run, tmp_path):
    dest = str(tmp_path / "judgements.parquet")
    # endorse the first cluster as shown, skip one, quit
    rc, out = _cli(
        store_with_run,
        "annotate",
        "companies",
        "--resolver",
        "resolve",
        "--sources",
        "crn",
        "--user",
        "alice",
        "--n",
        "4",
        "--output",
        dest,
        stdin="\ns\nq\n",
    )
    assert rc == 0
    assert "clusters queued" in out
    assert "judgements recorded" in out
    assert os.path.isdir(dest)


def test_delete_guard(tmp_path):
    store = str(tmp_path / "s2")
    _cli(store, "collections", "create", "b")
    _cli(store, "runs", "create", "b")
    rc, _ = _cli(store, "collections", "delete", "b")
    assert rc == 1  # refuses: run present, no --certain
    rc, _ = _cli(store, "collections", "delete", "b", "--certain")
    assert rc == 0
