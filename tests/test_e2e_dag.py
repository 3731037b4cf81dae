"""End-to-end pipeline tests (reference test/e2e/test_e2e_dag.py strategy).

Scenario mirrors FIXTURES.md §1: a source with suffix-varied company names
sharing a stable crn; dedupe on crn clusters the variations; query returns
resolved ids; lookup_key finds co-members.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.catalog import Catalog, FingerprintMismatchError
from matchbox_spark.plans.dag import DAG, CycleError, toposort
from matchbox_spark.plans.query import QueryConfig
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig


@pytest.fixture()
def crn_parquet(spark, tmp_path):
    """10 true entities × (1 base + 3 suffix variations), crn stable per entity."""
    rows = []
    for e in range(10):
        base = f"Company {e}"
        crn = f"crn-{e:03d}"
        for v, suffix in enumerate(["", " Limited", " UK", " Company"]):
            rows.append((f"k{e}_{v}", base + suffix, crn))
    df = spark.createDataFrame(rows, "key string, company_name string, crn string")
    path = str(tmp_path / "crn.parquet")
    df.write.parquet(path)
    return path


def _build_dag(spark, crn_parquet) -> DAG:
    dag = DAG(spark)
    src = SourceConfig(
        name="crn",
        location=crn_parquet,
        key_field="key",
        index_fields=["company_name", "crn"],
    )
    dag.source(src)
    dag.model(
        "dedupe_crn",
        NaiveDeduper(id="id", unique_fields=["crn_crn"]),
        QueryConfig(sources=[src]),
    )
    dag.resolver(
        "resolve_crn", Components(), model_inputs=["dedupe_crn"]
    )
    dag._src = src
    return dag


def test_end_to_end_dedupe_query_lookup(spark, crn_parquet):
    dag = _build_dag(spark, crn_parquet)
    dag.run()

    # 40 keys → 40 leaf clusters (all rows distinct) → 10 resolved entities
    assert dag.catalog.cluster_keys.count() == 40
    resolved = dag.query([dag._src], resolver="resolve_crn")
    assert resolved.select("id").distinct().count() == 10
    # every key of one entity shares its id
    ids = (
        resolved.groupBy("crn_crn")
        .agg(F.countDistinct("id").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in ids)

    # without resolver: leaf-level ids → 40 distinct
    unresolved = dag.query([dag._src])
    assert unresolved.select("id").distinct().count() == 40

    # lookup: any key of entity 3 finds all 4 sibling keys
    matches = dag.lookup_key(
        key="k3_0", source="crn", targets=["crn"], resolver="resolve_crn"
    )
    assert matches[0].cluster is not None
    assert matches[0].target_keys == {"k3_0", "k3_1", "k3_2", "k3_3"}

    # unknown key → empty match with None cluster
    none_match = dag.lookup_key(
        key="missing", source="crn", targets=["crn"], resolver="resolve_crn"
    )
    assert none_match[0].cluster is None and none_match[0].target_keys == set()


def test_identical_rows_share_one_cluster(spark, tmp_path):
    """FIXTURES §2: fully identical rows with distinct keys index as ONE
    cluster carrying both keys."""
    df = spark.createDataFrame(
        [
            ("c1", "Alice Johnson", "alice@x.com"),
            ("c2", "Alice Johnson", "alice@x.com"),
            ("c3", "Bob Smith", "bob@x.com"),
        ],
        "customer_id string, full_name string, email string",
    )
    path = str(tmp_path / "cust.parquet")
    df.write.parquet(path)
    src = SourceConfig(
        name="cust",
        location=path,
        key_field="customer_id",
        index_fields=["full_name", "email"],
    )
    dag = DAG(spark)
    dag.source(src)
    dag.run()
    cat = dag.catalog
    assert cat.clusters.count() == 2
    two_keys = (
        cat.cluster_keys.groupBy("cluster_id")
        .agg(F.collect_set("key").alias("ks"))
        .where(F.size("ks") == 2)
        .collect()
    )
    assert len(two_keys) == 1 and set(two_keys[0]["ks"]) == {"c1", "c2"}


def test_fingerprint_gate_idempotent_and_conflicting(spark, crn_parquet):
    dag = _build_dag(spark, crn_parquet)
    dag.run()
    n_clusters = dag.catalog.clusters.count()

    # re-running the same DAG is a no-op (H6 idempotent sync)
    dag2 = _build_dag(spark, crn_parquet)
    dag2.catalog = dag.catalog
    dag2.run()
    assert dag.catalog.clusters.count() == n_clusters

    # same step name, different data → hard error
    other = spark.createDataFrame([("x", b"\x01")], "key string, h binary")
    with pytest.raises(FingerprintMismatchError):
        dag.catalog.insert_source_index(
            "crn",
            spark.createDataFrame(
                [(b"\x09", ["zz"])], "hash binary, keys array<string>"
            ),
        )


def test_catalog_save_load_roundtrip(spark, crn_parquet, tmp_path):
    dag = _build_dag(spark, crn_parquet)
    dag.run()
    path = str(tmp_path / "catalog")
    dag.catalog.path = path
    dag.catalog.save()

    reloaded = Catalog(spark, path)
    assert reloaded.counts() == dag.catalog.counts()
    assert reloaded.steps.keys() == dag.catalog.steps.keys()


def test_catalog_load_mutate_save_cycle(spark, crn_parquet, tmp_path):
    """Reopen a persisted catalog, mutate it, and save AGAIN to the same
    path: the loaded tables are lazy scans of that very path, so a naive
    in-place overwrite either fails analysis ('cannot overwrite a path
    that is also being read from') or destroys the files mid-read. save()
    must write-to-temp-then-swap and leave the new snapshot readable."""
    dag = _build_dag(spark, crn_parquet)
    dag.run()
    path = str(tmp_path / "catalog")
    dag.catalog.path = path
    dag.catalog.save()

    cat = Catalog(spark, path)
    before = cat.counts()
    edges = spark.createDataFrame(
        [(1, 2, 0.5)], "left_id long, right_id long, score float"
    )
    cat.insert_model_edges("late_model", edges)
    cat.save()  # was: AnalysisException / data loss
    # post-save reads (re-pointed parts) and a fresh reopen both see the
    # mutated snapshot
    assert cat.model_edges.where("step = 'late_model'").count() == 1
    reopened = Catalog(spark, path)
    after = reopened.counts()
    assert after["model_edges"] == before["model_edges"] + 1
    assert "late_model" in reopened.steps
    # second cycle (exercises the .old swap path on every table)
    reopened.drop_step("late_model")
    reopened.save()
    assert Catalog(spark, path).counts()["model_edges"] == before["model_edges"]


def test_toposort_orders_and_detects_cycles():
    assert toposort({"a": [], "b": ["a"], "c": ["a", "b"]}) == ["a", "b", "c"]
    with pytest.raises(CycleError):
        toposort({"a": ["b"], "b": ["a"]})


def test_describe_and_materialized_lookup(spark, crn_parquet, tmp_path):
    dag = _build_dag(spark, crn_parquet)
    dag.run()

    desc = dag.describe()
    assert "source    crn" in desc
    assert "model     dedupe_crn [NaiveDeduper] <- crn" in desc
    assert "resolver  resolve_crn [Components] <- dedupe_crn" in desc

    path = str(tmp_path / "lookup")
    lk = dag.materialize_lookup("resolve_crn", ["crn"], path)
    assert lk.count() == 40
    assert {r["id"] for r in lk.collect()} == {
        r["id"] for r in dag.query([dag._src], resolver="resolve_crn").collect()
    }
    # materialised table answers a key lookup without recompute
    row = lk.where(F.col("key") == "k3_1").first()
    siblings = {r["key"] for r in lk.where(F.col("id") == row["id"]).collect()}
    assert siblings == {"k3_0", "k3_1", "k3_2", "k3_3"}


def test_drop_step_allows_reinsert(spark, crn_parquet):
    dag = _build_dag(spark, crn_parquet)
    dag.run()
    cat = dag.catalog
    assert cat.model_edges.where("step = 'dedupe_crn'").count() > 0
    cat.drop_step("dedupe_crn")
    assert cat.model_edges.where("step = 'dedupe_crn'").count() == 0
    # re-inserting different data under the freed name now succeeds
    edges = spark.createDataFrame(
        [(1, 2, 0.5)], "left_id long, right_id long, score float"
    )
    cat.insert_model_edges("dedupe_crn", edges)
    assert cat.model_edges.where("step = 'dedupe_crn'").count() == 1

@pytest.mark.parametrize("path", ["driver_index", "spark"])
def test_matcher_serves_lookups_without_catalog(
    spark, tmp_path, force_distributed, path
):
    """§3.3 interactive path: the Matcher materialises the projection once;
    lookups run with catalog=None — structurally incapable of re-triggering
    pipeline recompute — and agree with the per-call path, on the driver
    index and on the cached projection (the forced ``index`` gate), for
    every key, an absent key, a 40-row hub and a key whose two rows differ
    in content. (A key under two roots cannot come out of this pipeline;
    ``test_matcher_index_fails_closed_past_its_budget`` pins that case.)"""
    if path == "spark":
        force_distributed("index")
    rows = []
    for e in range(10):
        for v, suffix in enumerate(["", " Limited", " UK", " Company"]):
            rows.append((f"k{e}_{v}", f"Company {e}{suffix}", f"crn-{e:03d}"))
    rows += [(f"hub_{i}", f"Hub {i}", "crn-hub") for i in range(40)]
    rows.append(("k3_0", "Company 7 Trading", "crn-007"))
    location = str(tmp_path / "serving.parquet")
    spark.createDataFrame(
        rows, "key string, company_name string, crn string"
    ).write.parquet(location)
    dag = _build_dag(spark, location)
    dag.run()

    m = dag.matcher("resolve_crn", ["crn"])
    try:
        assert (m.index is not None) == (path == "driver_index")
        got = m.lookup("k0_1", "crn", ["crn"])
        assert got[0].target_keys == {"k0_0", "k0_1", "k0_2", "k0_3"}
        for key in sorted({r[0] for r in rows}) + ["nope"]:
            ref = dag.lookup_key(
                key=key, source="crn", targets=["crn"], resolver="resolve_crn"
            )
            assert m.lookup(key, "crn", ["crn"]) == ref, key
        hub = m.lookup("hub_7", "crn", ["crn"])[0]
        assert hub.target_keys == {f"hub_{i}" for i in range(40)}
        # missing key behaves identically
        miss = m.lookup("nope", "crn", ["crn"])
        assert miss[0].cluster is None and miss[0].target_keys == set()
        # the duplicated key has two leaves, and the dedupe's key-level
        # join gives both leaves both rows' crns: entities 3 and 7 merge
        dup = m.projection.where(F.col("key") == "k3_0").collect()
        assert len({r["leaf_id"] for r in dup}) == 2
        assert len({r["id"] for r in dup}) == 1
        assert m.lookup("k3_0", "crn", ["crn"])[0].target_keys == {
            f"k{e}_{v}" for e in (3, 7) for v in range(4)
        }
    finally:
        m.close()


def test_bucketed_catalog_join_is_shuffle_free(spark, crn_parquet, tmp_path):
    import io
    from contextlib import redirect_stdout

    dag = _build_dag(spark, crn_parquet)
    dag.run()
    db = "mbspark_test_bucketed"
    dag.catalog.save_as_tables(db, n_buckets=4, location=str(tmp_path / "wh"))
    try:
        cat2 = Catalog.load_tables(spark, db)
        assert cat2.steps.keys() == dag.catalog.steps.keys()
        # contains ⋈ cluster_keys on the bucketed id keys: with broadcast off,
        # a co-located sort-merge join must plan with NO shuffle exchange
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = cat2.contains.join(
                cat2.cluster_keys,
                cat2.contains["leaf"] == cat2.cluster_keys["cluster_id"],
            )
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange hashpartitioning" not in plan, plan
            # row parity with the in-session state
            assert joined.count() == dag.catalog.contains.join(
                dag.catalog.cluster_keys,
                dag.catalog.contains["leaf"] == dag.catalog.cluster_keys["cluster_id"],
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in [
            "clusters", "cluster_keys", "contains", "model_edges",
            "resolver_clusters", "block_keys", "steps_meta",
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_dag_draw_tree_and_list(spark):
    from matchbox_spark.scenarios import scenario

    s = scenario(spark, "link")
    tree = s.dag.draw()
    # terminal resolver at the top, sources nested below via the model
    assert tree.splitlines()[0].endswith("resolve_linked")
    assert "└── " in tree and "📄" in tree and "⚙️" in tree and "💎" in tree
    assert "✅" in tree  # scenario ran → steps done
    flat = s.dag.draw(mode="list")
    assert flat.splitlines()[0].startswith("1. ")
    assert len(flat.splitlines()) == len(s.dag.steps)
    # second run skips everything via fingerprint gates → ⏭️ in the render
    s.dag.run()
    assert "⏭️" in s.dag.draw(mode="list")


def test_fast_then_distributed_resolver_content_addressing(spark, crn_parquet):
    """Round 11: the FIRST resolver insert takes the driver-local fast path
    (LocalRelation assignments + empty hierarchy); a SECOND resolver over
    the same model must then go distributed (hierarchy non-empty) and
    content-address to the SAME parent clusters — identical roots, no
    duplicate contains rows, both steps claiming the same cluster ids."""
    dag = _build_dag(spark, crn_parquet)
    dag.resolver(
        "resolve_again", Components(),
        model_inputs=["dedupe_crn"],
    )
    dag.run()
    cat = dag.catalog

    rc = cat.resolver_clusters.toPandas()
    a = set(rc[rc["step"] == "resolve_crn"]["cluster_id"])
    b = set(rc[rc["step"] == "resolve_again"]["cluster_id"])
    assert a == b and len(a) == 10  # same content-addressed parents
    # contains holds ONE copy of the hierarchy (second insert appended none)
    contains = cat.contains.toPandas()
    assert len(contains) == len(contains.drop_duplicates()) == 40
    # both resolvers project every key to the IDENTICAL entity id
    from matchbox_spark.plans.query import unified_query

    q1 = {
        (r["key"], r["id"])
        for r in unified_query(
            cat, ["resolve_crn"], ["crn"], level="key"
        ).collect()
    }
    q2 = {
        (r["key"], r["id"])
        for r in unified_query(
            cat, ["resolve_again"], ["crn"], level="key"
        ).collect()
    }
    assert q1 == q2 and len(q1) == 40
