"""Multi-resolver hierarchy tests: dedupe clusters, then link on top.

Mirrors the reference's `link` scenario (scenarios.py): source crn dedupes on
crn; source cdms indexes; a linker joins crn-resolved entities to cdms rows;
a second resolver stacks on the first. The unified query must coalesce the
top resolver's roots first, fall through to the dedupe resolver, then to
leaf clusters (J7 priority; G4 leaf expansion inside the catalog).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matchbox_spark.factories import linked_sources_factory
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.operators.linkers import DeterministicLinker
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("hier")
    kit = linked_sources_factory(spark, n_true_entities=6, seed=42)
    paths = {}
    for name in ("crn", "cdms"):
        p = str(tmp / f"{name}.parquet")
        kit.sources[name].data.write.parquet(p)
        paths[name] = p

    dag = DAG(spark)
    crn = SourceConfig(
        name="crn", location=paths["crn"], key_field="key",
        index_fields=["company_name", "crn"],
    )
    cdms = SourceConfig(
        name="cdms", location=paths["cdms"], key_field="key",
        index_fields=["crn", "cdms"],
    )
    dag.source(crn)
    dag.source(cdms)
    dag.model(
        "dedupe_crn",
        NaiveDeduper(id="id", unique_fields=["crn_crn"]),
        QueryConfig(sources=[crn]),
    )
    dag.resolver("resolve_crn", Components(), ["dedupe_crn"])
    dag.model(
        "link_crn_cdms",
        DeterministicLinker(
            left_id="id", right_id="id", comparisons=["l.crn_crn = r.cdms_crn"]
        ),
        QueryConfig(sources=[crn], resolvers=["resolve_crn"]),
        QueryConfig(sources=[cdms]),
    )
    # final resolver takes ONLY the link model (reference e2e shape:
    # test_e2e_dag.py:278-282) — dedupe structure arrives through the root
    # ids and is recovered by G4 leaf expansion at insert; lineage to
    # resolve_crn flows through the link model's query dependencies
    dag.resolver("resolve_linked", Components(), ["link_crn_cdms"])
    dag.run()
    return dag, kit, crn, cdms


def test_lineage_priority_order(built):
    dag, *_ = built
    assert dag.resolver_lineage("resolve_linked") == [
        "resolve_linked",
        "resolve_crn",
    ]
    assert dag.resolver_lineage("resolve_crn") == ["resolve_crn"]


def test_linked_entities_span_sources(built):
    dag, kit, crn, cdms = built
    q = dag.query([crn, cdms], resolver="resolve_linked", with_leaf_id=True)
    # every true entity becomes exactly one cluster holding keys of BOTH
    # sources (cdms rows: 2 keys each from repetition; crn rows: 4 variants)
    from matchbox_spark.plans.query import unified_query

    proj = unified_query(
        dag.catalog,
        dag.resolver_lineage("resolve_linked"),
        ["crn", "cdms"],
        level="key",
    )
    clusters: dict[int, set[str]] = {}
    for r in proj.collect():
        clusters.setdefault(r["id"], set()).add(f"{r['source']}:{r['key']}")
    assert len(clusters) == 6
    for members in clusters.values():
        assert any(m.startswith("crn:") for m in members)
        assert any(m.startswith("cdms:") for m in members)
    # ground truth check: the produced key partition equals entity partition
    expected: dict[int, set[str]] = {}
    for name in ("crn", "cdms"):
        for key, ent in kit.sources[name].key_to_entity.items():
            expected.setdefault(ent, set()).add(f"{name}:{key}")
    assert {frozenset(v) for v in clusters.values()} == {
        frozenset(v) for v in expected.values()
    }


def test_lower_resolver_only_sees_dedupe(built):
    dag, kit, crn, cdms = built
    from matchbox_spark.plans.query import unified_query

    proj = unified_query(
        dag.catalog, dag.resolver_lineage("resolve_crn"), ["crn"], level="key"
    )
    clusters: dict[int, set[str]] = {}
    for r in proj.collect():
        clusters.setdefault(r["id"], set()).add(r["key"])
    # 6 entities × 4 crn variants, resolved within crn only
    assert len(clusters) == 6
    assert {frozenset(v) for v in clusters.values()} == {
        frozenset(v) for v in kit.sources["crn"].expected_entity_keys().values()
    }


def test_cross_source_lookup(built):
    dag, kit, crn, cdms = built
    some_crn_key = next(iter(kit.sources["crn"].key_to_entity))
    ent = kit.sources["crn"].key_to_entity[some_crn_key]
    matches = dag.lookup_key(
        key=some_crn_key, source="crn", targets=["cdms"],
        resolver="resolve_linked",
    )
    expected_cdms = {
        k for k, e in kit.sources["cdms"].key_to_entity.items() if e == ent
    }
    assert matches[0].target_keys == expected_cdms


def test_combine_types_and_cleaning(built):
    dag, kit, crn, cdms = built
    set_agg = dag.query(
        [crn], resolver="resolve_crn", combine_type="set_agg"
    )
    # one row per entity; company_name collapses to a set-valued column
    assert set_agg.count() == 6
    row = set_agg.first()
    assert isinstance(row["crn_company_name"], list)

    cleaned = dag.query(
        [crn],
        resolver="resolve_crn",
        cleaning={
            "name_norm": "lower(regexp_replace(crn_company_name,"
            r" ' (Limited|UK|Company)$', ''))"
        },
    )
    assert set(cleaned.columns) == {"id", "name_norm"}
    # normalised names: one distinct value per entity
    assert (
        cleaned.select("name_norm").distinct().count() == 6
    )

    exploded = dag.query([crn], resolver="resolve_crn", combine_type="explode")
    assert exploded.select("id").distinct().count() == 6


def test_resolver_matches_facade(built, spark):
    """ResolverMatches mirrors the reference's results verbs
    (client/results.py:69-220): as_dump / as_lookup / as_leaf_sets /
    view_cluster / merge, all as DataFrame plans."""
    from matchbox_spark.plans.query import ResolverMatches

    dag, kit, crn, cdms = built
    rm = ResolverMatches(
        spark,
        dag.catalog,
        dag.resolver_lineage("resolve_linked"),
        [crn, cdms],
        materialized=True,
    )

    dump = rm.as_dump()
    assert set(dump.columns) == {"id", "leaf_id", "key", "source"}
    # every crn+cdms key appears exactly once per (key, source)
    n_keys = sum(
        len(kit.sources[s].key_to_entity) for s in ("crn", "cdms")
    )
    assert dump.select("key", "source").distinct().count() == n_keys

    lookup = rm.as_lookup()
    assert {"id", "crn_key", "cdms_key"} == set(lookup.columns)
    # linked entities: ids with both a crn and a cdms key exist
    assert (
        lookup.where(
            F.col("crn_key").isNotNull() & F.col("cdms_key").isNotNull()
        ).count()
        > 0
    )

    leaf_sets = {r["id"]: list(r["leaves"]) for r in rm.as_leaf_sets().collect()}
    for leaves in leaf_sets.values():
        assert leaves == sorted(set(leaves))  # sorted, distinct

    # view_cluster: pick an entity with keys in both sources
    both = (
        dump.groupBy("id")
        .agg(F.collect_set("source").alias("srcs"))
        .where(F.size("srcs") == 2)
        .select("id")
        .first()
    )
    view = rm.view_cluster(int(both["id"]))
    assert view.columns[:2] == ["crn_key", "cdms_key"]
    assert "crn_company_name" in view.columns  # qualified index field
    assert view.count() > 0
    merged_fields = rm.view_cluster(int(both["id"]), merge_fields=True)
    # shared index field 'crn' collapses to ONE unqualified column
    assert "crn" in merged_fields.columns
    assert "crn_crn" not in merged_fields.columns

    with pytest.raises(KeyError):
        rm.view_cluster(-12345)

    # merge with itself is a no-op clustering-wise: same leaf partition
    merged = rm.merge(rm)
    groups_merged = {
        tuple(r["ls"])
        for r in merged.groupBy("parent_id")
        .agg(F.array_sort(F.collect_set("child_id")).alias("ls"))
        .collect()
    }
    groups_orig = {tuple(sorted(set(v))) for v in leaf_sets.values()}
    assert groups_merged == groups_orig

    # different sources refuse to merge
    rm_crn = ResolverMatches(
        spark, dag.catalog, dag.resolver_lineage("resolve_crn"), [crn]
    )
    with pytest.raises(ValueError, match="different sources"):
        rm.merge(rm_crn)

    # dump → from_dump round-trip serves the same verbs without a catalog
    rt = ResolverMatches.from_dump(spark, rm.as_dump(), [crn, cdms])
    assert rt.catalog is None
    assert sorted(map(tuple, rt.as_lookup().collect())) == sorted(
        map(tuple, lookup.collect())
    )
    with pytest.raises(ValueError, match="missing columns"):
        ResolverMatches.from_dump(spark, rm.as_dump().drop("key"), [crn])


def test_dag_apex_and_get_matches(built, spark):
    """final_steps / default_resolver / get_matches (ref dags.py:222-257,
    744-797): the apex resolver is found automatically, its lineage's
    sources serve by default, and filters narrow or refuse."""
    dag, kit, crn, cdms = built

    assert dag.final_steps() == ["resolve_linked"]
    assert dag.default_resolver == "resolve_linked"

    rm = dag.get_matches()  # resolver + sources both defaulted
    assert sorted(s.name for s in rm.sources) == ["cdms", "crn"]
    assert set(rm.as_dump().columns) == {"id", "leaf_id", "key", "source"}

    only_crn = dag.get_matches(source_filter=["crn"])
    assert [s.name for s in only_crn.sources] == ["crn"]
    by_loc = dag.get_matches(location_filter=[crn.location])
    assert [s.name for s in by_loc.sources] == ["crn"]
    with pytest.raises(ValueError, match="No compatible source"):
        dag.get_matches(source_filter=["nope"])
    with pytest.raises(ValueError, match="unknown resolver"):
        dag.get_matches(resolver="dedupe_crn")
