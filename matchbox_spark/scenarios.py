"""Named, build-once test scenarios over the factories (reference parity:
src/matchbox/common/factories/scenarios.py:41-910).

The reference builds named backend states (``bare``/``index``/``dedupe``/
``link``/``convergent``/``mega``) once per test session and snapshot-caches
them so dozens of adapter tests run against rich prebuilt pipelines instead
of each rebuilding its world. Spark-side the same idea is cheaper: the built
``DAG`` + ``Catalog`` live as session state (checkpointed DataFrames), so the
cache is an in-process dict keyed by (session, scenario, size, seed).

Scenario ladder (each includes the previous):

- ``bare``       sources declared, nothing synced
- ``index``      sources content-indexed into the catalog
- ``dedupe``     NaiveDeduper over crn + Components resolver
- ``link``       DeterministicLinker crn↔cdms over the deduped crn + stacked
                 resolver (the reference ``link`` scenario shape)
- ``convergent`` two sources generated IDENTICALLY (same features, same
                 entities, repetition) so their content hashes collide across
                 sources — indexing the second adds keys but no clusters —
                 each with its own naive dedupe model + resolver (reference
                 ``convergent``: scenarios.py:763-910)
- ``mega``       ``link`` at 4× entity count with repetition (stress shape)
- ``scored_dedupe``  ``index`` + per-source SCORED dedupe models (seeded
                 probability edges over known truth, score_range
                 (0.5, 0.99)) + resolvers thresholded at 0.5 (reference
                 scenarios.py:343)
- ``alt_dedupe`` one suffix-varied, repeated source deduplicated TWICE by
                 rival scored models (different seeds), each with its own
                 resolver (reference scenarios.py:634)
- ``convergent_partial``  the convergent sources indexed, with their naive
                 dedupe models + resolvers DECLARED but results not yet
                 inserted — the mid-pipeline state; a later ``dag.run()``
                 completes them (reference scenarios.py:763)

The reference's ``admin`` / ``closed_collection`` scenarios are auth/user
states of the HTTP backend — n/a under this repo's no-server design stance.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from matchbox_spark.factories import LinkedSourcesTestkit, linked_sources_factory
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.operators.linkers import DeterministicLinker
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig

SCENARIOS = (
    "bare",
    "index",
    "dedupe",
    "link",
    "convergent",
    "mega",
    "scored_dedupe",
    "alt_dedupe",
    "convergent_partial",
)

_CACHE: dict[tuple, "Scenario"] = {}


@dataclass
class Scenario:
    """A built pipeline state: the DAG (with catalog), its sources, and the
    ground-truth testkit."""

    name: str
    dag: DAG
    kit: LinkedSourcesTestkit
    sources: dict[str, SourceConfig] = field(default_factory=dict)
    # the top resolver to query with, when the scenario has one
    resolver: str | None = None

    @property
    def catalog(self):
        return self.dag.catalog


def _declare_sources(spark: SparkSession, kit: LinkedSourcesTestkit, dag: DAG):
    """Register each generated source as a temp view and declare it (S9
    temp-table ingest path — no filesystem round-trip)."""
    out: dict[str, SourceConfig] = {}
    specs = {
        "crn": ["company_name", "crn"],
        "cdms": ["crn", "cdms"],
    }
    for name, index_fields in specs.items():
        view = f"__scenario_{name}"
        kit.sources[name].data.createOrReplaceTempView(view)
        cfg = SourceConfig(
            name=name,
            location=view,
            key_field="key",
            index_fields=index_fields,
            format="table",
        )
        dag.source(cfg)
        out[name] = cfg
    return out


def scenario(
    spark: SparkSession,
    name: str,
    n_true_entities: int = 8,
    seed: int = 42,
) -> Scenario:
    """Build (once per session/config) and return the named scenario."""
    if name not in SCENARIOS:
        raise ValueError(f"unknown scenario {name!r}; known: {SCENARIOS}")
    key = (id(spark), name, n_true_entities, seed)
    if key in _CACHE:
        return _CACHE[key]

    if name == "mega":
        n_true_entities = n_true_entities * 4

    resolver: str | None = None
    already_ran = False
    if name not in ("convergent", "convergent_partial", "alt_dedupe"):
        kit = linked_sources_factory(
            spark, n_true_entities=n_true_entities, seed=seed
        )
        dag = DAG(spark)
        sources = _declare_sources(spark, kit, dag)
        crn, cdms = sources["crn"], sources["cdms"]

    if name in ("dedupe", "link", "mega"):
        dag.model(
            "dedupe_crn",
            NaiveDeduper(id="id", unique_fields=["crn_crn"]),
            QueryConfig(sources=[crn]),
        )
        dag.resolver("resolve_crn", Components(), ["dedupe_crn"])
        resolver = "resolve_crn"
    if name in ("link", "mega"):
        dag.model(
            "link_crn_cdms",
            DeterministicLinker(
                left_id="id",
                right_id="id",
                comparisons=["l.crn_crn = r.cdms_crn"],
            ),
            QueryConfig(sources=[crn], resolvers=["resolve_crn"]),
            QueryConfig(sources=[cdms]),
        )
        dag.resolver(
            "resolve_linked", Components(), ["link_crn_cdms"]
        )
        resolver = "resolve_linked"
    if name == "scored_dedupe":
        # reference scenarios.py:343 — per-source SCORED dedupe models
        # (seeded probability edges over known truth) + 0.5-threshold
        # resolvers; mirrors query_to_model_factory + resolver_factory
        from matchbox_spark.factories import make_scored_deduper

        for sname, stable in (("crn", "crn_crn"), ("cdms", "cdms_crn")):
            dag.model(
                f"scored_{sname}",
                make_scored_deduper("id", [stable], seed=seed),
                QueryConfig(sources=[sources[sname]]),
            )
            dag.resolver(
                f"resolver_scored_{sname}",
                Components(thresholds={f"scored_{sname}": 0.5}),
                [f"scored_{sname}"],
            )
        resolver = "resolver_scored_crn"

    if name == "alt_dedupe":
        # reference scenarios.py:634 — ONE suffix-varied, repeated source
        # deduplicated twice by rival scored models (different seeds)
        from matchbox_spark.factories import (
            SuffixRule,
            make_scored_deduper,
            make_true_entities,
            source_factory,
        )

        entities = make_true_entities(n_true_entities, seed)
        kit = LinkedSourcesTestkit(true_entities=entities)
        dag = DAG(spark)
        # crn is entity-stable while company_name varies — the scored
        # models group on crn, so the base and " UK" content clusters of
        # each entity form real pairs the rivals score differently
        tk = source_factory(
            spark,
            "foo_a",
            entities,
            ["company_name", "crn"],
            variations={"company_name": [SuffixRule(" UK")]},
            repetition=1,
            seed=seed,
        )
        kit.sources["foo_a"] = tk
        tk.data.createOrReplaceTempView("__scenario_foo_a")
        cfg = SourceConfig(
            name="foo_a",
            location="__scenario_foo_a",
            key_field="key",
            index_fields=["company_name", "crn"],
            format="table",
        )
        dag.source(cfg)
        sources = {"foo_a": cfg}
        for i, mseed in enumerate((seed, seed + 1)):
            dag.model(
                f"alt_dedupe_{i}",
                make_scored_deduper("id", ["foo_a_crn"], seed=mseed),
                QueryConfig(sources=[cfg]),
            )
            dag.resolver(
                f"resolver_alt_{i}",
                Components(thresholds={f"alt_dedupe_{i}": 0.5}),
                [f"alt_dedupe_{i}"],
            )
        resolver = "resolver_alt_0"

    if name in ("convergent", "convergent_partial"):
        # replace the default sources: foo_a and foo_b generate IDENTICALLY
        # (same entity universe, same features, repetition) so their indexed
        # rows share content hashes — indexing foo_b adds keys to existing
        # clusters, not new clusters; each source gets its own naive dedupe
        # model + resolver (reference convergent scenario shape).
        # ``convergent_partial``: sources run FIRST, then models/resolvers
        # are declared but NOT run — the reference's "results not yet
        # inserted" mid-pipeline state (scenarios.py:763).
        from matchbox_spark.factories import (
            SuffixRule,
            make_true_entities,
            source_factory,
        )

        entities = make_true_entities(n_true_entities, seed)
        kit = LinkedSourcesTestkit(true_entities=entities)
        dag = DAG(spark)
        sources = {}
        for sname in ("foo_a", "foo_b"):
            tk = source_factory(
                spark,
                sname,
                entities,
                ["company_name"],
                variations={"company_name": [SuffixRule(" UK")]},
                repetition=1,
                seed=seed,
            )
            kit.sources[sname] = tk
            view = f"__scenario_{sname}"
            tk.data.createOrReplaceTempView(view)
            cfg = SourceConfig(
                name=sname,
                location=view,
                key_field="key",
                index_fields=["company_name"],
                format="table",
            )
            dag.source(cfg)
            sources[sname] = cfg
        if name == "convergent_partial":
            dag.run()  # sources only — models declared below stay pending
            already_ran = True
        for sname in ("foo_a", "foo_b"):
            dag.model(
                f"naive_{sname}",
                NaiveDeduper(id="id", unique_fields=[f"{sname}_company_name"]),
                QueryConfig(sources=[sources[sname]]),
            )
            dag.resolver(
                f"resolver_naive_{sname}",
                Components(),
                [f"naive_{sname}"],
            )
        resolver = "resolver_naive_foo_a"

    if name != "bare" and not already_ran:
        dag.run()

    built = Scenario(
        name=name, dag=dag, kit=kit, sources=sources, resolver=resolver
    )
    _CACHE[key] = built
    return built
