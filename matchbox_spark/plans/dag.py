"""DAG orchestration: source → model → resolver steps (SURVEY §3.1).

A thin driver-side layer (like the reference's client/dags.py:138-219,606-680)
over the catalog + operators: steps declare dependencies, Kahn's toposort with
insertion-order tie-break sequences them (G6), lineage levels order resolver
priority for queries (G7/G8). Compute is entirely DataFrame plans; "sync" is a
fingerprint-gated catalog insert (H6) — no HTTP/S3/Celery.
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matchbox_spark.operators.dedupers import Deduper
from matchbox_spark.operators.linkers import Linker
from matchbox_spark.plans import catalog as catalog_mod
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.query import (
    QueryConfig,
    lookup_answer,
    match_key,
    query_data,
)
from matchbox_spark.plans.resolvers import ResolverMethod
from matchbox_spark.sources.source import SourceConfig

logger = logging.getLogger(__name__)

# sentinel embedded in the executor-side raise_error message so the driver
# can recognise a P4 score-validation failure inside any wrapping
# Py4J/Spark exception and re-raise it as ScoreError
_SCORE_ERROR_MARKER = "MB_SCORE_ERROR"


class CycleError(ValueError):
    """Raised when the step graph contains a cycle."""


def toposort(graph: dict[str, list[str]]) -> list[str]:
    """G6: Kahn's algorithm, insertion-order tie-break, cycle detection.

    ``graph`` maps node → list of dependencies (parents).
    """
    indeg = {n: 0 for n in graph}
    children: dict[str, list[str]] = {n: [] for n in graph}
    for node, deps in graph.items():
        for d in deps:
            if d not in graph:
                raise ValueError(f"unknown dependency {d!r} of {node!r}")
            indeg[node] += 1
            children[d].append(node)
    queue = [n for n in graph if indeg[n] == 0]
    order: list[str] = []
    while queue:
        n = queue.pop(0)
        order.append(n)
        for c in children[n]:
            indeg[c] -= 1
            if indeg[c] == 0:
                queue.append(c)
    if len(order) != len(graph):
        raise CycleError("cycle detected in step graph")
    return order


def transitive_closure(graph: dict[str, list[str]]) -> list[tuple[str, str, int]]:
    """G7: (ancestor, node, level) rows; level = distance, self at level 0."""
    rows: list[tuple[str, str, int]] = []
    for node in graph:
        seen: dict[str, int] = {node: 0}
        frontier = [node]
        level = 0
        while frontier:
            level += 1
            nxt: list[str] = []
            for f in frontier:
                for p in graph.get(f, []):
                    if p not in seen or seen[p] > level:
                        seen[p] = level
                        nxt.append(p)
            frontier = nxt
        rows.extend((anc, node, lvl) for anc, lvl in seen.items())
    return rows


@dataclass
class _Step:
    name: str
    deps: list[str]


@dataclass
class SourceStep(_Step):
    config: SourceConfig = None


@dataclass
class ModelStep(_Step):
    model: object = None  # Deduper | Linker
    left_query: QueryConfig = None
    right_query: QueryConfig | None = None


@dataclass
class ResolverStep(_Step):
    method: ResolverMethod = None
    model_inputs: list[str] = dc_field(default_factory=list)
    # resolver steps whose clusters this one builds upon (for lineage)
    resolver_inputs: list[str] = dc_field(default_factory=list)


class DAG:
    """A named pipeline of steps over one catalog."""

    def __init__(self, spark: SparkSession, catalog: Catalog | None = None):
        self.spark = spark
        self.catalog = catalog or Catalog(spark)
        self.steps: dict[str, _Step] = {}

    # -- declaration ---------------------------------------------------------

    def _add(self, step: _Step) -> _Step:
        if step.name in self.steps:
            raise ValueError(f"duplicate step name {step.name!r}")
        for d in step.deps:
            if d not in self.steps:
                raise ValueError(f"step {step.name!r} depends on unknown {d!r}")
        self.steps[step.name] = step
        return step

    def source(self, config: SourceConfig) -> SourceStep:
        return self._add(SourceStep(name=config.name, deps=[], config=config))

    def model(
        self,
        name: str,
        model: Deduper | Linker,
        left_query: QueryConfig,
        right_query: QueryConfig | None = None,
    ) -> ModelStep:
        deps = [s.name for s in left_query.sources] + list(left_query.resolvers)
        if right_query is not None:
            deps += [s.name for s in right_query.sources] + list(
                right_query.resolvers
            )
        return self._add(
            ModelStep(
                name=name,
                deps=sorted(set(deps), key=deps.index),
                model=model,
                left_query=left_query,
                right_query=right_query,
            )
        )

    def resolver(
        self,
        name: str,
        method: ResolverMethod,
        model_inputs: list[str],
        resolver_inputs: list[str] | None = None,
    ) -> ResolverStep:
        deps = list(model_inputs) + list(resolver_inputs or [])
        return self._add(
            ResolverStep(
                name=name,
                deps=deps,
                method=method,
                model_inputs=list(model_inputs),
                resolver_inputs=list(resolver_inputs or []),
            )
        )

    # -- lineage (G8) ---------------------------------------------------------

    def graph(self) -> dict[str, list[str]]:
        return {name: list(step.deps) for name, step in self.steps.items()}

    def sequence(self) -> list[str]:
        return toposort(self.graph())

    def final_steps(self) -> list[str]:
        """Apex step names — steps no other step depends on (ref
        ``dags.py:final_steps``). Empty DAG → empty list."""
        all_deps: set[str] = set()
        for step in self.steps.values():
            all_deps.update(step.deps)
        return [name for name in self.steps if name not in all_deps]

    @property
    def default_resolver(self) -> str:
        """The unique apex resolver (ref ``dags.py:default_resolver``):
        errors when the DAG has no apex, the apex set holds no resolver,
        or more than one — the ambiguity the reference refuses too."""
        apex = self.final_steps()
        if not apex:
            raise ValueError("No final step found, DAG might be empty")
        resolvers = [
            n for n in apex if isinstance(self.steps[n], ResolverStep)
        ]
        if not resolvers:
            raise ValueError("The only final step is not a resolver")
        if len(resolvers) > 1:
            raise ValueError("Default resolver is ambiguous")
        return resolvers[0]

    def upstream_sources(
        self, resolver: str, _closure: list | None = None
    ) -> list[SourceConfig]:
        """Source configs reachable below a resolver, in declaration
        order — the source set ``get_matches`` serves by default."""
        if not isinstance(self.steps.get(resolver), ResolverStep):
            raise ValueError(f"unknown resolver step {resolver!r}")
        closure = _closure or transitive_closure(self.graph())
        below = {anc for anc, node, _ in closure if node == resolver}
        return [
            step.config
            for name, step in self.steps.items()
            if name in below and isinstance(step, SourceStep)
        ]

    def get_matches(
        self,
        resolver: str | None = None,
        source_filter: list[str] | None = None,
        location_filter: list[str] | None = None,
        materialized: bool = False,
    ):
        """Resolved matches for a resolver as a :class:`ResolverMatches`
        facade (ref ``dags.py:get_matches``): resolver defaults to the
        DAG's unique apex resolver; sources default to everything in its
        lineage, optionally narrowed by step name or by location. Raises
        when the filters leave no compatible source."""
        from matchbox_spark.plans.query import ResolverMatches

        name = resolver if resolver is not None else self.default_resolver
        # one closure computation serves both lineage derivations
        closure = transitive_closure(self.graph())
        sources = self.upstream_sources(name, _closure=closure)
        if source_filter is not None:
            sources = [s for s in sources if s.name in source_filter]
        if location_filter is not None:
            sources = [s for s in sources if s.location in location_filter]
        if not sources:
            raise ValueError("No compatible source was found")
        return ResolverMatches(
            self.spark,
            self.catalog,
            self.resolver_lineage(name, _closure=closure),
            sources,
            materialized=materialized,
        )

    def resolver_lineage(
        self, resolver: str, _closure: list | None = None
    ) -> list[str]:
        """Resolvers at/below ``resolver`` ordered by closure level then name.

        Self sits at level 0 → highest priority in the J7 coalesce.
        """
        if not isinstance(self.steps.get(resolver), ResolverStep):
            raise ValueError(f"unknown resolver step {resolver!r}")
        closure = _closure or transitive_closure(self.graph())
        levels = {
            anc: lvl
            for anc, node, lvl in closure
            if node == resolver and isinstance(self.steps.get(anc), ResolverStep)
        }
        return sorted(levels, key=lambda s: (levels[s], s))

    # -- execution -------------------------------------------------------------

    def _query_for_model(self, config: QueryConfig, id_field: str = "id"):
        return query_data(self.spark, self.catalog, config)

    def _derived_fingerprint(self, name: str, config_repr: str) -> bytes:
        """H6 fingerprint from upstream fingerprints + step config — zero
        data passes.

        Sound because steps are deterministic functions of their inputs:
        identical upstream content (the deps' fingerprints, themselves rooted
        in content-hashed sources) + identical config ⇒ identical output.
        Source steps still content-hash their index; a custom
        nondeterministic step can call the catalog insert with
        ``fingerprint=None`` to fall back to output-content hashing.
        """
        import hashlib
        import json

        dep_fps = {
            d: self.catalog.steps.get(d, {}).get("fingerprint")
            for d in self.steps[name].deps
        }
        payload = json.dumps(
            {"step": name, "config": config_repr, "deps": dep_fps},
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode("utf-8")).digest()

    def run(self) -> Catalog:
        """§3.1: execute all steps in topological order, syncing each.

        Records per-step outcome in ``last_run_status`` (``done`` /
        ``skipped``) for ``draw``.

        Score validation (P4) raises :class:`ScoreError` from whichever
        action first materialises the offending model's edges — usually the
        downstream resolver step; a model with no in-run consumer is forced
        at the end of the run, so ``run()`` never returns with an invalid
        score either way.
        """
        from matchbox_spark.operators.results import ScoreError

        self.last_run_status: dict[str, str] = {}
        self._pending_score_checks: list[tuple[str, DataFrame]] = []
        try:
            self._run_steps()
            # force any model edges nothing consumed in-run: max(score)
            # evaluates the raise_error guard on every row (count() would
            # prune the score column away and skip it); on an already-
            # materialised checkpoint this scans local blocks only
            for _mname, medges in self._pending_score_checks:
                medges.agg(F.max("score")).collect()
        except Exception as e:  # noqa: BLE001 — translate executor raises
            msg = str(e)
            if _SCORE_ERROR_MARKER in msg:
                detail = msg.split(_SCORE_ERROR_MARKER, 1)[1].splitlines()[0]
                raise ScoreError(
                    "invalid score outside [0,1] or null/NaN:" + detail
                ) from e
            raise
        finally:
            self._pending_score_checks = []
        return self.catalog

    def _run_steps(self) -> None:
        for name in self.sequence():
            step = self.steps[name]
            # "doing" until the step completes: a step that raises must not
            # be reported as done by a later draw()
            self.last_run_status[name] = "doing"
            if isinstance(step, SourceStep):
                logger.info("source step %s", name)
                index = step.config.index(self.spark)
                self.catalog.insert_source_index(name, index)
            elif isinstance(step, ModelStep):
                logger.info("model step %s", name)
                fp = self._derived_fingerprint(
                    name,
                    f"{type(step.model).__name__}:{step.model.settings!r}"
                    f"|L:{step.left_query!r}|R:{step.right_query!r}",
                )
                if self.catalog.steps.get(name, {}).get("fingerprint") is not None:
                    # gate BEFORE building the model plan: a previously synced
                    # identical step costs nothing (raises on config drift)
                    if self.catalog._fingerprint_gate(name, fp):
                        self.last_run_status[name] = "skipped"
                        continue
                left = self._query_for_model(step.left_query)
                if step.right_query is None:
                    edges = step.model.dedupe(left)
                else:
                    right = self._query_for_model(step.right_query)
                    edges = step.model.link(left, right)
                # ZERO extra materialisation passes (round 12): score
                # validation (P4) is woven into the `score` column itself
                # via raise_error, and the checkpoint is LAZY — the first
                # consumer (typically the next resolver's CC probe)
                # computes the model plan, persists the checkpoint, and
                # collects the edges in ONE job. The previous shape (eager
                # checkpoint + Observation) forced a serial driver sync per
                # model step and then re-read the checkpoint for the probe —
                # at 100 TB that re-read is a full pass over every scored
                # pair. raise_error lives inside the KEPT score column, so
                # column pruning cannot drop the guard, and checkpoint
                # materialisation computes full rows so it always fires.
                from matchbox_spark.schemas import SCHEMA_MODEL_EDGES, conform

                edges = conform(edges, SCHEMA_MODEL_EDGES)
                bad = (
                    F.col("score").isNull()
                    | F.isnan("score")
                    | (F.col("score") < 0)
                    | (F.col("score") > 1)
                )
                guard = F.when(
                    bad,
                    F.raise_error(
                        F.format_string(
                            _SCORE_ERROR_MARKER
                            + " step=%s left_id=%s right_id=%s score=%s",
                            F.lit(name),
                            F.col("left_id"),
                            F.col("right_id"),
                            F.col("score"),
                        )
                    ).cast("float"),
                ).otherwise(F.col("score"))
                edges = edges.withColumn("score", guard)
                try:
                    edges = edges.localCheckpoint(eager=False)
                except Exception:  # noqa: BLE001 — rare AQE planning bug
                    pass  # plain plan; the drain/consumer still validates
                self._pending_score_checks.append((name, edges))
                self.catalog.insert_model_edges(name, edges, fingerprint=fp)
            elif isinstance(step, ResolverStep):
                logger.info("resolver step %s", name)
                # the model/resolver PARTITION of the deps is part of the
                # config: moving a dep between model_inputs and
                # resolver_inputs changes which edges compute_clusters sees
                # even when the flattened dep set (hashed via deps) is equal
                fp = self._derived_fingerprint(
                    name,
                    f"{type(step.method).__name__}:{step.method.settings!r}"
                    f"|M:{sorted(step.model_inputs)!r}"
                    f"|R:{sorted(step.resolver_inputs)!r}",
                )
                if self.catalog.steps.get(name, {}).get("fingerprint") is not None:
                    if self.catalog._fingerprint_gate(name, fp):
                        self.last_run_status[name] = "skipped"
                        continue
                # F.col comparison, never an interpolated SQL string: a
                # step name containing a quote would break (or widen) the
                # filter
                model_edges = {
                    m: self.catalog.model_edges.where(
                        F.col("step") == m
                    ).select("left_id", "right_id", "score")
                    for m in step.model_inputs
                }
                assignments = step.method.compute_clusters(model_edges)
                self.catalog.insert_resolver_clusters(
                    name, assignments, fingerprint=fp
                )
                # Components.compute_clusters filtered every input model's
                # edges on score (and materialised any lazy checkpoint
                # beneath), so each guard has fired over every row — drop
                # those models from the end-of-run drain. A CUSTOM resolver
                # method gets no such guarantee (it may never touch score),
                # so its inputs stay pending.
                from matchbox_spark.plans.resolvers import Components

                if isinstance(step.method, Components):
                    consumed = set(step.model_inputs)
                    self._pending_score_checks = [
                        (m, e)
                        for m, e in self._pending_score_checks
                        if m not in consumed
                    ]
            else:  # pragma: no cover
                raise TypeError(f"unknown step type {type(step)}")
            self.last_run_status[name] = "done"

    # -- rendering (reference dags.py:384-470) ----------------------------------

    _TYPE_ICONS = {
        "SourceStep": "📄",
        "ModelStep": "⚙️",
        "ResolverStep": "💎",
    }
    _STATUS_ICONS = {"done": "✅", "skipped": "⏭️", "doing": "🔄", None: "⏸️"}

    def draw(
        self, status: dict[str, str] | None = None, mode: str = "tree"
    ) -> str:
        """String representation of the DAG (reference dags.py:384-470).

        ``mode='tree'`` renders a dependency tree from each terminal step
        down through its inputs; ``'list'`` renders flat execution order.
        ``status`` maps step → ``done``/``skipped``/``doing`` (defaults to
        ``last_run_status`` when the DAG has run; unknown steps show ⏸️).
        """
        if not self.steps:
            return "Empty DAG"
        if status is None:
            status = getattr(self, "last_run_status", {})

        def icon(name: str) -> str:
            t = self._TYPE_ICONS[type(self.steps[name]).__name__]
            s = self._STATUS_ICONS.get(status.get(name), "⏸️") if status is not None else ""
            return f"{s} {t} {name}".strip()

        if mode == "list":
            return "\n".join(
                f"{i + 1}. {icon(name)}" for i, name in enumerate(self.sequence())
            )
        if mode != "tree":
            raise ValueError(f"mode must be 'tree' or 'list': {mode!r}")

        children: dict[str, list[str]] = {n: [] for n in self.steps}
        for name, step in self.steps.items():
            for d in step.deps:
                children[d].append(name)
        terminals = [n for n in self.sequence() if not children[n]]

        lines: list[str] = []

        def render(name: str, prefix: str, is_last: bool, top: bool) -> None:
            if top:
                lines.append(icon(name))
                child_prefix = ""
            else:
                branch = "└── " if is_last else "├── "
                lines.append(f"{prefix}{branch}{icon(name)}")
                child_prefix = prefix + ("    " if is_last else "│   ")
            deps = self.steps[name].deps
            for i, d in enumerate(deps):
                render(d, child_prefix, i == len(deps) - 1, False)

        for t in terminals:
            render(t, "", True, True)
        return "\n".join(lines)

    # -- retrieval --------------------------------------------------------------

    def query(
        self,
        sources: list[SourceConfig],
        resolver: str | None = None,
        combine_type: str = "concat",
        cleaning: dict[str, str] | None = None,
        with_leaf_id: bool = False,
    ):
        resolvers = self.resolver_lineage(resolver) if resolver else []
        config = QueryConfig(
            sources=sources,
            resolvers=resolvers,
            combine_type=combine_type,
            cleaning=cleaning,
        )
        return query_data(self.spark, self.catalog, config, with_leaf_id=with_leaf_id)

    def lookup_key(
        self,
        key: str,
        source: str,
        targets: list[str],
        resolver: str,
    ):
        return match_key(
            self.catalog, key, source, targets, self.resolver_lineage(resolver)
        )

    def matcher(self, resolver: str, sources: list[str]) -> "Matcher":
        """§3.3 interactive serving: materialise the resolved projection ONCE
        (persist and count it now, not on the first lookup) and index it on
        the driver when it fits the catalog's driver budget. A lookup is
        then a dict probe and a list read — zero Spark jobs — and cannot
        re-trigger inserts/CC; over the budget it is two filters on the
        cached projection (:func:`match_key`)."""
        return Matcher(self.materialize_lookup(resolver, sources).persist())

    def materialize_lookup(
        self, resolver: str, sources: list[str], path: str | None = None
    ):
        """§3.3 interactive path: persist the resolved id↔key projection so
        lookups are filters on a materialised table, not recomputations.

        Returns the projection DataFrame; when ``path`` is given it is also
        written as parquet partitioned by source (with keys sorted within
        files so key-range predicates prune row groups).
        """
        from matchbox_spark.plans.query import unified_query

        proj = unified_query(
            self.catalog, self.resolver_lineage(resolver), sources, level="key"
        )
        if path is not None:
            (
                proj.repartition("source")
                .sortWithinPartitions("key")
                .write.mode("overwrite")
                .partitionBy("source")
                .parquet(path)
            )
            return self.spark.read.parquet(path)
        return proj

    def describe(self) -> str:
        """Readable text rendering of the step graph in execution order."""
        kind = {
            SourceStep: "source",
            ModelStep: "model",
            ResolverStep: "resolver",
        }
        lines = []
        for name in self.sequence():
            step = self.steps[name]
            deps = f" <- {', '.join(step.deps)}" if step.deps else ""
            extra = ""
            if isinstance(step, ModelStep):
                extra = f" [{type(step.model).__name__}]"
            elif isinstance(step, ResolverStep):
                extra = f" [{type(step.method).__name__}]"
            lines.append(f"{kind[type(step)]:9s} {name}{extra}{deps}")
        return "\n".join(lines)


def _row_count(df: DataFrame) -> int:
    """Rows of ``df`` in one job: an RDD count has no exchange stage."""
    return df._jdf.queryExecution().toRdd().count()


def _index_cap(df: DataFrame) -> int:
    """Rows of ``df`` a driver lookup index may hold: the catalog mirrors'
    budget, sized per row as ``Catalog.mirror`` sizes a table. Read at call
    time, so the ``index`` gate's patched 0 forces the Spark path."""
    row_bytes = 8 + df._jdf.schema().defaultSize()
    return catalog_mod._INDEX_DRIVER_BYTES // row_bytes


class _LookupIndex:
    """Driver copy of a projection's ``(id, source, key)`` rows for lookups:
    ``root`` maps ``(source, key)`` to its root id — the smallest when the
    key sits under several roots, which ``shared`` then lists — and
    ``members`` maps a root id to its ``(source, key)`` rows. Memory is
    linear in the rows (no key holds a member list, so a hub costs its own
    rows), and a lookup costs one probe plus its answer."""

    def __init__(self, pdf):
        self.root: dict[tuple, int] = {}
        self.shared: dict[tuple, set[int]] = {}
        self.members: dict[int, list[tuple]] = {}
        self.rows = 0
        self._add(pdf)

    def _add(self, pdf) -> None:
        keys = zip(pdf["source"].tolist(), pdf["key"].tolist())
        for r, sk in zip(pdf["id"].tolist(), keys):
            self.members.setdefault(r, []).append(sk)
            old = self.root.get(sk)
            if old is None:
                self.root[sk] = r
            elif old != r:
                self.shared.setdefault(sk, {old}).add(r)
                self.root[sk] = min(old, r)
        self.rows += len(pdf)

    def replace(self, pdf) -> None:
        """Drop every row whose ``(source, key)`` appears in ``pdf``, then
        add ``pdf``'s rows: the Spark refresh's anti-join and union, in
        O(rows of the roots involved)."""
        fresh = set(zip(pdf["source"].tolist(), pdf["key"].tolist()))
        stale: set[int] = set()
        for sk in fresh:
            if sk in self.root:
                stale |= self.shared.pop(sk, {self.root[sk]})
                del self.root[sk]
        for r in stale:
            kept = [sk for sk in self.members[r] if sk not in fresh]
            self.rows -= len(self.members[r]) - len(kept)
            if kept:
                self.members[r] = kept
            else:
                del self.members[r]
        self._add(pdf)

    def lookup(self, key: str, source: str, targets: list[str]):
        root = self.root.get((source, key))
        members = () if root is None else self.members[root]
        return lookup_answer(root, members, source, targets)

    def __eq__(self, other) -> bool:
        def state(ix):
            rows = {r: sorted(m) for r, m in ix.members.items()}
            return ix.root, ix.shared, rows, ix.rows

        return isinstance(other, _LookupIndex) and state(self) == state(other)


class Matcher:
    """Point-lookup server over a materialised id↔key projection.

    Lookups come from a driver index of the projection (:class:`_LookupIndex`,
    zero Spark jobs) while its rows fit :func:`_index_cap`; otherwise, and
    whenever a refresh would outgrow it, from the cached projection through
    :func:`match_key` (two jobs, no shuffle). Both answer through
    :func:`lookup_answer`, so the two paths cannot drift. A refresh
    patches the index in place under a lock that lookups also take, so a
    lookup sees the index before or after a patch, never during one."""

    def __init__(self, projection=None):
        self.projection = projection
        self.index: _LookupIndex | None = None
        self._lock = threading.Lock()
        if projection is not None:
            self._reindex(_row_count(projection))

    def _reindex(self, rows: int | None = None) -> None:
        """Index the projection with one collect when it fits (``rows``
        None: count it first); else drop the index."""
        cap = _index_cap(self.projection)
        if cap > 0 and rows is None:
            rows = _row_count(self.projection)
        self.index = (
            _LookupIndex(self.projection.select("id", "source", "key").toPandas())
            if cap > 0 and rows <= cap
            else None
        )

    def lookup(self, key: str, source: str, targets: list[str]):
        if self.projection is None:
            raise ValueError("Matcher has no materialised projection yet")
        with self._lock:
            if self.index is not None:
                return self.index.lookup(key, source, targets)
        # catalog=None: lookups provably cannot rebuild pipeline state
        return match_key(
            None, key, source, targets, [], projection=self.projection
        )

    def refresh(self, projection_plan, touched_keys=None) -> None:
        """Incrementally re-materialise after an ingest batch, keeping
        ``lookup`` warm while a stream appends state.

        ``touched_keys`` is a small ``(source, key)`` frame of the rows the
        batch ingested. In delta-link streaming, new edges only enter
        through batch rows and clusters MERGE, never split — so every
        cluster whose membership changed contains a touched key. The
        refresh therefore reads from the fresh plan ONLY the membership of
        clusters owning a touched key (O(changed)), drops the cached rows
        those memberships supersede with one broadcast anti-join (a single
        pass over cached state, no shuffle), and swaps the projection
        atomically. The driver index applies the same patch from one
        collect of those fresh rows, and is dropped (lookups fall back to
        the projection) when it would outgrow its cap. Lookup latency stays
        flat in accumulated-state size; the pipeline is never recomputed.
        ``touched_keys=None`` (or a first call on an empty matcher) falls
        back to a full re-materialisation and re-index — the
        correct-but-O(state) path, also what a FULL-mode stream (scores
        drift as data accumulates) must use. ``localCheckpoint`` truncates
        the refresh chain's lineage so 24 batches deep the cached table
        does not drag a 24-union plan.
        """
        from pyspark.sql import functions as F

        if self.projection is None or touched_keys is None:
            self._swap(projection_plan.localCheckpoint(eager=True))
            self._reindex()
            return
        new_roots = (
            projection_plan.join(
                F.broadcast(touched_keys), ["source", "key"], "left_semi"
            )
            .select("id")
            .distinct()
        )
        fresh = projection_plan.join(
            F.broadcast(new_roots), "id", "left_semi"
        ).localCheckpoint(eager=True)
        keep = self.projection.join(
            F.broadcast(fresh.select("source", "key").distinct()),
            ["source", "key"],
            "left_anti",
        )
        # the union adds fresh's partitions to keep's: coalesce back (a
        # narrow dependency, no shuffle), or every refresh would widen the
        # projection that the Spark lookup path scans in full
        parts = self.projection._jdf.rdd().getNumPartitions()
        self._swap(
            keep.unionByName(fresh).coalesce(parts).localCheckpoint(eager=True)
        )
        if self.index is not None:
            self._patch(fresh.select("id", "source", "key").toPandas())

    def _patch(self, pdf) -> None:
        """Replace the index rows of ``pdf``'s keys with ``pdf``'s rows, or
        drop the index when that outgrows its cap."""
        cap = _index_cap(self.projection)
        with self._lock:
            self.index.replace(pdf)
            if self.index.rows > cap:
                self.index = None

    def _swap(self, projection) -> None:
        old, self.projection = self.projection, projection
        if old is not None:
            old.unpersist()

    def close(self) -> None:
        self.index = None
        if self.projection is not None:
            self.projection.unpersist()
