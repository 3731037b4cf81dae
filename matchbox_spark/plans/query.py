"""Unified hierarchy query, combine types, cleaning, and key lookup.

The retrieval half of the engine (reference semantics:
server/postgresql/utils/query.py:36-345, client/queries.py:135-320):

- **J7 hierarchy projection**: ``cluster_keys`` is the base; for each
  resolver in lineage (priority order) LEFT JOIN its leaf→root assignment
  (``contains ⋈ resolver_clusters``), then COALESCE the root columns — first
  non-null wins — falling back to the leaf cluster id. In Spark this is one
  declarative plan: Catalyst prunes, pushes filters into the parquet scans,
  and broadcasts the (small) per-resolver assignment sides.
- **U1/A2/A3 combine**: diagonal concat of qualified sources
  (``unionByName(allowMissingColumns=True)``), inner join to ids, then
  ``concat`` (as-is) / ``set_agg`` (collect_set per column) / ``explode``
  (collect then explode per column, empty-as-null, distinct).
- **P2 cleaning**: dict alias → SQL expression applied via ``F.expr``;
  ``id``/``leaf_id`` pass through, unlisted columns drop. Expressions are
  Spark SQL; when sqlglot is installed, DuckDB-dialect expressions transpile
  (the reference stores DuckDB SQL — same dialect-bridging move it makes).
- **J11 match**: key → root (limit 1), then filter the full projection to
  that root and group keys per source.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.sources.source import SourceConfig

try:  # optional
    import sqlglot

    HAS_SQLGLOT = True
except ImportError:  # pragma: no cover
    HAS_SQLGLOT = False


def _transpile(sql: str) -> str:
    """DuckDB-dialect expression → Spark SQL.

    sqlglot when installed (full dialect coverage, what the reference uses);
    otherwise the lite token-level rewriter for the common surface.
    """
    if HAS_SQLGLOT:
        return sqlglot.transpile(sql, read="duckdb", write="spark")[0]
    from matchbox_spark.functions.dialect import transpile_duckdb_lite

    return transpile_duckdb_lite(sql)


def resolver_assignments(catalog: Catalog, resolver_step: str) -> DataFrame:
    """leaf_id → root_id map claimed by one resolver (the J7 subquery).

    No dedup exchange: ``contains`` rows are globally unique by the
    append-only insert contract (only newly-assigned roots ever append —
    catalog._hierarchy_insert / _hierarchy_insert_local), and
    ``resolver_clusters`` filtered to one step is unique by ``cluster_id``,
    so the inner join's ``(leaf_id, root_id)`` output is already distinct.
    The former ``dropDuplicates()`` cost two Exchanges + an aggregate per
    resolver level inside EVERY unified_query plan (3 levels deep in the
    j7b lineage query).

    Mirror-native path (optimization r13, guide §1.2 "the distributed
    algorithm"): while the catalog's claim + contains mirrors are live
    (every resolver/contains mutation so far was driver-local), the map
    IS {(leaf, root) : root ∈ claims[step], leaf ∈ contains[root]} — so
    it uploads as ONE LocalRelation instead of a contains⋈claims join.
    This is not only cheaper, it avoids a quadratic plan blow-up the
    join shape hits on deep lineages: Catalyst pushes the broadcast
    LeftSemi below the contains part-Union, so a d-level catalog's
    depth-d retrieval embedded d parts × d levels = d² semi-joins, each
    re-scanning a full contains part and building its own broadcast
    relation (measured: exchanges = d(d+1) at the 16-resolver tower —
    an 8 GB heap OOM at 65,536 keys — vs 3/level for the pre-mirror
    sort-merge shape, whose single shuffle stayed ABOVE the union). The
    LocalRelation path is O(1) scans per level with no join at all.
    Identical rows by mirror completeness; a dead mirror (distributed or
    disk-loaded catalog) or a fan-out above the row cap falls through to
    the join, so warehouse-scale catalogs are untouched."""
    rcmirror = getattr(catalog, "_driver_rc", None)
    kmirror = getattr(catalog, "_driver_contains", None)
    if (
        rcmirror is not None
        and kmirror is not None
        and resolver_step in rcmirror
    ):
        rc_set = rcmirror[resolver_step]
        total = sum(len(kmirror.get(r, ())) for r in rc_set)
        if total <= 5_000_000:
            import pandas as pd

            leaves: list[int] = []
            roots: list[int] = []
            for r in sorted(rc_set):
                ls = kmirror.get(r, ())
                leaves.extend(ls)
                roots.extend([r] * len(ls))
            pdf = pd.DataFrame(
                {
                    "leaf_id": pd.array(leaves, dtype="int64"),
                    "root_id": pd.array(roots, dtype="int64"),
                }
            )
            out = catalog.spark.createDataFrame(
                pdf, "leaf_id long, root_id long"
            )
            out._mb_local_pdf = pdf
            return out
    rc = catalog.resolver_clusters.where(F.col("step") == resolver_step)
    # bind the property ONCE: each access builds a new DataFrame, and a
    # join condition mixing attribute instances from two accesses fails
    # analysis (MISSING_ATTRIBUTES) when the table is empty
    contains = catalog.contains
    # LEFT SEMI, not inner (r13): rc filtered to one step is unique by
    # cluster_id and contributes no output columns, so the semi join is
    # row-identical — but its size ESTIMATE is size(contains) instead of
    # the inner join's size product, which inflated past the broadcast
    # threshold and forced a sort-merge + two exchanges onto every
    # unified_query hierarchy level even when the hierarchy is tiny.
    return contains.join(
        rc, contains["root"] == rc["cluster_id"], "left_semi"
    ).select(F.col("leaf").alias("leaf_id"), F.col("root").alias("root_id"))


def unified_query(
    catalog: Catalog,
    resolvers: list[str],
    sources: list[str],
    level: str = "key",
) -> DataFrame:
    """J7: project source keys to root ids through the hierarchy.

    ``resolvers`` is the lineage in priority order (highest first); sources
    are source step names. Returns ``(id, leaf_id[, key, source])``; at
    ``leaf`` level rows deduplicate (multiple keys share a leaf).
    """
    keys = catalog.cluster_keys.where(F.col("source").isin(sources))

    base = keys
    root_cols: list[F.Column] = []
    for i, step in enumerate(resolvers):
        assign = resolver_assignments(catalog, step)
        a = assign.select(
            F.col("leaf_id").alias(f"_leaf_{i}"), F.col("root_id").alias(f"_root_{i}")
        )
        # No forced broadcast: assignments are often small next to keys, but
        # they grow with cluster count — let Catalyst/AQE pick broadcast vs
        # sort-merge from actual sizes. At warehouse scale, bucket both
        # cluster_keys and contains by leaf id to co-locate these joins.
        base = base.join(a, base["cluster_id"] == a[f"_leaf_{i}"], "left")
        root_cols.append(F.col(f"_root_{i}"))

    root = (
        F.coalesce(*root_cols, F.col("cluster_id")) if root_cols else F.col("cluster_id")
    )
    out = base.select(
        root.alias("id"),
        F.col("cluster_id").alias("leaf_id"),
        F.col("key"),
        F.col("source"),
    )
    if level == "leaf":
        return out.select("id", "leaf_id").dropDuplicates()
    if level == "key":
        return out
    raise ValueError(f"level must be 'leaf' or 'key', got {level!r}")


@dataclass
class QueryConfig:
    """The "view" feeding a model or a user (reference dtos.py:408-452)."""

    sources: list[SourceConfig]
    resolvers: list[str] = field(default_factory=list)  # priority order
    combine_type: str = "concat"  # concat | set_agg | explode
    # alias → SQL expression, DuckDB dialect (like the reference's cleaning
    # dicts); transpiled via sqlglot or the lite rewriter. Plain Spark SQL
    # without backslash literals also passes through unchanged.
    cleaning: dict[str, str] | None = None

    def __post_init__(self):
        if self.combine_type not in ("concat", "set_agg", "explode"):
            raise ValueError(f"unknown combine_type {self.combine_type!r}")
        if not self.sources:
            raise ValueError("QueryConfig requires at least one source")


def query_data(
    spark,
    catalog: Catalog,
    config: QueryConfig,
    with_leaf_id: bool = False,
) -> DataFrame:
    """§3.2 full retrieval: hierarchy ids ⋈ qualified sources → combine → clean."""
    source_names = [s.name for s in config.sources]
    ids = unified_query(catalog, config.resolvers, source_names, level="key")
    if not with_leaf_id:
        ids = ids.drop("leaf_id")

    qualified: DataFrame | None = None
    for src in config.sources:
        q = src.qualify(src.read(spark))
        qualified = (
            q
            if qualified is None
            else qualified.unionByName(q, allowMissingColumns=True)
        )

    raw = qualified.join(ids, ["source", "key"], "inner").drop("source", "key")

    value_cols = [c for c in raw.columns if c not in ("id", "leaf_id")]
    passthrough = [c for c in ("id", "leaf_id") if c in raw.columns]

    if config.combine_type == "set_agg":
        raw = raw.groupBy(*passthrough).agg(
            *[F.collect_set(c).alias(c) for c in value_cols]
        )
    elif config.combine_type == "explode":
        # group to lists then explode each value column — cross-product of
        # requested values per entity, nulls survive (A3, empty_as_null)
        raw = raw.groupBy(*passthrough).agg(
            *[F.collect_list(c).alias(c) for c in value_cols]
        )
        for c in value_cols:
            raw = raw.withColumn(c, F.explode_outer(c))
        raw = raw.dropDuplicates()

    if config.cleaning is not None:
        exprs = [F.col(c) for c in passthrough] + [
            F.expr(_transpile(sql)).alias(alias)
            for alias, sql in config.cleaning.items()
        ]
        raw = raw.select(*exprs)
    return raw


class ResolverMatches:
    """Resolved-matches facade over one resolver's clustering — the
    reference's user-level results object (``client/results.py:69-220``:
    ``as_lookup`` / ``as_dump`` / ``as_leaf_sets`` / ``view_cluster`` /
    ``merge``), re-expressed so every verb returns a DataFrame plan
    instead of a driver-materialised Polars frame.

    The underlying state is ONE projection — ``unified_query`` at key
    level, ``(id, leaf_id, key, source)`` — computed lazily and shared by
    every verb; nothing collects until the caller acts. Pass
    ``materialized=True`` to checkpoint it once for interactive use (the
    ``DAG.matcher`` serving pattern).
    """

    def __init__(
        self,
        spark,
        catalog: Catalog,
        resolvers: list[str],
        sources: list,
        materialized: bool = False,
    ):
        self.spark = spark
        self.catalog = catalog
        self.resolvers = list(resolvers)
        self.sources = list(sources)
        dump = unified_query(
            catalog, self.resolvers, [s.name for s in self.sources], level="key"
        )
        self._dump = (
            dump.localCheckpoint(eager=True) if materialized else dump
        )

    @classmethod
    def from_dump(
        cls, spark, dump: DataFrame, sources: list
    ) -> "ResolverMatches":
        """Rebuild a facade from a saved ``as_dump`` DataFrame (ref
        ``from_dump``): the round-trip lets resolved matches be persisted
        as a plain table and served later without the catalog."""
        expected = {"id", "leaf_id", "key", "source"}
        missing = expected - set(dump.columns)
        if missing:
            raise ValueError(f"dump is missing columns {sorted(missing)}")
        self = cls.__new__(cls)
        self.spark = spark
        self.catalog = None
        self.resolvers = []
        self.sources = list(sources)
        self._dump = dump.select("id", "leaf_id", "key", "source")
        return self

    def as_dump(self) -> DataFrame:
        """Full root↔leaf↔key↔source mapping (ref ``as_dump``)."""
        return self._dump.select("id", "leaf_id", "key", "source")

    def as_lookup(self) -> DataFrame:
        """Wide per-source key arrays per entity (ref ``as_lookup``; the
        J8 full-outer shape): ``(id, {source}_key array<string>, ...)``."""
        from matchbox_spark.operators.results import as_lookup as _lookup

        per_source = {
            s.name: self._dump.where(F.col("source") == s.name).select(
                "id", "key"
            )
            for s in self.sources
        }
        return _lookup(per_source)

    def as_leaf_sets(self) -> DataFrame:
        """``(id, leaves array<long>)`` — sorted distinct leaf ids per root
        (ref ``as_leaf_sets``, which returns Python lists; collect this
        DataFrame to get the same)."""
        return self._dump.groupBy("id").agg(
            F.array_sort(F.collect_set("leaf_id")).alias("leaves")
        )

    def view_cluster(
        self, cluster_id: int, merge_fields: bool = False
    ) -> DataFrame:
        """Source rows for every record in one cluster (ref
        ``view_cluster``): per source, the cluster's keys filter the
        source read (the S2 IN-list pushdown), columns qualify as
        ``{source}_{field}`` unless ``merge_fields`` (keys stay qualified
        either way), and sources concat diagonally with key columns
        first. Raises ``KeyError`` when the cluster has no rows."""
        # ONE execution of the (possibly lazy) dump plan for all sources —
        # collecting per source would re-run the full hierarchy projection
        # once per source when not materialized
        keys_by_source: dict[str, list] = {}
        for r in (
            self._dump.where(F.col("id") == int(cluster_id))
            .select("source", "key")
            .distinct()
            .collect()
        ):
            keys_by_source.setdefault(r["source"], []).append(r["key"])
        parts: list[DataFrame] = []
        key_cols: list[str] = []
        for src in self.sources:
            keys = keys_by_source.get(src.name, [])
            if not keys:
                continue
            key_cols.append(src.qualified_key)
            rows = src.read(self.spark, keys=keys)
            renames = {src.key_field: src.qualified_key}
            if not merge_fields:
                renames.update(
                    {f: f"{src.name}_{f}" for f in src.index_fields}
                )
            rows = rows.select(
                *[
                    F.col(c).alias(renames.get(c, c))
                    for c in rows.columns
                    if c == src.key_field or c in src.index_fields
                ]
            )
            parts.append(rows)
        if not parts:
            raise KeyError(f"Cluster {cluster_id} not available")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        rest = [c for c in out.columns if c not in key_cols]
        return out.select(*key_cols, *rest)

    def merge(self, other: "ResolverMatches") -> DataFrame:
        """Union two clusterings over the same sources into one combined
        clustering (ref ``merge``: ids lose backend association — here
        they become fresh dense ids from ``merge_clusterings``'s
        connected-components relabel). Returns ``(parent_id, child_id)``
        where ``child_id`` is the leaf id."""
        if [s.name for s in other.sources] != [s.name for s in self.sources]:
            raise ValueError(
                "Cannot merge resolved matches for different sources"
            )
        from matchbox_spark.operators.results import merge_clusterings

        a = self._dump.select(
            F.col("id").alias("parent_id"), F.col("leaf_id").alias("child_id")
        ).distinct()
        b = other._dump.select(
            F.col("id").alias("parent_id"), F.col("leaf_id").alias("child_id")
        ).distinct()
        return merge_clusterings(a, b)


@dataclass
class Match:
    """Result of a key lookup: the cluster and per-source key sets."""

    cluster: int | None
    source: str
    source_keys: set[str]
    target: str
    target_keys: set[str]


def match_key(
    catalog: Catalog | None,
    key: str,
    source: str,
    targets: list[str],
    resolvers: list[str],
    projection: DataFrame | None = None,
) -> list[Match]:
    """J11/§3.3: which keys in each target share the given key's entity?

    Pass ``projection`` (a materialised ``unified_query`` result — see
    ``DAG.matcher`` / ``DAG.materialize_lookup``) to serve the lookup as two
    filters on precomputed state; ``catalog`` may then be None, which is the
    proof that no pipeline recompute can be triggered. Without it the
    projection plan is built from the catalog per call (fine for one-off
    lookups; wrong shape for interactive serving).
    """
    if projection is None:
        projection = unified_query(
            catalog, resolvers, [source] + list(targets), level="key"
        )
    target_cluster = (
        projection.where((F.col("source") == source) & (F.col("key") == key))
        .select("id")
        .limit(1)
        .collect()
    )
    if not target_cluster:
        return [
            Match(None, source, set(), t, set()) for t in targets
        ]
    root_id = target_cluster[0]["id"]
    members = (
        projection.where(F.col("id") == F.lit(root_id))
        .select("source", "key")
        .distinct()
        .collect()
    )
    by_source: dict[str, set[str]] = {}
    for r in members:
        by_source.setdefault(r["source"], set()).add(r["key"])
    return [
        Match(
            cluster=int(root_id),
            source=source,
            source_keys=by_source.get(source, set()),
            target=t,
            target_keys=by_source.get(t, set()),
        )
        for t in targets
    ]
