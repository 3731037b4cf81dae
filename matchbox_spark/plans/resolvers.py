"""Resolvers: connected-component clustering over thresholded model edges.

Two interchangeable engines behind one ``ResolverMethod`` surface
(reference semantics: resolvers/components.py:36-64, transform.py:12-64):

- **Driver CC**: exact vectorized label propagation over the collected edge
  arrays (``connected_components_numpy``), for edge sets that fit on the
  driver — the reference's only path, where it is a union-find (G1; kept
  here as ``DisjointSet``, the semantic baseline the tests pin against).
- **Distributed alternating-star CC**: the large-star/small-star DataFrame
  algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond",
  2014 — a public algorithm). O(log n) rounds, every round two shuffles,
  lineage cut with ``localCheckpoint`` so plans don't grow. This is the
  100 TB path. Once a round's edge set fits the driver budget, the driver
  CC finishes it.

``connected_components`` alone picks between them, on the edge count
against ``driver_edge_limit``. Both produce identical component *sets*;
assignments label components with dense 1-based ordinals ordered by each
component's minimum member id, which makes the output deterministic (the
reference's enumeration order is dict order — set-equivalent).
"""

from __future__ import annotations

import logging
from abc import ABC, abstractmethod
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Hashable, Iterable, Mapping, TypeVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matchbox_spark.functions.indexing import dense_index
from matchbox_spark.schemas import SCHEMA_CLUSTERS, conform, local_frame

logger = logging.getLogger(__name__)

T = TypeVar("T", bound=Hashable)


class DisjointSet:
    """Union-find with path compression and union by rank (G1)."""

    def __init__(self) -> None:
        self.parent: dict = {}
        self.rank: dict = {}

    def add(self, x) -> None:
        if x not in self.parent:
            self.parent[x] = x
            self.rank[x] = 0

    def find(self, x):
        self.add(x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression (iterative)
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, x, y) -> None:
        rx, ry = self.find(x), self.find(y)
        if rx == ry:
            return
        if self.rank[rx] > self.rank[ry]:
            self.parent[ry] = rx
        else:
            self.parent[rx] = ry
            if self.rank[rx] == self.rank[ry]:
                self.rank[ry] += 1

    def components(self) -> list[set]:
        comps = defaultdict(set)
        for x in self.parent:
            comps[self.find(x)].add(x)
        return list(comps.values())


# ---------------------------------------------------------------------------
# distributed connected components (large-star / small-star)
# ---------------------------------------------------------------------------


def _materialize(df: DataFrame, disk_only: bool = False) -> DataFrame:
    """Materialise + truncate lineage, robust to SPARK's occasional
    ``localCheckpoint`` AttributeMap failure on some AQE plan shapes
    (observed as ``key not found: <attr>`` in local mode): fall back to a
    reliable checkpoint, provisioning a temp checkpoint dir on demand.

    ``disk_only=True`` checkpoints at ``StorageLevel.DISK_ONLY`` — the
    right level for READ-ONCE state like CC iteration rounds: the default
    MEMORY_AND_DISK keeps every superseded round's deserialized edge set
    on the heap (ContextCleaner frees them lazily, after a GC notices),
    which at 90M edges × ~6 rounds exceeded a 32 GB heap (round 9);
    DISK_ONLY bounds heap use by ONE round's working set."""
    try:
        if disk_only:
            from pyspark import StorageLevel

            return df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
        return df.localCheckpoint(eager=True)
    except Exception:  # noqa: BLE001
        # parquet round-trip: a different execution path (file write) that
        # sidesteps the broken checkpoint planning and fully cuts lineage.
        # Dirs must outlive the returned DataFrame (it lazily re-reads
        # them), so they are reaped at process exit rather than per call —
        # a long-running job that trips the AQE bug repeatedly would
        # otherwise fill the disk with orphaned mbspark_mat_* copies.
        import atexit
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="mbspark_mat_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        path = tmp + "/df.parquet"
        df.write.parquet(path)
        return df.sparkSession.read.parquet(path)


def _free_checkpoint(df: DataFrame) -> None:
    """Best-effort explicit release of a localCheckpoint's cached blocks.

    Superseded CC round state is dead the moment the next round's
    checkpoint materialises, but its blocks are only reclaimed when the
    driver GC happens to collect the RDD (ContextCleaner) — on a
    long-running 100×-scale CC (hundreds of rounds) tens of GB of dead
    DISK_ONLY round state can pile up first (VERDICT r9). Reaches the
    LogicalRDD behind the checkpointed frame and unpersists it directly;
    a frame not backed by a bare checkpoint (e.g. the parquet fallback in
    ``_materialize``, or a plan chained on top of one) is left untouched.

    The freed frame must never be read again: the checkpoint cut its
    lineage, so a re-read raises rather than recomputes — callers free
    round k−1 only after round k's checkpoint has eagerly materialised.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — py4j internals; freeing is optional
        logger.debug("checkpoint free skipped", exc_info=True)


def _materialize_with_signature(
    edges: DataFrame, disk_only: bool = False
) -> tuple[DataFrame, tuple[int, int]]:
    """Materialise an edge set AND collect its (count, xor) signature in the
    SAME job via the Observation API — the convergence check rides the
    checkpoint's execution instead of costing a second full pass. One driver
    round-trip per CC round instead of two; at 100 TB each saved pass is a
    full scan of the live edge set."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("x"),
    )
    out = _materialize(observed, disk_only=disk_only)
    m = obs.get  # blocks until the eager checkpoint's job finishes
    return out, (int(m["n"]), int(m["x"]))


def _large_star(edges: DataFrame) -> DataFrame:
    # Symmetrise in ONE pass via explode — a self-union (edges ∪ swapped
    # edges from the same object) both scans twice and triggers a Spark 4.1
    # DeduplicateRelations bug on checkpointed window-derived lineage
    # ("key not found: <attr>"). The min-table's join key is re-aliased to a
    # fresh attribute so the derived-aggregate join resolves unambiguously.
    nbrs = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_p")
    ).select(F.col("_p.src").alias("src"), F.col("_p.dst").alias("dst"))
    # per-node min via groupBy + join rather than a partition-only window:
    # star contraction GUARANTEES giant hubs, and a window over the hub's key
    # is one unsplittable task, while the groupBy gets map-side partial
    # aggregation and AQE can split the skewed join partition.
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("_msrc"),
            F.least(F.col("_mn"), F.col("src")).alias("m"),
        )
    )
    # No distinct here: the published algorithm emits a multiset between the
    # two star steps, small-star's terminal distinct bounds per-round state,
    # and duplicate (dst, m) multiplicity is bounded by node degree — one
    # fewer shuffle per round beats deduping early.
    return (
        nbrs.join(mins, F.col("src") == F.col("_msrc"))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m")).select(
        F.col("src").alias("_msrc"), F.col("m")
    )
    relink = (
        oriented.join(mins, F.col("src") == F.col("_msrc"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    selfl = mins.select(F.col("_msrc").alias("src"), F.col("m").alias("dst"))
    return (
        relink.union(selfl)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_cc_edge_limit: int | None = None


def _driver_cc_edge_limit(spark) -> int:
    """Edge cap for the driver CC, sized by memory rather than a magic
    constant: ~500 bytes/edge of worst-case driver overhead against a
    quarter of the budget, floored at 2M so small drivers still take the
    fast path for graphs the reference itself handled driver-side, capped
    at 50M.

    The collected pandas frame and CC arrays live in the PYTHON driver
    process, whose footprint the JVM heap setting does not bound — so the
    budget is min(spark.driver.memory, free system memory). It is derived
    on the first call and reused for the rest of the process, so every
    gate (and every streaming batch) sees the same cap.
    """
    global _cc_edge_limit
    if _cc_edge_limit is not None:
        return _cc_edge_limit
    try:
        mem = spark.conf.get("spark.driver.memory", "4g") or "4g"
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        m = mem.strip().lower()
        mult = units.get(m[-1], 1)
        num = float(m[:-1]) if m[-1] in units else float(m)
        heap = int(num * mult)
    except Exception:  # noqa: BLE001
        heap = 4 << 30
    try:
        # MemAvailable: what the kernel says this host can actually give us
        with open("/proc/meminfo") as f:
            avail = {
                line.split(":")[0]: int(line.split()[1]) * 1024
                for line in f
                if line.startswith(("MemAvailable", "MemTotal"))
            }
        budget = min(heap, avail.get("MemAvailable", avail.get("MemTotal", heap)))
    except OSError:  # non-Linux: fall back to the heap figure
        budget = heap
    _cc_edge_limit = max(2_000_000, min(50_000_000, budget // 4 // 500))
    return _cc_edge_limit


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_edge_limit: int | None = None,
) -> DataFrame:
    """Connected components: returns ``(id, component)`` — component = min
    member id.

    ``edges`` needs columns ``src``/``dst`` (long). A self-loop yields no
    component, and nodes appearing only as isolated vertices must be
    unioned in by the caller (an edge list cannot carry them).

    The path is :func:`_cc_labels`'s. A driver result, whether the driver
    CC ran from the start or finished the distributed rounds, is a bare
    ``LocalRelation`` (``<empty>`` when there are no labels).
    """
    lab, _ = _cc_labels(edges, driver_edge_limit, max_iter)
    if isinstance(lab, DataFrame):
        return lab
    return local_frame(edges.sparkSession, lab, "id long, component long")


def _driver_labels(pdf: pd.DataFrame) -> pd.DataFrame:
    """The exact driver CC of a pandas ``(src, dst)`` edge frame, self-loops
    dropped, as pandas ``(id, component)`` labels."""
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    loop = src == dst
    nodes, comps = connected_components_numpy(src[~loop], dst[~loop])
    return pd.DataFrame({"id": nodes, "component": comps})


def _cc_labels(edges, driver_edge_limit: int | None, max_iter: int = 50):
    """The one place that picks the driver or distributed CC. Returns
    ``(labels, path)``: the labels as a pandas ``(id, component)`` frame
    when the driver CC produced them, else as a Spark frame; ``path``
    names the path with its gate inputs, for the ``Components`` log line.

    ``edges`` (``src``, ``dst``) is a pandas or a Spark frame. An edge set
    of at most ``driver_edge_limit`` rows (None: the memory-derived cap; 0:
    always distributed) runs the exact driver CC
    (:func:`connected_components_numpy`). Pandas edges are read as they
    are (zero jobs); a Spark frame's rows come from one bounded
    ``limit(limit + 1)`` collect that is both the size probe and the driver
    collect. Larger edge sets run the large-star/small-star rounds (the
    100 TB path), pandas edges uploaded first.

    **Driver finish.** Every materialisation (the distinct, loop-free
    input and each round) observes its edge count in its own job. Once
    that count is at most the same budget (and the budget is not 0), the
    rounds stop: that checkpoint is collected with one Arrow ``toPandas``,
    freed, and its labels come from the driver CC, so the caller takes its
    driver branch. This is exact: a star step keeps every node and every
    component's connectivity (the final projection below relies on the
    same), so any round's edge set has the input's min-member labels. The
    driver holds at most ``limit`` edges, as on the driver path.
    """
    local = isinstance(edges, pd.DataFrame)
    spark = SparkSession.active() if local else edges.sparkSession
    limit = (
        _driver_cc_edge_limit(spark) if driver_edge_limit is None else driver_edge_limit
    )
    pdf = edges if local else edges.select("src", "dst").limit(limit + 1).toPandas()
    if len(pdf) <= limit:
        path = f"driver union-find ({len(pdf):,} edges ≤ {limit:,})"
        return _driver_labels(pdf), path
    if local:
        edges = local_frame(spark, pdf[["src", "dst"]], "src long, dst long")

    # initial materialisation keeps the default (memory-first) level: it
    # is ONE resident copy freed with `e` — only the LOOP's superseded
    # rounds accumulate, so only those go DISK_ONLY
    e, sig = _materialize_with_signature(
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    cmp = ">" if sig[0] > limit else "≤"
    path = f"distributed union-find ({sig[0]:,} edges {cmp} {limit:,}"
    rounds, converged = 0, False
    while not converged and not (limit and sig[0] <= limit):
        if rounds == max_iter:
            logger.warning("connected_components hit max_iter=%d", max_iter)
            break
        # DISK_ONLY: round state is read exactly once (by the next
        # round) — memory-resident checkpoint blocks of superseded
        # rounds are pure heap pressure at large edge counts
        e2, new_sig = _materialize_with_signature(
            _small_star(_large_star(e)), disk_only=True
        )
        # round k's checkpoint is eagerly on disk → round k−1 (or the
        # initial edge set) is dead; free it NOW instead of waiting
        # for a driver GC, so live round state is bounded at ~2 rounds
        # whatever the round count (only safe because e2 no longer
        # references e — _free_checkpoint no-ops on chained plans)
        _free_checkpoint(e)
        e, rounds = e2, rounds + 1
        converged, sig = new_sig == sig, new_sig
    ran = f"{rounds} round" + "s" * (rounds != 1)
    if limit and sig[0] <= limit:
        # driver finish: the checkpoint fits the budget, so collect and
        # free it and label it exactly on the driver
        pdf = e.toPandas()
        _free_checkpoint(e)
        path = f"{path}; driver finish after {ran} at {sig[0]:,} edges)"
        return _driver_labels(pdf), path

    # Converged star graph: every node points at its component minimum.
    members = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
    return members.union(roots).distinct(), f"{path}; {ran})"


def connected_components_driver(edge_rows: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Exact driver-side CC: node → min member id of its component."""
    djs = DisjointSet()
    for a, b in edge_rows:
        djs.union(a, b)
    out: dict[int, int] = {}
    for comp in djs.components():
        m = min(comp)
        for node in comp:
            out[node] = m
    return out


def connected_components_numpy(src, dst):
    """Exact driver-side CC over integer edge ARRAYS — vectorized.

    Semantics identical to :func:`connected_components_driver` (node → min
    member id), ~10× faster at the driver path's edge volumes (a Python
    dict union-find walks ~2M edges/s; this label-propagation +
    pointer-jumping loop does the same 900k-edge flagship graph in tens of
    ms). Labels are INDICES into the sorted unique-node array, so the
    minimum label is the minimum node id by construction. Converges in
    O(log diameter) sweeps — ER components are near-cliques, so 2-3.

    Returns ``(nodes, labels)`` numpy arrays: ``labels[i]`` is the min
    member id of ``nodes[i]``'s component.
    """
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    if len(src) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # hash-based factorize + a sort of the (small) unique set — NOT
    # np.unique(return_inverse=True), whose inverse path full-sorts the 2|E|
    # endpoint array (measured 2.7 s at 1.8M endpoints on numpy 1.26 vs
    # ~80 ms here). Labels must index the SORTED node array so the minimum
    # label is the minimum node id.
    codes, uniq = pd.factorize(np.concatenate([src, dst]), sort=False)
    uniq = np.asarray(uniq, dtype=np.int64)
    # unique node ids: quicksort (values are distinct — stability is
    # meaningless) and int32 ranks (the driver path is size-capped far
    # below 2^31 nodes; int32 argsort is ~14× faster than int64 stable)
    perm = np.argsort(uniq)
    rank = np.empty(len(uniq), dtype=np.int32)
    rank[perm] = np.arange(len(uniq), dtype=np.int32)
    nodes = uniq[perm]
    inv = rank[codes]
    a, b = inv[: len(src)], inv[len(src) :]
    # CSR-style grouping built ONCE (edges never change): every node index
    # appears as an endpoint, so the group array covers 0..n-1 densely and
    # reduceat-min gives each node its neighbour-label minimum per sweep —
    # np.minimum.at (unbuffered ufunc.at) is ~10× slower than this.
    # int32 keys + quicksort: grouping only needs equal keys contiguous,
    # and the sort was the whole function's hot spot at 900k edges
    # (1.04 s int64-stable → 0.07 s int32-quicksort).
    ends = np.concatenate([a, b])
    others = np.concatenate([b, a])
    order = np.argsort(ends)
    others_s = others[order]
    starts = np.searchsorted(ends[order], np.arange(len(nodes), dtype=np.int32))
    label = np.arange(len(nodes), dtype=np.int32)
    while True:
        before = label
        nbr_min = np.minimum.reduceat(label[others_s], starts)
        label = np.minimum(label, nbr_min)
        # pointer jumping to full compression
        while True:
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            break
    return nodes, nodes[label]


# ---------------------------------------------------------------------------
# resolver methodology surface
# ---------------------------------------------------------------------------

RESOLVER_METHODS: dict[str, type] = {}


def add_resolver_method(cls: type) -> type:
    """Registry for resolver methodologies (reference resolvers.py:35-46)."""
    RESOLVER_METHODS[cls.__name__] = cls
    return cls


@dataclass
class ComponentsSettings:
    # per-model score thresholds; unset models default to 0.0
    thresholds: dict[str, float] = field(default_factory=dict)
    # the only CC path setting: the CC runs on the driver up to this
    # many unioned edges, and a distributed CC hands its rounds' edge set
    # to the driver once it shrinks to this many (None: the memory-derived
    # cap; 0: always distributed, every round). Left out of the repr, so
    # the resolver's fingerprint does not depend on which path computed
    # the same clusters
    driver_edge_limit: int | None = field(default=None, repr=False, compare=False)

    def validate_inputs(self, model_names: Iterable[str]) -> None:
        invalid = set(self.thresholds) - set(model_names)
        if invalid:
            raise RuntimeError(f"Unknown models in thresholds: {invalid}")
        for name, t in self.thresholds.items():
            if not 0.0 <= t <= 1.0:
                raise ValueError(f"threshold for {name} outside [0,1]: {t}")


class ResolverMethod(ABC):
    """Computes cluster assignments from one or more models' edge tables."""

    def __init__(self, **settings):
        self.settings = self.settings_class(**settings)

    settings_class = ComponentsSettings

    @abstractmethod
    def compute_clusters(self, model_edges: Mapping[str, DataFrame]) -> DataFrame:
        """Return assignments ``(parent_id, child_id)``."""


@add_resolver_method
class Components(ResolverMethod):
    """G2: threshold each model's edges, union, connected components."""

    settings_class = ComponentsSettings

    def compute_clusters(self, model_edges: Mapping[str, DataFrame]) -> DataFrame:
        """Threshold each model's edges, union them, and cluster them on
        the path :func:`_cc_labels` picks; then rank the components into
        dense parent ids 1..k.

        When every model's edges are pandas frames (the streaming
        delta-link holds each batch's bounded edge set on the driver),
        threshold and union run in pandas, so the CC fork runs no probe
        job, and a driver CC returns the assignments as pandas too. With
        Spark inputs the result is a Spark frame: a LocalRelation on the
        driver path, which also serves a distributed CC that finished on
        the driver. One INFO line names the path and its gate inputs."""
        s = self.settings
        s.validate_inputs(model_edges.keys())
        if not model_edges:
            raise ValueError("no model edges given")
        local = all(isinstance(e, pd.DataFrame) for e in model_edges.values())
        if local:
            # the float32 scores cast to float64 before comparing, exactly
            # Spark's promotion for `float >= double-literal`, so the kept
            # set is identical; Spark SQL orders NaN above every double, so
            # a NaN-scored edge passes `score >= t` and is kept explicitly
            empty = np.empty(0, np.int64)
            cols = [pd.DataFrame({"src": empty, "dst": empty})]
            for name, p in model_edges.items():
                sc = p["score"].to_numpy().astype("float64")
                m = (sc >= float(s.thresholds.get(name, 0.0))) | np.isnan(sc)
                src, dst = p["left_id"].to_numpy()[m], p["right_id"].to_numpy()[m]
                cols.append(pd.DataFrame({"src": src, "dst": dst}))
            unioned = pd.concat(cols, ignore_index=True)
        else:
            unioned = None
            for name, edges in model_edges.items():
                t = s.thresholds.get(name, 0.0)
                e = edges.where(F.col("score") >= F.lit(float(t))).select(
                    F.col("left_id").alias("src"), F.col("right_id").alias("dst")
                )
                unioned = e if unioned is None else unioned.union(e)
        # no persist/checkpoint here: the probe reads the (already
        # materialised upstream) edges once, and the distributed path
        # materialises its own working set immediately.
        labels, path = _cc_labels(unioned, s.driver_edge_limit)
        driver = not isinstance(labels, DataFrame)
        logger.info("Components: auto → %s", path)
        if driver:
            # dense parent-id ranking in numpy (sorted components → 1..k)
            _, rank = np.unique(labels["component"].to_numpy(), return_inverse=True)
            out = pd.DataFrame(
                {
                    "parent_id": (rank + 1).astype("int64"),
                    "child_id": labels["id"].to_numpy(),
                }
            )
            if local:
                return out
            return conform(
                local_frame(unioned.sparkSession, out, "parent_id long, child_id long"),
                SCHEMA_CLUSTERS,
            )

        # dense deterministic parent ids 1..k ordered by component minimum —
        # distributed zip-with-index (range partition + per-partition row
        # numbers + driver offsets), NOT a global single-partition window:
        # component count scales with the data
        # eager localCheckpoint (not persist): the counts job and the
        # consuming join are separate jobs, and a cache-evicted re-run could
        # re-plan the range shuffle (AQE may coalesce a numPartitions-less
        # repartitionByRange) and shift the _pid keys the offsets were
        # collected under; checkpointing materialises one copy both read.
        # Tiny either way — one row per component.
        distinct_comps = (
            labels.select("component")
            .distinct()
            .repartitionByRange("component")
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = {
            r["_pid"]: r["n"]
            for r in distinct_comps.groupBy("_pid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # shared zip-with-index recipe (offsets fold + broadcast offsets +
        # per-partition row_number) — same helper the catalog id
        # assignment and merge_clusterings use
        indexed, _ = dense_index(
            distinct_comps, "_pid", "component", counts, id_name="parent_id"
        )
        comp_ids = indexed.select(
            "component", F.col("parent_id").cast("long").alias("parent_id")
        )
        assignments = labels.join(comp_ids, "component").select(
            "parent_id", F.col("id").alias("child_id")
        )
        return conform(assignments, SCHEMA_CLUSTERS)
