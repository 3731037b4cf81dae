"""Catalog: content-addressed cluster hierarchy state.

Replaces the reference's Postgres ORM + HTTP/S3 sync (orm.py, insert.py) with
DataFrames managed by one module — the Spark-native "server". Tables:

- ``clusters(cluster_id: long, cluster_hash: binary)`` — identity is the
  content hash; ids are dense longs assigned at insert (orm.py:958-989).
- ``cluster_keys(cluster_id, source, key)`` — source key map (orm.py:670-697).
- ``contains(root, leaf)`` — hierarchy, no self-containment (orm.py:936-955).
- ``model_edges(step, left_id, right_id, score)`` (orm.py:1209-1243).
- ``resolver_clusters(step, cluster_id)`` (orm.py:1246-1262).
- ``steps`` — driver-side metadata dict incl. fingerprints (H6 gate).

Insert paths mirror insert.py:43-511 semantics set-based: insert-if-absent by
hash is a ``left_anti`` join (U6); leaf expansion is an outer join + coalesce
(G4); cluster identity for resolver parents is the H5 leaf-set hash.

Scale notes: id assignment range-sorts new hashes and zips dense indices
JVM-side (per-partition row numbers + driver offsets) — a distributed total
order, no global window, no Python round-trip. State tables are
**append-oriented**: each table is a union of immutable delta frames, each
delta materialised once at O(delta) cost (never an O(total-state) rewrite
per mutation — the write-ahead-log shape that survives 100 TB of state).
Deltas compact into one checkpoint past a width threshold so plan width
stays bounded; rewrite paths (drop/replace a step) are the rare exception
and pay one lazy full-table filter. Temporary caches used inside an insert
are explicitly unpersisted once the delta is materialised. State persists
as parquet partitioned by source/step (partition pruning serves the query
layer's filters).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from matchbox_spark.functions.indexing import dense_index
from matchbox_spark.functions.hashing import (
    fold_unordered_stats,
    hash_cluster_leaves,
    hash_table_unordered,
    hash_to_base64,
    leaf_set_hash_expr,
    row_hash_expr,
    unordered_stats_aggs,
)


def _is_local_plan(df: DataFrame) -> bool:
    """Whether ``df`` optimizes to a LocalRelation (driver-resident rows).

    ``DataFrame.isLocal()`` checks the ANALYZED plan, where a conform()'s
    Project hides the LocalRelation; the optimizer's
    ConvertToLocalRelation rule collapses it, so probe the optimized plan.
    Triggers analysis/optimization (driver-side, no jobs) — work every
    consumer pays anyway."""
    try:
        return (
            df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
        )
    except Exception:  # noqa: BLE001 — detection only; fall to general path
        return False


def _is_driver_resident(df: DataFrame) -> bool:
    """Whether every LEAF of ``df``'s optimized plan is a LocalRelation —
    i.e. the frame is pure driver-resident data (possibly unioned), with no
    cluster compute in its lineage. Unlike :func:`_is_local_plan` this
    accepts Union trees: Spark does not collapse Union(LocalRelation, …)
    into one LocalRelation, but such a tree still has nothing to
    checkpoint-truncate and keeps an exact size estimate.

    The JVM probe triggers analysis+optimization of the frame's plan —
    ~0.1-0.2 s on the union trees the catalog's tiered parts grow into
    (measured on st7's per-batch appends, r14) — so the verdict is CACHED
    on the DataFrame object and ``_tier`` propagates it across merges;
    each frame pays the probe at most once."""
    cached = getattr(df, "_mb_driver_resident", None)
    if cached is not None:
        return cached
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        out = all(
            leaves.apply(i).getClass().getSimpleName() == "LocalRelation"
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — detection only; fall to general path
        out = False
    df._mb_driver_resident = out
    return out


def _index_driver_budget() -> int:
    """Byte budget for the driver source-index kernel, checked against the
    optimizer's size estimate for the index plan: 256 MB by default.
    ``MATCHBOX_SPARK_INDEX_DRIVER_BYTES`` overrides it, and 0 forces the
    distributed path. A malformed override raises ``ValueError`` instead of
    silently running on the default budget."""
    override = os.environ.get("MATCHBOX_SPARK_INDEX_DRIVER_BYTES")
    if override:
        return max(0, int(override))
    return 256 << 20


def _streaming_meta(kind: str) -> dict:
    """Metadata of a streaming step: perpetually amendable, so never
    fingerprint-gated."""
    return {
        "type": kind,
        "fingerprint": hash_to_base64(b"streaming"),
        "streaming": True,
    }


_CLUSTERS = "cluster_id long, cluster_hash binary"
_KEYS = "cluster_id long, source string, key string"
_CONTAINS = "root long, leaf long"
_EDGES = "step string, left_id long, right_id long, score float"
_RESOLVER = "step string, cluster_id long"
_BLOCK_KEYS = "step string, block_key long, leaf_id long"


class FingerprintMismatchError(RuntimeError):
    """Raised when a step's data no longer matches its stored fingerprint."""


class ConcurrentWriterError(RuntimeError):
    """Raised when ``save()`` detects another writer advanced the snapshot
    pointer since this catalog last read it — the single-writer contract
    was violated. Detection, not coordination: the losing save raises
    instead of silently clobbering the other writer's snapshot."""


_SCHEMAS = {
    "clusters": _CLUSTERS,
    "cluster_keys": _KEYS,
    "contains": _CONTAINS,
    "model_edges": _EDGES,
    "resolver_clusters": _RESOLVER,
    "block_keys": _BLOCK_KEYS,
}

# Past this many outstanding deltas a table compacts into one checkpoint —
# bounds union width (planning cost) without rewriting state per mutation.
_COMPACT_WIDTH = 12


class Catalog:
    """In-session cluster store with optional parquet persistence."""

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path
        # each table = union of delta frames (append-oriented state)
        self._parts: dict[str, list[DataFrame]] = {n: [] for n in _SCHEMAS}
        # parallel tiering weights for _append's binary-counter compaction
        self._part_weights: dict[str, list[int]] = {n: [] for n in _SCHEMAS}
        self._empty_tables: dict[str, DataFrame] = {}
        self.steps: dict[str, dict] = {}
        self._max_id = 0
        self._last_assigned_n = 0
        self._assign_temp: DataFrame | None = None
        self._contains_empty = True
        self._clusters_empty = True
        # Complete driver-side mirror of the clusters table content
        # (cluster_id → cluster_hash), maintained ONLY while every clusters
        # mutation went through a driver-local insert (which already holds
        # the rows it appends). Lets the local resolver insert resolve leaf
        # hashes and the exists-check by dict lookup — zero Spark jobs —
        # instead of two broadcast semi-join collects. Any other clusters
        # mutation (distributed insert, snapshot re-point)
        # invalidates it to None via _append/_commit/_load; lookups then
        # fall back to the distributed jobs. Invariant: non-None ⇒ the dict
        # equals the full clusters table, so a dict miss IS a table miss.
        # A fresh catalog is empty, so the empty dict IS a complete mirror.
        self._driver_cluster_hashes: dict[int, bytes] | None = {}
        # Same contract for contains (root → sorted leaf tuple): complete
        # while every contains mutation was a driver-local resolver insert.
        # Lets the local resolver path G4-expand root children driver-side
        # instead of falling to the distributed hierarchy insert.
        self._driver_contains: dict[int, tuple[int, ...]] | None = {}
        # Same contract for cluster_keys, per source step (step → set of
        # (cluster_id, key) pairs): complete while every cluster_keys
        # mutation was driver-local. Lets the streaming source-index delta
        # insert answer its pair-level insert-if-absent anti-join by set
        # lookup. Non-None ⇒ it covers EVERY step with rows.
        self._driver_step_keys: dict[str, set] | None = {}
        # Same contract for resolver claims, per resolver step (step → set
        # of claimed cluster_ids AS THE VIEW SHOWS THEM, i.e. appends minus
        # tombstones): complete while every resolver_clusters mutation was
        # driver-local. Lets the streaming merge delta answer its claim
        # anti-join and lets _touched_star_edges rebuild prior assignments
        # driver-side.
        self._driver_rc: dict[str, set] | None = {}
        # Same contract for model edges, per model step (step → SORTED
        # structured numpy array of (left_id, right_id) pairs): complete
        # while every model_edges mutation was driver-local. Lets the
        # streaming edge delta insert answer its pair-level anti-join with
        # one vectorized searchsorted. Size-capped by the driver CC edge
        # budget — an over-cap step invalidates the dict.
        self._driver_step_edges: dict | None = {}
        # step values known to have rows, per step-keyed table — lets inserts
        # take the pure-append path instead of a filter-rewrite. A catalog
        # loaded from disk can't know, so it pessimistically rewrites.
        self._step_rows: dict[str, set] = {
            "cluster_keys": set(),
            "model_edges": set(),
            "resolver_clusters": set(),
            "block_keys": set(),
        }
        # retired resolver claims (step, cluster_id): an overlay the
        # resolver_clusters view anti-joins out, so streaming merges retire
        # a recomputed root in O(touched) appends instead of an O(total
        # claims) rewrite per micro-batch; folded into the base table every
        # _COMPACT_WIDTH retirements
        self._rc_tombstones: list[DataFrame] = []
        self._rc_tomb_weights: list[int] = []
        self._loaded_from_disk = False
        self._snapshot_id = 0  # last persisted snapshot number (format 2)
        # count of _ckpt fallbacks (checkpoint failed, raw plan returned):
        # a stored part may then still REFERENCE its input frames, so
        # callers that free their own upstream checkpoints after an insert
        # (streaming batch locals) must check this hasn't moved first
        self._ckpt_fallbacks = 0
        if path and os.path.exists(os.path.join(path, "steps.json")):
            self._load()

    # -- table views ---------------------------------------------------------

    def _table(self, name: str) -> DataFrame:
        parts = self._parts[name]
        if not parts:
            # memoised: a fresh createDataFrame per access would mint new
            # attribute ids each time, so callers that touch the property
            # twice (e.g. a join built from two accesses) fail analysis
            if name not in self._empty_tables:
                self._empty_tables[name] = self.spark.createDataFrame(
                    [], _SCHEMAS[name]
                )
            return self._empty_tables[name]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @property
    def clusters(self) -> DataFrame:
        return self._table("clusters")

    @property
    def cluster_keys(self) -> DataFrame:
        return self._table("cluster_keys")

    @property
    def contains(self) -> DataFrame:
        return self._table("contains")

    @property
    def model_edges(self) -> DataFrame:
        return self._table("model_edges")

    @property
    def block_keys(self) -> DataFrame:
        """Per-step blocking-key locality index ``(step, block_key, leaf_id)``.

        Streaming delta-link state for models whose blocking values are
        COMPUTED (LSH band keys) rather than raw fields: each leaf records
        the block keys under which it can ever form an edge, so a
        micro-batch finds the accumulated rows it can touch with one
        semi-join on ``block_key`` instead of recomputing signatures over
        all state (see ``incremental_resolve_stream``)."""
        return self._table("block_keys")

    @property
    def resolver_clusters(self) -> DataFrame:
        base = self._table("resolver_clusters")
        if not self._rc_tombstones:
            return base
        tomb = self._rc_tombstones[0]
        for t in self._rc_tombstones[1:]:
            tomb = tomb.unionByName(t)
        # tombstones are O(touched roots per batch × compaction width) —
        # always broadcast-small next to the claim table
        return base.join(
            F.broadcast(tomb.select("step", "cluster_id")),
            ["step", "cluster_id"],
            "left_anti",
        )

    def _commit_resolver_clusters(self, df: DataFrame) -> None:
        """Rewrite the claim table from a tombstone-applied view, then drop
        the (now folded-in) tombstone overlay."""
        self._commit("resolver_clusters", df)
        self._rc_tombstones = []
        self._rc_tomb_weights = []

    # -- persistence --------------------------------------------------------

    def _table_names(self) -> list[str]:
        return [
            "clusters",
            "cluster_keys",
            "contains",
            "model_edges",
            "resolver_clusters",
            "block_keys",
        ]

    # partition layout: queries filter cluster_keys by source and the step
    # tables by step, so those become partition columns (partition pruning
    # replaces full scans). On a warehouse deployment, additionally bucket
    # cluster_keys and contains by leaf/cluster id to co-locate the J7 joins.
    _PARTITIONING = {
        "cluster_keys": ["source"],
        "model_edges": ["step"],
        "resolver_clusters": ["step"],
        "block_keys": ["step"],
    }

    def save(self) -> None:
        """S10: persist all state tables + step metadata under ``path``.

        **Atomic across tables** (ADVICE r7): every table writes into ONE
        fresh versioned snapshot directory (``path/snapshots/<n>/``), then
        a single ``os.replace`` of ``steps.json`` flips the pointer. A
        crash anywhere before the flip leaves the previous snapshot fully
        intact and pointed-to; a crash after the flip leaves the new
        snapshot live with at worst an orphaned old directory, which the
        next save garbage-collects. There is no window in which the
        on-disk state mixes tables from two snapshots — the hazard the old
        per-table rename swap had.

        Writing into a fresh directory also keeps load → mutate → save
        safe (a catalog opened via ``_load`` holds LAZY scans of the
        pointed-to snapshot; nothing ever overwrites a directory being
        read). Parts re-point at the new snapshot before any old one is
        collected, and GC keeps the immediate predecessor snapshot for one
        extra generation so concurrent readers of the previous pointer
        survive a save. Writers are SINGLE by contract — two processes
        saving to one path race the pointer flip and snapshot numbering."""
        if not self.path:
            raise ValueError("catalog has no path")
        os.makedirs(self.path, exist_ok=True)
        # Snapshot-pointer conflict detection (round 11/12): writers are
        # single by contract, but a silent violation corrupts state — check
        # the on-disk generation before the expensive table writes (fail
        # fast), again before the flip, and CONFIRM the flip with a unique
        # writer token after it (the real CAS; see below).
        self._check_snapshot_generation()
        snap = self._snapshot_id + 1
        snaps_root = os.path.join(self.path, "snapshots")
        snap_dir = os.path.join(snaps_root, str(snap))
        shutil.rmtree(snap_dir, ignore_errors=True)
        for name in self._table_names():
            writer = getattr(self, name).write.mode("overwrite")
            parts = self._PARTITIONING.get(name)
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(os.path.join(snap_dir, name))
        # every table written — re-check the generation, then flip the ONE
        # pointer and CONFIRM we won. The generation re-check alone is
        # check-then-act (two writers can both pass it and race os.replace,
        # ADVICE r11), so the manifest carries a per-write unique token:
        # after our replace we re-read the manifest, and if the token on
        # disk is not ours another writer clobbered the flip — we lose
        # loudly instead of silently believing we won. A writer that flips
        # AFTER our confirm produced a complete well-formed snapshot of its
        # own, so last-writer-wins from there is safe; this closes the
        # silent-clobber window, not the single-writer contract.
        self._check_snapshot_generation()
        token = uuid.uuid4().hex
        meta = {
            "format": 2,
            "snapshot": snap,
            "steps": self.steps,
            "writer_token": token,
        }
        manifest = os.path.join(self.path, "steps.json")
        tmp = os.path.join(self.path, f"steps.json.tmp.{token}")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
        os.replace(tmp, manifest)
        try:
            with open(manifest) as f:
                won = json.load(f).get("writer_token") == token
        except (OSError, ValueError):
            won = False
        if not won:
            raise ConcurrentWriterError(
                f"catalog at {self.path!r}: another writer replaced the "
                f"snapshot pointer during this save (snapshot {snap} "
                "orphaned; the concurrent writer's snapshot is live)"
            )
        self._snapshot_id = snap
        # every table is on disk — a deferred lazy-assignment cache (and
        # the plans reading it) is no longer needed by anything re-pointed
        self._release_assign_temp()
        # re-point parts at the live snapshot BEFORE collecting the old one
        for name in self._table_names():
            target = os.path.join(snap_dir, name)
            self.spark.catalog.refreshByPath(target)
            self._parts[name] = [
                self.spark.read.schema(_SCHEMAS[name]).parquet(target)
            ]
        # the written resolver_clusters view was tombstone-applied, so the
        # re-pointed scan is already folded — drop the (now no-op) overlay
        self._rc_tombstones = []
        self._rc_tomb_weights = []
        self._loaded_from_disk = True
        # GC: superseded snapshots and any legacy v1 per-table directories.
        # Deferred by ONE generation (ADVICE r8): the immediate predecessor
        # survives this save so another live Catalog handle — or a user-held
        # lazy DataFrame — that opened via the previous pointer keeps
        # reading intact files. Writers are single (documented contract);
        # a reader more than one save behind is out of the safety window.
        if os.path.isdir(snaps_root):
            for d in os.listdir(snaps_root):
                try:
                    keep = int(d) >= snap - 1
                except ValueError:
                    keep = False  # not a snapshot dir — stray junk
                if not keep:
                    shutil.rmtree(
                        os.path.join(snaps_root, d), ignore_errors=True
                    )
        for name in self._table_names():
            legacy = os.path.join(self.path, name)
            for suffix in ("", ".old", ".saving"):
                shutil.rmtree(legacy + suffix, ignore_errors=True)

    # join-key bucketing for warehouse persistence: the hierarchy joins
    # (resolver_clusters → contains → cluster_keys/clusters) all key on
    # cluster ids, so bucketing every table by its id column lets a reader
    # plan those joins shuffle-free (co-located sort-merge over buckets)
    _BUCKETING = {
        "clusters": "cluster_id",
        "cluster_keys": "cluster_id",
        "contains": "leaf",
        "resolver_clusters": "cluster_id",
    }

    def save_as_tables(
        self, database: str, n_buckets: int = 64, location: str | None = None
    ) -> None:
        """Warehouse-grade persistence: write state as BUCKETED catalog
        tables (``database.table``), bucketed + sorted by each table's join
        key. At 100 TB this is the difference between every hierarchy query
        shuffling the full membership tables and reading co-located buckets.
        Step metadata lands in ``database.steps_meta``."""
        loc = f" LOCATION '{location}'" if location else ""
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")
        # write-to-temp-then-rename, same reason as save(): a catalog
        # opened by load_tables reads these very tables lazily, and an
        # in-place overwrite of a table being read fails (or races)
        for name in self._table_names():
            staging = f"{database}.{name}__saving"
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
            writer = (
                getattr(self, name)
                .write.mode("overwrite")
                .format("parquet")
            )
            bucket_col = self._BUCKETING.get(name)
            if bucket_col:
                writer = writer.bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
            writer.saveAsTable(staging)
            self.spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
            self.spark.sql(
                f"ALTER TABLE {staging} RENAME TO {database}.{name}"
            )
        meta = [(s, json.dumps(m, sort_keys=True)) for s, m in self.steps.items()]
        self.spark.createDataFrame(
            meta or [("", "")], "step string, meta string"
        ).where(F.col("step") != "").write.mode("overwrite").saveAsTable(
            f"{database}.steps_meta"
        )
        # re-point parts at the freshly written tables (the pre-rename
        # DataFrames hold dropped-table relations when self was opened by
        # load_tables on this database); written view was tombstone-folded
        for name in self._table_names():
            self._parts[name] = [self.spark.table(f"{database}.{name}")]
        self._rc_tombstones = []
        self._rc_tomb_weights = []
        self._loaded_from_disk = True

    @classmethod
    def load_tables(cls, spark: SparkSession, database: str) -> "Catalog":
        """Open a catalog persisted by ``save_as_tables``; reads are lazy
        ``spark.table`` references, so joins against the bucketed tables
        plan shuffle-free on the bucket keys."""
        cat = cls(spark)
        for name in cat._table_names():
            # databases written before a table existed (e.g. block_keys)
            # simply leave it empty
            if spark.catalog.tableExists(f"{database}.{name}"):
                cat._parts[name] = [spark.table(f"{database}.{name}")]
        cat.steps = {
            r["step"]: json.loads(r["meta"])
            for r in spark.table(f"{database}.steps_meta").collect()
        }
        row = cat.clusters.agg(
            F.max("cluster_id").alias("m"), F.count("*").alias("n")
        ).collect()[0]
        cat._max_id = int(row["m"] or 0)
        cat._clusters_empty = int(row["n"]) == 0
        cat._contains_empty = cat.contains.limit(1).isEmpty()
        cat._driver_cluster_hashes = None  # disk content: mirrors unknown
        cat._driver_contains = None
        cat._driver_step_keys = None
        cat._driver_rc = None
        cat._driver_step_edges = None
        cat._loaded_from_disk = True
        return cat

    def _check_snapshot_generation(self) -> None:
        """Raise if the on-disk snapshot pointer moved past what this
        catalog last read or wrote (another writer got there first)."""
        manifest = os.path.join(self.path, "steps.json")
        if not os.path.exists(manifest):
            if self._snapshot_id:
                raise ConcurrentWriterError(
                    f"catalog at {self.path!r}: snapshot manifest vanished "
                    f"(this writer last saw snapshot {self._snapshot_id})"
                )
            return
        try:
            with open(manifest) as f:
                data = json.load(f)
        except (OSError, ValueError) as e:
            raise ConcurrentWriterError(
                f"catalog at {self.path!r}: snapshot manifest unreadable "
                f"mid-save ({e}) — concurrent writer suspected"
            ) from e
        on_disk = data.get("snapshot") if isinstance(data, dict) else None
        if isinstance(on_disk, int) and on_disk != self._snapshot_id:
            raise ConcurrentWriterError(
                f"catalog at {self.path!r}: on-disk snapshot is {on_disk} "
                f"but this writer last saw {self._snapshot_id} — another "
                "writer advanced the pointer (single-writer contract)"
            )

    def _load(self) -> None:
        with open(os.path.join(self.path, "steps.json")) as f:
            data = json.load(f)
        if isinstance(data.get("snapshot"), int) and isinstance(
            data.get("steps"), dict
        ):
            # format 2: one versioned snapshot directory, pointed to by the
            # manifest — only the pointed-to snapshot is ever read, so a
            # crash mid-save can never surface a mixed table set
            self._snapshot_id = data["snapshot"]
            self.steps = data["steps"]
            base = os.path.join(
                self.path, "snapshots", str(self._snapshot_id)
            )
        else:
            # legacy format 1: per-table directories beside steps.json
            self.steps = data
            base = self.path
        for name in self._table_names():
            p = os.path.join(base, name)
            if os.path.exists(p):
                self._parts[name] = [
                    self.spark.read.schema(_SCHEMAS[name]).parquet(p)
                ]
        row = self.clusters.agg(
            F.max("cluster_id").alias("m"), F.count("*").alias("n")
        ).collect()[0]
        self._max_id = int(row["m"] or 0)
        self._clusters_empty = int(row["n"]) == 0
        self._contains_empty = self.contains.limit(1).isEmpty()
        self._driver_cluster_hashes = None  # disk content: mirrors unknown
        self._driver_contains = None
        self._driver_step_keys = None
        self._driver_rc = None
        self._driver_step_edges = None
        self._loaded_from_disk = True

    # -- helpers -------------------------------------------------------------

    def _ckpt(self, df: DataFrame, eager: bool) -> DataFrame:
        try:
            return df.localCheckpoint(eager=eager)
        except Exception:  # noqa: BLE001 — rare AQE checkpoint-planning bug
            self._ckpt_fallbacks += 1
            return df

    def _sync_weights(self, name: str) -> list[int]:
        """Tiering weights (delta count absorbed) parallel to ``_parts``.

        Sites that reassign ``_parts[name]`` wholesale (snapshot re-point,
        table load, ``_commit``) don't maintain weights; on divergence each
        existing part is treated as a fully-compacted run (weight 2^30 —
        never matched by a carry, so the big base run is never rewritten by
        the counter; fresh deltas tier above it)."""
        w = self._part_weights.setdefault(name, [])
        if len(w) != len(self._parts[name]):
            w[:] = [1 << 30] * len(self._parts[name])
        return w

    def _append(self, name: str, delta: DataFrame, materialised: bool = False) -> None:
        """Append one immutable delta; amortised O(delta · log n), never an
        O(total state) spike on one unlucky mutation.

        ``materialised=True`` marks a delta the caller already checkpointed;
        otherwise it is lazily checkpointed — the truncation folds into the
        first downstream action instead of forcing a serial job per mutation.

        Compaction is LSM-style binary-counter tiering (round 10): merge
        the two most-recent runs while they share a weight class, so a run
        of total size s is rewritten O(log s) times over its life and no
        single append folds the whole table — the old fold-everything-
        past-_COMPACT_WIDTH policy made exactly one streaming micro-batch
        pay O(accumulated state), the measured compaction spike in the
        embedding delta-link ramp. Plan width stays ≤ log2(deltas) + the
        compacted base, under the old _COMPACT_WIDTH bound in practice
        (the bound remains as a backstop for pathological weight states).
        """
        if name == "clusters":
            # blanket invalidation of the driver clusters mirror:
            # _cluster_ids_local re-sets/extends it right after its own
            # append (it holds the appended rows), every other mutator
            # drops it here so no path can forget
            self._driver_cluster_hashes = None
        elif name == "contains":
            self._driver_contains = None  # same contract
        elif name == "cluster_keys":
            self._driver_step_keys = None  # same contract
        elif name == "resolver_clusters":
            self._driver_rc = None  # same contract
        elif name == "model_edges":
            self._driver_step_edges = None  # same contract
        if not materialised and not _is_driver_resident(delta):
            # driver-resident deltas have no lineage worth truncating, and
            # checkpointing would throw away their exact size estimate
            delta = self._ckpt(delta, eager=False)
        parts = self._parts[name]
        weights = self._sync_weights(name)
        self._tier(parts, weights, delta)
        if len(parts) > _COMPACT_WIDTH:
            self._parts[name] = [self._ckpt(self._table(name), eager=False)]
            self._part_weights[name] = [1 << 30]

    def _tier(
        self, frames: list[DataFrame], weights: list[int], delta: DataFrame
    ) -> None:
        """Binary-counter carry: push ``delta`` at weight 1, then merge the
        two most-recent runs while they share a weight class. Shared by
        ``_append`` and the resolver-tombstone overlay — one copy of the
        carry rule, so a policy change cannot silently diverge."""
        frames.append(delta)
        weights.append(1)
        while (
            len(weights) >= 2
            and weights[-1].bit_length() == weights[-2].bit_length()
        ):
            w2, w1 = weights.pop(), weights.pop()
            p2, p1 = frames.pop(), frames.pop()
            merged = p1.unionByName(p2)
            # keep driver-resident runs un-checkpointed (r13): a union of
            # LocalRelations has no lineage to truncate, and checkpointing
            # would demote it to an RDD scan whose UNKNOWN size estimate
            # forces sort-merge joins onto every downstream retrieval plan
            if _is_driver_resident(p1) and _is_driver_resident(p2):
                # a union of driver-resident runs is driver-resident;
                # propagating the verdict saves the JVM plan probe when
                # this merged run itself merges later (r14)
                merged._mb_driver_resident = True
            else:
                merged = self._ckpt(merged, eager=False)
            frames.append(merged)
            weights.append(w1 + w2)

    def _commit(self, name: str, df: DataFrame) -> None:
        """Rewrite path: replace a table wholesale (drop/replace a step).

        Lazy checkpoint — the O(total) cost lands on the next action, once.
        Append paths should use ``_append``; this exists for the rare
        filter-out-a-step mutations and external callers (streaming merge).
        """
        if name == "clusters":
            self._driver_cluster_hashes = None  # see _append
        elif name == "contains":
            self._driver_contains = None
        elif name == "cluster_keys":
            self._driver_step_keys = None
        elif name == "resolver_clusters":
            self._driver_rc = None
        elif name == "model_edges":
            self._driver_step_edges = None
        self._parts[name] = [self._ckpt(df, eager=False)]
        self._part_weights[name] = [1 << 30]  # fully-compacted run

    def _step_has_rows(self, table: str, col: str, step: str) -> bool:
        """Whether ``table`` may already hold rows for ``step`` (decides
        append vs filter-rewrite). Disk-loaded state answers True — the row
        inventory isn't tracked across sessions, so rewriting is the safe
        default there."""
        del col
        return self._loaded_from_disk or step in self._step_rows[table]


    def _local_df(self, columns: dict, schema: str) -> DataFrame:
        """createDataFrame for driver-resident columns, Arrow-batched via
        pandas: that lands as a LocalRelation with a REAL size estimate,
        while a row list lands as an RDD scan whose unknown size estimate
        forces sort-merge plans onto every downstream retrieval join. The
        frame is pre-tagged driver-resident so ``_tier`` merges never pay
        the JVM plan probe (optimization r14 — the probe ran
        analysis+optimization per part, ~0.1-0.2 s each on streaming
        micro-batches)."""
        import pandas as pd

        df = self.spark.createDataFrame(pd.DataFrame(columns), schema)
        df._mb_driver_resident = True
        return df

    def _claims_df(self, step: str, ids: list[int]) -> DataFrame:
        """Driver-resident ``resolver_clusters`` rows: ``ids`` under ``step``."""
        return self._local_df(
            {
                "step": [step] * len(ids),
                "cluster_id": np.asarray(ids, dtype="int64"),
            },
            _RESOLVER,
        )

    # Digest-prefix bucket: the first two bytes of a hash digest are uniform,
    # so fixed-width buckets on them give balanced ORDERED ranges with zero
    # sampling (range partitioning would pay a sampling pass per insert).
    # 65536 buckets keeps the per-bucket sort group at total/65536 rows and
    # the driver-side count map at ≤65536 entries.
    @staticmethod
    def _bucket_expr(col: str = "cluster_hash") -> Column:
        return F.conv(F.hex(F.substring(F.col(col), 1, 2)), 16, 10).cast("int")

    def _release_assign_temp(self) -> None:
        if self._assign_temp is not None:
            self._assign_temp.unpersist()
            self._assign_temp = None

    def _assign_ids(
        self, new_hashes: DataFrame, counts: dict[int, int] | None = None
    ) -> DataFrame:
        """Dense deterministic ids for new hashes (ordered by hash bytes).

        Distributed zip-with-index that stays JVM-side (no Python RDD
        round-trip): digest-prefix buckets give a sampling-free total order;
        per-bucket row numbers plus driver-computed bucket offsets turn it
        into dense global ids — no single-partition window over the DATA
        anywhere, so assignment scales with the insert batch. The offsets
        come from one tiny count job over the cached bucketed subtree:
        ≤65,536 ``(bucket, count)`` rows regardless of batch size, a
        scale-independent driver transfer (callers that already know the
        per-bucket counts pass them and skip the job). Hashes are unique,
        so ids are deterministic. Extra columns on ``new_hashes`` ride
        along. The cached subtree is released by the caller via
        ``_release_assign_temp`` once the assignment materialises.
        """
        base = self._max_id
        if "_bkt" in new_hashes.columns:
            # caller pre-bucketed (and persisted) the input — e.g.
            # insert_source_index, whose stats job already computed counts;
            # the caller keeps ownership of its _assign_temp handle
            bucketed = new_hashes
        else:
            bucketed = new_hashes.withColumn("_bkt", self._bucket_expr())
            # a deferred temp from a prior lazy assignment may still be
            # held — free it (unpersist, not just drop the handle)
            self._release_assign_temp()
        if counts is None:
            bucketed = bucketed.persist()
            self._assign_temp = bucketed
            counts = {
                r["_bkt"]: r["_n"]
                for r in bucketed.groupBy("_bkt")
                .agg(F.count("*").alias("_n"))
                .collect()
            }
        payload = [
            c for c in new_hashes.columns if c not in ("cluster_hash", "_bkt")
        ]
        indexed, acc = dense_index(
            bucketed,
            "_bkt",
            "cluster_hash",
            counts,
            base=base,
            id_name="cluster_id",
        )
        self._last_assigned_n = acc
        return indexed.select("cluster_id", "cluster_hash", *payload)

    def _bump_max_id(self, assigned: DataFrame) -> None:
        """Advance the id watermark by the new-assignment batch size — known
        driver-side from the bucket counts; no extra job."""
        del assigned
        self._max_id += int(self._last_assigned_n)

    def _cluster_ids_local(self, hashes: Iterable[bytes]) -> dict[bytes, int]:
        """Insert-if-absent by hash against the complete clusters mirror
        (a mirror miss IS a table miss): ``hash → cluster_id`` for every
        hash. New hashes get dense ids in unsigned byte order of the hash —
        what ``dense_index`` over digest-prefix buckets and per-bucket
        BinaryType windows gives the distributed paths. Their rows append
        to ``clusters`` as one LocalRelation (no job) and extend the
        mirror, which stays complete across the append."""
        cmirror = self._driver_cluster_hashes
        want = set(hashes)
        id_of = {h: i for i, h in cmirror.items() if h in want}
        new = sorted(want.difference(id_of))
        if new:
            minted = range(self._max_id + 1, self._max_id + 1 + len(new))
            self._append(
                "clusters",
                self._local_df(
                    {
                        "cluster_id": np.asarray(minted, dtype="int64"),
                        "cluster_hash": new,
                    },
                    _CLUSTERS,
                ),
                materialised=True,
            )
            cmirror.update(zip(minted, new))
            id_of.update(zip(new, minted))
            self._max_id += len(new)
            self._clusters_empty = False
        self._driver_cluster_hashes = cmirror
        return id_of

    def _fingerprint_gate(self, step: str, fingerprint: bytes) -> bool:
        """H6: True → skip (identical data already inserted); False → proceed."""
        meta = self.steps.get(step)
        if meta is None:
            return False
        stored = meta.get("fingerprint")
        if stored == hash_to_base64(fingerprint):
            return True
        raise FingerprintMismatchError(
            f"step {step!r} already exists with a different fingerprint; "
            "use a new step name or drop the step first"
        )

    def drop_step(self, step: str) -> None:
        """Remove a step: its metadata plus its ``model_edges`` and
        ``resolver_clusters`` rows. The content-addressed tables
        (``clusters``/``contains``/``cluster_keys``) are retained — other
        steps may share them, and re-running the step re-claims them
        without re-insert."""
        self.steps.pop(step, None)
        self._commit(
            "model_edges", self.model_edges.where(F.col("step") != step)
        )
        self._commit_resolver_clusters(
            self.resolver_clusters.where(F.col("step") != step)
        )
        self._step_rows["model_edges"].discard(step)
        self._step_rows["resolver_clusters"].discard(step)
        if self._loaded_from_disk or step in self._step_rows["block_keys"]:
            self._commit(
                "block_keys", self.block_keys.where(F.col("step") != step)
            )
            self._step_rows["block_keys"].discard(step)

    # -- inserts -------------------------------------------------------------

    def insert_source_index(
        self, step: str, index: DataFrame, fingerprint: bytes | None = None
    ) -> None:
        """Insert a source content index ``(hash, keys)``.

        New hashes become new clusters; keys unnest into ``cluster_keys``
        (insert.py:43-165 semantics: temp table → insert-if-absent → unnest).
        """
        # index is groupBy-output (unique by hash) — no distinct needed
        self._release_assign_temp()  # deferred from a prior lazy assignment
        if fingerprint is None and self._index_insert_local(step, index) is not None:
            return
        if self._clusters_empty and fingerprint is None:
            # first insert into an empty catalog: every hash is new, so TWO
            # jobs do everything. Job 1 is one grouped aggregate over the
            # cached index that yields BOTH the per-bucket counts (the id-
            # assignment offsets — ≤65,536 rows, scale-independent) AND the
            # table fingerprint (the (n, sum, xor) stats are associative, so
            # the per-bucket partials fold to the identical global digest) —
            # and it runs BEFORE any mutation, so the idempotent-resync gate
            # fires after one cheap aggregate. Job 2 is the assignment
            # checkpoint; the shuffle carries the keys along.
            index = index.select(F.col("hash").alias("cluster_hash"), "keys")
            bucketed = index.withColumn("_bkt", self._bucket_expr()).persist()
            self._assign_temp = bucketed
            h = row_hash_expr(index.schema, ["cluster_hash", "keys"], "xxhash64")
            stats = (
                bucketed.select("_bkt", h.alias("_h"))
                .groupBy("_bkt")
                .agg(*unordered_stats_aggs())
                .collect()
            )
            fingerprint = fold_unordered_stats(stats)
            try:
                skip = self._fingerprint_gate(step, fingerprint)
            except FingerprintMismatchError:
                self._release_assign_temp()
                raise
            if skip:
                self._release_assign_temp()
                return
            counts = {r["_bkt"]: r["n"] for r in stats}
            # LAZY checkpoint: the id assignment (window over the cached
            # bucketed index) folds into the FIRST downstream action — in
            # the DAG flow that is the model step's edge materialisation,
            # which reads cluster_keys through this plan anyway. The old
            # eager=True here was one more serial driver sync per source
            # step (the j7 serial-action floor, VERDICT r10). The persist
            # stays live until the next catalog mutation releases it
            # (deferred _release_assign_temp below); an early release is
            # still correct — the plan recomputes deterministically
            # (content-hash bucketing + row_number ordered by hash).
            assigned = self._ckpt(
                self._assign_ids(bucketed, counts=counts), eager=False
            )
            self._append(
                "clusters",
                assigned.select("cluster_id", "cluster_hash"),
                materialised=True,
            )
            # per-array dedup, not a global dropDuplicates shuffle: the
            # index is unique by hash and cluster_id↔hash is 1:1, so a
            # duplicate (cluster_id, key) pair can only come from WITHIN
            # one hash-group's array (two fully-identical source rows) —
            # array_distinct is equivalent and exchange-free
            keys = assigned.select(
                "cluster_id",
                F.lit(step).alias("source"),
                F.explode(F.array_distinct("keys")).alias("key"),
            )
            keys_materialised = False  # shallow plan over the checkpoint;
            # _append's lazy checkpoint makes the dedup run once, not per read
        else:
            index = index.select(
                F.col("hash").alias("cluster_hash"), F.col("keys")
            ).persist()
            if fingerprint is None:
                stats = (
                    index.select(
                        row_hash_expr(
                            index.schema, ["cluster_hash", "keys"], "xxhash64"
                        ).alias("_h"),
                    )
                    .agg(*unordered_stats_aggs())
                    .collect()
                )
                fingerprint = fold_unordered_stats(stats)
            try:
                skip = self._fingerprint_gate(step, fingerprint)
            except FingerprintMismatchError:
                index.unpersist()
                raise
            if skip:
                index.unpersist()
                return
            new = index.select("cluster_hash").join(
                self.clusters, "cluster_hash", "left_anti"
            )
            assigned = self._ckpt(
                self._assign_ids(new).select("cluster_id", "cluster_hash"),
                eager=True,  # O(delta); lets the assignment temp free now
            )
            self._release_assign_temp()
            self._append("clusters", assigned, materialised=True)
            keys = self._ckpt(
                # array_distinct not dropDuplicates — see the first-insert
                # branch (index unique by hash ⇒ in-array dedup suffices)
                index.join(self.clusters, "cluster_hash")
                .select(
                    "cluster_id",
                    F.lit(step).alias("source"),
                    F.explode(F.array_distinct("keys")).alias("key"),
                ),
                eager=True,  # materialise before the cached index is freed
            )
            index.unpersist()
            keys_materialised = True
        self._clusters_empty = False
        self._bump_max_id(assigned)

        if self._step_has_rows("cluster_keys", "source", step):
            # rare rewrite path: the step already holds rows (re-sync after
            # drop_step) — filter them out once, lazily
            self._commit(
                "cluster_keys",
                self.cluster_keys.where(F.col("source") != step).unionByName(keys),
            )
        else:
            self._append("cluster_keys", keys, materialised=keys_materialised)
        self._step_rows["cluster_keys"].add(step)
        self.steps[step] = {
            "type": "source",
            "fingerprint": hash_to_base64(fingerprint),
        }

    def _index_insert_local(self, step: str, index: DataFrame, merge: bool = False):
        """Driver twin of the source-index insert: ONE collect of the index
        instead of the distributed branches' serial stage rounds (stats,
        assignment checkpoint, keys checkpoint — under AQE even the "lazy"
        assignment checkpoint executes its window's shuffle stages, one
        more serial stage round per source step, the j7 serial-action
        floor). The insert-if-absent anti-join and the keys→cluster-id
        join are lookups in the complete clusters mirror.

        - Bulk mode (:meth:`insert_source_index`) fingerprint-gates the
          step and refuses a step that already has rows (the re-sync
          filter-rewrite stays distributed). The per-row xxhash64 stays
          JVM-computed, so the fold of (n, Σ_h, ⊕_h) over the collected
          signed hashes is the distributed per-bucket
          ``unordered_stats_aggs`` fold (associative; one global group is
          one valid grouping).
        - Merge mode (:meth:`insert_source_index_delta`) is not gated and
          anti-joins each ``(cluster_id, key)`` pair against the step's
          keys mirror, so a replayed batch appends nothing.

        Byte-identical outcome to the distributed branches: ids from
        :meth:`_cluster_ids_local`, keys deduplicated per array in
        first-occurrence order (``array_distinct``). The appends are
        LocalRelations (no jobs), which also lets every downstream join
        against ``clusters``/``cluster_keys`` broadcast.

        Returns None, having done nothing, when a mirror it needs is dead
        or the optimizer's size estimate for ``index`` exceeds
        :func:`_index_driver_budget` — the estimate is read driver-side, so
        the decision costs no job and a 100 TB index never collects.
        Otherwise returns the collected index as pandas, with its
        ``cluster_id`` column unless the fingerprint gate skipped the step;
        in merge mode the extra columns of ``index`` (e.g. per-hash
        blocking values) ride along."""
        limit = _index_driver_budget()
        cmirror = self._driver_cluster_hashes
        skmirror = self._driver_step_keys
        if limit <= 0 or cmirror is None or (merge and skmirror is None):
            return None
        if not merge and self._step_has_rows("cluster_keys", "source", step):
            return None
        try:
            est = int(
                str(index._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:  # noqa: BLE001 — estimation only; general path
            return None
        if est > limit:
            return None

        rest = [c for c in index.columns if c != "hash"] if merge else ["keys"]
        index = index.select(F.col("hash").alias("cluster_hash"), *rest)
        if merge:
            pdf = index.toPandas()
            meta = _streaming_meta("source")
        else:
            h = row_hash_expr(index.schema, ["cluster_hash", "keys"], "xxhash64")
            pdf = index.withColumn("_h", h).toPandas()
            hs = pdf.pop("_h").to_numpy(dtype="int64")
            fingerprint = fold_unordered_stats(
                [{"n": len(hs), "s": sum(hs.tolist()), "x": np.bitwise_xor.reduce(hs)}]
            )
            if self._fingerprint_gate(step, fingerprint):
                return pdf
            meta = {"type": "source", "fingerprint": hash_to_base64(fingerprint)}

        hash_bytes = [bytes(b) for b in pdf["cluster_hash"]]
        id_of = self._cluster_ids_local(hash_bytes)
        seen = skmirror.setdefault(step, set()) if merge else set()
        key_ids: list[int] = []
        key_vals: list = []
        for hb, keys in zip(hash_bytes, pdf["keys"].tolist()):
            cid = id_of[hb]
            for k in dict.fromkeys(keys.tolist() if hasattr(keys, "tolist") else keys):
                if (cid, k) not in seen:
                    key_ids.append(cid)
                    key_vals.append(k)
        if key_ids:
            self._append(
                "cluster_keys",
                self._local_df(
                    {
                        "cluster_id": np.asarray(key_ids, dtype="int64"),
                        "source": step,
                        "key": key_vals,
                    },
                    _KEYS,
                ),
                materialised=True,
            )
        if skmirror is not None:
            # the append invalidated the keys mirror; the step's pair set
            # grew by exactly the appended rows, so it is complete again
            seen.update(zip(key_ids, key_vals))
            skmirror[step] = seen
            self._driver_step_keys = skmirror
        self._step_rows["cluster_keys"].add(step)
        self.steps[step] = meta
        pdf["cluster_id"] = [id_of[h] for h in hash_bytes]
        return pdf

    def insert_source_index_delta_mapped(self, step: str, index: DataFrame):
        """Driver-local delta index insert that RETURNS the batch mapping.

        Runs :meth:`_index_insert_local` in merge mode and hands back the
        collected batch index as a pandas frame with its assigned
        ``cluster_id`` column (extra columns on ``index`` — e.g. per-hash
        blocking values — ride along). The streaming delta-pair path
        (optimization r14) consumes the mapping to maintain its driver
        block map without any further jobs. Returns None whenever the
        kernel cannot run (dead mirror / over-budget delta); the caller
        must then fall back to :meth:`insert_source_index_delta`, which
        re-checks the cheap gates and takes the distributed branch.
        """
        return self._index_insert_local(step, index, merge=True)

    def insert_source_index_delta(self, step: str, index: DataFrame) -> None:
        """Streaming/merge insert: append a source-index DELTA under ``step``.

        Unlike :meth:`insert_source_index` (which *replaces* a step when
        re-run), this MERGES: new hashes become new clusters
        (insert-if-absent), and only ``(cluster_id, key)`` pairs not already
        present for the step are appended. All state mutations are O(delta)
        appends; accumulated state is only ever *read* (two anti-joins), never
        rewritten — the write-ahead-log shape a streaming ingest needs. The
        method is idempotent: replaying a batch appends nothing, so
        foreachBatch retry semantics compose with checkpointing to
        exactly-once state.

        The step is not fingerprint-gated — a streaming step is perpetually
        amendable; its metadata records ``streaming: True``.
        """
        if self._index_insert_local(step, index, merge=True) is not None:
            return
        index = index.select(
            F.col("hash").alias("cluster_hash"), F.col("keys")
        ).persist()
        new = index.select("cluster_hash")
        if not self._clusters_empty:
            new = new.join(self.clusters, "cluster_hash", "left_anti")
        assigned = self._ckpt(
            self._assign_ids(new).select("cluster_id", "cluster_hash"),
            eager=True,
        )
        self._release_assign_temp()
        self._append("clusters", assigned, materialised=True)
        self._clusters_empty = False
        self._bump_max_id(assigned)

        keys = (
            # array_distinct not dropDuplicates — the delta index is unique
            # by hash (groupBy output), so in-array dedup suffices
            index.join(self.clusters, "cluster_hash")
            .select(
                "cluster_id",
                F.lit(step).alias("source"),
                F.explode(F.array_distinct("keys")).alias("key"),
            )
        )
        if self._step_has_rows("cluster_keys", "source", step):
            keys = keys.join(
                self.cluster_keys.where(F.col("source") == step),
                ["cluster_id", "source", "key"],
                "left_anti",
            )
        keys = self._ckpt(keys, eager=True)
        index.unpersist()
        self._append("cluster_keys", keys, materialised=True)
        self._step_rows["cluster_keys"].add(step)
        self.steps[step] = _streaming_meta("source")

    def insert_model_edges_delta(self, step: str, edges: DataFrame) -> None:
        """Streaming/merge insert: append new scored edges under ``step``.

        Only pairs not already recorded for the step are appended (anti-join
        on ``(left_id, right_id)`` — read-only over accumulated state); the
        existing edge set is never dropped or rewritten. Assumes the model is
        deterministic, so a re-derived pair carries the same score as the
        stored one. Idempotent under batch replay.

        Driver fast path (optimization r13): when the edges are already
        driver-resident (the streaming delta-link collects each batch's
        edge set under the CC driver budget anyway) and the per-step edge
        mirror is live, the pair anti-join is a set lookup and the append
        a LocalRelation — zero extra jobs. The mirror is capped by the
        same budget; a step outgrowing it invalidates the mirror BEFORE
        mutating, so this batch and all later ones take the distributed
        branch below.
        """
        epdf = getattr(edges, "_mb_local_pdf", None)
        emirror = self._driver_step_edges
        if epdf is not None and emirror is not None:
            from matchbox_spark.plans.resolvers import _driver_cc_edge_limit

            # the mirror is a SORTED array of packed uint64 pair keys
            # ((l << 32) | r) per step while every id fits 32 bits —
            # integer sorts/searches run ~5-10x the structured void-dtype
            # buffer compares np.unique/searchsorted pay on an (l, r)
            # record array (measured 1.7 s of an st7 run at sf0.1, r14).
            # Ids past 32 bits fall back to the structured dtype; the
            # lexicographic (l, r) order and the packed-key order agree,
            # so both representations answer membership identically.
            acc = emirror.get(step)
            n_acc = 0 if acc is None else len(acc)
            if n_acc + len(epdf) > _driver_cc_edge_limit(self.spark):
                self._driver_step_edges = None
            else:
                l64 = epdf["left_id"].to_numpy(dtype="int64")
                r64 = epdf["right_id"].to_numpy(dtype="int64")
                packable = len(l64) == 0 or (
                    l64.min(initial=0) >= 0
                    and r64.min(initial=0) >= 0
                    and l64.max(initial=0) < (1 << 32)
                    and r64.max(initial=0) < (1 << 32)
                )
                if acc is not None and acc.dtype == np.uint64 and not packable:
                    # unpack the mirror once: ids outgrew 32 bits mid-step
                    acc = np.empty(
                        n_acc, dtype=np.dtype([("l", "<i8"), ("r", "<i8")])
                    )
                    acc["l"] = (emirror[step] >> np.uint64(32)).astype("int64")
                    acc["r"] = (
                        emirror[step] & np.uint64(0xFFFFFFFF)
                    ).astype("int64")
                    emirror[step] = acc
                if packable and (acc is None or acc.dtype == np.uint64):
                    pairs = (l64.astype(np.uint64) << np.uint64(32)) | r64.astype(
                        np.uint64
                    )
                else:
                    pairs = np.empty(
                        len(epdf), dtype=np.dtype([("l", "<i8"), ("r", "<i8")])
                    )
                    pairs["l"] = l64
                    pairs["r"] = r64
                if n_acc:
                    pos = np.minimum(
                        np.searchsorted(acc, pairs), n_acc - 1
                    )
                    keep = np.nonzero(acc[pos] != pairs)[0]
                else:
                    keep = np.arange(len(pairs))
                if len(keep):
                    sub = epdf.iloc[keep]
                    delta = self._local_df(
                        {
                            "step": [step] * len(keep),
                            "left_id": sub["left_id"].astype("int64").values,
                            "right_id": sub["right_id"].astype("int64").values,
                            "score": sub["score"].astype("float32").values,
                        },
                        _EDGES,
                    )
                    self._append("model_edges", delta, materialised=True)
                    # merge the sorted delta into the sorted mirror in one
                    # O(acc + delta) pass: np.unique(concatenate) re-sorted
                    # the FULL accumulated edge array every micro-batch
                    # (O(E log E) — optimization r14). `add` is disjoint
                    # from `acc` by the keep filter, so the insert is the
                    # exact merge.
                    add = np.unique(pairs[keep])
                    if n_acc:
                        merged = np.insert(
                            acc, np.searchsorted(acc, add), add
                        )
                    else:
                        merged = add
                    emirror[step] = merged
                # the append invalidated the mirror; the step entry was
                # merged with exactly the appended delta, so it is
                # complete (and sorted) again
                self._driver_step_edges = emirror
                self._step_rows["model_edges"].add(step)
                self.steps[step] = _streaming_meta("model")
                return
        tagged = edges.select(
            F.lit(step).alias("step"), "left_id", "right_id", "score"
        )
        if self._step_has_rows("model_edges", "step", step):
            tagged = tagged.join(
                self.model_edges.where(F.col("step") == step).select(
                    "left_id", "right_id"
                ),
                ["left_id", "right_id"],
                "left_anti",
            )
        self._append("model_edges", self._ckpt(tagged, eager=True), materialised=True)
        self._step_rows["model_edges"].add(step)
        self.steps[step] = _streaming_meta("model")

    def insert_block_keys_delta(self, step: str, keys: DataFrame) -> None:
        """Streaming insert: append blocking keys for NEW leaves under ``step``.

        ``keys`` has columns ``(leaf_id, block_key)`` — every block key a
        leaf can ever form an edge under (e.g. its LSH band keys). A leaf's
        key set is deterministic and complete on first sight (it depends
        only on the leaf's own content), so the insert is if-absent per
        LEAF: rows for leaves already recorded for the step anti-join away.
        O(delta) append, idempotent under batch replay.
        """
        tagged = keys.select(
            F.lit(step).alias("step"),
            F.col("block_key").cast("long").alias("block_key"),
            F.col("leaf_id").cast("long").alias("leaf_id"),
        )
        if self._step_has_rows("block_keys", "leaf_id", step):
            tagged = tagged.join(
                self.block_keys.where(F.col("step") == step)
                .select("leaf_id")
                .distinct(),
                ["leaf_id"],
                "left_anti",
            )
        self._append(
            "block_keys", self._ckpt(tagged, eager=True), materialised=True
        )
        self._step_rows["block_keys"].add(step)

    def insert_model_edges(
        self, step: str, edges: DataFrame, fingerprint: bytes | None = None
    ) -> None:
        """Insert scored pair edges for a model step (insert.py:168-250).

        Fast path (no stored fingerprint, plain append): the fingerprint
        stats ride the edge delta's OWN materialisation as an Observation —
        one execution of the (often expensive) edge plan instead of two
        (a fingerprint job, then the lazy checkpoint re-running the plan at
        the next action). A gate-skip after materialising wastes one
        checkpoint of data that was identical anyway — the rare re-sync
        case; the insert path stays one job.
        """
        self._release_assign_temp()  # deferred from a prior lazy assignment
        tagged = edges.select(
            F.lit(step).alias("step"), "left_id", "right_id", "score"
        )
        rewrite = self._step_has_rows("model_edges", "step", step)
        materialised = False
        if fingerprint is None:
            # the reference fingerprint recipe: hash over (score, _pair)
            # with _pair = sorted id pair, so (1,2) ≡ (2,1) (H3 semantics)
            from pyspark.sql import Observation

            pf = edges.withColumn(
                "_pair", F.array_sort(F.array("left_id", "right_id"))
            ).drop("left_id", "right_id")
            h = row_hash_expr(pf.schema, sorted(pf.columns), "xxhash64")
            obs = Observation()
            observed = (
                edges.withColumn(
                    "_pair", F.array_sort(F.array("left_id", "right_id"))
                )
                .withColumn("_h", h)
                .observe(obs, *unordered_stats_aggs())
                .select(
                    F.lit(step).alias("step"), "left_id", "right_id", "score"
                )
            )
            # NOT routed through the exception-swallowing _ckpt: if the
            # eager checkpoint fails, no action ever completes on the
            # observed plan and obs.get would block the driver forever.
            # On failure fall back to the two-job fingerprint path.
            try:
                tagged = observed.localCheckpoint(eager=True)
            except Exception:  # noqa: BLE001 — same rare planning bug _ckpt guards
                fingerprint = hash_table_unordered(pf)
            else:
                fingerprint = fold_unordered_stats([obs.get])
                materialised = True
        if self._fingerprint_gate(step, fingerprint):
            return
        if rewrite:
            self._commit(
                "model_edges",
                self.model_edges.where(F.col("step") != step).unionByName(tagged),
            )
        else:
            self._append("model_edges", tagged, materialised=materialised)
        self._step_rows["model_edges"].add(step)
        self.steps[step] = {
            "type": "model",
            "fingerprint": hash_to_base64(fingerprint),
        }

    def insert_resolver_clusters(
        self, step: str, assignments: DataFrame, fingerprint: bytes | None = None
    ) -> None:
        """Insert resolver output ``(parent_id, child_id)`` as hierarchy rows.

        Children referencing existing roots expand to leaf level (G4);
        parents are content-addressed by the H5 hash of their member-cluster
        hashes; new clusters insert-if-absent; ``contains`` and
        ``resolver_clusters`` rows land last (insert.py:333-511).

        Driver path: when the resolver's auto probe already ran union-find
        on the driver (``assignments`` is a LocalRelation), the fingerprint
        is precomputed and the whole hierarchy so far is driver-mirrored,
        :meth:`_hierarchy_insert_local` content-addresses with ZERO Spark
        jobs instead of ~18 serial AQE stage-jobs of distributed groupBys —
        the j7 serial-action floor VERDICT r10 flagged. Scale-safe by
        construction: the data volume is bounded by the resolver's own
        driver-path decision, and the mirrors exist only while every prior
        mutation was itself driver-local. :meth:`_hierarchy_insert` stays
        the general case.
        """
        self._release_assign_temp()  # deferred from a prior lazy assignment
        apdf = getattr(assignments, "_mb_local_pdf", None)
        local = (
            fingerprint is not None
            and self._driver_contains is not None
            and self._driver_cluster_hashes is not None
            and (apdf is not None or _is_local_plan(assignments))
        )
        if not local:
            # caches (not checkpoints): reused by several derivations below,
            # then explicitly unpersisted once the deltas are materialised
            assignments = assignments.persist()
        if fingerprint is None:
            # membership-hash canonicalisation (H4) without the global sort:
            # per-parent sorted member list hashed, then order-invariant fold
            canon = (
                assignments.groupBy("parent_id")
                .agg(F.sort_array(F.collect_set("child_id")).alias("m"))
                .select(F.col("m").cast("array<string>").alias("members"))
            )
            fingerprint = hash_table_unordered(canon)
        try:
            skip = self._fingerprint_gate(step, fingerprint)
        except FingerprintMismatchError:
            assignments.unpersist()
            raise
        if skip:
            assignments.unpersist()
            return

        if local:
            if apdf is None:
                apdf = assignments.toPandas()  # LocalRelation: Arrow, driver-side
            claims = sorted({r for r, _ in self._hierarchy_insert_local(apdf)})
            rc = self._claims_df(step, claims)
        else:
            rc = (
                self._hierarchy_insert(assignments)
                .select(F.lit(step).alias("step"), F.col("root").alias("cluster_id"))
                .dropDuplicates()
            )
        rcmirror = self._driver_rc
        if self._step_has_rows("resolver_clusters", "step", step):
            self._commit_resolver_clusters(
                self.resolver_clusters.where(F.col("step") != step).unionByName(rc)
            )
        elif not local or claims:
            self._append("resolver_clusters", rc, materialised=local)
        if local and rcmirror is not None:
            # re-establish the claim mirror after the mutation (which
            # blanket-invalidates): the step's claims are exactly
            # ``claims`` — an all-singleton step registers an empty set, so
            # resolver_assignments stays on the mirror-native path — and
            # every other step's VIEW content is unchanged (folded-in
            # tombstones were already subtracted from it)
            rcmirror[step] = set(claims)
            self._driver_rc = rcmirror
        self._step_rows["resolver_clusters"].add(step)
        self.steps[step] = {
            "type": "resolver",
            "fingerprint": hash_to_base64(fingerprint),
        }

    def _hierarchy_insert(self, assignments: DataFrame) -> DataFrame:
        """Content-address one batch of ``(parent_id, child_id)`` assignments.

        The shared core of :meth:`insert_resolver_clusters` and
        :meth:`merge_resolver_clusters_delta`: G4-expand children, H5-hash
        member sets, insert-if-absent new parent clusters, append ``contains``
        rows for the newly-assigned roots. Returns the batch's ``(root,
        leaf)`` hierarchy rows (eagerly checkpointed). Cost is O(assignment
        members) plus read-only anti-joins against accumulated state — the
        caller controls how much of the total state ``assignments`` covers.
        Takes ownership of the caller-persisted ``assignments`` (unpersists
        it once the hierarchy rows materialise).
        """
        # G4: expand children that are themselves roots to their leaves.
        # Cached once — member hashing and the contains rows both reuse it.
        # First hierarchy insert: contains is empty, every child is already a
        # leaf — skip the expansion join outright.
        if self._contains_empty:
            expanded = (
                assignments.select(
                    "parent_id", F.col("child_id").alias("leaf")
                )
                .dropDuplicates()
                .persist()
            )
        else:
            contains = self.contains
            expanded = (
                assignments.alias("a")
                .join(
                    contains.alias("c"),
                    F.col("a.child_id") == F.col("c.root"),
                    "left",
                )
                .select(
                    F.col("a.parent_id").alias("parent_id"),
                    F.coalesce(F.col("c.leaf"), F.col("a.child_id")).alias("leaf"),
                )
                .dropDuplicates()
                .persist()
            )

        # member-cluster hashes → H5 parent hash
        member_hashes = (
            expanded.join(
                self.clusters.select(
                    F.col("cluster_id").alias("leaf"),
                    F.col("cluster_hash").alias("leaf_hash"),
                ),
                "leaf",
            )
            .groupBy("parent_id")
            .agg(
                F.collect_list("leaf_hash").alias("leaf_hashes"),
            )
            .select(
                "parent_id",
                leaf_set_hash_expr(F.col("leaf_hashes")).alias("cluster_hash"),
            )
            .persist()
        )

        new = (
            member_hashes.select("cluster_hash")
            .distinct()
        )
        first_hierarchy_insert = self._contains_empty
        if not self._clusters_empty:
            new = new.join(self.clusters, "cluster_hash", "left_anti")
        # LAZY checkpoint, not persist/eager-checkpoint: the batch size (id
        # watermark) is already known driver-side from the assignment's
        # bucket counts, so nothing needs this plan to run as its own job —
        # it materialises inside the batch_contains job below (roots joins
        # through it), fusing what used to be two serial jobs into one. A
        # checkpoint, unlike a persist, leaves no cache entry behind once
        # the insert returns — the clusters delta keeps reading the
        # checkpointed data until compaction. O(new clusters) — tiny.
        assigned = self._ckpt(
            self._assign_ids(new).select("cluster_id", "cluster_hash"),
            eager=False,
        )
        self._append("clusters", assigned, materialised=True)
        self._clusters_empty = False
        self._bump_max_id(assigned)

        roots = member_hashes.join(self.clusters, "cluster_hash").select(
            "parent_id", F.col("cluster_id").alias("root_id")
        )
        # all hierarchy rows of this batch — the ONE materialisation of the
        # insert (O(batch)); contains/resolver deltas project off it
        batch_contains = self._ckpt(
            expanded.join(roots, "parent_id")
            .select(F.col("root_id").alias("root"), F.col("leaf"))
            .where(F.col("root") != F.col("leaf"))
            .dropDuplicates(),
            eager=True,
        )
        self._release_assign_temp()
        assignments.unpersist()
        expanded.unpersist()
        member_hashes.unpersist()

        # Append-only contains: rows whose root pre-existed are guaranteed
        # already present and identical — cluster ids are content-addressed
        # (same root hash ⇒ same H5 leaf-hash set ⇒ same leaf rows) — so only
        # newly-assigned roots contribute; no O(total) table re-dedup.
        new_contains = batch_contains
        if not first_hierarchy_insert:
            new_contains = batch_contains.join(
                assigned.select(F.col("cluster_id").alias("root")),
                "root",
                "left_semi",
            )
        self._append("contains", new_contains)
        self._contains_empty = False
        return batch_contains

    def _hierarchy_insert_local(self, apdf) -> list[tuple[int, int]]:
        """Driver twin of :meth:`_hierarchy_insert` over the complete
        contains and clusters mirrors, for assignments the driver
        union-find produced (``apdf``: pandas ``parent_id, child_id``):
        ZERO Spark jobs where the distributed core runs its expansion, hash
        and anti-join stages. The appends are LocalRelations.

        Byte-identical outcome to the distributed core: G4 expansion (a
        child that is a prior root expands to its contains leaves; a
        contains-mirror miss IS "child is a leaf"), H5 parent hashes over
        the member leaves present in clusters (``hash_cluster_leaves`` is
        the driver twin of ``leaf_set_hash_expr``) — a parent with no such
        member has no root in the distributed inner join and drops — ids
        from :meth:`_cluster_ids_local`, and append-only contains: only
        newly minted roots contribute rows, since a pre-existing root's
        rows are already present and identical by content addressing.
        Returns the batch's sorted ``(root, leaf)`` rows, root != leaf,
        pre-existing roots included."""
        kmirror = self._driver_contains
        cmirror = self._driver_cluster_hashes
        parents: dict[int, set[int]] = {}
        for p, c in zip(apdf["parent_id"].tolist(), apdf["child_id"].tolist()):
            parents.setdefault(int(p), set()).add(int(c))
        expanded = {
            p: {leaf for c in members for leaf in (kmirror.get(c) or (c,))}
            for p, members in parents.items()
        }
        parent_hash = {}
        for p, leaves in expanded.items():
            member = [cmirror[c] for c in leaves if c in cmirror]
            if member:
                parent_hash[p] = hash_cluster_leaves(member)
        watermark = self._max_id
        root_of = self._cluster_ids_local(parent_hash.values())
        batch_rows = sorted(
            {
                (root_of[h], leaf)
                for p, h in parent_hash.items()
                for leaf in expanded[p]
                if root_of[h] != leaf
            }
        )
        contains_rows = (
            batch_rows
            if self._contains_empty
            else [rl for rl in batch_rows if rl[0] > watermark]
        )
        if contains_rows:
            rows = np.asarray(contains_rows, dtype="int64")
            self._append(
                "contains",
                self._local_df({"root": rows[:, 0], "leaf": rows[:, 1]}, _CONTAINS),
                materialised=True,
            )
            # keep the contains mirror complete across the append it just
            # invalidated; the rows are sorted, so each root's leaves are too
            per_root: dict[int, list[int]] = {}
            for r, leaf in contains_rows:
                per_root.setdefault(r, []).append(leaf)
            kmirror.update((r, tuple(ls)) for r, ls in per_root.items())
            self._driver_contains = kmirror
            self._contains_empty = False
        return batch_rows

    def merge_resolver_clusters_delta(
        self,
        step: str,
        assignments: DataFrame,
        candidate_roots: DataFrame | None = None,
    ) -> None:
        """Streaming partial resolver refresh: O(touched), never O(state).

        ``assignments`` covers ONLY the components a micro-batch could have
        changed (recomputed from the batch's blocks plus prior-component
        star edges); ``candidate_roots`` — a single ``root_id`` column — is
        the step's prior root ids whose components were recomputed. Parents
        are content-addressed exactly like :meth:`insert_resolver_clusters`;
        the step's claim set then moves by DELTA: new roots append, and
        candidate roots that did not re-form (their members merged under a
        bigger parent) retire via an O(touched) tombstone append that the
        ``resolver_clusters`` view anti-joins out — never an O(total
        claims) rewrite. Tombstones fold into the base table every
        ``_COMPACT_WIDTH`` retirements (amortised, same policy as delta
        appends).

        Safety of permanent tombstones: member sets only ever grow along a
        containment chain (streaming edges are append-only), so a merged-
        away root's exact member set — hence its content-addressed id — can
        never re-form as a claim. Idempotent under batch replay: re-derived
        claims anti-join to nothing and re-derived tombstones are
        duplicates the anti-join ignores.
        """
        apdf = getattr(assignments, "_mb_local_pdf", None)
        rpdf = getattr(candidate_roots, "_mb_local_pdf", None)
        rcmirror = self._driver_rc
        # driver path (optimization r13): with the driver CC escape the
        # assignments and candidate roots are already on the driver, and the
        # mirrors hold what the distributed path's three eager checkpoints
        # per micro-batch re-derive — ZERO Spark jobs, same outcome
        local = (
            apdf is not None
            and (candidate_roots is None or rpdf is not None)
            and self._driver_cluster_hashes is not None
            and self._driver_contains is not None
            and rcmirror is not None
        )
        if local:
            quiet = apdf.empty
        else:
            assignments = assignments.persist()
            quiet = assignments.isEmpty()
            if quiet:
                assignments.unpersist()
        if quiet:
            # quiet batch: nothing was recomputed, so there is nothing to
            # append and nothing can have merged away (member sets only
            # grow — a candidate root cannot retire without recomputed
            # membership covering it). On the distributed path one cheap
            # limit-1 job replaces the full hierarchy insert + three eager
            # checkpoints of empty frames, and the delta ledgers do not grow
            # an empty entry per idle micro-batch. The step still registers
            # in the claim mirror, so a quiet FIRST batch keeps it
            # mirror-native.
            if rcmirror is not None:
                rcmirror.setdefault(step, set())
            self.steps[step] = _streaming_meta("resolver")
            return
        retired = None
        if local:
            # the claim mirror tracks the VIEW (appends minus tombstones),
            # so the claim anti-join and the retirement are set algebra
            formed = {r for r, _ in self._hierarchy_insert_local(apdf)}
            stepset = rcmirror.setdefault(step, set())
            new_claims = sorted(formed - stepset)
            if new_claims:
                self._append(
                    "resolver_clusters",
                    self._claims_df(step, new_claims),
                    materialised=True,
                )
                stepset.update(new_claims)
            if rpdf is not None:
                gone = sorted({int(r) for r in rpdf["root_id"].tolist()} - formed)
                if gone:
                    retired = self._claims_df(step, gone)
                    stepset.difference_update(gone)
        else:
            batch_contains = self._hierarchy_insert(assignments)
            rc = batch_contains.select(
                F.lit(step).alias("step"), F.col("root").alias("cluster_id")
            ).dropDuplicates()
            if self._step_has_rows("resolver_clusters", "step", step):
                rc = rc.join(
                    self.resolver_clusters.where(F.col("step") == step).select(
                        "step", "cluster_id"
                    ),
                    ["step", "cluster_id"],
                    "left_anti",
                )
            rc = self._ckpt(rc, eager=True)
            self._append("resolver_clusters", rc, materialised=True)
            if candidate_roots is not None:
                retired = self._ckpt(
                    candidate_roots.select(
                        F.lit(step).alias("step"),
                        F.col("root_id").alias("cluster_id"),
                    ).join(
                        batch_contains.select(
                            F.col("root").alias("cluster_id")
                        ).distinct(),
                        "cluster_id",
                        "left_anti",
                    ),
                    eager=True,
                )
        self._step_rows["resolver_clusters"].add(step)
        if retired is not None:
            # same binary-counter tiering as _append (round 10): without it
            # the anti-join overlay widens by one frame per micro-batch and
            # every downstream plan re-broadcasts the widening union — a
            # measured linear per-batch creep in the embedding delta ramp
            self._tier(self._rc_tombstones, self._rc_tomb_weights, retired)
            if len(self._rc_tombstones) > _COMPACT_WIDTH:
                # ≥ 2^12 retirement batches of tiered runs — effectively a
                # backstop; save() folds tombstones into the base anyway.
                # The view's content — hence the claim mirror — is unchanged
                self._commit_resolver_clusters(self.resolver_clusters)
        if local:
            # the mutations blanket-invalidated the claim mirror; its step
            # entry moved by exactly the appended and retired claims
            self._driver_rc = rcmirror
        self.steps[step] = _streaming_meta("resolver")

    # -- admin ---------------------------------------------------------------

    def counts(self) -> dict[str, int]:
        """A10: entity counts per table."""
        return {name: getattr(self, name).count() for name in self._table_names()}

    def source_steps(self) -> Iterable[str]:
        return [s for s, m in self.steps.items() if m["type"] == "source"]
