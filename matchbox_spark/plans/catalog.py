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
The driver kernels append pandas *driver runs*, which reach Spark only
when a read needs them (``Catalog._read``).
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
import pandas as pd
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
from matchbox_spark.schemas import local_frame


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


# Byte budget for the driver catalog kernels: checked against the optimizer's
# size estimate for a source index, and against a table's row count when its
# mirror rebuilds (Catalog.mirror); 0 forces the distributed path.
_INDEX_DRIVER_BYTES = 256 << 20


def _pack_pairs(left, right) -> np.ndarray | None:
    """``(left << 32) | right`` as uint64 keys, whose integer order is the
    lexicographic pair order (integer sorts and searches run ~5-10x a
    structured (l, r) array's); None when an id is outside [0, 2^32)."""
    l64 = np.asarray(left, dtype="int64")
    r64 = np.asarray(right, dtype="int64")
    if len(l64) and (
        min(l64.min(), r64.min()) < 0 or max(l64.max(), r64.max()) >= 1 << 32
    ):
        return None
    return (l64.astype(np.uint64) << np.uint64(32)) | r64.astype(np.uint64)


class _ClusterCopy:
    """The driver copy of ``clusters``, in both directions: ``hashes[i]`` is
    the hash of id ``i`` (ids are dense from 1, so a list indexed by id;
    slot 0 and any hole hold None) and ``ids`` maps a hash to its id. A
    probe by hash is then one dict lookup, not a scan of the table."""

    __slots__ = ("hashes", "ids")

    def __init__(self, rows: list[tuple[int, bytes]]):
        top = max((i for i, _ in rows), default=0)
        self.hashes: list[bytes | None] = [None] * (top + 1)
        for i, h in rows:
            self.hashes[i] = bytes(h)
        self.ids = {h: i for i, h in enumerate(self.hashes) if h is not None}

    def hash_of(self, cid: int) -> bytes | None:
        """The hash of id ``cid``; None when the table has no such id."""
        return self.hashes[cid] if 0 < cid < len(self.hashes) else None

    def add(self, first: int, hashes: list[bytes]) -> None:
        """Record ``hashes`` under the ids ``first, first + 1, ...``, which
        lie above every id held."""
        self.hashes.extend([None] * (first - len(self.hashes)))
        self.hashes.extend(hashes)
        self.ids.update(zip(hashes, range(first, first + len(hashes))))


class _DriverRun:
    """A run of a catalog table held on the driver: its rows as the pandas
    frame ``pdf`` (columns of the DDL ``schema``) and, once a Spark read
    needed them, their one upload ``df``, a LocalRelation. A LocalRelation
    has an exact size estimate (downstream joins can broadcast it) and at
    most ``defaultParallelism`` partitions."""

    __slots__ = ("pdf", "schema", "df")

    def __init__(self, pdf, schema: str):
        self.pdf = pdf
        self.schema = schema
        self.df: DataFrame | None = None

    def upload(self, spark) -> DataFrame:
        if self.df is None:
            self.df = local_frame(spark, self.pdf, self.schema)
        return self.df


def _group_index_rows(pdf):
    """``groupBy("hash").agg(sort_array(collect_list("key")).alias("keys"),
    first(c) ...)`` over the collected hashed rows ``pdf`` (columns
    ``hash``, ``key`` and any others), on the driver. As in Spark: null
    keys drop out, a hash whose keys are all null keeps an empty list, keys
    sort in string order (code point order, which is UTF-8 byte order),
    and each other column takes its first row's value, null or not (so not
    pandas' ``first``, which skips nulls). Returns one row per hash, with
    the hash named ``cluster_hash``."""
    pdf["hash"] = [bytes(h) for h in pdf["hash"]]
    keyed = pdf.loc[pdf["key"].notna(), ["hash", "key"]]
    lists = keyed.sort_values("key", kind="stable").groupby("hash", sort=False)[
        "key"
    ].agg(list)
    out = pdf.drop_duplicates("hash").drop(columns="key").reset_index(drop=True)
    out["keys"] = [k if isinstance(k, list) else [] for k in out["hash"].map(lists)]
    return out.rename(columns={"hash": "cluster_hash"})


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
_PAIRS = "left_id long, right_id long, score float"
_ASSIGN = "parent_id long, child_id long"


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
        # each table = union of runs (append-oriented state): Spark frames
        # and driver runs (see _append)
        self._parts: dict[str, list] = {n: [] for n in _SCHEMAS}
        # parallel tiering weights for _append's binary-counter compaction
        self._part_weights: dict[str, list[int]] = {n: [] for n in _SCHEMAS}
        self._empty_tables: dict[str, DataFrame] = {}
        self.steps: dict[str, dict] = {}
        self._max_id = 0
        self._last_assigned_n = 0
        self._assign_temp: DataFrame | None = None
        self._contains_empty = True
        self._clusters_empty = True
        # table name → driver copy of the table, or None for a refused
        # rebuild: a cache of the table, see mirror()
        self._mirrors: dict[str, object] = {}
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
        self._rc_tombstones: list = []
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
        """The one Spark read of table ``name``: the union of its runs (see
        :meth:`_read`)."""
        parts = self._parts[name]
        if not parts:
            # memoised: a fresh upload per access would mint new attribute
            # ids each time, so callers that touch the property twice (e.g.
            # a join built from two accesses) fail analysis. An empty
            # LocalRelation, so a join against it can still broadcast.
            if name not in self._empty_tables:
                self._empty_tables[name] = local_frame(
                    self.spark, pd.DataFrame(), _SCHEMAS[name]
                )
            return self._empty_tables[name]
        return self._read(parts, self._sync_weights(name))

    def _read(self, runs: list, weights: list[int]) -> DataFrame:
        """The union of ``runs`` as one Spark frame. Driver runs not yet
        uploaded (appended since the last read) first concatenate into ONE
        run, which re-enters the tiering at their summed weight and replaces
        them in ``runs``; then each driver run uploads once and keeps its
        upload. So a read after appends costs one upload, and repeated reads
        share attribute ids, as the empty-table memo above needs."""
        pending = [
            i for i, r in enumerate(runs) if isinstance(r, _DriverRun) and r.df is None
        ]
        if pending:
            chunk = pd.concat([runs[i].pdf for i in pending], ignore_index=True)
            weight = sum(weights[i] for i in pending)
            schema = runs[pending[0]].schema
            for i in reversed(pending):
                del runs[i], weights[i]
            self._tier(runs, weights, _DriverRun(chunk, schema), weight)
        frames = [
            r.upload(self.spark) if isinstance(r, _DriverRun) else r for r in runs
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
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
        tomb = self._read(self._rc_tombstones, self._rc_tomb_weights)
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

    def _append(self, name: str, delta, materialised: bool = False) -> None:
        """Append one immutable delta; amortised O(delta · log n), never an
        O(total state) spike on one unlucky mutation.

        A pandas ``delta`` is a *driver run*: stored as it is, with no
        upload, union or plan probe. It reaches Spark only when a read
        needs it (:meth:`_read`), so a driver kernel that appends on every
        micro-batch while nothing reads the table uploads nothing. A Spark
        ``delta`` is lazily checkpointed unless ``materialised=True`` (the
        caller already checkpointed it) or it plans as a LocalRelation —
        the truncation folds into the first downstream action instead of
        forcing a serial job per mutation.

        Compaction is LSM-style binary-counter tiering (:meth:`_tier`), so a
        run of total size s is rewritten O(log s) times over its life and no
        single append folds the whole table. Plan width stays ≤ log2(deltas)
        + the compacted base, under _COMPACT_WIDTH in practice (the bound
        remains as a backstop for pathological weight states).
        """
        if self._mirrors.get(name) is not None:
            del self._mirrors[name]  # stale; a refusal stands, appends only grow
        if isinstance(delta, pd.DataFrame):
            delta = _DriverRun(delta, _SCHEMAS[name])
        elif not materialised and not _is_local_plan(delta):
            # a LocalRelation has no lineage worth truncating, and
            # checkpointing would throw away its exact size estimate
            delta = self._ckpt(delta, eager=False)
        parts = self._parts[name]
        weights = self._sync_weights(name)
        self._tier(parts, weights, delta)
        if len(parts) > _COMPACT_WIDTH:
            self._parts[name] = [self._ckpt(self._table(name), eager=False)]
            self._part_weights[name] = [1 << 30]

    def _tier(self, runs: list, weights: list[int], delta, weight: int = 1) -> None:
        """Binary-counter carry: push ``delta`` at ``weight``, then merge
        the two most-recent runs while they share a weight class. Shared by
        ``_append``, :meth:`_read` and the resolver-tombstone overlay — one
        copy of the carry rule, so a policy change cannot silently diverge.

        Two driver runs merge into one pandas chunk, which uploads as ONE
        LocalRelation when read: a driver run never holds more than
        ``defaultParallelism`` partitions, so a table's partitions stay
        O(runs). Any other pair unions (a driver run uploads first) under a
        lazy checkpoint."""
        runs.append(delta)
        weights.append(weight)
        while (
            len(weights) >= 2
            and weights[-1].bit_length() == weights[-2].bit_length()
        ):
            w2, w1 = weights.pop(), weights.pop()
            p2, p1 = runs.pop(), runs.pop()
            if isinstance(p1, _DriverRun) and isinstance(p2, _DriverRun):
                merged = _DriverRun(
                    pd.concat([p1.pdf, p2.pdf], ignore_index=True), p1.schema
                )
            else:
                p1, p2 = (
                    p.upload(self.spark) if isinstance(p, _DriverRun) else p
                    for p in (p1, p2)
                )
                merged = self._ckpt(p1.unionByName(p2), eager=False)
            runs.append(merged)
            weights.append(w1 + w2)

    def _commit(self, name: str, df: DataFrame) -> None:
        """Rewrite path: replace a table wholesale (drop/replace a step).

        Lazy checkpoint — the O(total) cost lands on the next action, once.
        Append paths should use ``_append``; this exists for the rare
        filter-out-a-step mutations and external callers (streaming merge).
        """
        self._mirrors.pop(name, None)  # the table may shrink: forget refusals too
        self._parts[name] = [self._ckpt(df, eager=False)]
        self._part_weights[name] = [1 << 30]  # fully-compacted run

    def _step_has_rows(self, table: str, col: str, step: str) -> bool:
        """Whether ``table`` may already hold rows for ``step`` (decides
        append vs filter-rewrite). Disk-loaded state answers True — the row
        inventory isn't tracked across sessions, so rewriting is the safe
        default there."""
        del col
        return self._loaded_from_disk or step in self._step_rows[table]


    def _spark_frame(self, frame, schema: str) -> DataFrame:
        """``frame`` as a Spark frame: a pandas frame (a driver branch's
        input that a distributed branch must take) uploads as a
        LocalRelation with the DDL ``schema``."""
        if isinstance(frame, pd.DataFrame):
            return local_frame(self.spark, frame, schema)
        return frame

    @staticmethod
    def _claims_df(step: str, ids: list[int]):
        """``resolver_clusters`` rows ``ids`` under ``step``, as a driver
        run."""
        return pd.DataFrame(
            {"step": [step] * len(ids), "cluster_id": np.asarray(ids, dtype="int64")}
        )

    def mirror(self, *names: str, rebuild: bool = True) -> tuple | None:
        """Driver copies of the tables ``names``, all of them or None.

        A mirror is a cache of its table. ``_append`` and ``_commit`` drop
        the table's entry, and a fresh, loaded or reopened catalog has
        none. A miss rebuilds the copy with one collect when the table fits
        :data:`_INDEX_DRIVER_BYTES` (0: never), sized at its row count —
        ``_max_id`` for ``clusters`` (ids are dense from 1), one count job
        otherwise; ``model_edges`` must also fit the driver CC edge cap and
        hold ids below 2^32. A refusal is remembered (a None entry) until
        the table can shrink — appends only grow it, so only ``_commit`` or
        a reload clears it. Every size is checked before anything is
        collected, so a call that returns None collects nothing.
        ``rebuild=False`` builds only copies that cost no job (tables known
        empty): for kernels that merely append rows they hold. Such a
        kernel updates the copy in place and puts it back right after its
        own append. The driver kernels append driver runs and keep the
        copies current, so on their path no copy is rebuilt and no run is
        uploaded; a rebuild reads the table like any Spark reader, which
        uploads its pending driver runs first (:meth:`_read`).

        Copies: ``clusters`` a :class:`_ClusterCopy` (cluster_id ↔
        cluster_hash); ``contains`` root →
        sorted leaf tuple; ``cluster_keys`` source → {(cluster_id, key)};
        ``resolver_clusters`` step → {cluster_id} as the view shows them
        (appends minus tombstones), with an entry for every resolver step;
        ``model_edges`` step → sorted :func:`_pack_pairs` keys."""
        from matchbox_spark.plans.resolvers import _driver_cc_edge_limit

        if _INDEX_DRIVER_BYTES <= 0 or any(
            n in self._mirrors and self._mirrors[n] is None for n in names
        ):
            return None
        rows: dict[str, int | None] = {}  # per missing copy; None: unknown
        for n in names:
            if n not in self._mirrors:
                empty = not self._parts[n] or (n == "contains" and self._contains_empty)
                rows[n] = self._max_id if n == "clusters" else 0 if empty else None
        if not rebuild and any(r != 0 for r in rows.values()):
            return None
        frames = {  # a table known empty needs no read
            n: self.resolver_clusters if n == "resolver_clusters" else self._table(n)
            for n in rows
            if rows[n] != 0
        }
        for n in sorted(frames, key=lambda n: rows[n] is None):  # free sizes first
            if rows[n] is None:  # one job: an RDD count has no exchange stage
                rows[n] = frames[n]._jdf.queryExecution().toRdd().count()
            row_bytes = 8 + frames[n]._jdf.schema().defaultSize()
            if rows[n] * row_bytes > _INDEX_DRIVER_BYTES or (
                n == "model_edges" and rows[n] > _driver_cc_edge_limit(self.spark)
            ):
                self._mirrors[n] = None
                return None
        for n in rows:
            pdf = frames[n].toPandas() if rows[n] else None
            self._mirrors[n] = self._copy_of(n, pdf)
        copies = tuple(self._mirrors[n] for n in names)
        return None if any(c is None for c in copies) else copies

    def _copy_of(self, name: str, pdf):
        """The driver copy of table ``name`` from its collected rows
        (``pdf`` None: the table is empty); None when ``model_edges`` holds
        an id :func:`_pack_pairs` refuses."""
        # by name: a reopened table reads its partition column last
        names = [f.split()[0] for f in _SCHEMAS[name].split(", ")]
        cols = [] if pdf is None else [pdf[c].tolist() for c in names]
        rows = list(zip(*cols))
        out: dict = {}
        if name == "clusters":
            return _ClusterCopy(rows)
        if name == "contains":
            for root, leaf in sorted(rows):
                out.setdefault(root, []).append(leaf)
            return {root: tuple(leaves) for root, leaves in out.items()}
        if name == "model_edges":
            for step, group in () if pdf is None else pdf.groupby("step"):
                packed = _pack_pairs(group["left_id"], group["right_id"])
                if packed is None:
                    return None
                out[step] = np.unique(packed)
            return out
        if name == "resolver_clusters":
            out = {s: set() for s, m in self.steps.items() if m["type"] == "resolver"}
            for step, cid in rows:
                out.setdefault(step, set()).add(cid)
            return out
        for cid, source, key in rows:  # cluster_keys
            out.setdefault(source, set()).add((cid, key))
        return out

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
        """Insert-if-absent by hash against the complete clusters copy (a
        copy miss IS a table miss), one dict probe per hash. New hashes get
        dense ids in unsigned byte order of the hash — what
        ``dense_index`` over digest-prefix buckets and per-bucket
        BinaryType windows gives the distributed paths. Their rows append
        to ``clusters`` as one driver run (no job) and extend the copy,
        which the caller got from :meth:`mirror`. Returns the copy's
        ``hash → cluster_id`` map, which then holds every hash of
        ``hashes``; callers only read it."""
        copy = self._mirrors["clusters"]
        new = sorted({h for h in hashes if h not in copy.ids})
        if new:
            first = self._max_id + 1
            self._append(
                "clusters",
                pd.DataFrame(
                    {
                        "cluster_id": np.arange(first, first + len(new), dtype="int64"),
                        "cluster_hash": new,
                    }
                ),
            )
            copy.add(first, new)
            self._mirrors["clusters"] = copy
            self._max_id += len(new)
            self._clusters_empty = False
        return copy.ids

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
        if fingerprint is None and self._index_insert_local(step, index):
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
            self._clusters_empty = False
            self._bump_max_id(assigned)
            keys = self._unnest_keys(assigned, step)
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
            # materialise before the cached index is freed
            keys = self._ckpt(self._index_insert_spark(step, index), eager=True)
            index.unpersist()
            keys_materialised = True

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

    @staticmethod
    def _unnest_keys(index: DataFrame, step: str) -> DataFrame:
        """``cluster_keys`` rows of ``index`` (``cluster_id``, ``keys``)
        under ``step``. Per-array dedup, not a global dropDuplicates
        shuffle: the index is unique by hash and cluster_id↔hash is 1:1, so
        a duplicate (cluster_id, key) pair can only come from WITHIN one
        hash-group's array (two fully-identical source rows) —
        array_distinct is equivalent and exchange-free."""
        return index.select(
            "cluster_id",
            F.lit(step).alias("source"),
            F.explode(F.array_distinct("keys")).alias("key"),
        )

    def _index_insert_spark(self, step: str, index: DataFrame) -> DataFrame:
        """The Spark body of both source-index inserts past their step
        policy, over ``index`` (``cluster_hash``, ``keys``) that the caller
        persisted: the hashes not yet in ``clusters`` (a ``left_anti``
        join) get dense ids under one eager checkpoint, so the assignment
        temp frees at once, and append to ``clusters``. Returns the plan of
        the index's ``cluster_keys`` rows under ``step``; the caller
        filters it by its policy, materialises it, then unpersists
        ``index``."""
        new = index.select("cluster_hash")
        if not self._clusters_empty:
            new = new.join(self.clusters, "cluster_hash", "left_anti")
        assigned = self._ckpt(
            self._assign_ids(new).select("cluster_id", "cluster_hash"),
            eager=True,  # O(delta); lets the assignment temp free now
        )
        self._release_assign_temp()
        self._append("clusters", assigned, materialised=True)
        self._clusters_empty = False
        self._bump_max_id(assigned)
        return self._unnest_keys(index.join(self.clusters, "cluster_hash"), step)

    def _index_insert_local(self, step: str, index: DataFrame) -> bool:
        """Driver twin of :meth:`insert_source_index`: ONE collect of the
        index instead of the distributed branches' serial stage rounds
        (stats, assignment checkpoint, keys checkpoint — under AQE even the
        "lazy" assignment checkpoint executes its window's shuffle stages,
        one more serial stage round per source step, the j7 serial-action
        floor). The step is fingerprint-gated, and a step that already has
        rows is refused (the re-sync filter-rewrite stays distributed). The
        per-row xxhash64 stays JVM-computed, so the fold of (n, Σ_h, ⊕_h)
        over the collected signed hashes is the distributed per-bucket
        ``unordered_stats_aggs`` fold (associative; one global group is one
        valid grouping). The insert itself is :meth:`_index_apply_local`.

        Returns False, having done nothing, when the step has rows or
        :meth:`_index_fits` refuses ``index``; True otherwise."""
        if self._step_has_rows("cluster_keys", "source", step):
            return False
        if not self._index_fits(index, "clusters"):
            return False
        index = index.select(F.col("hash").alias("cluster_hash"), "keys")
        h = row_hash_expr(index.schema, ["cluster_hash", "keys"], "xxhash64")
        pdf = index.withColumn("_h", h).toPandas()
        hs = pdf.pop("_h").to_numpy(dtype="int64")
        fingerprint = fold_unordered_stats(
            [{"n": len(hs), "s": sum(hs.tolist()), "x": np.bitwise_xor.reduce(hs)}]
        )
        if not self._fingerprint_gate(step, fingerprint):
            meta = {"type": "source", "fingerprint": hash_to_base64(fingerprint)}
            self._index_apply_local(step, pdf, meta)
        return True

    def _index_fits(self, index: DataFrame, *tables: str) -> bool:
        """The driver index kernels' gate, decided with no job: the
        optimizer's size estimate for ``index`` must fit
        :data:`_INDEX_DRIVER_BYTES` (read driver-side, so a 100 TB index
        never collects), and :meth:`mirror` must give a copy of each of
        ``tables``, the tables the kernel reads."""
        try:
            est = int(
                str(index._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:  # noqa: BLE001 — estimation only; general path
            return False
        return est <= _INDEX_DRIVER_BYTES and self.mirror(*tables) is not None

    def _index_apply_local(self, step: str, pdf, meta: dict):
        """Insert the collected index ``pdf`` (``cluster_hash``, ``keys``,
        any other columns) under ``step`` with ``meta``, on the table
        copies :meth:`_index_fits` checked: the insert-if-absent anti-join
        and the keys → cluster-id join are lookups in the clusters copy,
        and each ``(cluster_id, key)`` pair is anti-joined against the
        step's pairs in the keys copy, so a replayed batch appends nothing.
        A bulk insert, whose step has no rows, keeps that copy only when it
        exists.

        Byte-identical outcome to the distributed branches: ids from
        :meth:`_cluster_ids_local`, keys deduplicated per array in
        first-occurrence order (``array_distinct``). The appends are
        driver runs (no job, no upload); the next read uploads them as a
        LocalRelation, which lets downstream joins against
        ``clusters``/``cluster_keys`` broadcast. Returns ``pdf``
        with its assigned ``cluster_id`` column."""
        kcopy = self.mirror("cluster_keys", rebuild=False)
        hash_bytes = [bytes(b) for b in pdf["cluster_hash"]]
        id_of = self._cluster_ids_local(hash_bytes)
        seen = kcopy[0].setdefault(step, set()) if kcopy is not None else set()
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
                pd.DataFrame(
                    {
                        "cluster_id": np.asarray(key_ids, dtype="int64"),
                        "source": step,
                        "key": key_vals,
                    }
                ),
            )
        if kcopy is not None:  # the step's pairs grew by the appended rows
            seen.update(zip(key_ids, key_vals))
            self._mirrors["cluster_keys"] = kcopy[0]
        self._step_rows["cluster_keys"].add(step)
        self.steps[step] = meta
        pdf["cluster_id"] = [id_of[h] for h in hash_bytes]
        return pdf

    def insert_source_index_delta_mapped(self, step: str, rows: DataFrame):
        """Merge a micro-batch's hashed rows into the source index under
        ``step`` on the driver, and RETURN the batch mapping: the one merge
        kernel of every streaming route and of
        :meth:`insert_source_index_delta`'s driver branch.

        ``rows`` is UN-grouped: ``hash``, ``key`` and any further columns
        (e.g. per-hash blocking values). After the :meth:`_index_fits`
        gate, ONE Arrow collect of ``rows`` is the call's only Spark job,
        with no exchange: :func:`_group_index_rows` groups it on the driver
        to exactly what ``groupBy("hash")`` with
        ``sort_array(collect_list("key"))`` and ``first`` of every other
        column gives, and :meth:`_index_apply_local` merges it. Returns the
        grouped batch as a pandas frame with its assigned ``cluster_id``
        column, which the streaming routes read with no further job. An
        empty batch returns an empty frame before any mutation (no step
        registered), so the collect doubles as the stream's emptiness
        check. Returns None, having collected and inserted nothing, when
        the gate refuses (no table copy / over-budget rows); the rows then
        take :meth:`insert_source_index_delta`'s Spark branch.
        """
        if not self._index_fits(rows, "clusters", "cluster_keys"):
            return None
        pdf = rows.toPandas()
        if pdf.empty:
            pdf = pdf.rename(columns={"hash": "cluster_hash", "key": "keys"})
            return pdf.assign(cluster_id=[])
        return self._index_apply_local(
            step, _group_index_rows(pdf), _streaming_meta("source")
        )

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

        The driver branch hands the index's rows, one per ``(hash, key)``
        (``explode_outer``, so a hash with no key stays), to
        :meth:`insert_source_index_delta_mapped`'s kernel. The step is not
        fingerprint-gated — a streaming step is perpetually amendable; its
        metadata records ``streaming: True``.
        """
        rows = index.select("hash", F.explode_outer("keys").alias("key"))
        if self.insert_source_index_delta_mapped(step, rows) is not None:
            # an empty index registers the step too, as the Spark branch does
            self.steps[step] = _streaming_meta("source")
            return
        index = index.select(
            F.col("hash").alias("cluster_hash"), F.col("keys")
        ).persist()
        # a null key drops out, as in the kernel's grouping; it could never
        # anti-join away, so each replay would append it again
        keys = self._index_insert_spark(step, index).where(F.col("key").isNotNull())
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

    def insert_model_edges_delta(self, step: str, edges) -> None:
        """Streaming/merge insert: append new scored edges under ``step``.

        Only pairs not already recorded for the step are appended (anti-join
        on ``(left_id, right_id)`` — read-only over accumulated state); the
        existing edge set is never dropped or rewritten. Assumes the model is
        deterministic, so a re-derived pair carries the same score as the
        stored one. Idempotent under batch replay.

        ``edges`` (``left_id``, ``right_id``, ``score``) is a pandas frame
        on the driver branch or a Spark frame on the distributed one. Driver
        branch (optimization r13): pandas edges (the streaming delta-link
        collects each batch's edge set under the CC driver budget anyway)
        and a :meth:`mirror` copy of ``model_edges`` make the pair anti-join
        one vectorized search of the step's sorted pair keys and the append
        a driver run — zero jobs, no upload. The copy is capped by the same
        budget and holds ids below 2^32; a step outgrowing the cap or a
        batch with a larger id refuses the copy BEFORE mutating, so this
        batch and later ones take the distributed branch below until the
        table can shrink.
        """
        got = self.mirror("model_edges") if isinstance(edges, pd.DataFrame) else None
        if got is not None:
            from matchbox_spark.plans.resolvers import _driver_cc_edge_limit

            emirror = got[0]
            acc = emirror.get(step)
            n_acc = 0 if acc is None else len(acc)
            pairs = _pack_pairs(edges["left_id"], edges["right_id"])
            if pairs is None or n_acc + len(pairs) > _driver_cc_edge_limit(self.spark):
                self._mirrors["model_edges"] = None  # refused: 64-bit id or over cap
            else:
                if n_acc:
                    pos = np.minimum(np.searchsorted(acc, pairs), n_acc - 1)
                    keep = np.nonzero(acc[pos] != pairs)[0]
                else:
                    keep = np.arange(len(pairs))
                if len(keep):
                    sub = edges.iloc[keep]
                    delta = pd.DataFrame(
                        {
                            "step": [step] * len(keep),
                            "left_id": sub["left_id"].astype("int64").values,
                            "right_id": sub["right_id"].astype("int64").values,
                            "score": sub["score"].astype("float32").values,
                        }
                    )
                    self._append("model_edges", delta)
                    # merge the sorted delta into the sorted copy in one
                    # O(acc + delta) pass: np.unique(concatenate) re-sorted
                    # the FULL accumulated edge array every micro-batch
                    # (O(E log E) — optimization r14). `add` is disjoint
                    # from `acc` by the keep filter, so the insert is the
                    # exact merge.
                    add = np.unique(pairs[keep])
                    emirror[step] = (
                        np.insert(acc, np.searchsorted(acc, add), add) if n_acc else add
                    )
                    self._mirrors["model_edges"] = emirror
                self._step_rows["model_edges"].add(step)
                self.steps[step] = _streaming_meta("model")
                return
        tagged = self._spark_frame(edges, _PAIRS).select(
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
        self, step: str, assignments, fingerprint: bytes | None = None
    ) -> None:
        """Insert resolver output ``(parent_id, child_id)`` as hierarchy rows.

        Children referencing existing roots expand to leaf level (G4);
        parents are content-addressed by the H5 hash of their member-cluster
        hashes; new clusters insert-if-absent; ``contains`` and
        ``resolver_clusters`` rows land last (insert.py:333-511).

        Driver path: when the resolver's driver CC already put the
        assignments on the driver (``assignments`` is pandas, or a Spark
        LocalRelation, whose ``collect`` runs no job; a distributed CC
        whose rounds finished on the driver hands on the same), the fingerprint
        is precomputed and :meth:`mirror` has copies of ``clusters`` and
        ``contains`` (rebuilt if they fit its budget),
        :meth:`_hierarchy_insert_local` content-addresses with ZERO Spark
        jobs beyond any rebuild, instead of ~18 serial AQE stage-jobs of
        distributed groupBys — the j7 serial-action floor VERDICT r10
        flagged. Scale-safe by construction: the assignments are bounded by
        the resolver's own driver-path decision and the copies by the
        catalog's budget. :meth:`_hierarchy_insert` stays the general case.
        """
        self._release_assign_temp()  # deferred from a prior lazy assignment
        local = fingerprint is not None and (
            isinstance(assignments, pd.DataFrame) or _is_local_plan(assignments)
        )
        if local:
            if self._fingerprint_gate(step, fingerprint):
                return
            # the copies rebuild only for a step the gate lets through
            local = self.mirror("clusters", "contains") is not None
        if local:
            if isinstance(assignments, DataFrame):
                assignments = pd.DataFrame(
                    assignments.collect(), columns=["parent_id", "child_id"]
                )
            claims = sorted({r for r, _ in self._hierarchy_insert_local(assignments)})
            rc = self._claims_df(step, claims)
        else:
            # caches (not checkpoints): reused by several derivations below,
            # then explicitly unpersisted once the deltas are materialised
            assignments = self._spark_frame(assignments, _ASSIGN).persist()
            if fingerprint is None:
                # membership-hash canonicalisation (H4) without the global
                # sort: per-parent sorted member list hashed, then
                # order-invariant fold
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
            rc = (
                self._hierarchy_insert(assignments)
                .select(F.lit(step).alias("step"), F.col("root").alias("cluster_id"))
                .dropDuplicates()
            )
        # the driver path only appends claims it holds: keep a copy current
        rccopy = self.mirror("resolver_clusters", rebuild=False) if local else None
        if self._step_has_rows("resolver_clusters", "step", step):
            self._commit_resolver_clusters(
                self.resolver_clusters.where(F.col("step") != step).unionByName(
                    self._spark_frame(rc, _RESOLVER)
                )
            )
        elif not local or claims:
            self._append("resolver_clusters", rc)
        if rccopy is not None:
            # the step's claims are exactly ``claims`` — an all-singleton
            # step registers an empty set, so resolver_assignments stays on
            # the copy — and every other step's view content is unchanged
            rccopy[0][step] = set(claims)
            self._mirrors["resolver_clusters"] = rccopy[0]
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
        """Driver twin of :meth:`_hierarchy_insert` over the ``contains``
        and ``clusters`` copies the caller got from :meth:`mirror`, for
        assignments the driver union-find produced (``apdf``: pandas
        ``parent_id, child_id``):
        ZERO Spark jobs where the distributed core runs its expansion, hash
        and anti-join stages. The appends are driver runs.

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
        kmirror = self._mirrors["contains"]
        ccopy = self._mirrors["clusters"]
        parents: dict[int, set[int]] = {}
        for p, c in zip(apdf["parent_id"].tolist(), apdf["child_id"].tolist()):
            parents.setdefault(int(p), set()).add(int(c))
        expanded = {
            p: {leaf for c in members for leaf in (kmirror.get(c) or (c,))}
            for p, members in parents.items()
        }
        parent_hash = {}
        for p, leaves in expanded.items():
            member = [h for h in map(ccopy.hash_of, leaves) if h is not None]
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
                "contains", pd.DataFrame({"root": rows[:, 0], "leaf": rows[:, 1]})
            )
            # the rows are sorted, so each root's leaves are too
            per_root: dict[int, list[int]] = {}
            for r, leaf in contains_rows:
                per_root.setdefault(r, []).append(leaf)
            kmirror.update((r, tuple(ls)) for r, ls in per_root.items())
            self._mirrors["contains"] = kmirror
            self._contains_empty = False
        return batch_rows

    def merge_resolver_clusters_delta(
        self,
        step: str,
        assignments,
        candidate_roots=None,
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

        Driver branch (optimization r13): pandas assignments (and candidate
        roots, when given) from the driver CC, plus the table copies, which
        hold what the distributed branch's three eager checkpoints per
        micro-batch re-derive — ZERO Spark jobs, same outcome. Otherwise
        both inputs go to the distributed branch as Spark frames.
        """
        got = None
        if isinstance(assignments, pd.DataFrame) and not isinstance(
            candidate_roots, DataFrame
        ):
            got = self.mirror("clusters", "contains", "resolver_clusters")
        local = got is not None
        rcmirror = got[2] if local else None
        if local:
            quiet = assignments.empty
        else:
            assignments = self._spark_frame(assignments, _ASSIGN).persist()
            if candidate_roots is not None:
                candidate_roots = self._spark_frame(candidate_roots, "root_id long")
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
            # in the claim copy, so a quiet FIRST batch keeps it on the copy.
            if rcmirror is not None:
                rcmirror.setdefault(step, set())
            self.steps[step] = _streaming_meta("resolver")
            return
        retired = None
        if local:
            # the claim copy tracks the VIEW (appends minus tombstones),
            # so the claim anti-join and the retirement are set algebra
            formed = {r for r, _ in self._hierarchy_insert_local(assignments)}
            stepset = rcmirror.setdefault(step, set())
            new_claims = sorted(formed - stepset)
            if new_claims:
                self._append("resolver_clusters", self._claims_df(step, new_claims))
                stepset.update(new_claims)
            if candidate_roots is not None:
                roots = {int(r) for r in candidate_roots["root_id"].tolist()}
                gone = sorted(roots - formed)
                if gone:
                    retired = _DriverRun(self._claims_df(step, gone), _RESOLVER)
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
                # The view's content — hence the claim copy — is unchanged
                self._commit_resolver_clusters(self.resolver_clusters)
        if local:  # the step entry moved by the appended and retired claims
            self._mirrors["resolver_clusters"] = rcmirror
        self.steps[step] = _streaming_meta("resolver")

    # -- admin ---------------------------------------------------------------

    def counts(self) -> dict[str, int]:
        """A10: entity counts per table."""
        return {name: getattr(self, name).count() for name in self._table_names()}

    def source_steps(self) -> Iterable[str]:
        return [s for s, m in self.steps.items() if m["type"] == "source"]
