"""Spans around the program's public entry points, from outside the program.

``Tracer.install()`` replaces each entry point listed in ``ENTRY_POINTS``
with a wrapper, wherever the function object is bound (its defining module
and every module that imported it by name). A wrapper records a span (name,
start, end, parent, thread) and tags the Spark jobs it starts with
``setJobGroup(<span id>)``. After the session stops, ``rollup`` reads the
Spark event log and attributes each job's stages and tasks to its span;
streaming jobs that carry no group are attributed through their
``streaming.sql.batchId`` job property to the enclosing stream span.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import statistics
import sys
import threading
import time

import pyarrow.parquet as pq

# span name → (module, attribute path) of the wrapped entry point; the span
# name's first component is the layer
ENTRY_POINTS = {
    "session.get_spark": ("matchbox_spark.session", "get_spark"),
    "sources.index": ("matchbox_spark.sources.source", "SourceConfig.index"),
    "dag.run": ("matchbox_spark.plans.dag", "DAG.run"),
    "catalog.insert_source_index": ("matchbox_spark.plans.catalog", "Catalog.insert_source_index"),
    "catalog.insert_model_edges": ("matchbox_spark.plans.catalog", "Catalog.insert_model_edges"),
    "catalog.insert_resolver_clusters": ("matchbox_spark.plans.catalog", "Catalog.insert_resolver_clusters"),
    "catalog.insert_source_index_delta": ("matchbox_spark.plans.catalog", "Catalog.insert_source_index_delta"),
    "catalog.insert_source_index_delta_mapped": ("matchbox_spark.plans.catalog", "Catalog.insert_source_index_delta_mapped"),
    "catalog.insert_model_edges_delta": ("matchbox_spark.plans.catalog", "Catalog.insert_model_edges_delta"),
    "catalog.merge_resolver_clusters_delta": ("matchbox_spark.plans.catalog", "Catalog.merge_resolver_clusters_delta"),
    "operators.dedupe": ("matchbox_spark.operators.dedupers", "NaiveDeduper.dedupe"),
    "operators.link": ("matchbox_spark.operators.linkers", "DeterministicLinker.link"),
    "operators.ngram_jaccard_pairs": ("matchbox_spark.operators.dedup", "ngram_jaccard_pairs"),
    "resolvers.compute_clusters": ("matchbox_spark.plans.resolvers", "Components.compute_clusters"),
    "resolvers.connected_components": ("matchbox_spark.plans.resolvers", "connected_components"),
    "query.unified_query": ("matchbox_spark.plans.query", "unified_query"),
    "query.query_data": ("matchbox_spark.plans.query", "query_data"),
    "query.matcher_build": ("matchbox_spark.plans.dag", "DAG.matcher"),
    "query.match_key": ("matchbox_spark.plans.query", "match_key"),
    "stream.incremental_resolve_stream": ("matchbox_spark.streaming.incremental", "incremental_resolve_stream"),
}

# spans the benchmark opens around its own actions on lazy results
BENCH_SPANS = ("query.retrieve_collect", "operators.pairs_collect", "stream.drain")

SPARK_FIGURES = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "executor_run_s",
                 "task_skew", "driver_s")
_FIGURE_UNITS = {"shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
                 "spill_bytes": "B", "executor_run_s": "s", "task_skew": "ratio",
                 "driver_s": "s"}

# The per-layer metrics a traced run reports, with units. Every workload
# reports all of them; a layer a workload does not reach reads 0.
PER_LAYER = (
    [("session.get_spark.wall_s", "s")]
    + [
        (f"{n}.{k}", u)
        for n in [*list(ENTRY_POINTS)[1:], *BENCH_SPANS]
        for k, u in (("wall_s", "s"), ("self_s", "s"), ("calls", "count"),
                     ("spark.jobs", "count"))
    ]
    + [(f"{n}.spark.driver_s", "s") for n in
       ("dag.run", "query.matcher_build", "query.match_key", "stream.drain")]
    + [(n, "count") for n in (
        "sources.index.rows", "operators.pairs_out",
        "operators.jaccard_path.bitset", "operators.jaccard_path.posting",
        "resolvers.cc_edges_in", "resolvers.cc_path.driver",
        "resolvers.cc_path.distributed", "stream.batches", "stream.input_rows",
    )]
    + [(f"catalog.rows.{t}", "count") for t in (
        "clusters", "cluster_keys", "contains", "model_edges",
        "resolver_clusters", "block_keys")]
    + [(f"stream.batch.{p}_ms", "ms") for p in (
        "addBatch", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "latestOffset")]
    + [(f"spark.{k}", _FIGURE_UNITS.get(k, "count")) for k in SPARK_FIGURES]
    + [("trace.coverage", "ratio"), ("trace.overhead", "ratio")]
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.sc = None
        self._local = threading.local()
        self._main: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> dict | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # callback threads (streaming foreachBatch) nest under whatever the
        # main thread is blocked in
        return self._main[-1] if self._main else None

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> dict:
        parent = self._parent()
        with self._lock:
            s = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "thread": threading.current_thread().name,
                "start": time.time(),
                "end": None,
                "attrs": attrs,
            }
            self.spans.append(s)
        self._stack().append(s)
        self._set_group(s)
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.time()
        stack = self._stack()
        stack.pop()
        self._set_group(self._parent())

    def _set_group(self, s: dict | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{s['id']}", s["name"])

    # -- wrapping ------------------------------------------------------------

    def install(self) -> None:
        for name, (mod, attr) in ENTRY_POINTS.items():
            module = importlib.import_module(mod)
            owner, _, fname = attr.rpartition(".")
            target = getattr(module, owner) if owner else module
            original = target.__dict__[fname]
            wrapped = self._wrap(name, original)
            # rebind the function wherever it was imported by name
            holders = [target] + [
                m for m in list(sys.modules.values())
                if not owner and m is not target
                and getattr(m, fname, None) is original
            ]
            for h in holders:
                self._patched.append((h, fname, original))
                setattr(h, fname, wrapped)

    def uninstall(self) -> None:
        for holder, fname, original in reversed(self._patched):
            setattr(holder, fname, original)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name == "sources.index" and args[0].format == "parquet":
                # rows read, from parquet metadata: no Spark job
                attrs["rows"] = pq.read_metadata(args[0].location).num_rows
            with tracer.span(name, **attrs):
                out = fn(*args, **kwargs)
            if name == "session.get_spark" and tracer.sc is None:
                tracer.sc = out.sparkContext
            return out

        return wrapper

    # -- event-log rollup ----------------------------------------------------

    def rollup(self, event_dir: str) -> None:
        """Attach Spark figures to every span from the event log."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: dict[int, list[dict]] = {}
        stages: dict[int, set] = {}
        for path in glob.glob(f"{event_dir}/*"):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {
                            "start": ev["Submission Time"] / 1e3,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "batch": props.get("streaming.sql.batchId"),
                        }
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        if jid is None:
                            continue
                        m = ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks.setdefault(jid, []).append({
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        })
                        stages.setdefault(jid, set()).add(ev["Stage ID"])
        by_id = {s["id"]: s for s in self.spans}
        own: dict[int, list[int]] = {s["id"]: [] for s in self.spans}
        for jid, j in jobs.items():
            sid = None
            if j["group"] and j["group"].startswith("span-"):
                sid = int(j["group"][5:])
            elif j["batch"] is not None:
                sid = self._enclosing("stream.drain", j["start"])
            if sid in own:
                own[sid].append(jid)
        children: dict[int, list[int]] = {s["id"]: [] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])

        def subtree_jobs(sid: int) -> list[int]:
            out = list(own[sid])
            for c in children[sid]:
                out += subtree_jobs(c)
            return out

        for s in self.spans:
            wall = s["end"] - s["start"]
            s["wall_s"] = wall
            s["self_s"] = wall - _covered(
                [(by_id[c]["start"], by_id[c]["end"]) for c in children[s["id"]]],
                s["start"], s["end"],
            )
            mine = own[s["id"]]
            ts = [t for j in mine for t in tasks.get(j, [])]
            runs = sorted(t["run_s"] for t in ts)
            s["spark"] = {
                "jobs": len(mine),
                "stages": sum(len(stages.get(j, ())) for j in mine),
                "tasks": len(ts),
                "shuffle_write_bytes": sum(t["write"] for t in ts),
                "shuffle_read_bytes": sum(t["read"] for t in ts),
                "spill_bytes": sum(t["spill"] for t in ts),
                "executor_run_s": sum(runs),
                "task_skew": (runs[-1] / statistics.median(runs))
                if runs and statistics.median(runs) > 0 else 0.0,
                "driver_s": wall - _covered(
                    [(jobs[j]["start"], jobs[j]["end"] or s["end"])
                     for j in subtree_jobs(s["id"])],
                    s["start"], s["end"],
                ),
            }
        self.unattributed_jobs = sum(
            1 for jid in jobs if not any(jid in v for v in own.values())
        )

    def _enclosing(self, name: str, t: float) -> int | None:
        for s in self.spans:
            if s["name"] == name and s["start"] <= t <= (s["end"] or t):
                return s["id"]
        return None


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t0 = time.perf_counter()
        self.s = self.tracer._open(self.name, self.attrs)
        self.s["overhead_s"] = time.perf_counter() - t0
        return self.s

    def __exit__(self, *exc):
        t0 = time.perf_counter()
        self.tracer._close(self.s)
        self.s["overhead_s"] += time.perf_counter() - t0


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(spans: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Per-layer figures over the spans that fall inside the timed
    ``windows``: per span name the summed wall/self time, call count and
    Spark figures, plus the share of timed wall the top-level spans cover."""
    inside = [
        s for s in spans
        if any(a <= s["start"] and s["end"] <= b for a, b in windows)
    ]
    # the session starts before any timed window; it feeds setup_s
    out: dict[str, float] = {"session.get_spark.wall_s": sum(
        s["wall_s"] for s in spans if s["name"] == "session.get_spark"
    )}
    ids = {s["id"] for s in inside}
    for s in inside:
        n = s["name"]
        for k, v in s["attrs"].items():
            out[f"{n}.{k}"] = out.get(f"{n}.{k}", 0) + v
        out[f"{n}.wall_s"] = out.get(f"{n}.wall_s", 0.0) + s["wall_s"]
        out[f"{n}.self_s"] = out.get(f"{n}.self_s", 0.0) + s["self_s"]
        out[f"{n}.calls"] = out.get(f"{n}.calls", 0) + 1
        for k in SPARK_FIGURES:
            if k != "task_skew":
                out[f"{n}.spark.{k}"] = out.get(f"{n}.spark.{k}", 0) + s["spark"][k]
        out[f"{n}.spark.task_skew"] = max(
            out.get(f"{n}.spark.task_skew", 0.0), s["spark"]["task_skew"]
        )
    top = [(s["start"], s["end"]) for s in inside if s["parent"] not in ids]
    timed = sum(b - a for a, b in windows)
    out["trace.coverage"] = (
        sum(_covered(top, a, b) for a, b in windows) / timed if timed else 0.0
    )
    # time the wrappers themselves spent (span bookkeeping, setJobGroup);
    # the event log's own cost shows as pass_s of --trace 1 vs --trace 0
    out["trace.overhead"] = (
        sum(s["overhead_s"] for s in inside) / timed if timed else 0.0
    )
    for k in SPARK_FIGURES:
        # each job belongs to one span; driver time nests, so only
        # top-level spans add up
        vals = [s["spark"][k] for s in inside
                if k != "driver_s" or s["parent"] not in ids]
        out[f"spark.{k}"] = (max(vals, default=0.0) if k == "task_skew"
                             else sum(vals))
    return out
