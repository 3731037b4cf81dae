"""The benchmark workloads, each driving the public API as a user would.

A workload's ``setup`` builds what the timed part needs and runs one
warm-up pass (a fresh session's first pass runs 1.5–2.5× slower than the
second). ``run_pass`` runs one timed pass: every call into the program is
timed with ``measure``, and the answers are checked against the
generator's ground truth after the timed calls; a wrong answer counts as a
failed operation.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq

from matchbox_spark import DAG, Components, NaiveDeduper, QueryConfig, SourceConfig
from matchbox_spark.operators.dedup import ngram_jaccard_pairs
from matchbox_spark.operators.linkers import DeterministicLinker
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.query import unified_query
from matchbox_spark.plans.resolvers import connected_components
from matchbox_spark.streaming.incremental import incremental_resolve_stream
from perfbench.gen import bigrams
from perfbench.proc import host_speed, tree_stats

# Driver budget, in edges, of the er_batch dedupe resolver. The
# memory-derived default (≥ 2M edges; ~4.3M at an 8g driver) would need
# ~5M hub pairs, ~50 s per resolve on 4 cores. This public setting scales
# the budget down with the graph instead, so the distributed fallback
# still runs on the hub-heavy dedupe, while the link resolver keeps the
# default budget and takes its driver path.
DEDUPE_EDGE_BUDGET = 100_000

# The path each recorded gate must take (checked per run, from outside).
DECLARED_PATHS = {
    "er_batch": {"cc.resolve_crn": "distributed", "cc.resolve_linked": "driver"},
    "er_stream": {},
    "text_neardup": {"jaccard.sparse": "posting", "jaccard.dense": "bitset",
                     "cc.sparse": "driver", "cc.dense": "driver"},
}

STREAM_PHASES = ("addBatch", "getBatch", "queryPlanning", "walCommit",
                 "commitOffsets", "latestOffset")


class CCPathLog(logging.Handler):
    """Records the path ``Components`` chose, from its own log line."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.paths: list[str] = []

    def emit(self, record):
        msg = record.getMessage()
        if msg.startswith("Components: auto → "):
            self.paths.append(msg.split("→ ")[1].split()[0])

    def __enter__(self):
        self.log = logging.getLogger("matchbox_spark.plans.resolvers")
        self.level = self.log.level
        self.log.setLevel(logging.INFO)
        self.log.addHandler(self)
        return self

    def __exit__(self, *exc):
        self.log.removeHandler(self)
        self.log.setLevel(self.level)


def partition(pairs) -> set[frozenset]:
    """(label, member) pairs → the set of member groups."""
    groups: dict = defaultdict(set)
    for label, member in pairs:
        groups[label].add(member)
    return {frozenset(g) for g in groups.values()}


def truth_partition(path: str, sources=("crn", "cdms")) -> set[frozenset]:
    t = pq.read_table(path).to_pydict()
    return partition(
        (e, (s, k))
        for s, k, e in zip(t["source"], t["key"], t["entity"])
        if s in sources
    )


def company_dag(spark, inputs: str, link: bool = True,
                dedupe_budget: int | None = None) -> DAG:
    """crn dedupe → resolver, then crn↔cdms link → stacked resolver.
    ``dedupe_budget=None`` keeps the memory-derived driver budget."""
    dag = DAG(spark)
    crn = dag.source(SourceConfig(
        name="crn", location=os.path.join(inputs, "crn.parquet"),
        key_field="key", index_fields=["company_name", "crn"],
    )).config
    dag.model("dedupe_crn", NaiveDeduper(id="id", unique_fields=["crn_crn"]),
              QueryConfig(sources=[crn]))
    dag.resolver("resolve_crn", Components(driver_edge_limit=dedupe_budget),
                 ["dedupe_crn"])
    if link:
        cdms = dag.source(SourceConfig(
            name="cdms", location=os.path.join(inputs, "cdms.parquet"),
            key_field="key", index_fields=["crn", "cdms"],
        )).config
        dag.model(
            "link_crn_cdms",
            DeterministicLinker(left_id="id", right_id="id",
                                comparisons=["l.crn_crn = r.cdms_crn"]),
            QueryConfig(sources=[crn], resolvers=["resolve_crn"]),
            QueryConfig(sources=[cdms]),
        )
        dag.resolver("resolve_linked", Components(), ["link_crn_cdms"])
    return dag


class Workload:
    name = ""
    min_passes = 1  # timed passes per run, whatever --seconds says
    max_passes: int | None = None

    def __init__(self, spark, inputs: str, work: str, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.warmup = False
        self.pass_wall = self.pass_cpu = 0.0
        self.paths: dict[str, list[str]] = defaultdict(list)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, float] = defaultdict(float)
        self.windows: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def measure(self, metric: str, fn, *args, **kwargs):
        """Time one call into the program as a sample of ``metric``, in
        wall seconds and in CPU seconds of the process tree (``<metric>
        .cpu``); the call's wall-clock window bounds what the traced run
        attributes. The CPU time is in reference-speed seconds: scaled by
        the host's speed during the call (``proc.host_speed``), so that
        the host's drift cancels; ``<metric>.cpu_raw`` keeps it as read."""
        cpu0 = tree_stats()[1]
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - p0
        t1 = time.time()
        raw = tree_stats()[1] - cpu0
        cpu = raw * host_speed(t0, t1)
        if not self.warmup:
            self.windows.append((t0, t1))
            self.samples[metric].append(dt)
            self.samples[f"{metric}.cpu"].append(cpu)
            self.samples[f"{metric}.cpu_raw"].append(raw)
            self.pass_wall += dt
            self.pass_cpu += cpu
        return out, dt

    def timed_pass(self) -> None:
        """One timed pass; its wall and CPU time are the sums over the
        pass's measured calls (checks and bookkeeping excluded)."""
        self.pass_wall = self.pass_cpu = 0.0
        self.run_pass()
        self.samples["pass_s"].append(self.pass_wall)
        self.samples["pass_cpu_s"].append(self.pass_cpu)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def record_path(self, gate: str, path: str) -> None:
        if not self.warmup:
            self.paths[gate].append(path)

    def setup(self) -> None:
        self.warmup = True
        self.warm()
        self.warmup = False

    def warm(self) -> None:
        self.run_pass()

    def run_pass(self) -> None:
        raise NotImplementedError

    def named(self) -> dict:
        """The workload's named end-to-end metrics: (samples, unit, scale)."""
        raise NotImplementedError

    def op_cpu_ms(self) -> list[float]:
        """CPU milliseconds of the workload's unit operation; the gated
        value is their median."""
        raise NotImplementedError

    def pass_cpu_s(self) -> float:
        """The gated CPU seconds of a pass: the median pass."""
        return statistics.median(self.samples["pass_cpu_s"])


class ErBatch(Workload):
    """Bulk write, then reads: DAG.run into a fresh catalog, full key →
    entity retrieval, one Matcher build, and a closed loop of one client
    issuing lookups, each sent after the previous answer arrived.

    One pass per run, and no warm-up: a batch pipeline runs once per Spark
    application, so its users pay the fresh session's first-pass cost on
    every run. The lookups run while the catalog and operators sit idle.
    """

    name = "er_batch"
    max_passes = 1

    def setup(self) -> None:
        t = pq.read_table(os.path.join(self.inputs, "truth.parquet")).to_pydict()
        self.entity_of = {
            (s, k): e for s, k, e in zip(t["source"], t["key"], t["entity"])
        }
        self.members: dict = defaultdict(lambda: defaultdict(set))
        for (s, k), e in self.entity_of.items():
            self.members[e][s].add(k)
        self.truth = {
            frozenset((s, k) for s, ks in m.items() for k in ks)
            for m in self.members.values()
        }
        seq = pq.read_table(os.path.join(self.inputs, "lookups.parquet")).to_pydict()
        self.sequence = list(zip(seq["source"], seq["key"]))

    def run_pass(self) -> None:
        dag = company_dag(self.spark, self.inputs, dedupe_budget=DEDUPE_EDGE_BUDGET)
        with CCPathLog() as cc:
            _, resolve_s = self.measure("resolve_s", dag.run)
        for step, path in zip(("resolve_crn", "resolve_linked"), cc.paths):
            self.record_path(f"cc.{step}", path)
            self.counters[f"resolvers.cc_path.{path}"] += 1
        lineage = dag.resolver_lineage("resolve_linked")

        def retrieve():
            ids = unified_query(dag.catalog, lineage, ["crn", "cdms"])
            with self.span("query.retrieve_collect"):
                return ids.select("id", "source", "key").toPandas()

        pdf, retrieve_s = self.measure("retrieve_s", retrieve)
        targets = ["crn", "cdms"]
        matcher, _ = self.measure(
            "serve_ready_s", dag.matcher, "resolve_linked", targets
        )
        answers = []
        for source, key in self.sequence:
            got, _ = self.measure("lookup_s", matcher.lookup, key, source, targets)
            answers.append((source, key, got))
        matcher.close()

        got = partition(zip(pdf["id"], zip(pdf["source"], pdf["key"])))
        self.check(got == self.truth, "resolved key partition != truth")
        for source, key, got in answers:
            e = self.entity_of.get((source, key))
            want = {t: self.members[e][t] if e is not None else set() for t in targets}
            self.check(
                {m.target: m.target_keys for m in got} == want
                and all((m.cluster is None) == (e is None) for m in got),
                f"lookup {source}:{key}",
            )
        self.catalog = dag.catalog
        if self.tracer:
            self.counters["resolvers.cc_edges_in"] += dag.catalog.model_edges.count()

    def named(self) -> dict:
        return {"resolve_s": (self.samples["resolve_s"], "s", 1),
                "retrieve_s": (self.samples["retrieve_s"], "s", 1),
                "serve_ready_s": (self.samples["serve_ready_s"], "s", 1),
                "lookup_p50_ms": (self.samples["lookup_s"], "ms", 1e3),
                "lookup_p90_ms": (self.samples["lookup_s"], "ms", 1e3)}

    def op_cpu_ms(self) -> list[float]:
        # the mean, not the median: a lookup spans ~20 ticks of the 10 ms
        # /proc CPU clock, so single lookups read in 5% steps
        return [1e3 * statistics.mean(self.samples["lookup_s.cpu"])]


class ErStream(Workload):
    """Delta streaming: a closed-loop drain of a backlog of ≥ 16 files that
    exists at start, one file per trigger."""

    name = "er_stream"

    def setup(self) -> None:
        self.truth = truth_partition(
            os.path.join(self.inputs, "truth.parquet"), sources=("crn",)
        )
        self.src = os.path.join(self.inputs, "crn_stream")
        self.files = sorted(os.listdir(self.src))
        self.schema = self.spark.read.parquet(self.src).schema
        self.drains = 0
        self.batch = None
        super().setup()

    def batch_partition(self) -> set[frozenset]:
        """The batch pipeline's partition of the same rows (computed once,
        after the first timed drain, so it is not part of the warm-up)."""
        if self.batch is None:
            dag = company_dag(self.spark, self.inputs, link=False)
            dag.run()
            pdf = unified_query(dag.catalog, ["resolve_crn"], ["crn"]).toPandas()
            self.batch = partition(zip(pdf["id"], zip(pdf["source"], pdf["key"])))
        return self.batch

    def warm(self) -> None:
        # a 2-file drain: without it every batch of the timed drain runs
        # ~1.7× slower, not just the first
        warm = os.path.join(self.work, "warm_stream")
        os.makedirs(warm)
        for f in self.files[:2]:
            shutil.copy(os.path.join(self.src, f), warm)
        self.drain(warm)

    def drain(self, src: str):
        self.drains += 1
        catalog = Catalog(self.spark)
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def run():
            with self.span("stream.drain"):
                q = incremental_resolve_stream(
                    stream, catalog, source_step="crn", key_field="key",
                    index_fields=["company_name", "crn"],
                    model=NaiveDeduper(id="id", unique_fields=["crn_crn"]),
                    resolver_method=Components(),
                    checkpoint_dir=os.path.join(self.work, f"ckpt{self.drains}"),
                    source_location=src,
                )
                q.awaitTermination()
            return q

        q, _ = self.measure("stream_drain_s", run)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return catalog, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def run_pass(self) -> None:
        catalog, progress = self.drain(self.src)
        batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in progress]
        self.samples["batch_cpu_ms"].append(
            1e3 * self.samples["stream_drain_s.cpu"][-1] / max(1, len(progress))
        )
        self.samples["batch_ms"] += batch_ms
        self.samples["tail_ms"].append(
            statistics.median(batch_ms[len(batch_ms) - max(1, len(batch_ms) // 4):])
        )
        for phase in STREAM_PHASES:
            self.samples[f"phase.{phase}"] += [
                float(p["durationMs"].get(phase, 0)) for p in progress
            ]
        self.counters["stream.batches"] += len(progress)
        self.counters["stream.input_rows"] += sum(p["numInputRows"] for p in progress)
        pdf = unified_query(catalog, ["crn_resolve"], ["crn"]).toPandas()
        got = partition(zip(pdf["id"], zip(pdf["source"], pdf["key"])))
        self.check(len(progress) == len(self.files), "one batch per file")
        self.check(got == self.truth, "stream partition != truth")
        self.check(got == self.batch_partition(), "stream partition != batch partition")
        self.catalog = catalog
        if self.tracer:
            self.counters["resolvers.cc_edges_in"] += catalog.model_edges.count()

    def named(self) -> dict:
        return {"stream_drain_s": (self.samples["stream_drain_s"], "s", 1),
                "stream_batch_p50_ms": (self.samples["batch_ms"], "ms", 1),
                "stream_tail_batch_ms": (self.samples["tail_ms"], "ms", 1)}

    def op_cpu_ms(self) -> list[float]:
        return self.samples["batch_cpu_ms"]


class TextNeardup(Workload):
    """n-gram Jaccard pairs → connected components, on a sparse corpus
    (posting path) and a dense one (bitset path)."""

    name = "text_neardup"
    corpora = ("sparse", "dense")
    min_passes = 6
    warm_passes = 2

    def setup(self) -> None:
        with open(os.path.join(self.inputs, "truth.json")) as f:
            self.truth = json.load(f)
        self.texts = {}
        for corpus in self.corpora:
            t = pq.read_table(os.path.join(self.inputs, f"{corpus}.parquet")).to_pydict()
            self.texts[corpus] = dict(zip(t["doc_id"], t["text"]))
        super().setup()

    def warm(self) -> None:
        # the JIT keeps compiling through the first passes: a pass's CPU
        # time halves from the first to the third, and how fast varies
        # between JVMs; the timed passes start at the third
        for _ in range(self.warm_passes):
            for corpus in self.corpora:
                self.neardup(corpus)

    def neardup(self, corpus: str):
        docs = self.spark.read.parquet(os.path.join(self.inputs, f"{corpus}.parquet"))
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5).persist()
        with self.span("operators.pairs_collect"):
            rows = pairs.collect()
        labels = connected_components(pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
        out = labels.collect()
        pairs.unpersist()
        return pairs, rows, labels, out

    def run_pass(self) -> None:
        for corpus in self.corpora:
            (pairs, rows, labels, comps), _ = self.measure(
                f"neardup_{corpus}_s", self.neardup, corpus
            )
            jpath = "bitset" if "bit_count" in _logical_plan(pairs) else "posting"
            ccpath = "driver" if _logical_plan(labels).startswith("LocalRelation") else "distributed"
            self.record_path(f"jaccard.{corpus}", jpath)
            self.record_path(f"cc.{corpus}", ccpath)
            self.counters[f"operators.jaccard_path.{jpath}"] += 1
            self.counters[f"resolvers.cc_path.{ccpath}"] += 1
            self.counters["operators.pairs_out"] += len(rows)
            self.counters["resolvers.cc_edges_in"] += len(rows)
            self.check_corpus(corpus, rows, comps)

    def check_corpus(self, corpus: str, rows, comps) -> None:
        texts = self.texts[corpus]
        truth = self.truth[corpus]
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
        want = {(a, b) for a, b, _ in truth["pairs"]}
        sets: dict[int, set] = {}
        exact = True
        for (a, b), j in got.items():
            for d in (a, b):
                if d not in sets:
                    sets[d] = bigrams(texts[d], 2)
            inter = len(sets[a] & sets[b])
            ref = inter / (len(sets[a]) + len(sets[b]) - inter)
            exact &= abs(ref - j) <= 1e-6 and ref >= 0.5
        self.check(exact, f"{corpus}: a reported Jaccard differs from recomputation")
        self.check(set(got) == want, f"{corpus}: pair set != exact pair set")
        planted = {
            (a, b) for c in truth["planted"] for i, a in enumerate(c) for b in c[i + 1:]
        }
        self.check(planted <= set(got), f"{corpus}: a planted pair is missing")
        self.check(
            partition((r["component"], r["id"]) for r in comps)
            == partition(_components(want)),
            f"{corpus}: components != pair-graph components",
        )

    def named(self) -> dict:
        return {"neardup_sparse_s": (self.samples["neardup_sparse_s"], "s", 1),
                "neardup_dense_s": (self.samples["neardup_dense_s"], "s", 1)}

    def pass_cpu_s(self) -> float:
        """The best call on each corpus, summed. How many passes the JIT
        takes to converge varies between JVMs (some were still 1.5× off
        in the fifth pass), the level it converges to much less."""
        return sum(min(self.samples[f"neardup_{c}_s.cpu"]) for c in self.corpora)

    def op_cpu_ms(self) -> list[float]:
        return [1e3 * self.pass_cpu_s() / len(self.corpora)]


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().logical().toString()


def _components(pairs):
    """(root, node) for each node of the pair graph (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(find(x), x) for x in list(parent)]


WORKLOADS = {w.name: w for w in (ErBatch, ErStream, TextNeardup)}
