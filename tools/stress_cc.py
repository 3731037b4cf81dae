"""Scale stress for distributed connected components.

Generates a graph with a KNOWN component structure entirely inside Spark
(no driver data): ``n_rings`` rings of ``ring_size`` nodes each (2 edges per
node, diameter ring_size/2 — adversarial for label propagation, fine for
star contraction) plus random chords within rings. Validates the component
count and the min-label invariant, and reports wall time.

Round 10 also asserts the STORAGE high-water mark: superseded round
checkpoints are explicitly freed the moment the next round materialises
(``_free_checkpoint``), so live cached round state must stay bounded at
~2 rounds however many rounds the graph needs — before the fix, dead
DISK_ONLY rounds accumulated until a driver GC happened to run.

Round 11 adds ``--hub``: a power-law graph — the known large-star failure
mode is a hub key receiving a degree-d fanout per round, the skew shape a
real 100 TB web-domain graph has (rings+chords never stress one shuffle
key). ``comp(i) = floor(M/(i+1))`` partitions M nodes into components with
an exact Zipf(α=2) size law (component k has ~M/k² nodes, the largest M/2);
each component is a star centred at its minimum node (so hub DEGREES are
the same power law, max ~M/2) plus a chain over consecutive members (so
contraction takes multiple rounds while the skew persists). Expected
components/labels are closed-form from the same mapping — exactness is
asserted, not sampled.

Usage: python tools/stress_cc.py [n_rings] [ring_size]
       python tools/stress_cc.py --hub [n_nodes]
"""

from __future__ import annotations

import sys
import threading
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from matchbox_spark.plans.resolvers import connected_components  # noqa: E402
from matchbox_spark.session import get_spark  # noqa: E402


class StorageMonitor:
    """Samples cached-RDD count/bytes while a job runs; keeps the max."""

    def __init__(self, spark, period: float = 0.2):
        self._sc = spark.sparkContext._jsc.sc()
        self._period = period
        self._stop = threading.Event()
        self.max_rdds = 0
        self.max_bytes = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                infos = list(self._sc.getRDDStorageInfo())
                self.max_rdds = max(self.max_rdds, len(infos))
                self.max_bytes = max(
                    self.max_bytes,
                    sum(i.memSize() + i.diskSize() for i in infos),
                )
            except Exception:  # noqa: BLE001 — sampling is best-effort
                pass
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def hub_main() -> int:
    """Power-law hub rung: exact CC over Zipf(α=2) star+chain components."""
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000

    import os as _os

    edges_est = 2 * m
    parts = max(_os.cpu_count() or 8, min(2048, edges_est // 500_000))
    spark = get_spark(app_name="stress_cc_hub", shuffle_partitions=parts)

    nodes = spark.range(m)
    comp = F.floor(F.lit(m) / (F.col("id") + 1))
    center = F.floor(F.lit(m) / (comp + 1))
    mapping = nodes.select(
        "id", comp.alias("comp"), center.alias("center")
    )
    # star: every non-centre member links to the centre (hub degree =
    # component size - 1 — the Zipf law IS the degree law)
    stars = mapping.where(F.col("id") != F.col("center")).select(
        F.col("center").alias("src"), F.col("id").alias("dst")
    )
    # chain: consecutive nodes in the same component (comp(i) is monotone
    # non-increasing in i, so comp(i)==comp(i+1) ⇔ same component) — keeps
    # the giant component's diameter large enough for multiple rounds
    chains = mapping.where(
        F.floor(F.lit(m) / (F.col("id") + 2)) == F.col("comp")
    ).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    graph = stars.union(chains)

    t0 = time.time()
    with StorageMonitor(spark) as mon:
        cc = connected_components(graph, driver_edge_limit=0).localCheckpoint(
            eager=True
        )
    elapsed = time.time() - t0

    n_edges = graph.count()
    n_nodes = cc.count()
    n_components = cc.select("component").distinct().count()
    # singleton components (Zipf tail, size 1) have no edges and thus no CC
    # rows — the exact expectation is the multi-node components only
    sizes = mapping.groupBy("comp").agg(F.count("*").alias("sz"))
    row = sizes.where(F.col("sz") >= 2).agg(
        F.count("*").alias("n_comp"), F.sum("sz").alias("n_node")
    ).collect()[0]
    expected_components = int(row["n_comp"])
    expected_nodes = int(row["n_node"])
    # exact labelling: every node's component label must equal its
    # component's minimum id — the centre, by construction
    mislabelled = (
        cc.join(mapping, "id")
        .where(F.col("component") != F.col("center"))
        .count()
    )
    hub_degree = (
        graph.select(F.explode(F.array("src", "dst")).alias("n"))
        .groupBy("n").count().agg(F.max("count")).collect()[0][0]
    )

    storage_ok = mon.max_rdds <= 4
    ok = (
        n_nodes == expected_nodes
        and n_components == expected_components
        and mislabelled == 0
        and storage_ok
    )
    print(
        f"HUB nodes={n_nodes:,}/{expected_nodes:,} of {m:,} "
        f"edges={n_edges:,} max_degree={hub_degree:,} "
        f"components={n_components:,} (expected {expected_components:,}) "
        f"mislabelled={mislabelled} "
        f"storage_hw={mon.max_rdds} rdds/{mon.max_bytes/1e6:.0f}MB (bound 4) "
        f"time={elapsed:.1f}s ({elapsed*1e6/n_edges:.1f} us/edge) "
        f"-> {'OK' if ok else 'FAIL'}"
    )
    return 0 if ok else 1


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--hub":
        return hub_main()
    n_rings = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    ring_size = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    n = n_rings * ring_size

    # spill-aware rule (same as stress_pipeline): size shuffle partitions
    # with the edge volume, not the core count — the 50M-node rung at a
    # fixed 32 partitions carried ~3M edges/task and spent its first rounds
    # retrying page allocations (134 TaskMemoryManager WARNs, passed but
    # spill-bound; a second attempt on the same 8g default heap died with
    # AGGREGATE_OUT_OF_MEMORY outright). Partition count alone doesn't fix
    # local mode — 32 concurrent tasks still divide one JVM heap whatever
    # the partition count — so past ~50M edges the tier also needs the
    # cluster-shaped heap + lowered AQE advisory stress_pipeline uses.
    import os as _os

    edges_est = 2 * n
    parts = max(_os.cpu_count() or 8, min(2048, edges_est // 500_000))
    extra = {}
    if edges_est > 50_000_000:
        _os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
        extra["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(
            16 * 1024 * 1024
        )
    spark = get_spark(
        app_name="stress_cc", shuffle_partitions=parts, extra_conf=extra
    )
    nodes = spark.range(n)
    # ring edges: i -> next node in the same ring (wrapping)
    edges = nodes.select(
        F.col("id").alias("src"),
        (
            (F.col("id") - (F.col("id") % ring_size))
            + ((F.col("id") % ring_size) + 1) % ring_size
        ).alias("dst"),
    )
    # deterministic chords: i -> ring_start + (i*7 % ring_size)
    chords = nodes.select(
        F.col("id").alias("src"),
        (
            (F.col("id") - (F.col("id") % ring_size))
            + (F.col("id") * 7 % ring_size)
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    graph = edges.union(chords)

    t0 = time.time()
    with StorageMonitor(spark) as mon:
        cc = connected_components(graph, driver_edge_limit=0).localCheckpoint(
            eager=True
        )
    elapsed = time.time() - t0

    n_components = cc.select("component").distinct().count()
    n_nodes = cc.count()
    # min-label invariant: every component labelled by its minimum node =
    # its ring start (multiple of ring_size)
    bad_labels = cc.where(F.col("component") % ring_size != 0).count()

    # storage bound: at any instant at most the initial edge set, the
    # previous round, the landing round, and the result checkpoint are
    # live — dead rounds are freed explicitly, not left for GC. The ring
    # graph needs ~log(diameter) rounds, so without the explicit free the
    # high-water mark would track the round count instead of staying flat.
    storage_ok = mon.max_rdds <= 4

    ok = (
        n_components == n_rings and n_nodes == n and bad_labels == 0
        and storage_ok
    )
    print(
        f"nodes={n:,} edges~={2*n:,} components={n_components:,} "
        f"(expected {n_rings:,}) bad_labels={bad_labels} "
        f"storage_hw={mon.max_rdds} rdds/{mon.max_bytes/1e6:.0f}MB "
        f"(bound 4) time={elapsed:.1f}s -> {'OK' if ok else 'FAIL'}"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
