"""Interactive-serving stress: matcher lookups stay warm under ingest.

Round-6 verdict item: ``dag.matcher()`` materialises the lookup once; the
delta-link streaming path must REFRESH that materialisation per batch
(patching only new/changed clusters) so interactive ``lookup`` latency
stays flat across ingest batches — the serving contract a 100 TB
streaming ER deployment needs.

Per batch: one parquet file lands, an ``availableNow`` stream processes it
(index → delta model → CC → resolver → **matcher.refresh**), then the
harness times point lookups against the matcher. Asserts:

1. **flat lookup latency** — median of the last 5 batches' lookup times
   within 3× the first 5 (the projection is cached state patched in
   O(changed), never a growing recompute);
2. **refresh correctness under merges** — the final batch carries a
   bridging record joining a batch-3 cluster to a batch-0 cluster; the
   refreshed matcher must serve the MERGED membership, and the full
   projection must equal a from-scratch ``unified_query``
   re-materialisation row-for-row after every ingest completes.

Usage: python tools/stress_serving.py [n_batches] [groups] [rows_per_group]
"""

from __future__ import annotations

import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from matchbox_spark.operators.dedupers import NaiveDeduper  # noqa: E402
from matchbox_spark.plans.catalog import Catalog  # noqa: E402
from matchbox_spark.plans.dag import Matcher  # noqa: E402
from matchbox_spark.plans.query import unified_query  # noqa: E402
from matchbox_spark.plans.resolvers import Components  # noqa: E402
from matchbox_spark.session import get_spark  # noqa: E402
from matchbox_spark.streaming.incremental import (  # noqa: E402
    incremental_resolve_stream,
)


class TwoPassDeduper:
    """OR of two single-field naive passes — a record can bridge clusters."""

    def dedupe(self, data):
        a = NaiveDeduper(id="id", unique_fields=["s_a"]).dedupe(data)
        b = NaiveDeduper(id="id", unique_fields=["s_b"]).dedupe(data)
        return a.unionByName(b).dropDuplicates(["left_id", "right_id"])


def main(n_batches: int = 24, groups: int = 100, rows_per_group: int = 10) -> int:
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stress_serving_")
    src, ckpt = f"{work}/in", f"{work}/ckpt"
    rows_per_batch = groups * rows_per_group
    bridge_batch = n_batches - 1

    catalog = Catalog(spark)
    matcher = Matcher()
    lookup_ms: list[float] = []
    try:
        for b in range(n_batches):
            batch = spark.range(rows_per_batch).selectExpr(
                f"id + {b} * {rows_per_batch} as k",
                f"concat('A{b}_', cast(id % {groups} as string)) as a",
                f"""if({b} = 0 and id % {groups} = 0,
                      concat('BB_', cast(id as string)),
                      concat('B{b}_', cast(id as string))) as b""",
            )
            if b == bridge_batch:
                bridge = spark.createDataFrame(
                    [(10**9, "A3_0", "BB_0")], "k long, a string, b string"
                )
                batch = batch.unionByName(bridge)
            batch.coalesce(1).write.mode("append").parquet(src)

            stream = (
                spark.readStream.schema("k long, a string, b string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            q = incremental_resolve_stream(
                stream,
                catalog,
                source_step="s",
                key_field="k",
                index_fields=["a", "b"],
                model=TwoPassDeduper(),
                resolver_method=Components(),
                checkpoint_dir=ckpt,
                source_location=src,
                blocking_fields=["s_a", "s_b"],
                serving_matcher=matcher,
            )
            q.awaitTermination(3600)

            # point lookups against the warm matcher: a batch-0 key and a
            # key from THIS batch — median of 3 reps each
            reps = []
            for key in ("0", str(b * rows_per_batch)):
                for _ in range(3):
                    t0 = time.monotonic()
                    matcher.lookup(key, "s", ["s"])
                    reps.append((time.monotonic() - t0) * 1000)
            lookup_ms.append(statistics.median(reps))

        k = 5
        head = statistics.median(lookup_ms[1 : 1 + k])
        tail = statistics.median(lookup_ms[-k:])
        print(
            "per-batch lookup ms:",
            " ".join(f"{d:.0f}" for d in lookup_ms),
        )
        print(f"head median {head:.0f} ms, tail median {tail:.0f} ms")
        assert tail < 3 * head + 50, (head, tail)

        # bridge correctness: the A3_0 cluster and the BB block (batch 0,
        # group 0) merged through the bridge record — the matcher serves
        # the merged membership
        got = matcher.lookup(str(10**9), "s", ["s"])[0]
        keys = got.target_keys
        assert "0" in keys, "batch-0 BB_0 member missing from merged cluster"
        a3_member = str(3 * rows_per_batch)  # k of batch-3 group-0 row
        assert a3_member in keys, "batch-3 A3_0 member missing"
        assert str(10**9) in keys

        # full parity: the incrementally-patched projection equals a fresh
        # re-materialisation, row for row
        fresh = unified_query(catalog, ["s_resolve"], ["s"], level="key")
        inc_rows = {
            (r["id"], r["source"], r["key"])
            for r in matcher.projection.collect()
        }
        fresh_rows = {
            (r["id"], r["source"], r["key"]) for r in fresh.collect()
        }
        assert inc_rows == fresh_rows, (
            f"projection drift: {len(inc_rows ^ fresh_rows)} rows differ"
        )
        print(
            f"parity: {len(inc_rows)} projection rows identical to fresh "
            f"re-materialisation; merged bridge cluster has {len(keys)} keys"
        )
        print("PASS")
        return 0
    finally:
        matcher.close()
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    args = [int(a) for a in sys.argv[1:4]]
    sys.exit(main(*args))
