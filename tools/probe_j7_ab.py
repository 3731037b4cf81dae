"""Interleaved cross-version A/B of the j7 flagship pipeline.

Round-9 protocol (VERDICT r8 item 1): when a driver-recorded bench number
drifts between rounds, NEVER attribute it to code without an interleaved
same-window A/B — check out both versions as git worktrees and alternate
fresh sessions A/B/A/B so box state hits both arms equally.

    git worktree add /tmp/r7close <r7-close-sha>
    git worktree add /tmp/r8close <r8-close-sha>
    python tools/probe_j7_ab.py /tmp/r7close /tmp/r8close [sf_dir] [passes]

Each invocation of an arm is a FRESH interpreter+JVM running the flagship
pipeline (index → naive dedupe → components resolve → unified query) once
untimed then three timed; rows are asserted identical across arms.

## Recorded verdict (round 9, 2026-08-15, this box)

r7-close (96d9dcd) vs r8-close (9a9ee15), 3 interleaved passes × 3 runs,
sf0.1, local[32]:

    r7close: 9.81 9.87 9.35 | 9.79 8.59 8.51 | 9.12 8.23 8.21
             mean 9.05 s, min 8.21 s
    r8close: 10.19 9.10 8.48 | 9.29 8.56 7.97 | 10.37 9.13 8.44
             mean 9.06 s, min 7.97 s

**The code is FLAT** (Δmean +0.01 s; r8 min is the faster). The r7→r8
driver-record drift (6.76 → 9.62 s) was box state: today even r7-close
code runs at ~9 s in the same windows. Consequence: bench.py now records
a per-query MEDIAN across ≥3 fresh sessions (see bench.py docstring) so a
single slow window cannot move the round record by 40%.

## Recorded verdict (round 13, 2026-08-16, this box)

r11-close (3d8d749) vs r12-close (9bec78b), two 3×3 interleaved runs,
sf0.1, local[32] (VERDICT r12 item 1 — adjudicating the BENCH_r12
18.089 s / j7 8.494 s driver record vs BENCH_r11 13.346 / 5.368):

    run 1 (passes 1-2 shared the box with pytest/packaging work, load1 up to 8.6)
      r11close: 12.52 11.22 7.96 | 7.72 8.04 8.36 | 6.76 5.61 6.14
                mean 8.26 s, min 5.61 s
      r12close: 20.27 10.46 8.95 | 9.03 5.86 6.05 | 6.76 6.17 5.39
                mean 8.77 s, min 5.39 s
    run 2 (passes 1-2 shared the box with a numpy grid search — the 25/28.7 s
           outliers; pass 3 fully clean)
      r11close: 10.56 9.13 10.47 | 15.51 28.73 24.05 | 7.89 6.33 6.04
                mean 13.19 s, min 6.04 s
      r12close: 12.10 9.11 25.08 | 15.98 11.79 17.85 | 5.87 4.57 5.34
                mean 11.97 s, min 4.57 s

**The code is FLAT-OR-BETTER at r12**: pooled means 10.7 (r11) vs 10.4 s
(r12); quietest-window passes (both runs' pass 3, load1 ≤5) mean 6.46 vs
5.69 s with r12 faster in both runs' pass 3; global min 4.57 s (r12) vs
5.61 s (r11). The r11→r12 driver-record regression (5.37 → 8.49 s) was
box state — on the same windows r11-close code runs no faster than
r12-close. The r12 structural changes (lazy edge checkpoint,
AQE-under-cache, 22→21 jobs) carry no runtime penalty and the sub-5 s
sessions appear only on the r12 arm.

## Recorded verdict (round 13, 2026-08-16, this box): r12-close vs r13 CC cut

r12-close (9bec78b) vs r13 HEAD (de96ed5 — int32-quicksort CSR +
dict-free driver CC), one 3×3 interleaved run:

    r12close: 12.48 10.28 7.89 | 5.26 5.02 4.52 | 27.77 15.76 16.61
              mean 11.73 s, min 4.52 s
    r13 HEAD:  7.28  4.89 4.71 | 8.05 9.20 10.28 | 9.21  6.42  7.83
              mean  7.54 s, min 4.71 s

Session-level verdict: INCONCLUSIVE-LEANING-FASTER — passes alternate
winners (pass 3's r12 arm ate a 27.8 s external load spike), mins are
equal within noise. The change's effect is instead pinned at the
function level, where measurement is deterministic: the CSR build's
argsort over 1.8M endpoints drops 1.04 → 0.07 s and steady-state
connected_components_numpy 0.42 → 0.33 s on the 900k-edge flagship
graph (micro-benchmark, no Spark in the loop). Box-state variance
(±50% session swings) is larger than the ~0.5 s code effect, which is
why both numbers are recorded.
"""

from __future__ import annotations

import subprocess
import sys

_RUNNER = r"""
import sys, time
root, sf, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
sys.path.insert(0, root)
from pyspark.sql import functions as F
from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.dag import DAG
from matchbox_spark.plans.query import QueryConfig, unified_query
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.session import get_spark
from matchbox_spark.sources.source import SourceConfig

def run_pipeline(spark, sf):
    t0 = time.monotonic()
    dag = DAG(spark, Catalog(spark))
    src = SourceConfig(
        name="cust",
        location=f"{sf}/customer.parquet",
        key_field="c_custkey",
        index_fields=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(
            id="id", unique_fields=["cust_c_nationkey", "cust_c_mktsegment"]
        ),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), model_inputs=["dedupe"])
    dag.run()
    ids = unified_query(
        dag.catalog, dag.resolver_lineage("resolve"), ["cust"], level="key"
    ).withColumn("custkey", F.col("key").cast("long"))
    rep = ids.groupBy("id").agg(F.min("custkey").alias("entity_rep"))
    cnt = ids.join(rep, "id").select("key", "entity_rep").count()
    return time.monotonic() - t0, cnt

spark = get_spark(master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
run_pipeline(spark, sf)  # untimed warmup
for i in range(n):
    dt, cnt = run_pipeline(spark, sf)
    print(f"RUN {dt:.3f} {cnt}", flush=True)
spark.stop()
"""


def _arm(root: str, sf: str, runs: int) -> list[tuple[float, int]]:
    out = subprocess.run(
        [sys.executable, "-c", _RUNNER, root, sf, str(runs)],
        capture_output=True, text=True, timeout=600, cwd=root, check=True,
    )
    rows = []
    for line in out.stdout.splitlines():
        if line.startswith("RUN "):
            _, dt, cnt = line.split()
            rows.append((float(dt), int(cnt)))
    if len(rows) != runs:
        raise RuntimeError(f"arm {root} produced {len(rows)}/{runs} runs:\n"
                           f"{out.stdout}\n{out.stderr[-2000:]}")
    return rows


def main(a: str, b: str, sf: str, passes: int, runs: int) -> int:
    times: dict[str, list[float]] = {a: [], b: []}
    counts: set[int] = set()
    for p in range(passes):
        for root in (a, b):
            with open("/proc/loadavg") as f:
                load1 = f.read().split()[0]
            rows = _arm(root, sf, runs)
            times[root] += [dt for dt, _ in rows]
            counts |= {cnt for _, cnt in rows}
            print(f"pass {p + 1} {root} (load1={load1}): "
                  + " ".join(f"{dt:.2f}" for dt, _ in rows), flush=True)
    assert len(counts) == 1, f"arms disagree on result rows: {counts}"
    for root in (a, b):
        xs = times[root]
        print(f"{root}: mean={sum(xs) / len(xs):.2f}s min={min(xs):.2f}s")
    return 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    if len(argv) < 2:
        raise SystemExit(__doc__)
    sf = argv[2] if len(argv) > 2 else "/root/testdata/sf0.1"
    passes = int(argv[3]) if len(argv) > 3 else 3
    raise SystemExit(main(argv[0], argv[1], sf, passes, runs=3))
