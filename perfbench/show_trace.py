"""Print a traced run's layer table.

    python3 perfbench/show_trace.py .bench_traces/er_batch-1.json [...]

For each span name inside the timed windows: calls, wall and self time,
self time as a share of the timed wall, and the Spark figures of the jobs
the span started. Layers are the first component of the span name.
"""

from __future__ import annotations

import json
import sys


def table(path: str) -> str:
    with open(path) as f:
        t = json.load(f)
    d, layers = t["detail"], t["layers"]
    timed = sum(b - a for a, b in t["windows"])
    names = sorted(
        {k[: -len(".calls")] for k in layers if k.endswith(".calls")},
        key=lambda n: -layers[f"{n}.self_s"],
    )
    lines = [
        f"{d['workload']} seed={d['seed']}  timed wall {timed:.2f} s  "
        f"span coverage {layers['trace.coverage']:.1%}  "
        f"wrapper overhead {layers['trace.overhead']:.2%}",
        f"paths {d['paths']}  flags {d['path_flags'] or 'none'}",
        f"{'span':44s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s} {'self%':>6s}"
        f" {'jobs':>5s} {'stages':>6s} {'tasks':>6s} {'shufW_MB':>8s}"
        f" {'shufR_MB':>8s} {'drv_s':>7s} {'skew':>5s}",
    ]
    for n in names:
        g = lambda k: layers.get(f"{n}.{k}", 0)  # noqa: E731
        lines.append(
            f"{n:44s} {int(g('calls')):5d} {g('wall_s'):8.3f} {g('self_s'):8.3f}"
            f" {g('self_s') / timed:6.1%} {int(g('spark.jobs')):5d}"
            f" {int(g('spark.stages')):6d} {int(g('spark.tasks')):6d}"
            f" {g('spark.shuffle_write_bytes') / 2**20:8.2f}"
            f" {g('spark.shuffle_read_bytes') / 2**20:8.2f}"
            f" {g('spark.driver_s'):7.3f} {g('spark.task_skew'):5.1f}"
        )
    extra = {
        k: v for k, v in layers.items()
        if k.startswith(("stream.batch", "stream.batches", "stream.input",
                         "catalog.rows", "resolvers.cc_", "operators.jaccard",
                         "operators.pairs_out", "sources.index.rows"))
    }
    lines.append("counts " + json.dumps(extra))
    return "\n".join(lines)


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print(table(p))
        print()
