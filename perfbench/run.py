"""Entity-resolution benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, starts ``local[<nproc>]``, warms up, measures passes until
``--seconds`` have elapsed, checks every answer against the generated
ground truth, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the program's public
entry points in spans and reports the per-layer metrics (see README.md).
Scratch files live under ``.bench_work/`` in the current directory and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.proc import (  # noqa: E402
    PeakRSS, SpeedSampler, cpu_times, host_speed, steal_share, tree_stats,
)

WORKLOAD_NAMES = ("er_batch", "er_stream", "text_neardup")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def box_state(spark=None) -> dict:
    """What can flip a path gate, or slow a run, without any code change."""
    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    state = {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": mem["MemAvailable"] // 1024,
    }
    if spark is not None:
        state["spark.driver.memory"] = spark.conf.get("spark.driver.memory")
    return state


def start_spark(work: str, extra: dict | None = None):
    from matchbox_spark import get_spark

    conf = {
        "spark.local.dir": work,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
                                          # see proc.tree_stats
                                          " -XX:-UseDynamicNumberOfCompilerThreads"),
        **(extra or {}),
    }
    n = nproc()
    return get_spark(master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def stop_jvm() -> None:
    """End the session's JVM by closing its stdin, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def percentile_report(xs: list[float], scale: float = 1.0) -> dict:
    """Median plus the highest percentile with ≥ 10 samples beyond it."""
    xs = sorted(x * scale for x in xs)
    out = {"p50": statistics.median(xs), "n": len(xs)}
    for q in (99, 95, 90, 80, 75, 50):
        if len(xs) * (100 - q) / 100 >= 10:
            if q != 50:
                out[f"p{q}"] = xs[min(len(xs) - 1, int(len(xs) * q / 100))]
            break
    return out


def named_metrics(wl, setup_s: float, peak_mb: float) -> dict:
    """The workload's named end-to-end metrics, with units and samples."""
    out = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB", "n": 1},
        "error_rate": {"value": wl.failed / max(1, wl.attempted), "unit": "1",
                       "n": wl.attempted},
    }
    for name, (xs, unit, scale) in wl.named().items():
        rep = percentile_report(xs, scale)
        value = rep["p50"]
        if name.endswith("_p90_ms"):
            # a p90 needs ≥ 100 samples to leave 10 beyond it
            value = rep.get("p90", max(x * scale for x in xs))
        out[name] = {"value": value, "unit": unit, **rep}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # measure the checkout's program, never an installed copy of it
    pkg = os.path.join(ROOT, "matchbox_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"no program to measure: {pkg} is missing", file=sys.stderr)
        return 2
    import matchbox_spark

    if os.path.abspath(matchbox_spark.__file__) != pkg:
        print(f"matchbox_spark resolves to {matchbox_spark.__file__}, not {pkg}",
              file=sys.stderr)
        return 2

    work = os.path.abspath(
        os.path.join(".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    rss = PeakRSS()
    rss.start()
    spark = tracer = sampler = None
    try:
        sampler = SpeedSampler()
        from perfbench.workloads import DECLARED_PATHS, WORKLOADS

        extra = {}
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
            events = os.path.join(work, "events")
            os.makedirs(events)
            # one plain JSON-lines file, which rollup reads
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{events}",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"}
        before = box_state()
        cpu_start = tree_stats()[1]
        t0 = time.perf_counter()
        spark = start_spark(work, extra)
        session_s = time.perf_counter() - t0
        inputs = os.path.join(work, "inputs", args.workload)
        # a separate process, so the generator's memory stays out of the
        # driver's peak RSS
        summary = json.loads(subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed),
             "--workload", args.workload, "--out", os.path.dirname(inputs)],
            check=True, capture_output=True, text=True,
        ).stdout.splitlines()[-1])
        wl = WORKLOADS[args.workload](spark, inputs, work, tracer)
        gen_s = time.perf_counter() - t0 - session_s
        wl.setup()
        setup_s = time.perf_counter() - t0
        # in reference-speed seconds, as the timed calls (Workload.measure)
        setup_cpu_s = (tree_stats()[1] - cpu_start) * host_speed(
            time.time() - setup_s, time.time())
        state = box_state(spark)

        cpu0 = cpu_times()
        t_start = time.perf_counter()
        passes = 0
        while passes < wl.min_passes or (
            time.perf_counter() - t_start < args.seconds
            and passes != wl.max_passes
        ):
            wl.timed_pass()
            passes += 1
        timed_s = time.perf_counter() - t_start
        state["timed_steal_share"] = steal_share(cpu0, cpu_times())
        if tracer is not None:
            tracer.uninstall()
            rows = wl.catalog.counts() if getattr(wl, "catalog", None) else {}
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        if sampler is not None:
            sampler.stop()
        peak = rss.stop()
        driver_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
        if tracer is not None and spark is not None:
            tracer.rollup(events)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".bench_work")
        except OSError:
            pass

    paths = {k: sorted(set(v)) for k, v in wl.paths.items()}
    flagged = {
        gate: paths.get(gate)
        for gate, want in DECLARED_PATHS[args.workload].items()
        if paths.get(gate) != [want]
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": summary,
        "passes": passes,
        "timed_s": timed_s,
        "setup_phases": {"session_s": session_s, "gen_s": gen_s,
                         "warm_s": setup_s - session_s - gen_s},
        "named": named_metrics(wl, setup_s, peak / 2**20),
        "driver_rss_mb": driver_peak / 2**20,
        "cpu": {
            "setup_cpu_s": setup_cpu_s,
            "pass_cpu_s": wl.pass_cpu_s(),
            "op_cpu_ms": statistics.median(wl.op_cpu_ms()),
        },
        "samples": wl.samples,
        "paths": paths,
        "path_flags": flagged,
        "box": {"start": before, "after_setup": state},
        "failures": wl.failures[:10],
    }
    if flagged:
        print(f"gate path differs from declared: {flagged}", file=sys.stderr)

    if tracer is None:
        # CPU seconds of the process tree: on a shared 4-core VM the
        # hypervisor stole 0-20% of the CPU per window, which moved wall
        # times up to 2.5x between runs; stolen time is not in CPU time
        metrics = {
            "setup_s": {"value": setup_cpu_s, "unit": "s"},
            "driver_rss_mb": {"value": driver_peak / 2**20, "unit": "MB"},
            "pass_cpu_s": {"value": detail["cpu"]["pass_cpu_s"], "unit": "s"},
            "op_cpu_ms": {"value": detail["cpu"]["op_cpu_ms"], "unit": "ms"},
        }
    else:
        from perfbench.trace import PER_LAYER, layer_metrics

        values = layer_metrics(tracer.spans, wl.windows)
        values.update(wl.counters)
        for phase in wl.samples:
            if phase.startswith("phase."):
                values[f"stream.batch.{phase[6:]}_ms"] = statistics.median(
                    wl.samples[phase]
                )
        for table, n in rows.items():
            values[f"catalog.rows.{table}"] = n
        detail["trace"] = {"unattributed_jobs": tracer.unattributed_jobs}
        metrics = {
            name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in PER_LAYER
        }
        os.makedirs(".bench_traces", exist_ok=True)
        out = os.path.join(".bench_traces", f"{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"detail": detail, "windows": wl.windows,
                       "spans": tracer.spans, "layers": values}, f)
        detail["trace"]["file"] = out
    print(json.dumps(detail))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
