"""Full-registry dtype-strict oracle sweep as a stress harness (round 8).

Round 7 ran the 152-query sweep by hand and it caught a real cross-engine
bug class (engine ROUND(double,6) ulp divergence → ieee_round6); wiring it
into ``stress_all`` makes it impossible to skip in a round close. Each
argument is an sf dir; the sweep runs ``tools/check_oracle.py`` (strict
dtype families — a value-equal int64-vs-float64 column still fails, the
class the driver's hash would redden) over EVERY registry entry at every
given SF and exits non-zero if any query fails anywhere.

``--json OUT`` (round 13, VERDICT r12 item 4) additionally writes a
committed-artifact sweep record: a map ``{sf_label: {query: verdict}}``
where each verdict carries the driver's CORRECTNESS field shape
(rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err), so a judge can diff the full three-SF close sweep against the
driver's sampled ``CORRECTNESS_r{N}.json`` without re-running anything.

``--force GATE[,GATE]`` passes through to ``check_oracle.py``: every query
runs with those gates on their distributed path (the forced sweep,
committed as ``SWEEP_forced_<gates>_r{N}.json``).

Usage:
    python tools/stress_oracle_sweep.py /root/testdata/sf0.01
    python tools/stress_oracle_sweep.py /root/testdata/sf0.01 /root/testdata/sf0.1
    python tools/stress_oracle_sweep.py --json SWEEP_r13.json \\
        /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1
    python tools/stress_oracle_sweep.py --force cc --json SWEEP_forced_cc_r16.json \\
        /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time


def main(
    sf_dirs: list[str], json_out: str | None = None, force: str | None = None
) -> int:
    bad = 0
    combined: dict[str, dict] = {}
    for sf in sf_dirs:
        t0 = time.monotonic()
        cmd = [sys.executable, "tools/check_oracle.py"]
        if force:
            cmd += ["--force", force]
        tmp = None
        if json_out:
            fd, tmp = tempfile.mkstemp(suffix=".json")
            os.close(fd)
            cmd += ["--json", tmp]
        proc = subprocess.run(
            cmd + [sf],
            capture_output=True,
            text=True,
        )
        dt = time.monotonic() - t0
        if tmp:
            try:
                with open(tmp) as f:
                    combined[os.path.basename(sf.rstrip("/"))] = json.load(f)
            finally:
                os.unlink(tmp)
        lines = proc.stdout.splitlines()
        n_ok = sum(1 for ln in lines if ln.startswith("OK "))
        fails = [ln for ln in lines if ln.startswith("FAIL")]
        rows_only = [ln for ln in lines if ln.startswith("ROWS")]
        print(
            f"[sweep {sf}] {n_ok} OK, {len(fails)} FAIL, "
            f"{len(rows_only)} rows-only, exit={proc.returncode} "
            f"[{dt:.0f}s]"
        )
        for ln in fails:
            print("  " + ln)
        if proc.returncode != 0 or fails:
            bad += 1
        if proc.returncode != 0 and not fails:
            # crashed before printing results — surface the tail
            print("\n".join((proc.stdout + proc.stderr).splitlines()[-10:]))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(combined, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    print("SWEEP OK" if bad == 0 else "SWEEP FAILED")
    return 1 if bad else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    opts = {}
    for flag in ("--json", "--force"):
        if flag in argv:
            i = argv.index(flag)
            opts[flag] = argv[i + 1]
            argv = argv[:i] + argv[i + 2:]
    dirs = [a for a in argv if not a.startswith("-")]
    raise SystemExit(
        main(dirs or ["/root/testdata/sf0.01"], opts.get("--json"), opts.get("--force"))
    )
