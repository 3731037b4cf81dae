"""Process-tree figures read from /proc: RSS, CPU time and CPU steal,
and the host's speed, from a sampler process (``python3 proc.py``)."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# thread names (15 characters at most) of HotSpot's JIT compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot JIT compiler threads of ``pid`` (none in
    a process that is not a JVM)."""
    ticks = 0
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1:s.rindex(")")].startswith(_JIT_THREADS):
            ticks += sum(int(x) for x in s.rsplit(")", 1)[1].split()[11:13])
    return ticks


def tree_stats(root: int | None = None) -> tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over ``root`` (default: this
    process) and all its descendants: Python driver, JVM, Python workers.
    CPU is user + system time, including that of reaped children; time
    the hypervisor stole from the guest is not in it, and neither is that
    of the JVM's JIT compiler threads: they compile in the background,
    and how much they compile in a window varied by up to 2.5 CPU seconds
    between JVMs running the same pass. The JVM must keep its compiler
    threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``), or the
    time of one that exits would fall back into the total."""
    children: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        stat[int(d)] = fields
    rss, ticks, todo = 0, 0, [root or os.getpid()]
    while todo:
        p = todo.pop()
        if p == _sampler_pid:
            continue
        if p in stat:
            rss += int(stat[p][21]) * _PAGE
            ticks += sum(int(x) for x in stat[p][11:15]) - _jit_ticks(p)
        todo += children.get(p, [])
    return rss, ticks / _TICK


class PeakRSS(threading.Thread):
    """Samples the process tree's RSS and keeps the maximum."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_stats()[0])

    def stop(self) -> int:
        self._done.set()
        self.join()
        return max(self.peak, tree_stats()[0])


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# Thread CPU seconds the speed probe's loop takes on a host of reference
# speed (a 4-vCPU VM in an idle period); see host_speed.
PROBE_REF_S = 0.01
PROBE_EVERY_S = 0.25
_sampler: SpeedSampler | None = None
_sampler_pid = -1


def _probe() -> float:
    t = time.thread_time()
    x = 0
    for i in range(100_000):
        x += i * i % 7
    return time.thread_time() - t


class SpeedSampler:
    """A child process at nice 19 that runs the probe loop every
    ``PROBE_EVERY_S`` and reports (wall time, loop CPU seconds). It is
    not part of the measured process tree (``tree_stats`` skips it)."""

    def __init__(self):
        global _sampler, _sampler_pid
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
        )
        _sampler, _sampler_pid = self, self.proc.pid
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            t, s = line.split()
            self.samples.append((float(t), float(s)))

    def stop(self):
        global _sampler, _sampler_pid
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.reader.join(timeout=30)
        _sampler, _sampler_pid = None, -1


def host_speed(t0: float, t1: float) -> float:
    """How fast the host ran a fixed pure-Python loop from one second
    before wall time ``t0`` to ``t1``, relative to the reference speed
    (> 1: faster). On a shared VM the same loop's CPU time drifted by
    ±25% within a minute, idle or not, and every thread of the program
    slowed with it; CPU times multiplied by this factor are in
    reference-speed seconds, and the drift cancels. The median of the
    sampler's probes in the window, or of its last three."""
    xs = [s for t, s in _sampler.samples if t0 - 1.0 <= t <= t1]
    if len(xs) < 3:
        xs = [s for _, s in _sampler.samples[-3:]]
    return PROBE_REF_S / statistics.median(xs)


if __name__ == "__main__":
    # the sampler; it ends when terminated or when its reader goes away
    os.nice(19)
    try:
        while True:
            print(time.time(), _probe(), flush=True)
            time.sleep(PROBE_EVERY_S)
    except (BrokenPipeError, KeyboardInterrupt):
        pass
