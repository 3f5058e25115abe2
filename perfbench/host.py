"""Host-side measurement: CPU and peak RSS of the benchmark's process tree,
read from /proc, and a CPU-burn probe that tells whether the box was
contended while a run measured.

The tree is this process, the JVM it launches and the Python workers the
JVM forks. CPU of a worker that exited is still counted: its parent
reaped it, so it shows in the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:       # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of ``pids``, reaped children included."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:   # utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the peak-RSS count (``VmHWM``) of every process in ``pids``."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:   # exited, or not ours to reset
            pass


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak RSS since its last reset
    (or its start, for a process forked after the reset). Peaks of
    different processes need not coincide, so this bounds the tree's
    peak from above."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] not in ("Z", "X")


def end_all(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended (zombies count as
    ended); kill the ones still running after ``timeout`` seconds."""
    deadline = time.time() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + timeout
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over the local CPUs (0 on bare metal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _burn(n: int) -> float:
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t


def _burn_rounds(n: int, start: float, rounds: int, period: float) -> list[float]:
    """Burn ``n`` iterations once per round, round ``r`` starting at
    wall-clock ``start + r * period``, so that concurrent burners overlap."""
    out = []
    for r in range(rounds):
        delay = start + r * period - time.time()
        if delay > 0:
            time.sleep(delay)
        out.append(_burn(n))
    return out


class HostProbe:
    """CPU burn with one process, then with ``nproc`` processes at once.

    On an idle box each of the ``nproc`` burners owns a core and takes as
    long as the lone burner; when other tenants hold cores they take
    longer. ``calibrate`` sizes the burn to about ``TARGET_S`` on this
    host, so no constant carries over from another machine. Each reading
    starts its burners as child processes and waits for all of them.
    """

    TARGET_S = 0.05
    ROUNDS = 3
    # burners start together this long after launch, then once per period
    START_S = 0.5
    PERIOD_S = 0.25
    TIMEOUT_S = 60

    def __init__(self):
        self.procs = os.cpu_count() or 1
        self.iters = 100_000
        self.single_s = 0.0

    def calibrate(self) -> dict:
        probe = _burn(self.iters)
        self.iters = max(10_000, int(self.iters * self.TARGET_S / probe))
        self.single_s = statistics.median(_burn(self.iters) for _ in range(3))
        return self.read("calibrate")

    def read(self, label: str) -> dict:
        """One reading: the slowest of ``nproc`` concurrent burners, median
        over ``ROUNDS``, against the lone burner's calibrated time."""
        args = [sys.executable, os.path.abspath(__file__), str(self.iters),
                repr(time.time() + self.START_S),
                # a first full round, discarded, absorbs start-up stragglers
                str(self.ROUNDS + 1), repr(self.PERIOD_S)]
        procs = [subprocess.Popen(args, stdout=subprocess.PIPE, text=True)
                 for _ in range(self.procs)]
        try:
            runs = [json.loads(p.communicate(timeout=self.TIMEOUT_S)[0])
                    for p in procs]
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()
        slowest = statistics.median(max(r) for r in list(zip(*runs))[1:])
        return {"label": label, "procs": self.procs,
                "single_s": round(self.single_s, 4),
                "all_s_max": round(slowest, 4),
                "ratio": round(slowest / self.single_s, 3)}


CONTENDED_RATIO = 1.5
CONTENDED_STEAL = 0.025


def contended(readings: list[dict], steal_share: float) -> bool:
    """A window is contended when a probe reading shows the ``nproc``
    burners at least 50% slower than the lone one (the margin absorbs the
    lower clock of an all-core load), or when the hypervisor gave other
    guests at least 2.5% of the local CPU time during the run."""
    return (any(r["ratio"] >= CONTENDED_RATIO for r in readings)
            or steal_share >= CONTENDED_STEAL)


if __name__ == "__main__":
    # a burner of HostProbe.read: iterations, start time, rounds, period
    n, start, rounds, period = sys.argv[1:5]
    print(json.dumps(_burn_rounds(int(n), float(start), int(rounds), float(period))))
