"""CPU and memory of this process tree, read from /proc, split by kind.

Kinds: ``driver`` (this Python process), ``jvm`` (the Spark JVM it
launched) and ``pyworker`` (the Python worker daemon and workers under the
JVM). CPU is user+sys ticks, including reaped children, so hypervisor
steal never counts. Also a host-noise guard: a fixed busy-loop probe and
the /proc/stat steal share.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pyworker")


def _read_stats() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        lp, rp = raw.index("("), raw.rindex(")")
        fields = raw[rp + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / _CLK
        out[int(ent)] = (int(fields[1]), raw[lp + 1:rp], cpu,
                         int(fields[21]) * _PAGE)
    return out


def tree(root: int | None = None) -> dict[int, tuple[str, float, int]]:
    """Descendants of ``root`` (default: this process), itself included:
    pid -> (kind, cpu seconds, rss bytes)."""
    root = root or os.getpid()
    stats = _read_stats()
    out = {}
    for pid, (_ppid, comm, cpu, rss) in stats.items():
        p, chain = pid, []
        while p > 1 and p != root:
            chain.append(p)
            p = stats.get(p, (0,))[0]
        if p != root:
            continue
        if pid == root:
            kind = "driver"
        elif comm == "java":
            kind = "jvm"
        else:
            kind = "pyworker"
        out[pid] = (kind, cpu, rss)
    return out


def cpu_by_kind() -> dict[str, float]:
    acc = dict.fromkeys(KINDS, 0.0)
    for kind, cpu, _ in tree().values():
        acc[kind] += cpu
    return acc


class PeakRss:
    """Background sampler of the summed RSS per kind; keeps each kind's
    peak while running. Use as a context manager around a timed phase."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = dict.fromkeys(KINDS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        cur = dict.fromkeys(KINDS, 0)
        for kind, _, rss in tree().values():
            cur[kind] += rss
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def busy_probe_ms(n: int = 2_000_000) -> float:
    """Wall ms of a fixed pure-Python loop: slower than usual means the
    host was contended."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return (time.perf_counter() - t0) * 1e3


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (ticks)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two samples that the hypervisor
    stole from this guest."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
