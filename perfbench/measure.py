"""Per-run accounting: timed phase, operations, failures and result checks."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

import procstat
from tracing import Tracer

T_START = time.perf_counter()


class Bench:
    """State of one benchmark run. Workloads call :meth:`op` for every
    operation; ops inside :meth:`timed` feed the end-to-end metrics."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int,
                 seconds: float, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        # (request key, seconds) per latency-bearing op in the timed phase
        self.latencies: list[tuple[object, float]] = []
        self.units = 0  # work units done in the timed phase
        self.wall = 0.0  # timed wall seconds, pauses excluded
        self.cpu = dict.fromkeys(procstat.KINDS, 0.0)
        self.rss_peak = dict.fromkeys(procstat.KINDS, 0)
        self.index_dir = ""  # index whose size index_bytes_ratio reports
        self.text_bytes = 0  # input text behind that index
        self.inputs = None  # the workload's inputs.Inputs
        self.layer: dict[str, float] = {}  # per-layer metrics set directly
        self.explains: list[dict] = []  # explain_query before each search
        self.written_bytes = 0  # bytes written by timed write ops (traced)
        # (elapsed, units, latencies) at the start of each repetition of the
        # timed work; throughput is the median over repetitions
        self.rounds: list[tuple[float, int, int]] = []
        self._phase = "setup"
        self._last_log = ""
        self._t0 = 0.0
        self._cpu0: dict[str, float] = {}

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    # -- timed phase -------------------------------------------------------
    def _mark(self) -> None:
        self._t0 = time.perf_counter()
        self._cpu0 = procstat.cpu_by_kind()

    def _accumulate(self) -> None:
        self.wall += time.perf_counter() - self._t0
        for k, v in procstat.cpu_by_kind().items():
            self.cpu[k] += v - self._cpu0[k]

    @contextlib.contextmanager
    def timed(self):
        self._phase = "timed"
        with procstat.PeakRss() as rss:
            self._mark()
            try:
                yield
            finally:
                self._accumulate()
                self._phase = "after"
        self.rss_peak = rss.peak

    @contextlib.contextmanager
    def paused(self):
        """Untimed work (result checks) inside the timed phase; outside
        it, nothing changes."""
        if not self.timing:
            yield
            return
        self._accumulate()
        phase, self._phase = self._phase, "check"
        try:
            yield
        finally:
            self._phase = phase
            self._mark()

    @property
    def timing(self) -> bool:
        """Inside the timed phase and not paused."""
        return self._phase == "timed"

    def elapsed(self) -> float:
        return self.wall + time.perf_counter() - self._t0

    def new_round(self) -> None:
        """Start another repetition of the workload's timed work."""
        self.rounds.append((self.elapsed(), self.units, len(self.latencies)))

    # -- operations ----------------------------------------------------------
    def op(self, name: str, fn, units: int = 0, latency_key=None, **attrs):
        """Run one program operation; returns its result, or None when it
        raised (counted as failed). With ``latency_key``, its wall time in
        the timed phase is a latency sample of that request."""
        self.attempted += 1
        t0 = time.perf_counter()
        self.log(f"{self._phase} {name}")
        try:
            with self.tracer.op(self._phase, name, **attrs):
                res = fn()
        except Exception:
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
            return None
        if self.timing:
            if latency_key is not None:
                self.latencies.append(
                    (latency_key, time.perf_counter() - t0))
            self.units += units
        return res

    def setup_step(self, fn) -> None:
        """One repetition of the workload's set-up; its wall time is a
        ``setup_s`` sample."""
        t0 = time.perf_counter()
        self.op("setup", fn)
        self.setup_s.append(time.perf_counter() - t0)

    def log(self, what: str) -> None:
        """Progress on stderr; a run of the same message prints once."""
        if what != self._last_log:
            self._last_log = what
            print(f"# {time.perf_counter() - T_START:7.2f}s {what}",
                  file=sys.stderr, flush=True)

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"# FAIL {why}", file=sys.stderr)

    def check(self, what: str, ok: bool) -> None:
        """One output check; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    # -- end-to-end metrics --------------------------------------------------
    def round_stats(self) -> list[dict[str, float]]:
        """Throughput and latency percentiles (ms) of each round (the whole
        timed phase when there is one)."""
        marks = (self.rounds or [(0.0, 0, 0)]) + [
            (self.wall, self.units, len(self.latencies))]
        out = []
        for (t0, u0, l0), (t1, u1, l1) in zip(marks, marks[1:]):
            lat = sorted(s for _, s in self.latencies[l0:l1])
            out.append({"throughput": (u1 - u0) / (t1 - t0),
                        "p50_ms": percentile(lat, 0.5) * 1e3,
                        "p90_ms": percentile(lat, 0.9) * 1e3,
                        "samples": len(lat)})
        return out

    def request_latencies(self) -> list[float]:
        """Each distinct request's median latency over its repeats in the
        timed phase, ascending: a host stall during one repeat does not
        move it, while a request that is slow every time stays slow."""
        by_key: dict[object, list[float]] = {}
        for key, sec in self.latencies:
            by_key.setdefault(key, []).append(sec)
        return sorted(statistics.median(v) for v in by_key.values())

    def end_to_end(self) -> dict[str, float]:
        """Throughput is the median over the rounds, so one round hit by a
        host stall does not move it; latency percentiles are over the
        requests' median latencies (:meth:`request_latencies`)."""
        lat = self.request_latencies()
        return {
            "setup_s": statistics.median(self.setup_s),
            "throughput": statistics.median(
                r["throughput"] for r in self.round_stats()),
            "latency_p50_ms": percentile(lat, 0.5) * 1e3,
            "latency_p90_ms": percentile(lat, 0.9) * 1e3,
            "cpu_ms_per_op": sum(self.cpu.values()) / max(self.units, 1) * 1e3,
            "driver_rss_mb": self.rss_peak["driver"] / 2**20,
            "index_bytes_ratio": dir_size(self.index_dir)[0] / self.text_bytes,
        }


def percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list (NaN when empty)."""
    if not sorted_vals:
        return float("nan")
    i = min(len(sorted_vals) - 1, max(0, int(round(q * len(sorted_vals))) - 1))
    return sorted_vals[i]


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def file_state(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_between(before: dict, after: dict) -> int:
    """Bytes of files new or rewritten between two :func:`file_state`s."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def rows_of(rows, with_qid: bool = False):
    """Comparable result rows: (url, score, hits), grouped by qid when
    ``with_qid``."""
    if not with_qid:
        return [(r["url"], r["score"], r["hits"]) for r in rows]
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["url"], r["score"], r["hits"]))
    return out


def same_results(a: list, b: list, rel: float = 1e-9) -> bool:
    """Top-k lists equal: same urls and hits in order, scores within
    ``rel``."""
    return len(a) == len(b) and all(
        ua == ub and ha == hb and abs(sa - sb) <= rel * max(1.0, abs(sa))
        for (ua, sa, ha), (ub, sb, hb) in zip(a, b))
