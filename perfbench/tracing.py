"""Spans around calls into visigoth_spark's layers, and Spark's event log.

The traced run wraps the public functions of each layer module (and
``SearchIndex``'s public methods) in place, from this file, so every call
the program makes into a layer records a span: layer, name, start, end and
the span that caused it. Spans of one benchmark operation share its op
span as root. ``pyspark`` spans time the Python<->JVM boundary calls
(``createDataFrame`` and ``collect``).

Each benchmark operation also tags its Spark jobs with ``setJobGroup``;
``read_event_log`` sums the task metrics of Spark's event log per group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import sys
import time
from collections import defaultdict

# layer -> (module, public names). SearchIndex methods are wrapped on the
# class; storage methods on LocalStore (the store of a local index).
LAYERS = {
    "analysis": ("visigoth_spark.analysis",
                 ("analyze_text", "analyze_flat", "analyze_series")),
    "codec": ("visigoth_spark.codec",
              ("encode_segment", "encode_groups", "decode_segment",
               "decode_docids", "decode_skips", "decode_block")),
    "build": ("visigoth_spark.build",
              ("build_index", "append_index", "merge_appends", "delete_docs",
               "compact_index", "gc_index", "load_stats", "load_tombstones")),
}
QUERY_METHODS = ("__init__", "refresh", "search", "search_many", "term_df",
                 "explain_query", "indexed", "documents")
STORAGE_METHODS = ("exists", "isdir", "listdir", "makedirs", "read_bytes",
                   "write_atomic", "remove", "rmtree", "rename", "getsize",
                   "create_exclusive", "read_json", "write_json_atomic")
ALL_LAYERS = ("analysis", "codec", "query", "build", "storage", "pyspark")


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, layer, name, parent, op):
        self.layer, self.name, self.parent, self.op = layer, name, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.attrs = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, ``op`` only times the operation."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._n_ops = 0

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, name, parent, parent.op if parent else None)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, phase: str, name: str, **attrs):
        """One benchmark operation: a root span (layer ``bench``) whose
        Spark jobs run under the job group ``phase|name|n|attrs``."""
        if not self.enabled:
            yield None
            return
        self._n_ops += 1
        group = "|".join([phase, name, str(self._n_ops)]
                         + [f"{k}={v}" for k, v in sorted(attrs.items())])
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            with self.span("bench", name) as sp:
                sp.op = sp
                sp.attrs.update(attrs, phase=phase, group=group)
                yield sp
        finally:
            sc.setJobGroup("idle", "idle")

    # -- patching ----------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(layer, name):
                return fn(*a, **kw)

        return wrapper

    def _patch_everywhere(self, orig, wrapper) -> None:
        """Replace ``orig`` in every visigoth_spark module namespace that
        holds it (``from x import f`` copies the reference)."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("visigoth_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def _patch_attr(self, owner, attr: str, layer: str, name: str) -> None:
        # an inherited method is shadowed on ``owner``; undo deletes it
        self._undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, self._wrap(layer, name, getattr(owner, attr)))

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        from pyspark.sql import DataFrame, SparkSession

        import visigoth_spark.query as vq
        import visigoth_spark.storage as vs

        for layer, (mname, names) in LAYERS.items():
            mod = importlib.import_module(mname)
            for n in names:
                orig = getattr(mod, n)
                self._patch_everywhere(orig, self._wrap(layer, n, orig))
        for n in QUERY_METHODS:
            self._patch_attr(vq.SearchIndex, n, "query",
                             "open" if n == "__init__" else n)
        for n in STORAGE_METHODS:
            self._patch_attr(vs.LocalStore, n, "storage", n)
        self._patch_attr(SparkSession, "createDataFrame", "pyspark",
                         "createDataFrame")
        self._patch_attr(DataFrame, "collect", "pyspark", "collect")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------
    def timed_spans(self) -> list[Span]:
        return [s for s in self.spans
                if s.op is not None and s.op.attrs.get("phase") == "timed"]

    def layer_summary(self, spans: list[Span]) -> dict[str, dict]:
        """Per layer: calls and self time (span minus its children)."""
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[id(s.parent)] += s.dur
        out = {lay: {"calls": 0, "self_s": 0.0} for lay in ALL_LAYERS}
        for s in spans:
            if s.layer in out:
                out[s.layer]["calls"] += 1
                out[s.layer]["self_s"] += s.dur - child[id(s)]
        return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Spark event log -> per job group sums: jobs, tasks, executor run /
    CPU / GC seconds, shuffle bytes written and scheduler delay."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a directory per application (rolling event log)
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "none")
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "none")
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    acc = groups[g]
                    acc["tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    acc["executor_run_s"] += run_ms / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    acc["scheduler_delay_ms"] += max(
                        0, dur - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0))
    return {g: dict(v) for g, v in groups.items()}
