#!/usr/bin/env python3
"""visigoth_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload {serve,maintain} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` re-runs the workload with spans, Spark's event log and the
/proc split on, and prints the per-layer metrics instead. The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench/`` in the working
directory. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import measure
import procstat
from tracing import Tracer, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("serve", "maintain")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    return ap.parse_args(argv)


def sandbox_env(work: str) -> None:
    """Point every temp, cache and home directory the driver, the JVM and
    the Python workers use at ``work``; put the checkout on the path."""
    for sub in ("tmp", "home", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "HOME": os.path.join(work, "home"),  # ensure_shipped's zip cache
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = None


def make_session(work: str, trace: bool):
    """``local[nproc]`` with the configs ``visigoth_spark.cli`` sets (Arrow
    conversion on, 64k-row Arrow batches, worker reuse) plus sandboxing."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .appName("perfbench")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the Python worker daemon and workers) has exited."""
    import signal

    from pyspark import SparkContext

    kids = [p for p in procstat.tree() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in procstat.wait_gone(kids, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    procstat.wait_gone(kids, 10)


# -- per-layer metrics ---------------------------------------------------------
def _median(vals, default=0.0) -> float:
    vals = [v for v in vals if v is not None]
    return float(statistics.median(vals)) if vals else default


def per_layer(b, names: list[str], groups: dict, host: dict
              ) -> dict[str, float]:
    """Every metric in ``names``; a layer the workload did not load
    reports 0."""
    out = dict.fromkeys(names, 0.0)
    tr = b.tracer
    spans = tr.timed_spans()
    for layer, s in tr.layer_summary(spans).items():
        out[f"{layer}.calls"] = s["calls"]
        out[f"{layer}.self_ms"] = s["self_s"] * 1e3

    def outer(sp):  # outermost span of its layer (no double counting)
        return sp.parent is None or sp.parent.layer != sp.layer

    def under(ops, pred) -> float:
        """Mean over ``ops`` of the summed duration of their spans that
        match ``pred``, in ms."""
        if not ops:
            return 0.0
        tot = dict.fromkeys(map(id, ops), 0.0)
        for sp in spans:
            if id(sp.op) in tot and sp is not sp.op and pred(sp):
                tot[id(sp.op)] += sp.dur
        return sum(tot.values()) / len(ops) * 1e3

    def durs(name, pool=spans):
        return [sp.dur for sp in pool if sp.name == name and sp.layer != "bench"]

    q_ops = [sp for sp in spans if sp.layer == "bench" and sp.name == "query"]
    out["analysis.query_ms"] = under(
        q_ops, lambda sp: sp.layer == "analysis" and outer(sp))
    out["query.term_df_ms"] = under(q_ops, lambda sp: sp.name == "term_df")
    out["query.collect_ms"] = under(
        q_ops, lambda sp: sp.layer == "pyspark" and outer(sp))
    out["query.search_ms"] = _median(durs("search")) * 1e3
    out["query.open_ms"] = _median(durs("open", tr.spans)) * 1e3
    out["query.refresh_ms"] = _median(durs("refresh")) * 1e3
    for key, fn in (("index_s", "build_index"), ("append_s", "append_index"),
                    ("delete_s", "delete_docs"), ("merge_s", "merge_appends"),
                    ("compact_s", "compact_index")):
        out[f"build.{key}"] = _median(
            [sp.dur for sp in spans if sp.name == fn and outer(sp)])

    ex = [e for e in b.explains if not e["early_exit_empty"]]
    if ex:
        out["query.driver_route_share"] = (
            sum(e["route"] == "driver" for e in ex) / len(ex))
        out["query.cache_hit_ratio"] = (
            sum(len(e["cached_terms"]) for e in ex)
            / max(1, sum(len(e["terms"]) for e in ex)))
        out["query.seg_files_planned"] = _median(
            e["seg_files_planned"] for e in ex)
        out["query.seg_files_total"] = _median(e["seg_files_total"] for e in ex)

    timed = {g: v for g, v in groups.items() if g.startswith("timed|")}
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes"):
        out[f"spark.{key}"] = sum(v.get(key, 0.0) for v in timed.values())
    n_tasks = out["spark.tasks"]
    out["spark.scheduler_delay_ms"] = (
        sum(v.get("scheduler_delay_ms", 0.0) for v in timed.values())
        / n_tasks if n_tasks else 0.0)
    # queries served: one per "query" op, BATCH_CHUNK per "search_many" op
    n_served = len(q_ops) + sum(
        sp.attrs.get("queries", 0) for sp in spans
        if sp.layer == "bench" and sp.name == "search_many")
    if n_served:
        out["query.spark_jobs_per_query"] = sum(
            v.get("jobs", 0) for g, v in timed.items()
            if g.startswith(("timed|query|", "timed|search_many|"))) / n_served
    out["query.driver_route_jobs"] = sum(
        v.get("jobs", 0) for g, v in timed.items()
        if g.startswith("timed|query|") and g.endswith("route=driver"))

    for kind in ("driver", "jvm", "pyworker"):
        out[f"proc.{kind}_cpu_s"] = b.cpu[kind]
    out["proc.jvm_rss_mb"] = b.rss_peak["jvm"] / 2**20
    out["proc.pyworker_rss_mb"] = b.rss_peak["pyworker"] / 2**20
    out["storage.index_bytes"], out["storage.index_files"] = measure.dir_size(
        b.index_dir)
    out["host.probe_ms"] = host["probe_ms"]
    out["host.steal_share"] = host["steal_share"]
    out["trace.throughput"] = b.end_to_end()["throughput"]
    out["trace.spans"] = len(tr.spans)
    out.update(b.layer)
    out.update(layer_probes(b))
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: "
                       f"{sorted(unknown)}")
    return out


def layer_probes(b) -> dict[str, float]:
    """Single-layer measurements outside the workload: ``analyze_flat`` on
    the corpus's first 10k docs, and ``decode_segment`` over the blobs of
    the query stream's terms; plus the index's bytes per posting."""
    import pandas as pd
    import pyarrow.dataset as ds

    from visigoth_spark.analysis import analyze_flat, analyze_text
    from visigoth_spark.build import load_stats
    from visigoth_spark.codec import decode_segment

    inp = b.inputs
    out = {}
    texts = pd.Series(inp.corpus["text"].iloc[:10_000])
    t0 = time.perf_counter()
    analyze_flat(texts)
    out["analysis.docs_per_s"] = len(texts) / (time.perf_counter() - t0)

    terms = sorted({t for q, _ in inp.queries for t in analyze_text(q)})
    seg = ds.dataset(os.path.join(b.index_dir, "data"), format="parquet",
                     partitioning="hive")
    blobs = seg.to_table(columns=["blob"], filter=(ds.field("kind") == "s")
                         & ds.field("term").isin(terms))["blob"].to_pylist()
    n_post, t0 = 0, time.perf_counter()
    while blobs and time.perf_counter() - t0 < 0.3:
        for blob in blobs:
            n_post += len(decode_segment(blob)[0])
    dt = time.perf_counter() - t0
    out["codec.decode_mpostings_per_s"] = n_post / dt / 1e6 if n_post else 0.0
    st = load_stats(b.index_dir)
    out["codec.bytes_per_posting"] = st["bytes_blob"] / max(1, st["n_postings"])
    return out


# -- main ----------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import visigoth_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import workloads

    steal0 = procstat.cpu_times()
    probe0 = procstat.busy_probe_ms()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sandbox_env(work)
        spark = make_session(work, bool(args.trace))
        try:
            b = measure.Bench(spark, Tracer(bool(args.trace), spark), work,
                              args.seed, args.seconds, args.scale)
            b.tracer.install()
            try:
                getattr(workloads, args.workload)(b)
            finally:
                b.tracer.uninstall()
            process_s = time.perf_counter() - measure.T_START
        finally:
            shutdown(spark)
        host = {"probe_ms": (probe0 + procstat.busy_probe_ms()) / 2,
                "probe_ms_before": probe0,
                "steal_share": procstat.steal_share(steal0,
                                                    procstat.cpu_times()),
                "process_s": process_s}
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        if args.trace:
            metrics = per_layer(
                b, [m["name"] for m in spec],
                read_event_log(os.path.join(work, "eventlog")), host)
        else:
            metrics = b.end_to_end()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host, "ops": len(b.latencies),
                      "units": b.units, "timed_s": b.wall,
                      "cpu_s": b.cpu, "rounds": b.round_stats()}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
