"""Maintenance-loop soak: the steady-state evidence a long-running
ingest deployment rests on.

Stream-ingest E epochs through streaming.foreach_batch_indexer with
``merge_every`` self-maintenance and periodic gc_index, and assert the
three boundedness properties a 10^12-doc deployment needs:

1. the VISIBLE batch count stays bounded (<= merge_every + a merged tier
   + the base) no matter how many epochs run — tiered merges keep L0
   from accumulating;
2. on-disk state stays bounded: GC removes replaced batch dirs, and the
   control plane stays small (``_manifests/`` holds the current snapshot,
   whose file ranges are proportional to the live files, and at most one
   tombstone file);
3. query latency stays flat — the p50 of a fixed query over the last
   fifth of the run is within noise of the first fifth (reported; only
   asserted loosely, this host's compute swings 2-4x — BASELINE.md).

Run standalone for a REAL soak (sf-scale epochs):

    python tools/soak_maintenance.py --epochs 60 --docs 10000 \
        --merge-every 8 --gc-every 4

The pytest wrapper (tests/test_soak_maintenance.py) runs a small
configuration of the same loop and asserts the structural bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_soak(spark, out_dir: str, epochs: int, docs_per_epoch: int,
             merge_every: int, gc_every: int, num_partitions: int = 2,
             query: str = "curso java", compact_every: int = 0) -> dict:
    """Drive the maintenance loop; returns per-epoch series + summary.
    Asserts nothing itself — callers pick their bounds.

    ``compact_every``: run the MAJOR compaction every N epochs. Minor
    merges bound the batch/file counts but are file-layout-only — each
    append permanently adds ``num_partitions`` buckets, so the query
    kernel's per-bucket fan-out grows one tier per append until a
    compaction re-buckets (the first 60-epoch soak measured exactly
    that: structural counters flat, query p50 drifting with the bucket
    count). The full steady-state story is merge-often + compact-rarely."""
    from visigoth_spark import storage as vstore
    from visigoth_spark.build import (compact_index, gc_index,
                                      load_snapshot, load_stats)
    from visigoth_spark.corpus import generate_corpus
    from visigoth_spark.query import SearchIndex
    from visigoth_spark.streaming import foreach_batch_indexer

    fn = foreach_batch_indexer(out_dir, num_partitions=num_partitions,
                               merge_every=merge_every)
    store = vstore.get_store(out_dir, spark)
    series = []
    total = 0
    for epoch in range(epochs):
        pdf = generate_corpus(docs_per_epoch, seed=10_000 + epoch)
        pdf = pdf.assign(url=f"e{epoch:04d}-" + pdf["url"])
        fn(spark.createDataFrame(pdf[["url", "text", "lang"]]),
           epoch_id=epoch)
        total += docs_per_epoch
        if gc_every and epoch and epoch % gc_every == 0:
            gc_index(out_dir)
        if compact_every and epoch and epoch % compact_every == 0:
            compact_index(spark, out_dir,
                          num_partitions=num_partitions * 4)
        vis = [b for b in load_snapshot(out_dir)["batches"] if b["n_docs"]]
        man_dir = os.path.join(out_dir, "_manifests")
        man_bytes = sum(store.getsize(os.path.join(man_dir, f))
                        for f in store.listdir(man_dir))
        dirs_on_disk = len([d for d in store.listdir(
            os.path.join(out_dir, "data")) if d.startswith("batch=")])
        idx = SearchIndex(spark, out_dir)
        lat = []
        for _ in range(3):
            t0 = time.time()
            idx.search(query, "bm25", k=10).collect()
            lat.append(time.time() - t0)
        series.append({
            "epoch": epoch,
            "visible_batches": len(vis),
            "batch_dirs_on_disk": dirs_on_disk,
            "manifest_bytes": man_bytes,
            "query_p50": round(statistics.median(lat), 4),
        })
    gc_index(out_dir)
    st = load_stats(out_dir)
    fifth = max(1, epochs // 5)
    p50_first = statistics.median(
        [s["query_p50"] for s in series[:fifth]])
    p50_last = statistics.median(
        [s["query_p50"] for s in series[-fifth:]])
    return {
        "epochs": epochs,
        "docs_per_epoch": docs_per_epoch,
        "merge_every": merge_every,
        "compact_every": compact_every,
        "n_docs": st["n_docs"],
        "expected_docs": total,
        "max_visible_batches": max(s["visible_batches"] for s in series),
        "final_visible_batches": series[-1]["visible_batches"],
        "max_batch_dirs_on_disk": max(s["batch_dirs_on_disk"]
                                      for s in series),
        "max_manifest_bytes": max(s["manifest_bytes"] for s in series),
        "query_p50_first_fifth": round(p50_first, 4),
        "query_p50_last_fifth": round(p50_last, 4),
        "p50_drift": round(p50_last / p50_first, 3) if p50_first else None,
        "series": series,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=60)
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--merge-every", type=int, default=8)
    ap.add_argument("--gc-every", type=int, default=4)
    ap.add_argument("--compact-every", type=int, default=0,
                    help="MAJOR compaction every N epochs (0 = never); "
                         "re-buckets — see run_soak docstring")
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--out", default=None,
                    help="index dir (default: fresh tmp under /dev/shm)")
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import SparkSession

    out = args.out or os.path.join(
        tempfile.mkdtemp(prefix="vg_soak_", dir="/dev/shm"), "idx")
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("visigoth-soak")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    summary = run_soak(spark, out, args.epochs, args.docs,
                       args.merge_every, args.gc_every, args.partitions,
                       compact_every=args.compact_every)
    summary["wall_sec"] = round(time.time() - t0, 1)
    full = dict(summary)
    summary.pop("series")
    print(json.dumps(summary, indent=2))
    with open(os.path.join(REPO, "soak_out.json"), "w") as f:
        json.dump(full, f, indent=2)
    bound = args.merge_every + 2  # L0 window + merged tier + base
    ok = (summary["n_docs"] == summary["expected_docs"]
          and summary["max_visible_batches"] <= bound + 1)
    print(f"SOAK {'OK' if ok else 'FAILED'}: "
          f"max_visible={summary['max_visible_batches']} (bound {bound}), "
          f"p50 drift {summary['p50_drift']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
