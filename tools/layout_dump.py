#!/usr/bin/env python3
"""Write the on-disk layout of one index lifecycle as JSON, to diff two
checkouts.

A change that must not move rows between files (a refactor of a writer, a
reader-only change) keeps the layout. This tool runs, on a seeded corpus
shaped like perfbench's ``maintain`` inputs, ``build_index`` (a url-sorted
parquet, ``assume_sorted``), two ``append_index`` calls, a ``delete_docs``,
``merge_appends`` and ``compact_index``, and after each op records:

- ``bench._segments_digest``: a digest of every segment row, whichever
  file holds it;
- the sorted per-file (min, max) key ranges the snapshot records for the
  segment files (term) and the docmap files (docid), file names aside.

Spark's range partitioner seeds its sample with the RDD id, so with the
default config the range bounds depend on the session's history. The
session here sets
``spark.sql.execution.rangeExchange.sampleSizePerPartition=1000000``, which
samples every row of these small inputs and pins the bounds. Compare two
checkouts with ``cmp``:

    git archive <parent> | tar -x -C /tmp/parent
    python tools/layout_dump.py /tmp/parent.json --repo /tmp/parent
    python tools/layout_dump.py /tmp/change.json
    cmp /tmp/parent.json /tmp/change.json

``--repo DIR`` imports ``visigoth_spark`` and ``bench`` from DIR instead of
this checkout. A run takes about three minutes on 4 vCPUs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

# the seed-961 ``maintain`` inputs of perfbench; two dumps compare only
# when both ran on these
DOCS, APPEND_DOCS, DELETE_DOCS, SEED = 3000, 500, 50, 961


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out", help="JSON file to write")
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose visigoth_spark to import (default: this one)")
    a = ap.parse_args()

    repo = os.path.abspath(a.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    from bench import _segments_digest
    from visigoth_spark import build as vb
    from visigoth_spark.corpus import generate_corpus, write_corpus_parquet

    spark = (SparkSession.builder.master("local[4]")
             .appName("layout-dump")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.execution.rangeExchange"
                     ".sampleSizePerPartition", "1000000")
             .getOrCreate())
    work = tempfile.mkdtemp(prefix="layout_dump_")
    idx = os.path.join(work, "idx")

    def layout(op: str) -> dict:
        snap = vb.load_snapshot(idx)
        files = {kind: sorted([e[f"{key}_min"], e[f"{key}_max"]]
                              for b in snap["batches"] for e in b[kind])
                 for kind, key in (("segfiles", "term"),
                                   ("docfiles", "docid"))}
        return {"op": op, "digest": _segments_digest(idx), **files}

    try:
        corpus = os.path.join(work, "corpus.parquet")
        write_corpus_parquet(corpus, DOCS, SEED)
        extra = generate_corpus(2 * APPEND_DOCS, SEED + 1)
        extra["url"] = extra["url"].str.replace("/page-", "/new-")
        extra = extra[["url", "text", "lang"]]
        out = []
        vb.build_index(spark, spark.read.parquet(corpus), idx,
                       assume_sorted=True)
        out.append(layout("build"))
        for i in range(2):
            part = extra.iloc[i * APPEND_DOCS:(i + 1) * APPEND_DOCS]
            vb.append_index(spark, spark.createDataFrame(part), idx)
            out.append(layout(f"append {i}"))
        urls = list(pd.read_parquet(corpus, columns=["url"])["url"]) + list(
            extra["url"])
        pick = np.random.RandomState(SEED).choice(
            len(urls), DELETE_DOCS, replace=False)
        vb.delete_docs(spark, idx, urls=[urls[i] for i in sorted(pick)])
        out.append(layout("delete"))
        vb.merge_appends(spark, idx)
        out.append(layout("merge"))
        vb.compact_index(spark, idx)
        out.append(layout("compact"))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(a.out, "w", encoding="utf-8") as f:
        f.write(json.dumps(out, sort_keys=True, indent=0) + "\n")
    for r in out:
        print(f"{r['op']}: digest {r['digest']}, "
              f"{len(r['segfiles'])} segment / {len(r['docfiles'])} docmap "
              f"files")
    return 0


if __name__ == "__main__":
    sys.exit(main())
