"""spark-submit entry points: build / query / inspect.

Usage (cluster):
    # package the library for the executors
    cd /root/repo && zip -r /tmp/visigoth_spark.zip visigoth_spark
    spark-submit --py-files /tmp/visigoth_spark.zip \
        visigoth_spark/cli.py build \
        --corpus /data/commoncrawl_pages --out s3a://bucket/idx/main \
        --partitions 4096 --batches 64 --resume

    spark-submit --py-files /tmp/visigoth_spark.zip \
        visigoth_spark/cli.py query \
        --index s3a://bucket/idx/main --engine bm25 -k 10 \
        "programación java"

Local (sandbox) smoke:
    python -m visigoth_spark.cli build --corpus .bench/corpus_100000.parquet \
        --out /tmp/idx --sorted
    python -m visigoth_spark.cli query --index /tmp/idx "curso java"

The build reads either a parquet path or (when --table is used) an Iceberg /
catalog table via ``spark.read.table`` — the input-table shape is the
BASELINE.json input_hint schema (url, warc_ts, html, text, lang). When the
``text`` column is absent it is derived from ``html`` with the vectorized
extractor (byte-identical to the oracle extractor, analysis.extract_text).

Index storage: ``--out`` / ``--index`` accept plain paths AND any scheme
Spark's Hadoop layer reaches (hdfs://, s3a://, gs://, abfs://, file://) —
the data planes go through Spark writers and the control plane (manifest
commits, GC, compaction swap, footer sweeps) through storage.py's
Hadoop-FileSystem store. Per-scheme commit-atomicity notes: storage.py.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _session(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Arrow conversion speeds up toPandas of distributed results and
        # createDataFrame of pandas input; the driver route does not need
        # it (a top-k result reads its rows locally, no job either way)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .getOrCreate()
    )


def _load_corpus(spark, args):
    from pyspark.sql import functions as F

    if args.table:
        df = spark.read.table(args.table)
    else:
        df = spark.read.parquet(args.corpus)
    if "text" not in df.columns:
        from visigoth_spark.analysis import extract_text_series

        # carry every column the build needs through the extractor pass:
        # lang (for --lang filtering) and the --statement-col column
        extra = [c for c in dict.fromkeys(
            ["lang"] + ([args.statement_col]
                        if getattr(args, "statement_col", None) else [])
        ) if c in df.columns]
        out_schema = "url string, text string" + "".join(
            f", {c} string" for c in extra
        )

        def gen(it):
            for pdf in it:
                pdf = pdf.copy()
                pdf["text"] = extract_text_series(pdf["html"])
                yield pdf[["url", "text"] + extra]

        df = df.select("url", "html", *extra).mapInPandas(gen, out_schema)
    if args.lang:
        df = df.filter(F.col("lang") == args.lang)
    return df


def cmd_build(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="cli build")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--corpus", help="parquet path of the corpus")
    src.add_argument("--table", help="catalog (Iceberg) table name")
    p.add_argument("--out", required=True, help="index output directory")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--batches", type=int, default=1,
                   help="checkpoint batches (resume granularity)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--sorted", action="store_true",
                   help="corpus is url-sorted; skip the range shuffle")
    p.add_argument("--lang", default=None, help="filter to one language")
    p.add_argument("--no-stem", action="store_true")
    p.add_argument("--store-raw", action="store_true",
                   help="store document content for Doc.Raw hydration")
    p.add_argument("--statement-col", default=None,
                   help="index THIS column, store text as content "
                        "(DocRequest statement/content split)")
    p.add_argument("--store-positions", action="store_true",
                   help="store positional postings (enables "
                        "--engine phrase at query time)")
    a = p.parse_args(argv)

    from visigoth_spark.analysis import AnalyzerConfig, DEFAULT_ANALYZER
    from visigoth_spark.build import build_index

    spark = _session("visigoth-build")
    analyzer = (AnalyzerConfig(stem=False) if a.no_stem else DEFAULT_ANALYZER)
    t0 = time.time()
    m = build_index(
        spark, _load_corpus(spark, a), a.out, analyzer=analyzer,
        num_partitions=a.partitions, n_batches=a.batches, resume=a.resume,
        assume_sorted=a.sorted, store_raw=a.store_raw,
        statement_col=a.statement_col, store_positions=a.store_positions,
    )
    print(json.dumps({
        "n_docs": m.n_docs, "n_postings": m.n_postings,
        "n_segments": m.n_segments, "bytes_blob": m.bytes_blob,
        "wall_sec": round(m.wall_sec, 2),
        "docs_per_sec": round(m.n_docs / max(m.wall_sec, 1e-9), 1),
    }))
    return 0


def cmd_query(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="cli query")
    p.add_argument("--index", required=True)
    p.add_argument("--engine", default="bm25",
                   choices=["bm25", "bm25_exhaustive", "bm25_or",
                            "phrase", "bm25_prefix", "bm25_fuzzy", "hits",
                            "linear", "noop_zero", "noop_all"])
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--no-stem", action="store_true")
    p.add_argument("--route", default="auto",
                   choices=["auto", "driver", "spark"],
                   help="query routing: auto = cost-based (small queries "
                        "driver-local, head queries distributed)")
    p.add_argument("--slop", type=int, default=0,
                   help="phrase proximity window: tokens in order within "
                        "len(tokens)+slop analyzed tokens (phrase only)")
    p.add_argument("--exclude", default=None,
                   help="boolean NOT: drop documents containing any of "
                        "these terms (analyzed with the same analyzer)")
    p.add_argument("--highlight", action="store_true",
                   help="add per-result match spans over the stored "
                        "content (requires an index built with "
                        "--store-raw)")
    p.add_argument("query", nargs="+")
    a = p.parse_args(argv)

    from visigoth_spark.analysis import AnalyzerConfig, DEFAULT_ANALYZER
    from visigoth_spark.query import SearchIndex

    spark = _session("visigoth-query")
    analyzer = (AnalyzerConfig(stem=False) if a.no_stem else DEFAULT_ANALYZER)
    idx = SearchIndex(spark, a.index, analyzer=analyzer)
    t0 = time.time()
    rows = idx.search(" ".join(a.query), a.engine, a.k,
                      include_raw=idx.has_raw, route=a.route,
                      slop=a.slop, exclude=a.exclude,
                      highlight=a.highlight).collect()
    dt = time.time() - t0
    # wire shape ≙ the reference's result JSON {"doc": {"id":…, "raw":…},
    # "hits": n} (search_result_easyjson.go:127-142), extended with the
    # BM25 score; "raw" present when the index stores document content
    for r in rows:
        doc = {"id": r["url"]}
        if idx.has_raw:
            doc["raw"] = r["raw"]
        rec = {"doc": doc, "hits": r["hits"], "score": r["score"]}
        if a.highlight:
            rec["matches"] = json.loads(r["matches"])
        print(json.dumps(rec))
    print(f"# {len(rows)} results in {dt:.3f}s", file=sys.stderr)
    return 0


def cmd_suggest(argv: list[str]) -> int:
    """Did-you-mean: single term (df-ranked neighbors) or whole query
    (per-token corrections re-ranked by AND-bound estimated result df)."""
    p = argparse.ArgumentParser(prog="cli suggest")
    p.add_argument("--index", required=True)
    p.add_argument("--max-edits", type=int, default=1, choices=[1, 2])
    p.add_argument("-k", type=int, default=5)
    p.add_argument("--no-stem", action="store_true")
    p.add_argument("query", nargs="+")
    a = p.parse_args(argv)

    from visigoth_spark.analysis import (AnalyzerConfig, DEFAULT_ANALYZER,
                                         analyze_text)
    from visigoth_spark.query import SearchIndex

    spark = _session("visigoth-suggest")
    analyzer = (AnalyzerConfig(stem=False) if a.no_stem else DEFAULT_ANALYZER)
    idx = SearchIndex(spark, a.index, analyzer=analyzer)
    q = " ".join(a.query)
    # route on analyzed tokens, not argv words: one quoted argument may
    # hold a whole query
    if len(analyze_text(q, analyzer)) <= 1:
        out = idx.suggest(q, max_edits=a.max_edits, k=a.k)
        for term, df in out:
            print(json.dumps({"term": term, "df": df}))
    else:
        out = idx.suggest_query(q, max_edits=a.max_edits, k=a.k)
        for qq, est in out:
            print(json.dumps({"query": qq, "estimated_df": est}))
    return 0


def cmd_compact(argv: list[str]) -> int:
    """Merge appended batches into the canonical single-batch layout
    (build.compact_index): url-ordered dense docids, P range buckets,
    term-range-partitioned segment files."""
    p = argparse.ArgumentParser(prog="cli compact")
    p.add_argument("--index", required=True)
    p.add_argument("--dest", default=None,
                   help="write the compacted index HERE instead of "
                        "swapping in place (then repoint the alias)")
    p.add_argument("--partitions", type=int, default=None)
    a = p.parse_args(argv)
    from visigoth_spark.build import compact_index

    spark = _session("visigoth-compact")
    m = compact_index(spark, a.index, dest=a.dest,
                      num_partitions=a.partitions)
    print(json.dumps({
        "n_docs": m.n_docs, "n_postings": m.n_postings,
        "n_segments": m.n_segments, "bytes_blob": m.bytes_blob,
        "wall_sec": round(m.wall_sec, 2),
    }))
    return 0


def cmd_merge(argv: list[str]) -> int:
    """Tiered (minor) compaction (build.merge_appends): collapse the
    appended batches into one term-range-partitioned tier — no docid
    remap, no blob re-encode, results byte-identical."""
    p = argparse.ArgumentParser(prog="cli merge")
    p.add_argument("--index", required=True)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--min-batches", type=int, default=2)
    p.add_argument("--no-gc", action="store_true",
                   help="defer reclaiming the replaced batches (readers "
                        "that planned pre-merge keep a snapshot); run "
                        "`cli gc` later")
    a = p.parse_args(argv)
    from visigoth_spark.build import merge_appends

    spark = _session("visigoth-merge")
    m = merge_appends(spark, a.index, num_partitions=a.partitions,
                      min_batches=a.min_batches, gc=not a.no_gc)
    if m is None:
        print(json.dumps({"merged": False,
                          "reason": f"fewer than {a.min_batches} "
                                    "appended batches"}))
        return 0
    print(json.dumps({
        "merged": True, "n_docs": m.n_docs, "n_postings": m.n_postings,
        "n_segments": m.n_segments, "bytes_blob": m.bytes_blob,
        "wall_sec": round(m.wall_sec, 2),
    }))
    return 0


def cmd_gc(argv: list[str]) -> int:
    """Reclaim batches hidden by a merge's replaces field
    (build.gc_index) — the deferred half of merge --no-gc workflows; run
    once readers that planned before the merge are gone."""
    p = argparse.ArgumentParser(prog="cli gc")
    p.add_argument("--index", required=True)
    a = p.parse_args(argv)
    from visigoth_spark.build import gc_index
    from visigoth_spark.storage import is_uri

    if is_uri(a.index):
        _session("visigoth-gc")  # URI stores need the Spark JVM
    print(json.dumps({"reclaimed": gc_index(a.index)}))
    return 0


def cmd_fuzzydict(argv: list[str]) -> int:
    """Build/refresh the SymSpell deletion-neighborhood sidecar for
    O(keys) fuzzy expansion (build.build_fuzzydict); run alongside the
    other maintenance ops — a stale sidecar is ignored (scan fallback)."""
    p = argparse.ArgumentParser(prog="cli fuzzydict")
    p.add_argument("--index", required=True)
    a = p.parse_args(argv)
    from visigoth_spark.build import build_fuzzydict

    spark = _session("visigoth-fuzzydict")
    print(json.dumps({"variants": build_fuzzydict(spark, a.index)}))
    return 0


def cmd_delete(argv: list[str]) -> int:
    """Tombstone documents by url (build.delete_docs — LSM deletion:
    masked at query time, physically purged by `compact`)."""
    p = argparse.ArgumentParser(prog="cli delete")
    p.add_argument("--index", required=True)
    p.add_argument("urls", nargs="+")
    a = p.parse_args(argv)
    from visigoth_spark.build import delete_docs

    spark = _session("visigoth-delete")
    print(json.dumps(
        {"tombstoned": delete_docs(spark, a.index, urls=a.urls)}))
    return 0


def cmd_explain(argv: list[str]) -> int:
    """Plan-level diagnostics for a query WITHOUT running it
    (SearchIndex.explain_query): route decision, per-term dfs,
    manifest-admitted segment file count, early-exit, over-fetch."""
    p = argparse.ArgumentParser(prog="cli explain")
    p.add_argument("--index", required=True)
    p.add_argument("--engine", default="bm25")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--no-stem", action="store_true")
    p.add_argument("query", nargs="+")
    a = p.parse_args(argv)
    from visigoth_spark.analysis import AnalyzerConfig, DEFAULT_ANALYZER
    from visigoth_spark.query import SearchIndex

    spark = _session("visigoth-explain")
    analyzer = (AnalyzerConfig(stem=False) if a.no_stem else DEFAULT_ANALYZER)
    idx = SearchIndex(spark, a.index, analyzer=analyzer)
    print(json.dumps(
        idx.explain_query(" ".join(a.query), a.engine, a.k), indent=2))
    return 0


def cmd_inspect(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="cli inspect")
    p.add_argument("--index", required=True)
    a = p.parse_args(argv)
    from visigoth_spark.build import load_stats, load_tombstones

    out = load_stats(a.index)
    out["n_tombstones"] = len(load_tombstones(a.index))
    print(json.dumps(out, indent=2))
    return 0


def main() -> int:
    cmds = {"build": cmd_build, "query": cmd_query,
            "compact": cmd_compact, "merge": cmd_merge,
            "gc": cmd_gc, "inspect": cmd_inspect,
            "explain": cmd_explain, "delete": cmd_delete,
            "fuzzydict": cmd_fuzzydict, "suggest": cmd_suggest}
    if len(sys.argv) < 2 or sys.argv[1] not in cmds:
        print(f"usage: cli.py {{{'|'.join(cmds)}}} ...", file=sys.stderr)
        return 2
    return cmds[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    sys.exit(main())
