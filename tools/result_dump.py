#!/usr/bin/env python3
"""Write a canonical JSON of search results, to diff two checkouts.

A performance change must not change what a query returns. This tool
builds one small index (a build of ``--docs`` generated docs, then an
append of a quarter more, with ``store_raw`` and ``store_positions``) and
records, with Arrow conversion on and then off:

- every query x engine x route x k top-k result (10 queries, 7 engines,
  routes auto / driver / spark, k in 1, 3, 10: 630 result sets);
- per query, ``include_raw`` + ``highlight`` (bm25, k=10) and the
  unbounded ``k=None`` result (bm25): 20 sets;
- ``search_many`` of all queries on the auto and the spark route: 2 sets;
- ``term_df`` of every analyzed query token (plus absent terms), each
  query's ``explain_query``, and the prefix / fuzzy expansions.

Rows are lists in result order; floats keep their exact repr. The output
depends only on the code under test, so two runs are compared with
``cmp``: a parent checkout against the change, e.g.

    git archive <parent> | tar -x -C /tmp/parent
    python tools/result_dump.py /tmp/parent.json --repo /tmp/parent
    python tools/result_dump.py /tmp/change.json
    cmp /tmp/parent.json /tmp/change.json

``--repo DIR`` imports ``visigoth_spark`` from DIR instead of this
checkout. The tool also exits non-zero when the Arrow-on and Arrow-off
results differ. A run takes about four minutes on 4 vCPUs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

QUERIES = [
    "java", "programacion", "programación java",
    "curso completo programacion", "python", "", "huevos", "casco",
    "zampo",
    # a code point past the query tokenizer's gate (U+0904): the Arrow
    # analysis path; AND-empty, OR/hits match "java"
    "Java ऄxyzzy",
]
ENGINES = ("bm25", "bm25_or", "hits", "linear", "phrase", "bm25_prefix",
           "bm25_fuzzy")
ROUTES = ("auto", "driver", "spark")
KS = (1, 3, 10)
ABSENT = ["zzz-absent", "", "￿", "\U0001f600"]


def _rows(df) -> list:
    return [[r[c] for c in df.columns] for r in df.collect()]


def _dump(idx) -> dict:
    from visigoth_spark.analysis import analyze_text

    out: dict = {}
    for q in QUERIES:
        for engine in ENGINES:
            for route in ROUTES:
                for k in KS:
                    out[f"{engine}|{route}|k={k}|{q}"] = _rows(
                        idx.search(q, engine, k, route=route))
        out[f"bm25|raw+highlight|k=10|{q}"] = _rows(idx.search(
            q, "bm25", 10, include_raw=True, highlight=True))
        out[f"bm25|unbounded|{q}"] = _rows(idx.search(q, "bm25", None))
        out[f"explain|{q}"] = idx.explain_query(q, "bm25", 10)
    for route in ("auto", "spark"):
        out[f"search_many|{route}"] = _rows(
            idx.search_many(QUERIES, "bm25", 10, route=route))
    tokens = sorted({t for q in QUERIES for t in analyze_text(q)})
    out["term_df"] = idx.term_df(tokens + ABSENT)
    out["expand_prefix"] = {p: idx.expand_prefix(p)
                            for p in ("pro", "c", "zzz", "á")}
    out["expand_fuzzy"] = {t: idx.expand_fuzzy(t) for t in tokens}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out", help="JSON file to write")
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose visigoth_spark to import (default: this one)")
    ap.add_argument("--docs", type=int, default=400)
    ap.add_argument("--seed", type=int, default=5)
    a = ap.parse_args()

    repo = os.path.abspath(a.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    from pyspark.sql import SparkSession

    from visigoth_spark.build import append_index, build_index
    from visigoth_spark.corpus import generate_corpus
    from visigoth_spark.query import SearchIndex

    spark = (SparkSession.builder.master("local[2]")
             .appName("result-dump")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    work = tempfile.mkdtemp(prefix="result_dump_")
    try:
        pdf = generate_corpus(a.docs + a.docs // 4, seed=a.seed)
        pdf = pdf[["url", "text", "lang"]]
        base, extra = pdf.iloc[:a.docs], pdf.iloc[a.docs:]
        out_dir = os.path.join(work, "idx")
        build_index(spark, spark.createDataFrame(base), out_dir,
                    num_partitions=2, store_raw=True, store_positions=True)
        append_index(spark, spark.createDataFrame(
            extra.assign(url="zz-" + extra["url"])), out_dir,
            num_partitions=1)
        dumps = {}
        for arrow in ("true", "false"):
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled",
                           arrow)
            dumps[arrow] = _dump(SearchIndex(spark, out_dir))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    text = json.dumps({"arrow_on": dumps["true"], "arrow_off": dumps["false"]},
                      sort_keys=True, ensure_ascii=False, indent=0)
    with open(a.out, "w", encoding="utf-8") as f:
        f.write(text + "\n")
    n = sum(1 for k in dumps["true"] if "|" in k and not
            k.startswith("explain"))
    same = dumps["true"] == dumps["false"]
    print(f"{a.out}: {n} result sets per Arrow setting; "
          f"Arrow on == off: {same}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
