"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query — builds a real compressed inverted index
  (visigoth_spark.build) over the sf0.001 documents table and runs a top-k
  BM25 search through the per-bucket intersection kernel (visigoth_spark.
  query).
- ``queries()`` / ``oracle_sql()``: 45 paired entries — engine semantics
  (hits incl. duplicate-token weighting / linear / missing-term early exit /
  match-all / noop-zero / AND-BM25 / OR-BM25 / term df / corpus stats)
  re-expressed as relational plans, plus ``vg_bm25_stemmed`` (the REAL
  production path: Snowball-stemmed compressed index + block-max-WAND
  engine vs a DuckDB oracle with a transcribed stem-mapping table),
  ``vg_bm25_compacted`` (build + two appends + segment compaction —
  force-merge — vs the same ingest-path-invariant oracle),
  ``vg_bm25_merged`` (same ingest but tiered MINOR compaction,
  ``merge_appends``: file-layout-only merge, scores byte-identical),
  ``vg_bm25_tie_boundary`` (constructed exact-score tie class straddling
  k on an APPENDED index — pins the reference url tiebreak contract at
  the k boundary), ``vg_phrase_search`` (positional index +
  adjacency-chain phrase engine vs a DuckDB list-lambda oracle),
  ``vg_bm25_prefix`` / ``vg_bm25_fuzzy`` (term-dictionary expansion
  engines vs LIKE / levenshtein oracles), plus
  the training-data pipeline operators (dedup exact / jaccard with a live
  shingle-df cap / minhash-LSH with a bucket cap / simhash /
  embedding-cosine near-dup via sign-LSH, ANN cosine + IVF top-k, lang-id,
  quality, Gopher-style repetition filters, per-domain corpus stats,
  token counts, md5 + winnowing fingerprints, windowed event
  aggregation and gap sessionization (batch forms of the Structured
  Streaming shapes; the stateful applyInPandasWithState twin is pinned
  stream ≡ batch in pytest),
  multimodal binary metadata).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _ship_package(spark: SparkSession) -> None:
    """Make visigoth_spark importable on executors (spark-submit --py-files
    equivalent for a driver-created session)."""
    pkg_dir = os.path.join(_REPO, "visigoth_spark")
    zpath = os.path.join(tempfile.gettempdir(), "visigoth_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith((".py", ".txt")):  # .txt: packaged data
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, _REPO))
    spark.sparkContext.addPyFile(zpath)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the compressed index over sf0.001 docs, BM25-search it."""
    _ship_package(spark)
    from visigoth_spark.analysis import SQL_SAFE_ANALYZER
    from visigoth_spark.build import build_index
    from visigoth_spark.query import SearchIndex

    sf_dir = "/root/testdata/sf0.001"
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.format_string("doc-%08d", F.col("doc_id")).alias("url"),
            F.col("text"),
            F.col("lang"),
        )
    )
    out = os.path.join(tempfile.mkdtemp(prefix="vg_entry_"), "idx")
    build_index(spark, corpus, out, analyzer=SQL_SAFE_ANALYZER,
                num_partitions=4)
    idx = SearchIndex(spark, out, analyzer=SQL_SAFE_ANALYZER)
    return idx.search("spark join", engine="bm25", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from visigoth_spark.harness import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from visigoth_spark.harness import get_oracles

    return get_oracles()
