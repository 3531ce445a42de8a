"""Driver-contract harness: paired (Spark query, DuckDB oracle SQL) over the
driver's testdata tables (documents, embeddings, ...).

Every Spark callable here is pure Catalyst (built-in functions only — no
Python UDF in any of these plans), so each has an exactly-equivalent ANSI SQL
form the DuckDB oracle runs side-by-side. Engine-semantics queries (hits /
linear / match-all / bm25) re-express the reference's search operators
(SURVEY.md §2.3) as relational plans; the pipeline queries cover the
training-data operators (dedup / similarity / text analysis).

Tokenization used throughout THIS harness: lower + split on non-alphanumeric
(no stemming — DuckDB has no Snowball in-sandbox; full-analyzer rank identity
is covered in pytest against the oracle engine instead).

Column-name contract: every computed column is aliased identically in the
Spark plan and the SQL string (the driver hash-compares by sorted column
name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visigoth_spark import pipeline as P

# shared SQL fragments -------------------------------------------------------

# prefix of the /tmp index-cache keys: bumped when the on-disk index layout
# changes, so an index cached by older code is rebuilt instead of opened
_CACHE_LAYOUT = "snapshot-v1:"


def _cache_key(tag: str, sf_dir: str) -> str:
    import hashlib

    key = (_CACHE_LAYOUT + tag + sf_dir).encode()
    return hashlib.md5(key).hexdigest()[:10]


SQL_TOKENS = """
toks AS (
    SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+')) AS t
        FROM documents
    ) WHERE t <> ''
)
"""

SQL_TOKLIST = """
tl AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                       x -> x <> '') AS l
    FROM documents
)
"""

SQL_SHINGLES = SQL_TOKLIST + """,
sh AS (
    SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
    FROM tl, LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) r
    WHERE len(l) >= 3
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t) exploded non-empty lowercase tokens."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(P.tokens_col(F.col("text"))).alias("t"))
    )


# ---------------------------------------------------------------------------
# Engine-semantics queries (reference operators as relational plans)
# ---------------------------------------------------------------------------

HITS_TERMS = ["spark", "join", "table"]
LINEAR_TERMS = ["window", "merge"]
BM25_TERMS = ["spark", "join"]  # sorted
BM25_K1, BM25_B, BM25_K = 1.2, 0.75, 10


def q_hits_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ HitsSearch (search_hits_search.go:43-97): AND via hit-count
    threshold — groupBy + HAVING, Catalyst partial aggregation."""
    t = _tokens(spark, sf_dir)
    return (
        t.filter(F.col("t").isin(HITS_TERMS))
        .select("doc_id", "t").distinct()
        .groupBy("doc_id").agg(F.count("*").alias("hits"))
        .filter(F.col("hits") >= len(HITS_TERMS))
    )


SQL_HITS = f"""
WITH {SQL_TOKENS}
SELECT doc_id, hits FROM (
    SELECT doc_id, COUNT(DISTINCT t) AS hits
    FROM toks WHERE t IN ('spark', 'join', 'table')
    GROUP BY doc_id
) WHERE hits >= 3
"""


def q_linear_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ LinearSearch (search_linear_search.go:58-92): multi-way
    intersection as chained left-semi joins; hits = len(tokens)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    t = _tokens(spark, sf_dir)
    out = docs
    for term in LINEAR_TERMS:
        out = out.join(
            t.filter(F.col("t") == term).select("doc_id").distinct(),
            "doc_id", "left_semi",
        )
    return out.select("doc_id", F.lit(len(LINEAR_TERMS)).alias("hits"))


SQL_LINEAR = f"""
WITH {SQL_TOKENS}
SELECT doc_id, CAST(2 AS INTEGER) AS hits FROM documents
WHERE doc_id IN (SELECT doc_id FROM toks WHERE t = 'window')
  AND doc_id IN (SELECT doc_id FROM toks WHERE t = 'merge')
"""


DF_TERMS = ["spark", "join", "window", "merge", "data"]


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term dictionary probe: document frequency per term (≙ the df stats
    behind MemoryIndex.Indexed / our term_dict pruning)."""
    t = _tokens(spark, sf_dir)
    return (
        t.filter(F.col("t").isin(DF_TERMS))
        .select("doc_id", F.col("t").alias("term")).distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
    )


SQL_TERM_DF = f"""
WITH {SQL_TOKENS}
SELECT t AS term, COUNT(DISTINCT doc_id) AS df
FROM toks WHERE t IN ('spark', 'join', 'window', 'merge', 'data')
GROUP BY t
"""


def q_doclen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats (≙ MemoryIndex.Len + BM25 avgdl inputs). One plan, no
    driver-side count(): the doc count rides in as a broadcast crossJoin."""
    nd = _docs(spark, sf_dir).agg(F.count("*").alias("nd"))
    t = _tokens(spark, sf_dir)
    return (
        t.agg(F.count("*").alias("total_tokens"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("nd").alias("n_docs"),
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("nd"), 6).alias("avgdl"),
        )
    )


SQL_DOCLEN_STATS = f"""
WITH {SQL_TOKENS}
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       COUNT(*) AS total_tokens,
       ROUND(COUNT(*) / (SELECT COUNT(*) FROM documents), 6) AS avgdl
FROM toks
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared AND/OR BM25 plan core: per-doc summed contributions with the
    corpus stats (n_docs, avgdl) riding in as a broadcast crossJoin — ONE
    plan, zero driver-side count() jobs."""
    t = _tokens(spark, sf_dir)
    stats = (
        t.agg(F.count("*").alias("tt"))
        .crossJoin(F.broadcast(
            _docs(spark, sf_dir).agg(F.count("*").alias("nd"))
        ))
        .select("nd", (F.col("tt") / F.col("nd")).alias("avgdl"))
    )
    dl = t.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        t.filter(F.col("t").isin(BM25_TERMS))
        .groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("nd").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5) + 1.0
    )
    return (
        tf.join(F.broadcast(df_), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            idf * (F.col("tf") * (BM25_K1 + 1.0)) / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B
                             + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("score"),
            F.count("*").alias("nt"),
        )
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive BM25 top-k as one relational plan: tf/df/dl aggregates,
    AND candidate set, (score DESC, doc_id ASC) top-10. The compressed-index
    engine (query.py) is the scale path; this is its SQL-checkable twin."""
    return (
        _bm25_scored(spark, sf_dir)
        .filter(F.col("nt") == len(BM25_TERMS))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_K)
    )


SQL_BM25 = f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE t IN ('spark', 'join') GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = 2
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_hits_duplicate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-token semantics (search_hits_search.go:52-76 + threshold
    at :46,88): a repeated query token re-counts its docs, so the query
    "spark spark join" needs hits >= 3 with 'spark' weighted x2 — AND of
    the DISTINCT terms, but instance-weighted counting."""
    t = _tokens(spark, sf_dir)
    weights = {"spark": 2, "join": 1}
    w = F.when(F.col("t") == "spark", F.lit(2)).otherwise(F.lit(1))
    return (
        t.filter(F.col("t").isin(list(weights)))
        .select("doc_id", "t").distinct()
        .withColumn("w", w)
        .groupBy("doc_id").agg(F.sum("w").alias("hits"))
        .filter(F.col("hits") >= 3)
    )


SQL_HITS_DUP = f"""
WITH {SQL_TOKENS}
SELECT doc_id, hits FROM (
    SELECT doc_id,
           CAST(SUM(CASE WHEN t = 'spark' THEN 2 ELSE 1 END) AS BIGINT)
               AS hits
    FROM (SELECT DISTINCT doc_id, t FROM toks
          WHERE t IN ('spark', 'join'))
    GROUP BY doc_id
) WHERE hits >= 3
"""


def q_missing_term_early_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND with a vocabulary-absent term -> provably empty
    (search_linear_search.go:65-67; our plan-time df=0 early exit)."""
    t = _tokens(spark, sf_dir)
    present = t.filter(F.col("t") == "spark").select("doc_id").distinct()
    absent = t.filter(F.col("t") == "xyzzynomatch").select("doc_id").distinct()
    return present.join(absent, "doc_id", "left_semi").select(
        "doc_id", F.lit(0).alias("hits")
    )


SQL_MISSING_TERM = f"""
WITH {SQL_TOKENS}
SELECT doc_id, CAST(0 AS INTEGER) AS hits FROM (
    SELECT DISTINCT doc_id FROM toks WHERE t = 'spark'
) WHERE doc_id IN (SELECT doc_id FROM toks WHERE t = 'xyzzynomatch')
"""


def q_bm25_or_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive BM25 top-k (engine extension): union candidate set,
    absent terms contribute 0 — the q_bm25_topk plan without the AND
    filter."""
    return (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_K)
    )


SQL_BM25_OR = f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE t IN ('spark', 'join') GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT tf.doc_id,
       ROUND(SUM(
           LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       ), 6) AS score
FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id ASC LIMIT 10
"""


def q_match_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ NoopAllSearch (search_noop_search.go:11-21)."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.lit(0).alias("hits")
    )


SQL_MATCH_ALL = "SELECT doc_id, CAST(0 AS INTEGER) AS hits FROM documents"


def q_noop_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≙ NoopZeroSearch (search_noop_search.go:6-8)."""
    return spark.createDataFrame([], "doc_id long, hits int")


SQL_NOOP_ZERO = (
    "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INTEGER) AS hits "
    "WHERE false"
)


def q_bm25_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PRODUCTION path under driver correctness: build the real
    compressed inverted index over the documents table with the Snowball
    stemmer ON (stopwords {'the','a'} so the oracle can mirror them), then
    run the default block-max-WAND bm25 engine for the query
    "tables data" — 'tables' does not occur raw in the corpus and matches
    docs containing 'table' only via the shared stem 'tabl' (and
    'data'->'dat'). The oracle SQL reproduces the analysis with a
    transcribed (token -> stem) mapping table generated by stemmer_es over
    the fixture vocabulary, so a hash match driver-checks the real Snowball
    analyzer + codec + WAND kernel end-to-end, not a relational twin."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import build_index, index_exists
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    docs = _docs(spark, sf_dir).select(
        F.format_string("doc-%012d", F.col("doc_id")).alias("url"), "text"
    )
    # one cached index per sf_dir (it is openable once its build has
    # committed) — repeated harness runs reuse it instead of accumulating
    # temp dirs
    key = _cache_key("", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_stem_harness", key, "idx")
    if not index_exists(out):
        build_index(spark, docs, out, analyzer=analyzer, num_partitions=4)
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("tables data", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-then-COMPACT production path under driver correctness: the
    documents table is ingested in three interleaved slices (build + two
    appends — docids land in ingest order, per-term postings fragment
    across three batch dirs), then ``compact_index`` rewrites the index to
    the canonical single-batch layout (url-ordered dense docids, merged
    segments, term-range files). The same stemmed WAND query as
    ``vg_bm25_stemmed`` must then hash-match the same DuckDB oracle — the
    oracle is ingest-path-invariant, so a match pins decode → docid remap →
    re-encode end-to-end against an independent engine."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import append_index, build_index, compact_index
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    # "v3:" = compacted-layout version, bumped when compact_index's output
    # changes (v2 per-file term ranges; v3 per-file docid ranges for
    # hydration) so a cached pre-upgrade index doesn't silently skip the
    # new pruned query/hydration paths
    key = _cache_key("v3:", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_compact_harness", key,
                       "idx")
    done = os.path.join(os.path.dirname(out), "COMPACTED")
    if not os.path.exists(done):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text", (F.col("doc_id") % 3).alias("slice"),
        )
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, docs.filter("slice = 0").drop("slice"), out,
                    analyzer=analyzer, num_partitions=4)
        for s in (1, 2):
            append_index(spark, docs.filter(f"slice = {s}").drop("slice"),
                         out, analyzer=analyzer, num_partitions=2)
        compact_index(spark, out, num_partitions=4)
        with open(done, "w") as f:
            f.write("ok")
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("tables data", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-then-MINOR-MERGE production path under driver correctness:
    same three-slice ingest as ``vg_bm25_compacted``, but the maintenance
    op is ``merge_appends`` — the tiered merge that rewrites file layout
    only (no docid remap, no blob re-encode). The same stemmed WAND query
    must hash-match the same ingest-path-invariant DuckDB oracle, pinning
    the merged tier + regenerated file-range manifest end-to-end."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import append_index, build_index, merge_appends
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    # "v2": merged layout now also writes the docfiles hydration manifest
    key = _cache_key("v2:", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_merge_harness", key,
                       "idx")
    done = os.path.join(os.path.dirname(out), "MERGED")
    if not os.path.exists(done):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text", (F.col("doc_id") % 3).alias("slice"),
        )
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, docs.filter("slice = 0").drop("slice"), out,
                    analyzer=analyzer, num_partitions=4)
        for s in (1, 2):
            append_index(spark, docs.filter(f"slice = {s}").drop("slice"),
                         out, analyzer=analyzer, num_partitions=2)
        merge_appends(spark, out, num_partitions=4)
        with open(done, "w") as f:
            f.write("ok")
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("tables data", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def q_bm25_object_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OBJECT-STORE production path under driver correctness: the same
    stemmed build + WAND query as ``vg_bm25_stemmed``, but the index lives
    at a ``file://`` URI — every control-plane operation (manifest
    commits, stats, termdict markers, footer sweeps for pruning manifests)
    routes through storage.HadoopStore, i.e. the Hadoop FileSystem JVM API
    an ``s3a://`` or ``hdfs://`` index would use. A hash match against the
    same ingest-path-invariant DuckDB oracle pins the non-POSIX storage
    code path end-to-end (the POSIX twin is ``vg_bm25_stemmed``)."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import (append_index, build_index,
                                      index_exists)
    from visigoth_spark.query import SearchIndex
    from visigoth_spark.storage import get_store

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    key = _cache_key("uri-v1:", sf_dir)
    out = "file://" + os.path.join(tempfile.gettempdir(),
                                   "vg_uri_harness", key, "idx")
    store = get_store(out, spark)
    if not index_exists(out):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text", (F.col("doc_id") % 2).alias("slice"),
        )
        store.rmtree(out)
        build_index(spark, docs.filter("slice = 0").drop("slice"), out,
                    analyzer=analyzer, num_partitions=4)
        append_index(spark, docs.filter("slice = 1").drop("slice"), out,
                     analyzer=analyzer, num_partitions=2)
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("tables data", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


_TIE_BASE = 10_000_000  # constructed-doc ids, far above any fixture doc_id


def _tie_docs() -> list[tuple[int, str]]:
    """One clear winner + six IDENTICAL docs: an exact BM25 score tie
    class. The tokens ('zorp', 'blik') never occur in the fixture corpus
    and are Snowball-es fixed points (stem == token, pinned by
    tests/test_harness_stemmed.py), so the tie class is fully controlled
    and the oracle needs no stem-mapping rows for them."""
    return [(_TIE_BASE, "zorp zorp zorp blik")] + [
        (_TIE_BASE + i, "zorp blik") for i in range(1, 7)
    ]


def q_bm25_tie_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-BOUNDARY TIEBREAK under driver correctness: the documents table
    plus a constructed exact-score tie class (6 identical docs + 1
    winner), ingested so the tied docs' DOCIDS land out of url order
    (build gets ids {+2,+4,+6}, append gets {0,+1,+3,+5}). The query
    'zorp blik' at k=4 returns the winner + 3 of the 6 tied docs; the
    reference contract (search_result.go:31-38 + entities_doc.go:12-14)
    selects the url-smallest ties — {+1,+2,+3} — while a (score, docid)
    selection would return {+2,+4,+6}. A hash match against the DuckDB
    oracle (ORDER BY score DESC, doc_id ASC LIMIT 4 over the same
    extended corpus) therefore pins the tie-extended over-fetch +
    url re-selection end-to-end on an APPENDED index."""
    import os
    import shutil
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import append_index, build_index
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    key = _cache_key("tie-v1:", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_tie_harness", key, "idx")
    done = os.path.join(os.path.dirname(out), "BUILT")
    if not os.path.exists(done):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text",
        )
        rows = [(f"doc-{i:012d}", t) for i, t in _tie_docs()]
        first = spark.createDataFrame(
            [r for r in rows if int(r[0][-1]) in (2, 4, 6)],
            "url string, text string")
        second = spark.createDataFrame(
            [r for r in rows if int(r[0][-1]) in (0, 1, 3, 5)],
            "url string, text string")
        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, docs.unionByName(first), out,
                    analyzer=analyzer, num_partitions=4)
        append_index(spark, second, out, analyzer=analyzer,
                     num_partitions=1)
        with open(done, "w") as f:
            f.write("ok")
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("zorp blik", engine="bm25", k=4)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def _sql_bm25_tie_boundary() -> str:
    vals = ",\n        ".join(f"({i}, '{t}')" for i, t in _tie_docs())
    return f"""
WITH corpus(doc_id, text) AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT * FROM (VALUES
        {vals}
    )
),
raw AS (
    SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'))
                   AS t
        FROM corpus
    ) WHERE t <> '' AND t NOT IN ('the', 'a')
),
stats AS (
    SELECT (SELECT COUNT(*) FROM corpus) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM corpus) AS avgdl
    FROM raw
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM raw GROUP BY doc_id),
tf AS (
    SELECT doc_id, t AS s, COUNT(*) AS tf FROM raw
    WHERE t IN ('zorp', 'blik') GROUP BY doc_id, t
),
dfs AS (SELECT s, COUNT(*) AS df FROM tf GROUP BY s)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (s) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = 2
ORDER BY score DESC, doc_id ASC LIMIT 4
"""


STEM_QUERY_STEMS = ("dat", "tabl")  # analyze("tables data") under Snowball-es


def _stem_mapping() -> dict[str, str]:
    """(token -> Snowball-es stem) for the sf0.01 fixture vocabulary,
    computed live from the testdata when readable (31 tokens), else the
    transcribed literal (pinned equal by tests/test_harness_stemmed.py)."""
    fallback = {
        "a": "a", "agg": "agg", "batch": "batch", "big": "big",
        "column": "column", "customer": "custom", "data": "dat",
        "dup": "dup", "fast": "fast", "filter": "filt", "group": "group",
        "hash": "hash", "join": "join", "key": "key", "line": "lin",
        "merge": "merg", "order": "order", "part": "part", "query": "query",
        "row": "row", "scan": "scan", "slow": "slow", "small": "small",
        "sort": "sort", "spark": "spark", "stream": "stream",
        "table": "tabl", "the": "the", "value": "valu", "vector": "vector",
        "window": "window",
    }
    try:
        import duckdb

        from visigoth_spark.stemmer_es import stem_vocab

        vocab = {
            r[0]
            for r in duckdb.sql(
                "WITH toks AS (SELECT unnest(regexp_split_to_array("
                "lower(text), '[^\\p{L}\\p{N}]+')) AS t FROM read_parquet("
                "'/root/testdata/sf0.01/documents.parquet')) "
                "SELECT DISTINCT t FROM toks WHERE t <> ''"
            ).fetchall()
        }
        return stem_vocab(vocab)
    except Exception:
        return fallback


def _sql_bm25_stemmed(query_stems: tuple[str, ...] = None) -> str:
    mapping = _stem_mapping()
    vals = ",\n        ".join(
        f"('{t}', '{s}')" for t, s in sorted(mapping.items())
    )
    query_stems = query_stems or STEM_QUERY_STEMS
    stems = ", ".join(f"'{s}'" for s in query_stems)
    return f"""
WITH m(tok, stem) AS (VALUES
        {vals}
),
raw AS (
    SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'))
                   AS t
        FROM documents
    ) WHERE t <> '' AND t NOT IN ('the', 'a')
),
st AS (
    SELECT raw.doc_id, COALESCE(m.stem, raw.t) AS s
    FROM raw LEFT JOIN m ON raw.t = m.tok
),
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM st
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM st GROUP BY doc_id),
tf AS (
    SELECT doc_id, s, COUNT(*) AS tf FROM st
    WHERE s IN ({stems}) GROUP BY doc_id, s
),
dfs AS (SELECT s, COUNT(*) AS df FROM tf GROUP BY s)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (s) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = {len(query_stems)}
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


BATCH_QUERIES = ("tables data", "hash join")  # analyzed stems below
BATCH_QUERY_STEMS = (("dat", "tabl"), ("hash", "join"))


def q_bm25_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED serving path under driver correctness: ``search_many``
    runs BOTH queries in (at most) one Spark job — union postings scan,
    multi-query per-bucket kernel, per-query routing, one hydration —
    and each qid's block must hash-match the SAME per-query stemmed
    DuckDB oracle unioned with its qid. Reuses vg_bm25_stemmed's cached
    index (identical build inputs)."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import build_index, index_exists
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset({"the", "a"}), stem=True)
    docs = _docs(spark, sf_dir).select(
        F.format_string("doc-%012d", F.col("doc_id")).alias("url"), "text"
    )
    key = _cache_key("", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_stem_harness", key, "idx")
    if not index_exists(out):
        build_index(spark, docs, out, analyzer=analyzer, num_partitions=4)
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search_many(list(BATCH_QUERIES), engine="bm25", k=10)
    return res.select(
        "qid",
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


def sql_bm25_batched() -> str:
    parts = [
        f"SELECT {qid} AS qid, doc_id, score FROM (\n"
        + _sql_bm25_stemmed(stems) + "\n)"
        for qid, stems in enumerate(BATCH_QUERY_STEMS)
    ]
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Positional production path: phrase / prefix / fuzzy engines over a cached
# PLAIN-analyzer positions index (no stopwords, no stemming — exactly THIS
# harness's tokenization, so the oracles mirror the engine in pure SQL).
# ---------------------------------------------------------------------------

PHRASE_TERMS = ("part", "filter")  # frequent adjacency in the fixture text
PREFIX_QUERY = "s"      # expands to {scan, slow, small, sort, spark, stream}
FUZZY_QUERY = "sow"     # Levenshtein<=1 vocab neighbors: {row, slow}


def _plain_pos_index(spark: SparkSession, sf_dir: str):
    """Cached plain-analyzer POSITIONAL index over the documents table —
    the production build path with ``store_positions=True`` (pos_blob
    varbyte streams encoded in the same fused zero-shuffle pass)."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import build_index, index_exists
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset(), stem=False)
    key = _cache_key("plainpos-v1:", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_pos_harness", key, "idx")
    if not index_exists(out):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text",
        )
        build_index(spark, docs, out, analyzer=analyzer, num_partitions=4,
                    store_positions=True)
    return SearchIndex(spark, out, analyzer=analyzer)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE production path under driver correctness: positional index
    (build_index(store_positions=True)) + engine="phrase" — AND docid
    intersection, then the vectorized adjacency chain over decoded
    position streams; Lucene-PhraseQuery-style BM25 (sum of token idfs x
    tf-norm of the phrase frequency). The oracle recomputes phrase tf with
    a DuckDB list-lambda adjacency scan over the same tokenization — a
    hash match pins the position codec + chain kernel end to end."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search(" ".join(PHRASE_TERMS), engine="phrase", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("hits").cast("long").alias("ptf"),
    )


SQL_PHRASE = f"""
WITH {SQL_TOKLIST},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT SUM(len(l)) FROM tl) * 1.0
           / (SELECT COUNT(*) FROM documents) AS avgdl
),
dfs AS (
    SELECT
      (SELECT COUNT(*) FROM tl
       WHERE list_contains(l, '{PHRASE_TERMS[0]}')) AS df1,
      (SELECT COUNT(*) FROM tl
       WHERE list_contains(l, '{PHRASE_TERMS[1]}')) AS df2
),
m AS (
    SELECT doc_id, len(l) AS dl,
           len(list_filter(range(1, len(l)),
               i -> l[i] = '{PHRASE_TERMS[0]}'
                    AND l[i+1] = '{PHRASE_TERMS[1]}')) AS ptf
    FROM tl WHERE len(l) >= 2
)
SELECT doc_id,
       ROUND((LN((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
              + LN((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0))
             * (ptf * (1.2 + 1.0))
             / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score,
       CAST(ptf AS BIGINT) AS ptf
FROM m, stats, dfs WHERE ptf > 0
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_bm25_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-TERM BOOST production path: "spark^2 join" — the boost scales
    the term's idf, which flows through exact scoring and the WAND/OR
    block-max upper bounds identically (both linear in idf, so pruning
    stays exact). Oracle: the AND-BM25 SQL with the idf term scaled by a
    CASE on the boosted term."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search("spark^2 join", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


SQL_BM25_BOOST = f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE t IN ('join', 'spark') GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               (CASE WHEN tf.t = 'spark' THEN 2.0 ELSE 1.0 END)
               * LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = 2
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


DEL_MOD = 7  # tombstone every 7th doc


def q_bm25_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION production path: a dedicated cached index (the shared
    positional harness index must stay undeleted) with every 7th doc
    TOMBSTONED via build.delete_docs; AND-BM25 must drop them while BM25
    stats keep counting them until compaction (the Lucene deleted-docs
    model). The oracle mirrors exactly that: scores from the FULL corpus
    statistics, result set filtered."""
    import os
    import tempfile

    from visigoth_spark.analysis import AnalyzerConfig
    from visigoth_spark.build import (build_index, delete_docs,
                                      index_exists, load_stats)
    from visigoth_spark.query import SearchIndex

    analyzer = AnalyzerConfig(stopwords=frozenset(), stem=False)
    key = _cache_key("del-v1:", sf_dir)
    out = os.path.join(tempfile.gettempdir(), "vg_del_harness", key, "idx")
    if not index_exists(out):
        docs = _docs(spark, sf_dir).select(
            F.format_string("doc-%012d", F.col("doc_id")).alias("url"),
            "text",
        )
        build_index(spark, docs, out, analyzer=analyzer, num_partitions=4)
    n = load_stats(out)["n_docs"]
    # idempotent: re-tombstoning the same set is a no-op
    delete_docs(spark, out, docids=list(range(0, n, DEL_MOD)))
    idx = SearchIndex(spark, out, analyzer=analyzer)
    res = idx.search("spark join", engine="bm25", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


SQL_BM25_DELETED = f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE t IN ('join', 'spark') GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = 2 AND doc_id % {DEL_MOD} <> 0
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


NOT_TERMS = ("spark", "join")  # AND query ...
NOT_EXCLUDE = "slow"           # ... minus docs containing this term


def q_bm25_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-NOT production path: AND-BM25 with ``exclude=`` — the
    excluded term's postings ride the same pruned scan and its docid set
    masks the candidates BEFORE scoring/k-capping (exact exclusion).
    Oracle: the AND-BM25 SQL with a NOT IN subquery."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search(" ".join(NOT_TERMS), engine="bm25", k=10,
                     exclude=NOT_EXCLUDE)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


SQL_BM25_NOT = f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE t IN ('{NOT_TERMS[0]}', '{NOT_TERMS[1]}') GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           ROUND(SUM(
               LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 6) AS score,
           COUNT(*) AS nt
    FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
    GROUP BY tf.doc_id
) WHERE nt = 2
  AND doc_id NOT IN (SELECT doc_id FROM toks WHERE t = '{NOT_EXCLUDE}')
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


SLOP_TERMS = ("table", "hash")  # slop=1 admits 71 docs vs 46 adjacent
SLOP = 1


def q_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-PROXIMITY production path: the same positional index,
    engine="phrase" with slop=1 — tokens in order within a window of
    len(tokens)+slop analyzed tokens (greedy-earliest walk, exact for
    total-window semantics). The oracle counts qualifying start positions
    with a NESTED DuckDB list lambda."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search(" ".join(SLOP_TERMS), engine="phrase", k=10, slop=SLOP)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("hits").cast("long").alias("ptf"),
    )


SQL_PHRASE_SLOP = f"""
WITH {SQL_TOKLIST},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT SUM(len(l)) FROM tl) * 1.0
           / (SELECT COUNT(*) FROM documents) AS avgdl
),
dfs AS (
    SELECT
      (SELECT COUNT(*) FROM tl
       WHERE list_contains(l, '{SLOP_TERMS[0]}')) AS df1,
      (SELECT COUNT(*) FROM tl
       WHERE list_contains(l, '{SLOP_TERMS[1]}')) AS df2
),
m AS (
    SELECT doc_id, len(l) AS dl,
           len(list_filter(range(1, len(l) + 1),
               i -> l[i] = '{SLOP_TERMS[0]}'
                    AND len(list_filter(
                            range(i + 1,
                                  least(i + 2 + {SLOP}, len(l) + 1)),
                            j -> l[j] = '{SLOP_TERMS[1]}')) > 0)) AS ptf
    FROM tl
)
SELECT doc_id,
       ROUND((LN((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
              + LN((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0))
             * (ptf * (1.2 + 1.0))
             / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score,
       CAST(ptf AS BIGINT) AS ptf
FROM m, stats, dfs WHERE ptf > 0
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def q_bm25_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX production path: term-dictionary range seek expands the
    prefix to its vocabulary terms, then the union scores as OR-BM25 with
    each expansion's own idf (Lucene MultiTermQuery boolean rewrite).
    Oracle: the same OR-BM25 with the expansion expressed as LIKE."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search(PREFIX_QUERY, engine="bm25_prefix", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("hits").cast("long").alias("hits"),
    )


def _sql_bm25_expansion(term_pred: str) -> str:
    """OR-BM25 oracle over an expanded term set given as a SQL predicate
    on ``t`` (LIKE for prefix, levenshtein for fuzzy)."""
    return f"""
WITH {SQL_TOKENS},
stats AS (
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS avgdl
    FROM toks
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM toks
    WHERE {term_pred} GROUP BY doc_id, t
),
dfs AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t)
SELECT tf.doc_id,
       ROUND(SUM(
           LN((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
       ), 6) AS score,
       CAST(COUNT(*) AS BIGINT) AS hits
FROM tf JOIN dfs USING (t) JOIN dl ON tf.doc_id = dl.doc_id, stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id ASC LIMIT 10
"""


SQL_BM25_PREFIX = _sql_bm25_expansion(f"t LIKE '{PREFIX_QUERY}%'")
SQL_BM25_FUZZY = _sql_bm25_expansion(
    f"levenshtein(t, '{FUZZY_QUERY}') <= 1")


def q_bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY production path: Levenshtein<=1 term-dictionary expansion
    (banded edit distance over length-filtered vocabulary), then OR-BM25
    over the expansion set. Oracle: the same OR-BM25 with the expansion
    expressed via DuckDB's levenshtein()."""
    idx = _plain_pos_index(spark, sf_dir)
    res = idx.search(FUZZY_QUERY, engine="bm25_fuzzy", k=10)
    return res.select(
        F.expr("cast(substring(url, 5, 12) as bigint)").alias("doc_id"),
        F.round("score", 6).alias("score"),
        F.col("hits").cast("long").alias("hits"),
    )


_SQL_BM25_STEMMED_CACHE: str | None = None


def sql_bm25_stemmed() -> str:
    """Lazily-built (and cached) stemmed-oracle SQL: building it reads the
    sf0.01 fixture vocabulary through DuckDB + the stemmer, which must not
    run at module import (every pytest collection / tool import would pay
    it). Consumed via ``get_oracles()``."""
    global _SQL_BM25_STEMMED_CACHE
    if _SQL_BM25_STEMMED_CACHE is None:
        _SQL_BM25_STEMMED_CACHE = _sql_bm25_stemmed()
    return _SQL_BM25_STEMMED_CACHE


def get_oracles() -> dict[str, str]:
    """The full oracle map, including the lazily-built stemmed entry."""
    d = dict(ORACLES)
    d["vg_bm25_stemmed"] = sql_bm25_stemmed()
    # the compacted index serves the same query over the same corpus — the
    # oracle is ingest-path-invariant by construction
    d["vg_bm25_compacted"] = sql_bm25_stemmed()
    # ...and so does the minor-merged index (merge_appends changes file
    # layout only — docids, blobs and scores are untouched)
    d["vg_bm25_merged"] = sql_bm25_stemmed()
    # ...and the file://-URI index (storage backend changes nothing about
    # the computed postings/scores; only the control-plane I/O path)
    d["vg_bm25_object_store"] = sql_bm25_stemmed()
    # batched search_many: per-query stemmed oracles unioned with qid
    d["vg_bm25_batched"] = sql_bm25_batched()
    # trained-IVF oracle: centroid literals from the pure-Python k-means
    # replica over the compare corpus (bit-identical to the Spark training).
    # Without that corpus's embeddings.parquet only this key is missing.
    try:
        d["ann_ivf_topk"] = sql_ann_ivf_trained()
    except FileNotFoundError:
        pass
    return d


# ---------------------------------------------------------------------------
# Dedup / similarity / text-analysis queries
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
c AS (SELECT text_hash, MIN(doc_id) AS canon FROM h GROUP BY text_hash)
SELECT h.doc_id, h.text_hash, h.doc_id <> c.canon AS is_dup
FROM h JOIN c USING (text_hash)
"""


JACCARD_MAX_SHINGLE_DF = 500  # < n_docs at sf0.01 so the cap path is LIVE


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-candidate Jaccard: the max_shingle_df cap (and the df>=2
    singleton drop) are mirrored verbatim in the oracle SQL, so the cap
    semantics themselves are value-checked, not just the uncapped core."""
    return P.jaccard_pairs(_docs(spark, sf_dir), threshold=0.5,
                           max_shingle_df=JACCARD_MAX_SHINGLE_DF)


SQL_JACCARD = f"""
WITH {SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
live AS (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING COUNT(*) BETWEEN 2 AND {JACCARD_MAX_SHINGLE_DF}
),
capped AS (SELECT sh.* FROM sh JOIN live USING (shingle)),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           ROUND(inter * 1.0 / (na.n_sh + nb.n_sh - inter), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
) WHERE jaccard >= 0.5
"""


LSH_MAX_BUCKET = 500  # < n_docs at sf0.01 so the cap path is LIVE


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH with the bucket-size cap mirrored verbatim in the oracle SQL."""
    return P.minhash_lsh_pairs(_docs(spark, sf_dir),
                               max_bucket_size=LSH_MAX_BUCKET)


def _sql_minhash() -> str:
    mins = ",\n           ".join(
        f"MIN(md5('{j}:' || shingle)) AS mh{j}" for j in range(8)
    )
    bands = "\n    UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, mh{2*bi} || '|' || mh{2*bi+1} AS sig "
        f"FROM mh"
        for bi in range(4)
    )
    return f"""
WITH {SQL_SHINGLES},
mh AS (
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY doc_id
),
bands AS (
    {bands}
),
live AS (
    SELECT band, sig FROM bands GROUP BY band, sig
    HAVING COUNT(*) BETWEEN 2 AND {LSH_MAX_BUCKET}
),
cb AS (SELECT bands.* FROM bands JOIN live USING (band, sig))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM cb a JOIN cb b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
"""


SQL_MINHASH = _sql_minhash()


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING end-to-end: MinHash-LSH candidate pairs (same
    parameters as ``dedup_minhash_lsh``) fed through iterative min-label
    propagation (pipeline.connected_components) — every doc labeled with
    its component's min doc_id. The oracle computes the same fixpoint as
    a DuckDB RECURSIVE reachability closure, so a hash match pins the
    distributed iterative algorithm (convergence included) against an
    exact declarative twin."""
    docs = _docs(spark, sf_dir)
    pairs = P.minhash_lsh_pairs(docs, max_bucket_size=LSH_MAX_BUCKET)
    out = P.connected_components(pairs, docs)
    P.unpersist_deps(pairs)
    return out


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE
pairs AS (SELECT * FROM ({SQL_MINHASH})),
edges AS (
    SELECT id_a AS x, id_b AS y FROM pairs
    UNION
    SELECT id_b AS x, id_a AS y FROM pairs
),
reach(x, node) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.x, e.y FROM reach r JOIN edges e ON r.node = e.x
)
SELECT x AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY x
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.simhash64(_docs(spark, sf_dir))


SQL_SIMHASH = f"""
WITH {SQL_TOKENS},
th AS (
    SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
    FROM toks
),
bitsum AS (
    SELECT doc_id, r.j,
           SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, LATERAL (SELECT unnest(range(60)) AS j) r
    GROUP BY doc_id, r.j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.lang_id(_docs(spark, sf_dir))


def _sql_lang_id() -> str:
    markers = {k: v for k, v in sorted(P.LANG_MARKERS.items())}
    score_cols = ",\n           ".join(
        "len(list_filter(l, x -> x IN ({}))) AS s_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang
        )
        for lang, ws in markers.items()
    )
    langs = list(markers)
    best = "GREATEST({})".format(", ".join(f"s_{g}" for g in langs))
    cases = "\n           ".join(
        f"WHEN s_{g} = {best} THEN '{g}'" for g in langs
    )
    return f"""
WITH {SQL_TOKLIST},
sc AS (SELECT doc_id, {score_cols} FROM tl)
SELECT doc_id,
       CASE WHEN {best} <= 0 THEN 'und'
           {cases}
       END AS pred_lang
FROM sc
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.quality_score(_docs(spark, sf_dir))


SQL_QUALITY = f"""
WITH {SQL_TOKLIST},
base AS (
    SELECT d.doc_id,
           CAST(len(tl.l) AS BIGINT) AS n_tokens,
           CASE WHEN len(tl.l) > 0 THEN
               list_sum(list_transform(tl.l, x -> len(x))) * 1.0 / len(tl.l)
           ELSE 0.0 END AS mean_len_raw,
           CASE WHEN len(tl.l) > 0 THEN
               len(list_filter(tl.l, x -> x IN
                   ('the','of','and','to','in','is','a'))) * 1.0 / len(tl.l)
           ELSE 0.0 END AS swr_raw,
           CASE WHEN len(d.text) > 0 THEN
               len(regexp_replace(d.text, '[^\\p{{L}}\\p{{N}}]', '', 'g'))
                   * 1.0 / len(d.text)
           ELSE 0.0 END AS alr_raw
    FROM documents d JOIN tl ON d.doc_id = tl.doc_id
)
SELECT doc_id, n_tokens,
       ROUND(mean_len_raw, 6) AS mean_tok_len,
       ROUND(swr_raw, 6) AS stopword_ratio,
       ROUND(alr_raw, 6) AS alnum_ratio,
       CASE WHEN n_tokens > 0 THEN
           ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.3 * (1.0 - swr_raw) + 0.3 * alr_raw, 6)
       ELSE 0.0 END AS qscore
FROM base
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.token_counts(_docs(spark, sf_dir))


SQL_TOKEN_COUNT = f"""
WITH {SQL_TOKLIST}
SELECT d.doc_id,
       len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> ''))
           AS ws_tokens,
       len(tl.l) AS alnum_tokens,
       CAST(COALESCE(list_sum(list_transform(tl.l,
           x -> CAST(CEIL(len(x) / 4.0) AS BIGINT))), 0) AS BIGINT)
           AS bpe_ish_tokens
FROM documents d JOIN tl ON d.doc_id = tl.doc_id
"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-BPE token counting under the frozen merge table
    (visigoth_spark/bpe_merges.txt). Pure Catalyst: the merge fold runs on
    the distinct-token table only (see pipeline.token_counts_bpe)."""
    return P.token_counts_bpe(_docs(spark, sf_dir))


def _sql_token_count_bpe() -> str:
    """DuckDB oracle: the SAME frozen merges applied by a recursive CTE —
    state(r) = replace(state(r-1), pat_r, rep_r) over the delimited
    spelling, depth = len(merges). replace() in DuckDB is the identical
    leftmost non-overlapping scan as Spark F.replace (bpe.py docstring),
    so the fixed points agree byte-for-byte."""
    from visigoth_spark.bpe import load_merges

    merges = load_merges()

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n        ".join(
        f"({i + 1}, {lit(f'<{a}><{b}>')}, {lit(f'<{a}{b}>')})"
        for i, (a, b) in enumerate(merges)
    )
    return f"""
WITH RECURSIVE {SQL_TOKLIST},
ex AS (SELECT doc_id, unnest(l) AS tok FROM tl),
vocab AS (SELECT DISTINCT tok FROM ex),
merges(r, pat, rep) AS (VALUES
        {rows}
),
bpe(tok, state, r) AS (
    SELECT tok, regexp_replace(tok, '(.)', '<\\1>', 'g'), 0 FROM vocab
    UNION ALL
    SELECT b.tok, replace(b.state, m.pat, m.rep), b.r + 1
    FROM bpe b JOIN merges m ON m.r = b.r + 1
),
vb AS (
    SELECT tok,
           len(state) - len(replace(state, '<', '')) AS n_bpe
    FROM bpe WHERE r = {len(merges)}
),
per_doc AS (
    SELECT ex.doc_id, COUNT(*) AS alnum, SUM(vb.n_bpe) AS bpe
    FROM ex JOIN vb ON ex.tok = vb.tok
    GROUP BY ex.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.alnum, 0) AS BIGINT) AS alnum_tokens,
       CAST(COALESCE(p.bpe, 0) AS BIGINT) AS bpe_tokens
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


SQL_TOKEN_COUNT_BPE = _sql_token_count_bpe()


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.quality_repetition(_docs(spark, sf_dir))


SQL_QUALITY_REPETITION = f"""
WITH {SQL_TOKLIST},
base AS (
    SELECT doc_id, l, len(l) AS n_tokens,
           len(l) - len(list_distinct(l)) AS dup_tokens
    FROM tl
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l)),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM tl WHERE len(l) >= 2
),
cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
agg AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS tot FROM cnt GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(b.dup_tokens AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.tot, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(a.top, 0) AS BIGINT) AS top_bigram_count,
       (COALESCE(a.top, 0) * 100 <= COALESCE(a.tot, 0) * 18)
           AND (b.dup_tokens * 100 <= b.n_tokens * 30) AS repetition_ok
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.domain_stats(_docs(spark, sf_dir))


SQL_DOMAIN_STATS = f"""
WITH {SQL_TOKLIST}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(tl.l)) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(SUM(len(d.text)) AS BIGINT) AS total_chars
FROM documents d JOIN tl USING (doc_id)
GROUP BY d.source
"""


SAMPLE_FRACS = {"en": 0.5, "es": 0.25, "de": 1.0}  # fr/zh -> default 0.0


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (language-mixing primitive):
    md5-bucket membership — reproducible across runs/engines and stable
    under repartitioning, unlike Bernoulli sampleBy."""
    return P.stratified_sample(
        _docs(spark, sf_dir), SAMPLE_FRACS).select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::UBIGINT
      < (CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.25
                   WHEN 'de' THEN 1.0 ELSE 0.0 END) * 268435456.0
"""


DECON_N = 5
DECON_MOD = 25  # benchmark stand-in: every 25th doc


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style): flag corpus
    docs sharing any analyzed 5-gram with the benchmark set (deterministic
    stand-in: every 25th doc). Benchmark grams broadcast; one doc-keyed
    count shuffle."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    return P.decontaminate(docs, bench, n=DECON_N)


SQL_DECONTAMINATE = f"""
WITH {SQL_TOKLIST},
g AS (
    SELECT DISTINCT doc_id,
           array_to_string(l[i:i+{DECON_N - 1}], ' ') AS gram
    FROM tl, LATERAL (
        SELECT unnest(range(1, len(l) - {DECON_N - 2})) AS i
    ) r
    WHERE len(l) >= {DECON_N}
),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_MOD} = 0),
hits AS (
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM g JOIN bg USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(shared, 0) AS shared_ngrams,
       COALESCE(shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (Church & Hanks) with a
    min-count floor — the phrase-mining pass of a training-data
    pipeline."""
    return P.collocations(_docs(spark, sf_dir), min_count=5, k=20)


SQL_COLLOCATIONS = f"""
WITH {SQL_TOKLIST},
bg AS (
    SELECT l[i] AS w1, l[i+1] AS w2
    FROM tl, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
    WHERE len(l) >= 2
),
uni AS (SELECT unnest(l) AS w FROM tl),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
nb AS (SELECT COUNT(*) AS nb FROM bg),
nu AS (SELECT COUNT(*) AS nu FROM uni)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       ROUND(LN(c12) + 2 * LN(nu.nu) - LN(nb.nb)
             - LN(cu1.c) - LN(cu2.c), 6) AS pmi
FROM c12
JOIN cu cu1 ON c12.w1 = cu1.w
JOIN cu cu2 ON c12.w2 = cu2.w, nb, nu
WHERE c12 >= 5
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20
"""


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean negative log-likelihood under the corpus unigram LM —
    the deterministic stand-in for CCNet-style perplexity quality
    filtering."""
    return P.unigram_nll(_docs(spark, sf_dir))


SQL_UNIGRAM_NLL = f"""
WITH {SQL_TOKENS},
cu AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
nu AS (SELECT COUNT(*) AS nu FROM toks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-AVG(LN(c / nu.nu)), 6) AS nll
FROM toks JOIN cu USING (t), nu
GROUP BY doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


EMB_DUP_T = 0.42  # fixture max pairwise cos is 0.51; 0.42 -> 34 true pairs


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-random-projection LSH
    (16 md5-derived hyperplanes, 4 bands x 4 bits) + exact cosine within
    buckets. The oracle SQL reproduces the identical hyperplanes as
    literals, so both sides bucket — and miss — identically (LSH recall <1
    is part of the contract; recall vs the exact O(n^2) join is pinned in
    tests/test_pipeline_scale.py)."""
    return P.embedding_dup_pairs(_emb(spark, sf_dir), threshold=EMB_DUP_T,
                                 n_planes=16, band_size=4, dims=64)


def _sql_dedup_embedding(n_planes: int = 16, band_size: int = 4,
                         dims: int = 64) -> str:
    planes = P.rh_planes(n_planes, dims)
    plane_rows = ",\n        ".join(
        "({}, [{}])".format(p, ", ".join(f"{x!r}" for x in planes[p]))
        for p in range(n_planes)
    )
    n_bands = n_planes // band_size
    sig_exprs = []
    for bi in range(n_bands):
        bits = " || ".join(
            f"(CASE WHEN d{bi * band_size + o} >= 0 THEN '1' ELSE '0' END)"
            for o in range(band_size)
        )
        sig_exprs.append(f"SELECT vec_id, {bi} AS band, {bits} AS sig FROM dots")
    bands_sql = "\n    UNION ALL ".join(sig_exprs)
    dot_cols = ",\n           ".join(
        f"(SELECT list_dot_product(e.v, cv) FROM planes WHERE plane = {p}) "
        f"AS d{p}"
        for p in range(n_planes)
    )
    return f"""
WITH planes(plane, cv) AS (VALUES
        {plane_rows}
),
e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
dots AS (
    SELECT vec_id,
           {dot_cols}
    FROM e
),
bands AS (
    {bands_sql}
),
live AS (
    SELECT band, sig FROM bands GROUP BY band, sig
    HAVING COUNT(*) BETWEEN 2 AND 10000
),
cb AS (SELECT bands.* FROM bands JOIN live USING (band, sig)),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM cb a JOIN cb b ON a.band = b.band AND a.sig = b.sig
    WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM (
    SELECT cand.id_a, cand.id_b,
           ROUND(list_dot_product(ea.v, eb.v)
                 / (SQRT(list_dot_product(ea.v, ea.v))
                    * SQRT(list_dot_product(eb.v, eb.v))), 6) AS cos
    FROM cand
    JOIN e ea ON ea.vec_id = cand.id_a
    JOIN e eb ON eb.vec_id = cand.id_b
) WHERE cos >= {EMB_DUP_T}
"""


SQL_DEDUP_EMBEDDING = _sql_dedup_embedding()


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (token-3-gram hashes, window w=4 min). The
    oracle reproduces the identical window-min with DuckDB's ROWS frame —
    same tie rule (string MIN) on both engines."""
    return P.winnow_fingerprints(_docs(spark, sf_dir), n=3, w=4)


SQL_WINNOW = f"""
WITH {SQL_TOKLIST},
sh AS (
    SELECT doc_id, i, md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS h
    FROM tl, LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) r
    WHERE len(l) >= 3
)
SELECT DISTINCT doc_id,
       MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wfp
FROM sh
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return P.cosine_topk(emb, list(qvec), k=10)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN with DATA-TRAINED centroids (round-4 verdict task
    7): seeded Lloyd k-means over the corpus embeddings
    (pipeline.kmeans_centroids — exactly-reproducible integer-quantized
    arithmetic), then assign / probe-nearest-quarter / exact-score within.
    The oracle SQL embeds centroids derived by the independent pure-Python
    replica over the same parquet; the two are bit-identical (pinned in
    tests/test_kmeans_ivf.py), so results match exactly — including the
    recall loss vs brute force."""
    emb = _emb(spark, sf_dir)
    cents = P.kmeans_centroids(emb, n_cells=16, iters=4)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return P.ivf_topk(emb, list(qvec), k=10, centroids=cents)


def q_ann_ivf_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the fixed md5-derived centroids (the data-independent
    variant — useful when the corpus changes faster than retraining)."""
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return P.ivf_topk(emb, list(qvec), k=10)


def _sql_ann_ivf(n_cells: int = 16, dims: int = 64,
                 centroids: list[list[float]] | None = None) -> str:
    from visigoth_spark.pipeline import ivf_centroids

    cents = centroids if centroids is not None \
        else ivf_centroids(n_cells, dims)
    n_cells = len(cents)
    # the probe set depends on the query vector (vec_id=0), which the SQL
    # can compute itself: rank cells by cosine(query, centroid), keep the
    # nearest quarter — same rule as pipeline.ivf_topk
    cent_rows = ",\n        ".join(
        "({}, [{}])".format(c, ", ".join(f"{x!r}" for x in cents[c]))
        for c in range(n_cells)
    )
    n_probe = max(1, n_cells // 4)
    return f"""
WITH cents(cell, cv) AS (VALUES
        {cent_rows}
),
e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
assigned AS (
    SELECT vec_id, v,
           (SELECT cell FROM cents
            ORDER BY list_dot_product(v, cv)
                     / (SQRT(list_dot_product(v, v))
                        * SQRT(list_dot_product(cv, cv))) DESC, cell ASC
            LIMIT 1) AS cell
    FROM e
),
probe AS (
    SELECT cell FROM cents, q
    ORDER BY list_dot_product(qv, cv)
             / (SQRT(list_dot_product(qv, qv))
                * SQRT(list_dot_product(cv, cv))) DESC, cell ASC
    LIMIT {n_probe}
)
SELECT vec_id, sim FROM (
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv)
                 / (SQRT(list_dot_product(a.v, a.v))
                    * SQRT(list_dot_product(q.qv, q.qv))), 6) AS sim
    FROM assigned a, q
    WHERE a.cell IN (SELECT cell FROM probe)
)
ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


SQL_ANN_IVF_SYNTH = _sql_ann_ivf()

# The driver's oracle compare runs at sf=0.01 (spec + verify_driver_contract)
# unless SPARK_GRAFT_SF_DIR names another scale: the trained-IVF oracle embeds
# centroid literals the pure-Python replica derives from THAT corpus. Built
# lazily in get_oracles() (reads parquet).
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def sql_ann_ivf_trained(sf_dir: str | None = None) -> str:
    from visigoth_spark.pipeline import kmeans_centroids_replica

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", ORACLE_SF_DIR)
    cents = kmeans_centroids_replica(
        f"{sf_dir}/embeddings.parquet", n_cells=16, iters=4)
    return _sql_ann_ivf(centroids=cents)


SQL_ANN_COSINE = """
WITH q AS (
    SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
    FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, sim FROM (
    SELECT e.vec_id,
           ROUND(
               list_dot_product(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qe)
               / (SQRT(list_dot_product(
                      list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                  * SQRT(list_dot_product(q.qe, q.qe))), 6) AS sim
    FROM embeddings e, q
)
ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type over the events table — the
    batch form of the Structured Streaming windowed aggregation (the same
    expression runs under readStream + watermark; stream ≡ batch is pinned
    in tests/test_streaming_events.py)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return P.windowed_event_counts(ev, "1 hour")


SQL_EVENTS_WINDOWED = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) — lag + cumulative-break-sum
    windows; the stateful streaming twin (applyInPandasWithState) is pinned
    stream ≡ batch in tests/test_streaming_events.py."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return P.sessionize(ev, gap_minutes=30)


SQL_SESSIONIZE = """
WITH g AS (
    SELECT user_id, ts,
           date_diff('microsecond',
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts),
                     ts) AS gap_us
    FROM events
),
m AS (
    SELECT user_id, ts,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_idx
    FROM g
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM m GROUP BY user_id, session_idx
"""


def q_multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing (multimodal.py): payload = utf-8 bytes of the
    doc text (the sandbox's stand-in for an image blob), typed metadata via
    the deterministic stub decoder inside a vectorized mapInPandas. The
    oracle derives the identical md5-based numbers in SQL, so the whole
    binary->Arrow->pandas->typed-row path is value-checked."""
    from visigoth_spark import multimodal as M

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return M.image_meta(docs, bin_col="payload")


SQL_MULTIMODAL_META = """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT doc_id,
       CAST(16 + CAST('0x' || substr(h, 1, 4) AS INTEGER) % 1024 AS INTEGER)
           AS width,
       CAST(16 + CAST('0x' || substr(h, 5, 4) AS INTEGER) % 1024 AS INTEGER)
           AS height,
       CAST(1 + CAST('0x' || substr(h, 9, 1) AS INTEGER) % 4 AS INTEGER)
           AS channels,
       ROUND(CAST('0x' || substr(h, 10, 4) AS INTEGER) / 65535.0, 6)
           AS brightness
FROM h
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "vg_hits_search": q_hits_search,
    "vg_linear_search": q_linear_search,
    "vg_term_df": q_term_df,
    "vg_doclen_stats": q_doclen_stats,
    "vg_bm25_topk": q_bm25_topk,
    "vg_bm25_stemmed": q_bm25_stemmed,
    "vg_bm25_compacted": q_bm25_compacted,
    "vg_bm25_merged": q_bm25_merged,
    "vg_bm25_object_store": q_bm25_object_store,
    "vg_bm25_tie_boundary": q_bm25_tie_boundary,
    "vg_bm25_batched": q_bm25_batched,
    "vg_bm25_or_topk": q_bm25_or_topk,
    "vg_phrase_search": q_phrase_search,
    "vg_phrase_slop": q_phrase_slop,
    "vg_bm25_not": q_bm25_not,
    "vg_bm25_boost": q_bm25_boost,
    "vg_bm25_deleted": q_bm25_deleted,
    "vg_bm25_prefix": q_bm25_prefix,
    "vg_bm25_fuzzy": q_bm25_fuzzy,
    "vg_hits_duplicate_tokens": q_hits_duplicate_tokens,
    "vg_missing_term_early_exit": q_missing_term_early_exit,
    "vg_match_all": q_match_all,
    "vg_noop_zero": q_noop_zero,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "token_count_bpe": q_token_count_bpe,
    "quality_repetition": q_quality_repetition,
    "domain_stats": q_domain_stats,
    "collocations": q_collocations,
    "unigram_nll": q_unigram_nll,
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_winnow": q_doc_winnow,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_synth": q_ann_ivf_synth,
    "events_windowed": q_events_windowed,
    "events_sessionize": q_events_sessionize,
    "multimodal_image_meta": q_multimodal_image_meta,
}

ORACLES = {
    "vg_hits_search": SQL_HITS,
    "vg_linear_search": SQL_LINEAR,
    "vg_term_df": SQL_TERM_DF,
    "vg_doclen_stats": SQL_DOCLEN_STATS,
    "vg_bm25_topk": SQL_BM25,
    # vg_bm25_stemmed is added lazily by get_oracles() (import-time cost)
    "vg_bm25_tie_boundary": _sql_bm25_tie_boundary(),
    "vg_bm25_or_topk": SQL_BM25_OR,
    "vg_phrase_search": SQL_PHRASE,
    "vg_phrase_slop": SQL_PHRASE_SLOP,
    "vg_bm25_not": SQL_BM25_NOT,
    "vg_bm25_boost": SQL_BM25_BOOST,
    "vg_bm25_deleted": SQL_BM25_DELETED,
    "vg_bm25_prefix": SQL_BM25_PREFIX,
    "vg_bm25_fuzzy": SQL_BM25_FUZZY,
    "vg_hits_duplicate_tokens": SQL_HITS_DUP,
    "vg_missing_term_early_exit": SQL_MISSING_TERM,
    "vg_match_all": SQL_MATCH_ALL,
    "vg_noop_zero": SQL_NOOP_ZERO,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_JACCARD,
    "dedup_minhash_lsh": SQL_MINHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_simhash": SQL_SIMHASH,
    "dedup_embedding": SQL_DEDUP_EMBEDDING,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "token_count_bpe": SQL_TOKEN_COUNT_BPE,
    "quality_repetition": SQL_QUALITY_REPETITION,
    "domain_stats": SQL_DOMAIN_STATS,
    "collocations": SQL_COLLOCATIONS,
    "unigram_nll": SQL_UNIGRAM_NLL,
    "decontaminate": SQL_DECONTAMINATE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "doc_fingerprint": SQL_FINGERPRINT,
    "doc_winnow": SQL_WINNOW,
    "ann_cosine_topk": SQL_ANN_COSINE,
    # ann_ivf_topk (trained centroids) is added lazily by get_oracles()
    "ann_ivf_synth": SQL_ANN_IVF_SYNTH,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_sessionize": SQL_SESSIONIZE,
    "multimodal_image_meta": SQL_MULTIMODAL_META,
}
