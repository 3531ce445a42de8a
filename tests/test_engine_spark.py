"""End-to-end Spark engine tests: build the index from the fixture corpus and
assert rank-identity (docIDs/urls) and score-identity (BM25 float64) against
the single-process oracle, plus the ported reference behavioral contracts."""

from __future__ import annotations

import os

import numpy as np
import pytest

from visigoth_spark.build import build_index, load_stats
from visigoth_spark.corpus import PINNED_QUERIES, generate_corpus
from visigoth_spark.query import SearchIndex
from visigoth_spark.reference_engine import OracleIndex

N_DOCS = 300


@pytest.fixture(scope="module")
def oracle():
    corpus = generate_corpus(N_DOCS)
    idx = OracleIndex()
    # feed in url order == the engine's docid order
    for r in corpus.sort_values("url").itertuples():
        idx.put(r.url, r.text)
    return idx


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus_pd = generate_corpus(N_DOCS)
    corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
    out = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(spark, corpus, out, num_partitions=6,
                n_batches=2)
    return SearchIndex(spark, out)


QUERIES = [q for q in PINNED_QUERIES if q] + [
    "programación java león",
    "java java",           # duplicate-token threshold semantics
    "curso web",
]


class TestBuild:
    def test_stats(self, index, oracle):
        assert index.stats["n_docs"] == N_DOCS == len(oracle)
        assert index.stats["total_tokens"] == sum(oracle.doclens)
        assert index.stats["avgdl"] == pytest.approx(oracle.avgdl())

    def test_docmap_is_url_sorted_dense(self, index):
        rows = index._docmap.orderBy("docid").collect()
        assert [r["docid"] for r in rows] == list(range(N_DOCS))
        urls = [r["url"] for r in rows]
        assert urls == sorted(urls)

    def test_doclens_match_oracle(self, index, oracle):
        rows = index._docmap.orderBy("docid").collect()
        assert [r["doclen"] for r in rows] == oracle.doclens

    def test_postings_match_oracle(self, index, oracle):
        # decoded posting list == oracle posting list for head/torso/tail
        for term in ["program", "curs", "jav", "leon"]:
            got = list(index.indexed(term))
            assert got == oracle.postings.get(term, []), term

    def test_segment_bounded_by_bucket_width(self, index):
        bw = index.stats["bucket_width"]
        rows = index._data.filter("kind = 's'").select("df_seg").collect()
        assert max(r["df_seg"] for r in rows) <= bw


class TestHitsParity:
    @pytest.mark.parametrize("q", QUERIES)
    def test_rank_identity(self, index, oracle, q):
        got = [(r["url"], r["hits"])
               for r in index.search(q, "hits", k=None).collect()]
        assert got == oracle.hits_search(q), q

    def test_empty_query(self, index):
        assert index.search("", "hits").count() == 0

    def test_stopword_only_query(self, index):
        assert index.search("el la de en", "hits").count() == 0


class TestLinearParity:
    @pytest.mark.parametrize("q", QUERIES)
    def test_docid_order_and_hits(self, index, oracle, q):
        got = [(r["url"], r["hits"])
               for r in index.search(q, "linear", k=None).collect()]
        assert got == oracle.linear_search(q), q


class TestBM25Parity:
    @pytest.mark.parametrize("q", QUERIES)
    def test_rank_and_score_identity(self, index, oracle, q):
        k = 10
        got = [(r["url"], r["score"])
               for r in index.search(q, "bm25", k=k).collect()]
        exp = oracle.bm25_search(q, k=k)
        assert [u for u, _ in got] == [u for u, _ in exp], q
        for (u1, s1), (u2, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    def test_k_one_and_k_hundred(self, index, oracle):
        for k in (1, 100):
            got = [r["url"] for r in index.search("curso", "bm25", k=k).collect()]
            exp = [u for u, _ in oracle.bm25_search("curso", k=k)]
            assert got == exp, k

    def test_determinism_5x(self, index):
        runs = [
            [(r["url"], r["score"])
             for r in index.search("programación java", "bm25", k=10).collect()]
            for _ in range(5)
        ]
        assert all(r == runs[0] for r in runs)


class TestWandParity:
    """The default bm25 engine IS block-max WAND; it must be EXACTLY the
    full-decode exhaustive kernel's output (bm25_exhaustive) — pruning may
    only skip work, never change the top-k (scores included)."""

    @pytest.mark.parametrize("q", QUERIES)
    def test_wand_equals_exhaustive(self, index, oracle, q):
        got = [(r["url"], r["score"])
               for r in index.search(q, "bm25", k=10).collect()]
        exp = oracle.bm25_search(q, k=10)
        assert [u for u, _ in got] == [u for u, _ in exp], q
        for (u1, s1), (u2, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    @pytest.mark.parametrize("q", QUERIES)
    def test_exhaustive_engine_equals_oracle(self, index, oracle, q):
        got = [(r["url"], r["score"])
               for r in index.search(q, "bm25_exhaustive", k=10).collect()]
        exp = oracle.bm25_search(q, k=10)
        assert [u for u, _ in got] == [u for u, _ in exp], q
        for (u1, s1), (u2, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    @pytest.mark.parametrize("k", [1, 3, 100])
    def test_wand_k_sweep(self, index, k):
        q = "curso java"
        a = [(r["url"], r["score"])
             for r in index.search(q, "bm25_exhaustive", k=k).collect()]
        b = [(r["url"], r["score"])
             for r in index.search(q, "bm25", k=k).collect()]
        assert a == b


class TestOrParity:
    """Disjunctive (OR) BM25 — engine extension; union candidate set, absent
    terms contribute 0, same tiebreak. Block-max pruned, exactly equal to
    the exhaustive oracle."""

    @pytest.mark.parametrize("q", QUERIES + ["xyzzynomatch curso"])
    def test_or_rank_and_score_identity(self, index, oracle, q):
        got = [(r["url"], r["score"])
               for r in index.search(q, "bm25_or", k=10).collect()]
        exp = oracle.bm25_or_search(q, k=10)
        assert [u for u, _ in got] == [u for u, _ in exp], q
        for (u1, s1), (u2, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    def test_or_superset_of_and(self, index, oracle):
        q = "programación java"
        or_urls = {u for u, _ in oracle.bm25_or_search(q, k=10**9)}
        and_urls = {r["url"]
                    for r in index.search(q, "bm25", k=None).collect()}
        assert and_urls <= or_urls
        assert len(or_urls) > len(and_urls)  # fixture has partial matches


class TestSearchMany:
    """Batched top-k (one Spark job for N queries) must equal the per-query
    engine exactly, per engine, including empty/missing/stopword queries."""

    BATCH = ["programación java", "curso", "huevos", "el la de en",
             "xyzzynomatch", "curso web", "java java"]

    @pytest.mark.parametrize("engine",
                             ["bm25", "bm25_exhaustive", "bm25_or", "hits",
                              "linear"])
    def test_batch_equals_single(self, index, engine):
        batch = index.search_many(self.BATCH, engine, k=10).collect()
        by_qid: dict[int, list] = {}
        for r in batch:
            by_qid.setdefault(r["qid"], []).append(
                (r["url"], r["score"], r["hits"])
            )
        for qid, q in enumerate(self.BATCH):
            single = [(r["url"], r["score"], r["hits"])
                      for r in index.search(q, engine, k=10).collect()]
            assert by_qid.get(qid, []) == single, (engine, q)

    def test_all_empty_batch(self, index):
        assert index.search_many(["", "el la de en"], "bm25").count() == 0


class TestNoops:
    def test_noop_zero(self, index):
        assert index.search("java", "noop_zero").count() == 0

    def test_noop_all(self, index, oracle):
        got = [(r["url"], r["hits"])
               for r in index.search("anything", "noop_all", k=None).collect()]
        assert got == oracle.noop_all("anything")


class TestTermDictRequired:
    def test_missing_termdict_dir_fails_loudly(self, spark, tmp_path):
        """Every committed snapshot names a termdict version, and term_df
        reads nothing else: an index whose termdict directory was deleted
        fails to open instead of answering from a second, slower path."""
        import shutil

        from visigoth_spark.build import build_index

        corpus_pd = generate_corpus(N_DOCS)
        corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
        out = str(tmp_path / "idx_no_td")
        build_index(spark, corpus, out, num_partitions=3)
        shutil.rmtree(os.path.join(out, "termdict"))
        with pytest.raises(FileNotFoundError):
            SearchIndex(spark, out).search("programación java", "bm25", 10)


class TestHeadTermSkew:
    """north_rule: head-term skew handled explicitly. Here the handling is
    structural — bucket == corpus partition, so a term occurring in EVERY
    document is split across all buckets and no task/group ever holds more
    than one partition's postings for it. No salted shuffle exists because
    no shuffle exists."""

    def test_omnipresent_term_is_bounded_and_correct(self, spark, tmp_path):
        from visigoth_spark.build import build_index, load_stats
        from visigoth_spark.query import SearchIndex
        from visigoth_spark.reference_engine import OracleIndex

        pdf = generate_corpus(400)
        pdf["text"] = pdf["text"] + "\nomnipresente omnipresente"
        corpus = spark.createDataFrame(pdf[["url", "text", "lang"]])
        out = str(tmp_path / "skew")
        build_index(spark, corpus, out, num_partitions=4)
        idx = SearchIndex(spark, out)
        stats = load_stats(out)

        seg = idx._data.filter(  # stemmed form
            "kind = 's' AND term = 'omnipresent'")
        rows = seg.select("bucket", "df_seg").collect()
        # present in every doc -> one segment per bucket, each bounded by
        # the structural per-partition doc count
        assert len(rows) == stats["n_buckets"]
        assert sum(r["df_seg"] for r in rows) == 400
        assert max(r["df_seg"] for r in rows) <= stats["bucket_width"]

        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        got = [(r["url"], r["score"])
               for r in idx.search("omnipresente java", "bm25", 10).collect()]
        exp = oracle.bm25_search("omnipresente java", k=10)
        assert [u for u, _ in got] == [u for u, _ in exp]
        for (u1, s1), (u2, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12)


class TestResume:
    def test_empty_batch_slice_is_readable(self, spark, tmp_path, oracle):
        # n_batches > num_partitions -> some slices get zero partitions.
        # Those batches are listed in the snapshot but never write a batch
        # dir; readers must plan around them (regression: SearchIndex used
        # to schedule the nonexistent batch=N path and raise).
        from visigoth_spark.build import load_snapshot

        corpus_pd = generate_corpus(120)
        corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
        out = str(tmp_path / "idx")
        build_index(spark, corpus, out, num_partitions=2,
                    n_batches=5)
        empties = []
        for m in load_snapshot(out)["batches"]:
            if m["n_docs"] == 0:
                empties.append(m["batch"])
                assert not os.path.isdir(
                    os.path.join(out, "data", f"batch={m['batch']}")
                )
        assert empties, "fixture must produce at least one empty slice"
        idx = SearchIndex(spark, out)
        assert len(idx) == 120
        got = [(r["url"], r["score"])
               for r in idx.search("programación java", "bm25", 10).collect()]
        sub = OracleIndex()
        for r in corpus_pd.sort_values("url").itertuples():
            sub.put(r.url, r.text)
        exp = sub.bm25_search("programación java", k=10)
        assert [u for u, _ in got] == [u for u, _ in exp]

    def test_resume_skips_completed_batches(self, spark, tmp_path,
                                            crash_store):
        corpus_pd = generate_corpus(120)
        corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
        cold = str(tmp_path / "cold")
        build_index(spark, corpus, cold, num_partitions=4,
                    n_batches=3)
        stats1 = load_stats(cold)
        # crash at batch 1's progress commit -> only batches 1, 2 rebuild
        out = str(tmp_path / "idx")
        with crash_store(match="snapshot-1") as st:
            build_index(spark, corpus, out, num_partitions=4,
                        n_batches=3)
        assert st["fired"]
        b0 = os.path.join(out, "data", "batch=0")
        m0 = os.path.getmtime(b0)
        build_index(spark, corpus, out, num_partitions=4,
                    n_batches=3, resume=True)
        stats2 = load_stats(out)
        assert stats2["n_postings"] == stats1["n_postings"]
        assert stats2["total_tokens"] == stats1["total_tokens"]
        assert os.path.getmtime(b0) == m0  # untouched

    def test_resume_equals_cold_build(self, spark, tmp_path, crash_store):
        corpus_pd = generate_corpus(120)
        corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
        cold = str(tmp_path / "cold")
        warm = str(tmp_path / "warm")
        build_index(spark, corpus, cold, num_partitions=4,
                    n_batches=2)
        with crash_store(match="snapshot-1") as st:
            build_index(spark, corpus, warm, num_partitions=4,
                        n_batches=2)
        assert st["fired"]
        build_index(spark, corpus, warm, num_partitions=4,
                    n_batches=2, resume=True)
        q = "programación java"
        a = SearchIndex(spark, cold).search(q, "bm25", 10).collect()
        b = SearchIndex(spark, warm).search(q, "bm25", 10).collect()
        assert [(r["url"], r["score"]) for r in a] == [
            (r["url"], r["score"]) for r in b
        ]

    def test_manifest_lineage_fields(self, spark, tmp_path):
        corpus_pd = generate_corpus(60)
        corpus = spark.createDataFrame(corpus_pd[["url", "text", "lang"]])
        out = str(tmp_path / "idx")
        build_index(spark, corpus, out, num_partitions=2)
        from visigoth_spark.build import load_snapshot

        m = load_snapshot(out)["batches"][0]
        for field in ("n_segments", "n_postings", "total_tokens",
                      "bytes_blob", "wall_sec", "docid_range", "partitions"):
            assert field in m, field
