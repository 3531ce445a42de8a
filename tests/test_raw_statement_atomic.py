"""Doc.Raw hydration (search_result.go:6-9, the "raw" wire field of
search_result_easyjson.go:127-142), the DocRequest statement/content split
(entities_request.go:31-38), and the crash-safety contract of append_index /
the streaming epoch pinning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from visigoth_spark.analysis import AnalyzerConfig
from visigoth_spark.build import (append_index, build_index, load_snapshot,
                                  load_stats)
from visigoth_spark.query import SearchIndex

NOSTEM = AnalyzerConfig(stopwords=frozenset(), stem=False)


def _corpus_df(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


class TestRawHydration:
    @pytest.fixture(scope="class")
    def raw_index(self, spark, tmp_path_factory):
        rows = [(f"u{i:03d}", f"document body {i} alpha bravo term{i % 5}")
                for i in range(40)]
        out = str(tmp_path_factory.mktemp("rawidx") / "idx")
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=4, store_raw=True)
        return out, dict(rows)

    def test_raw_equals_corpus_content(self, spark, raw_index):
        out, content = raw_index
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert idx.has_raw
        res = idx.search("alpha bravo", "bm25", k=10,
                         include_raw=True).collect()
        assert len(res) == 10
        for r in res:
            assert r["raw"] == content[r["url"]]

    def test_raw_unbounded_path(self, spark, raw_index):
        out, content = raw_index
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        res = idx.search("term1", "bm25", k=None,
                         include_raw=True).collect()
        assert len(res) == 8
        for r in res:
            assert r["raw"] == content[r["url"]]

    def test_search_many_raw(self, spark, raw_index):
        out, content = raw_index
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        res = idx.search_many(["term2", "alpha"], "bm25", k=5,
                              include_raw=True).collect()
        assert res
        for r in res:
            assert r["raw"] == content[r["url"]]

    def test_include_raw_requires_store_raw(self, spark, tmp_path):
        rows = [(f"u{i}", f"words here {i}") for i in range(8)]
        out = str(tmp_path / "idx")
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=2)
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert not idx.has_raw
        with pytest.raises(ValueError, match="store_raw"):
            idx.search("words", "bm25", 5, include_raw=True)

    def test_append_preserves_raw(self, spark, raw_index, tmp_path):
        out, content = raw_index
        # append into a COPY so the class fixture stays pristine
        import shutil

        out2 = str(tmp_path / "idx2")
        shutil.copytree(out, out2)
        new = [("zz001", "appended doc alpha unique zebra")]
        append_index(spark, _corpus_df(spark, new), out2, analyzer=NOSTEM,
                     num_partitions=2)
        idx = SearchIndex(spark, out2, analyzer=NOSTEM)
        res = idx.search("zebra", "bm25", 5, include_raw=True).collect()
        assert len(res) == 1
        assert res[0]["raw"] == new[0][1]
        # original docs still hydrate
        res2 = idx.search("bravo", "bm25", 3, include_raw=True).collect()
        for r in res2:
            assert r["raw"] == content[r["url"]]


class TestStatementContentSplit:
    def test_index_statement_store_content(self, spark, tmp_path):
        rows = [("u1", "the stored content about cooking",
                 "indexable statement about databases"),
                ("u2", "another stored body on gardening",
                 "statement mentioning indexes and queries")]
        df = spark.createDataFrame(
            rows, "url string, text string, statement string"
        )
        out = str(tmp_path / "idx")
        build_index(spark, df, out, analyzer=NOSTEM, num_partitions=2,
                    statement_col="statement")
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        # matches on the STATEMENT...
        hit = idx.search("databases", "bm25", 5, include_raw=True).collect()
        assert [r["url"] for r in hit] == ["u1"]
        # ...hydrates the CONTENT
        assert hit[0]["raw"] == rows[0][1]
        # content-only vocabulary is NOT indexed
        assert idx.search("cooking", "bm25", 5).count() == 0


class TestAppendCrashSafety:
    def test_zero_token_batch_append(self, spark, tmp_path):
        out = str(tmp_path / "idx")
        rows = [(f"u{i}", f"real words {i}") for i in range(6)]
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=2)
        # every appended doc analyzes to zero tokens -> batch has only
        # kind=d rows; the seg-meta read must tolerate the missing kind=s
        punct = [("p1", "!!! ..."), ("p2", "??? ---")]
        m = append_index(spark, _corpus_df(spark, punct), out,
                         analyzer=NOSTEM, num_partitions=2)
        assert m.n_docs == 8
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert len(idx) == 8
        assert idx.search("words", "bm25", 10).count() == 6

    def test_pinned_replay_is_idempotent(self, spark, tmp_path):
        out = str(tmp_path / "idx")
        rows = [(f"u{i}", f"base doc {i} common") for i in range(6)]
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=2)
        st0 = load_stats(out)
        new = [("a1", "appended epoch doc unique"),
               ("a2", "appended epoch doc other")]
        kw = dict(analyzer=NOSTEM, num_partitions=2, batch_id=7,
                  base_docid=st0["n_docs"], bucket_base=st0["n_buckets"])
        append_index(spark, _corpus_df(spark, new), out, **kw)
        st1 = load_stats(out)
        # replay the SAME pinned epoch: must converge, not double-ingest
        append_index(spark, _corpus_df(spark, new), out, **kw)
        st2 = load_stats(out)
        assert st2["n_docs"] == st1["n_docs"] == 8
        assert st2["total_tokens"] == st1["total_tokens"]
        assert st2["n_postings"] == st1["n_postings"]
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert idx.search("epoch", "bm25", 10).count() == 2

    def test_orphan_batch_is_overwritten(self, spark, tmp_path,
                                         crash_store):
        """A crash after the batch write but before the commit leaves an
        orphan dir; the next append claims the same batch id + docid range
        and overwrites it — no overlap, no duplicate."""
        out = str(tmp_path / "idx")
        rows = [(f"u{i}", f"base doc {i} common") for i in range(6)]
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=2)
        # the crashed append: batch dir written, snapshot NOT committed
        orphan = [("o1", "orphan ghost document")]
        with crash_store(match="snapshot-") as st:
            append_index(spark, _corpus_df(spark, orphan), out,
                         analyzer=NOSTEM, num_partitions=2)
        assert st["fired"]
        assert os.path.isdir(os.path.join(out, "data", "batch=1"))
        # the next (real) append must reuse batch 1 / docids 6.. and replace
        # the orphan entirely
        real = [("r1", "replacement document zebra")]
        m = append_index(spark, _corpus_df(spark, real), out,
                         analyzer=NOSTEM, num_partitions=2)
        assert m.n_docs == 7
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert len(idx) == 7
        assert idx.search("ghost", "bm25", 10).count() == 0
        assert idx.search("zebra", "bm25", 10).count() == 1
        man = load_snapshot(out)["batches"][-1]
        assert man["batch"] == 1 and man["docid_range"] == [6, 7]


class TestStreamingEpochPinning:
    def test_committed_epoch_skipped_and_allocation_pinned(
        self, spark, tmp_path
    ):
        from visigoth_spark.streaming import foreach_batch_indexer

        out = str(tmp_path / "idx")
        fn = foreach_batch_indexer(out, analyzer=NOSTEM, num_partitions=2)
        b0 = _corpus_df(spark, [(f"u{i}", f"first epoch {i}")
                                for i in range(4)])
        fn(b0, 0)
        b1 = _corpus_df(spark, [("v1", "second epoch unique")])
        fn(b1, 1)
        st = load_stats(out)
        assert st["n_docs"] == 5
        snap = load_snapshot(out)
        assert snap["last_epoch"] == 1
        assert snap["batches"][-1]["batch"] == 1
        assert snap["batches"][-1]["docid_range"] == [4, 5]
        # replay of a COMMITTED epoch is a no-op
        fn(b1, 1)
        assert load_stats(out)["n_docs"] == 5

    def test_allocated_but_uncommitted_epoch_replays_idempotently(
        self, spark, tmp_path, crash_store
    ):
        from visigoth_spark.streaming import foreach_batch_indexer

        out = str(tmp_path / "idx")
        fn = foreach_batch_indexer(out, analyzer=NOSTEM, num_partitions=2)
        fn(_corpus_df(spark, [(f"u{i}", f"first {i}") for i in range(4)]), 0)
        b1 = _corpus_df(spark, [("v1", "epoch one unique zebra")])
        # the crash: epoch 1's batch data is written, its commit is not
        with crash_store(match="snapshot-") as st:
            fn(b1, 1)
        assert st["fired"]
        fn(b1, 1)  # replay
        st = load_stats(out)
        assert st["n_docs"] == 5  # not 6: replay overwrote its own batch
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        assert idx.search("zebra", "bm25", 10).count() == 1

    def test_append_inherits_statement_col(self, spark, tmp_path):
        rows = [("u1", "stored content one", "statement alpha database"),
                ("u2", "stored content two", "statement beta index")]
        df = spark.createDataFrame(
            rows, "url string, text string, statement string"
        )
        out = str(tmp_path / "idx")
        build_index(spark, df, out, analyzer=NOSTEM, num_partitions=2,
                    statement_col="statement")
        more = [("u3", "stored content three", "statement gamma database")]
        append_index(
            spark,
            spark.createDataFrame(
                more, "url string, text string, statement string"
            ),
            out, analyzer=NOSTEM, num_partitions=2,
        )
        idx = SearchIndex(spark, out, analyzer=NOSTEM)
        # appended doc must be indexed on its STATEMENT (inherited split)
        hit = idx.search("gamma", "bm25", 5, include_raw=True).collect()
        assert [r["url"] for r in hit] == ["u3"]
        assert hit[0]["raw"] == more[0][1]
        # content vocabulary still not indexed
        assert idx.search("three", "bm25", 5).count() == 0


class TestStoreRawRetrofit:
    def test_cannot_enable_store_raw_on_append(self, spark, tmp_path):
        out = str(tmp_path / "idx")
        rows = [(f"u{i}", f"plain doc {i}") for i in range(6)]
        build_index(spark, _corpus_df(spark, rows), out, analyzer=NOSTEM,
                    num_partitions=2)
        with pytest.raises(ValueError, match="store_raw"):
            append_index(spark, _corpus_df(spark, [("x", "more")]), out,
                         analyzer=NOSTEM, num_partitions=2, store_raw=True)

    def test_statement_col_validated_at_driver(self, spark, tmp_path):
        rows = [("u1", "text only")]
        df = _corpus_df(spark, rows)
        with pytest.raises(ValueError, match="statement_col"):
            build_index(spark, df, str(tmp_path / "i"), analyzer=NOSTEM,
                        num_partitions=2, statement_col="nope")


class TestCatalogTableSource:
    def test_build_from_saved_table(self, spark, tmp_path):
        """The cli/table read path (spark.read.table — the Iceberg surface;
        the sandbox uses the built-in catalog) must build identically to the
        parquet path."""
        from visigoth_spark.corpus import generate_corpus

        pdf = generate_corpus(60)
        df = spark.createDataFrame(pdf[["url", "text", "lang"]])
        spark.sql("DROP TABLE IF EXISTS vg_test_pages")
        df.write.mode("overwrite").saveAsTable("vg_test_pages")
        try:
            out = str(tmp_path / "idx")
            build_index(spark, spark.read.table("vg_test_pages"), out,
                        num_partitions=2)
            idx = SearchIndex(spark, out)
            res = idx.search("curso", "bm25", 5).collect()
            assert len(res) > 0
            # identical to the direct-DataFrame build
            out2 = str(tmp_path / "idx2")
            build_index(spark, df, out2, num_partitions=2)
            res2 = SearchIndex(spark, out2).search("curso", "bm25", 5).collect()
            assert [(r["url"], r["score"]) for r in res] == [
                (r["url"], r["score"]) for r in res2
            ]
        finally:
            spark.sql("DROP TABLE IF EXISTS vg_test_pages")
