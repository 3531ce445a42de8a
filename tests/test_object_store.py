"""Object-store index storage: the full index lifecycle (build -> append ->
merge -> compact -> gc -> catalog) over a ``file://`` URI, which routes every
control-plane operation (snapshot commits, batch GC, footer
sweeps, writer lock, stream epochs) through the Hadoop FileSystem JVM API —
the exact code path an ``s3a://`` or ``hdfs://`` index takes, minus the
wire. Results must be identical to the same ops on a plain POSIX path."""

from __future__ import annotations

import os

import pytest

from visigoth_spark import storage as vstore
from visigoth_spark.build import (
    append_index,
    build_index,
    compact_index,
    gc_index,
    load_snapshot,
    load_stats,
    merge_appends,
)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex

QUERIES = [("curso", "bm25"), ("programación java", "bm25"),
           ("java", "hits"), ("curso java", "bm25_or"),
           ("python web", "linear")]


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


def _results(idx):
    out = {}
    for q, engine in QUERIES:
        out[(q, engine)] = [
            (r["url"], r["score"], r["hits"])
            for r in idx.search(q, engine, k=10).collect()
        ]
    return out


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_corpus(180)


class TestHadoopStoreLifecycle:
    def test_full_lifecycle_uri_matches_posix(self, spark, tmp_path,
                                              corpus_pdf):
        pdf = corpus_pdf
        posix = str(tmp_path / "posix_idx")
        uri = "file://" + str(tmp_path / "uri_idx")
        assert vstore.is_uri(uri) and not vstore.is_uri(posix)
        assert type(vstore.get_store(uri, spark)).__name__ == "HadoopStore"

        for out in (posix, uri):
            build_index(spark, _df(spark, pdf.iloc[:100]), out,
                        num_partitions=2)
            append_index(spark, _df(spark, pdf.iloc[100:140]), out,
                         num_partitions=1)
            append_index(spark, _df(spark, pdf.iloc[140:]), out,
                         num_partitions=1)

        # appended state: identical results either storage
        r_posix = _results(SearchIndex(spark, posix))
        r_uri = _results(SearchIndex(spark, uri))
        assert r_posix == r_uri
        assert load_stats(uri)["n_docs"] == 180

        # minor merge with deferred GC, then gc_index — all URI-side
        for out in (posix, uri):
            merge_appends(spark, out, num_partitions=2, gc=False)
            gc_index(out)
        assert _results(SearchIndex(spark, uri)) == \
            _results(SearchIndex(spark, posix))
        vis = load_snapshot(uri)["batches"]
        assert len(vis) == 2  # base + merged tier
        # the merged tier's file ranges were swept on the URI store
        st = vstore.get_store(uri, spark)
        assert vis[1]["segfiles"] and vis[1]["docfiles"]

        # in-place compaction: one snapshot commit, no rename
        for out in (posix, uri):
            compact_index(spark, out, num_partitions=2)
        idx_u = SearchIndex(spark, uri)
        assert _results(idx_u) == _results(SearchIndex(spark, posix))
        assert load_stats(uri)["n_batches"] == 1
        assert not st.exists(vstore.join(uri, "_compact_tmp"))
        assert not st.exists(vstore.join(uri, "_pre_compact"))
        # no writer lock left behind by the swap
        assert not st.exists(vstore.join(uri, "WRITER_LOCK"))
        # no control-plane call fell into LocalStore with a Hadoop-
        # normalized single-slash URI (r3 left 63 stray relative
        # "file:/…" dirs under cwd after one pytest run)
        assert not [p for p in os.listdir(".") if p.startswith("file:")]

    def test_single_slash_uri_routes_to_hadoop_store(self, spark):
        """Hadoop's Path.toString() drops the empty authority, so
        file:///x comes back as file:/x — that form must still route to
        HadoopStore (r3: it matched no scheme and fell into LocalStore,
        where os.makedirs created a relative ``file:/…`` dir under cwd)."""
        assert vstore.is_uri("file:/tmp/x")
        assert vstore.is_uri("s3a://bucket/x")
        assert vstore.is_uri("hdfs://nn:9000/x")
        assert not vstore.is_uri("/tmp/x")
        assert not vstore.is_uri("relative/path")
        assert not vstore.is_uri("C:/win/drive")  # drive letters: out of scope
        st = vstore.get_store("file:/tmp/x", spark)
        assert type(st).__name__ == "HadoopStore"
        # both slash forms address the same file
        p = "/tmp/vg_slash_probe"
        st.write_atomic("file:" + p, b"x")
        assert st.exists("file://" + p)
        st.remove("file://" + p)

    def test_writer_lock_on_uri(self, spark, tmp_path, corpus_pdf):
        from visigoth_spark.build import _writer_lock

        uri = "file://" + str(tmp_path / "lk_idx")
        build_index(spark, _df(spark, corpus_pdf.iloc[:40]), uri,
                    num_partitions=1)
        with _writer_lock(uri, "test"):
            with pytest.raises(RuntimeError, match="locked"):
                append_index(spark, _df(spark, corpus_pdf.iloc[40:50]),
                             uri, num_partitions=1)
        append_index(spark, _df(spark, corpus_pdf.iloc[40:50]), uri,
                     num_partitions=1)
        assert load_stats(uri)["n_docs"] == 50

    def test_stream_ledger_on_uri(self, spark, tmp_path, corpus_pdf):
        from visigoth_spark.streaming import foreach_batch_indexer

        uri = "file://" + str(tmp_path / "st_idx")
        fn = foreach_batch_indexer(uri, num_partitions=1)
        fn(_df(spark, corpus_pdf.iloc[:60]), epoch_id=0)
        fn(_df(spark, corpus_pdf.iloc[60:90]), epoch_id=1)
        fn(_df(spark, corpus_pdf.iloc[60:90]), epoch_id=1)  # replay: no-op
        assert load_stats(uri)["n_docs"] == 90
        assert load_snapshot(uri)["last_epoch"] == 1

    def test_catalog_on_uri(self, spark, tmp_path, corpus_pdf):
        from visigoth_spark.catalog import Catalog

        root = "file://" + str(tmp_path / "cat")
        cat = Catalog(spark, root)
        cat.ingest("main", _df(spark, corpus_pdf.iloc[:50]),
                   num_partitions=1)
        assert cat.list() == ["main"]
        cat.alias("serving", "main")
        assert cat.search("serving", "curso", k=5).count() > 0
        assert cat.rename("main", "web")
        assert cat.search("serving", "curso", k=5).count() > 0
        assert cat.drop("web")
        assert cat.list() == []

    def test_remote_termdict_seek(self, spark, tmp_path, corpus_pdf):
        """The termdict reader over object-store streams (the
        object-store df seek: footer parsed once, row-group-pruned ranged
        reads) must return exactly the same dfs as the index's own
        term_df — driven through the HadoopStore seekable stream, the
        code path an s3a:// index takes."""
        from visigoth_spark.query import _ByteLRU, _termdict_reader

        uri = "file://" + str(tmp_path / "td_idx")
        build_index(spark, _df(spark, corpus_pdf), uri, num_partitions=4)
        idx = SearchIndex(spark, uri)
        st = vstore.get_store(uri, spark)
        rtd = _termdict_reader(
            st, vstore.join(uri, load_snapshot(uri)["termdict"]), None,
            _ByteLRU(1 << 20))
        # termdict stores ANALYZED terms (default analyzer stems)
        terms = ["curs", "jav", "program", "zzz-missing"]
        dfs = idx.term_df(terms)
        assert rtd.lookup(terms) == {t: d for t, d in dfs.items() if d}
        assert dfs["zzz-missing"] == 0
        assert rtd.lookup(["zzz-missing"]) == {}
        rtd.close()

    def test_simulated_remote_serving(self, spark, tmp_path, corpus_pdf,
                                      monkeypatch):
        """End-to-end query path of a TRULY remote index (s3a-like):
        local_path masked to None on a file:// index, so the driver-local
        pyarrow fast paths are all unavailable — term_df must go through
        the termdict reader's ranged reads, routing must fall back to the
        distributed scan, hydration to the Spark point lookup. Results
        must equal the POSIX-served index exactly."""
        from visigoth_spark.storage import HadoopStore

        posix = str(tmp_path / "p_idx")
        uri = "file://" + str(tmp_path / "r_idx")
        for out in (posix, uri):
            build_index(spark, _df(spark, corpus_pdf.iloc[:120]), out,
                        num_partitions=2)
            append_index(spark, _df(spark, corpus_pdf.iloc[120:]), out,
                         num_partitions=1)
        monkeypatch.setattr(HadoopStore, "local_path",
                            lambda self, path: None)
        idx_r = SearchIndex(spark, uri)
        assert idx_r._local_root is None
        expected = _results(SearchIndex(spark, posix))
        assert _results(idx_r) == expected
        # term_df resolved via the remote seek (no local termdict read)
        assert idx_r._td_reader is not None
        assert idx_r._td_reader._handles  # the store's streams
        dfs = idx_r.term_df(["curs", "zzz-missing"])  # analyzed terms
        assert dfs["curs"] > 0 and dfs["zzz-missing"] == 0
        # batched path too
        rows = idx_r.search_many(["curso", "java"], "bm25", k=5).collect()
        assert len(rows) > 0

    def test_refresh_on_uri(self, spark, tmp_path, corpus_pdf):
        """SearchIndex.refresh() over a file:// URI: the snapshot re-open
        (snapshot re-read, pruner swap, remote-termdict stream close)
        runs through HadoopStore; the hot-term cache is empty on
        non-local indexes so eviction degenerates to a no-op."""
        uri = "file://" + str(tmp_path / "rf_idx")
        build_index(spark, _df(spark, corpus_pdf.iloc[:100]), uri,
                    num_partitions=2)
        idx = SearchIndex(spark, uri)
        pre = [r["url"] for r in idx.search("curso", "bm25", k=5).collect()]
        append_index(spark, _df(spark, corpus_pdf.iloc[100:140]), uri,
                     num_partitions=1)
        assert len(idx) == 100  # pinned snapshot
        idx.refresh()
        assert len(idx) == 140
        post = [r["url"] for r in
                idx.search("curso", "bm25", k=5).collect()]
        fresh = [r["url"] for r in
                 SearchIndex(spark, uri)
                 .search("curso", "bm25", k=5).collect()]
        assert post == fresh
        assert pre  # sanity: the query matched something

    def test_resume_on_uri(self, spark, tmp_path, corpus_pdf, crash_store):
        """Batched build with resume on a URI index: the progress
        snapshots round-trip through the store."""
        uri = "file://" + str(tmp_path / "rs_idx")
        # crash at batch 1's progress commit: resume redoes exactly it
        with crash_store(match="snapshot-1") as st:
            build_index(spark, _df(spark, corpus_pdf), uri,
                        num_partitions=4, n_batches=2)
        assert st["fired"]
        build_index(spark, _df(spark, corpus_pdf), uri,
                    num_partitions=4, n_batches=2, resume=True)
        assert load_stats(uri)["n_docs"] == len(corpus_pdf)
        assert len(load_snapshot(uri)["batches"]) == 2
