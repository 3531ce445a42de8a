"""Segment compaction (build.compact_index) — the Lucene force-merge
analogue. After a run of append_index calls, compaction must restore exactly
the index a cold single-batch build over the same documents produces:
identical docmap (dense docids in url order), identical per-term posting
lists, identical search results — while preserving stored raw content and
surviving stale staging dirs."""

from __future__ import annotations

import os

import numpy as np
import pytest

from visigoth_spark.build import (
    append_index,
    build_index,
    compact_index,
    load_snapshot,
    load_stats,
)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex
from visigoth_spark.reference_engine import OracleIndex

QUERIES = ["curso", "programación java", "java java", "web curso gratis"]


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


def _interleaved_slices(n=240, parts=3):
    """Slices whose urls INTERLEAVE — appended docids are maximally out of
    url order, so compaction's remap is actually exercised."""
    pdf = generate_corpus(n).sort_values("url").reset_index(drop=True)
    return pdf, [pdf.iloc[i::parts] for i in range(parts)]


def _appended_index(spark, tmp_path, name, slices, **kw):
    out = str(tmp_path / name)
    build_index(spark, _df(spark, slices[0]), out, num_partitions=3, **kw)
    for s in slices[1:]:
        append_index(spark, _df(spark, s), out, num_partitions=2, **kw)
    return out


def _files(out, kind):
    """The snapshot's per-file range entries (``segfiles``/``docfiles``)."""
    return [e for b in load_snapshot(out)["batches"] for e in b[kind]]


def _last_batch(out):
    """Path prefix of the snapshot's newest batch."""
    return f"data/batch={load_snapshot(out)['batches'][-1]['batch']}/"


def _docmap_rows(spark, out, cols=("docid", "url", "doclen")):
    idx = SearchIndex(spark, out)
    return [tuple(r[c] for c in cols)
            for r in idx._docmap.orderBy("docid").collect()]


class TestCompactEqualsColdBuild:
    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("compact")
        pdf, slices = _interleaved_slices()
        appended = _appended_index(spark, tmp, "appended", slices)
        cold = str(tmp / "cold")
        build_index(spark, _df(spark, pdf), cold, num_partitions=4)
        m = compact_index(spark, appended, num_partitions=4)
        return pdf, appended, cold, m

    def test_docmap_identical_to_cold_build(self, spark, built):
        pdf, compacted, cold, _ = built
        assert _docmap_rows(spark, compacted) == _docmap_rows(spark, cold)

    def test_postings_identical_to_cold_build(self, spark, built):
        _, compacted, cold, _ = built

        def full_postings(out):
            """term -> (docids, tfs, doclens) concatenated across segments,
            one collect per index."""
            from visigoth_spark.codec import decode_segment

            idx = SearchIndex(spark, out)
            rows = idx._data.filter("kind = 's'").select(
                "term", "min_docid", "blob"
            ).collect()
            by_term: dict[str, list] = {}
            for r in rows:
                by_term.setdefault(r["term"], []).append(
                    (r["min_docid"], decode_segment(bytes(r["blob"])))
                )
            return {
                t: tuple(
                    np.concatenate([seg[i] for _, seg in sorted(
                        parts, key=lambda p: p[0])])
                    for i in range(3)
                )
                for t, parts in by_term.items()
            }

        pa, pb = full_postings(compacted), full_postings(cold)
        assert set(pa) == set(pb) and pa
        for t in pa:
            for i, name in enumerate(("docids", "tfs", "doclens")):
                np.testing.assert_array_equal(pa[t][i], pb[t][i],
                                              err_msg=f"{t}/{name}")

    def test_stats_preserved(self, built):
        _, compacted, cold, m = built
        sa, sb = load_stats(compacted), load_stats(cold)
        for k in ("n_docs", "total_tokens", "n_postings"):
            assert sa[k] == sb[k], k
        assert sa["avgdl"] == pytest.approx(sb["avgdl"])
        assert sa["n_batches"] == 1
        assert m.n_docs == sb["n_docs"]
        assert m.n_postings == sb["n_postings"]

    def test_search_parity_with_oracle(self, spark, built):
        pdf, compacted, _, _ = built
        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        idx = SearchIndex(spark, compacted)
        for q in QUERIES:
            got = [(r["url"], r["score"])
                   for r in idx.search(q, "bm25", k=10).collect()]
            exp = oracle.bm25_search(q, k=10)
            assert [u for u, _ in got] == [u for u, _ in exp], q
            for (u1, s1), (_, s2) in zip(got, exp):
                assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    def test_no_staging_leftovers(self, built):
        _, compacted, _, _ = built
        assert not os.path.exists(os.path.join(compacted, "_compact_tmp"))
        assert not os.path.exists(os.path.join(compacted, "_pre_compact"))


class TestCompactModes:
    def test_dest_mode_leaves_source_untouched(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(120, 2)
        src = _appended_index(spark, tmp_path, "src", slices)
        before = _docmap_rows(spark, src)
        dest = str(tmp_path / "dst")
        compact_index(spark, src, dest=dest, num_partitions=3)
        assert load_stats(src)["n_batches"] == 2
        assert _docmap_rows(spark, src) == before
        # dest is url-ordered dense while source kept ingest order
        urls = [u for _, u, _ in _docmap_rows(spark, dest)]
        assert urls == sorted(urls)
        # dest matches the single-process oracle exactly (incl. the url
        # tiebreak); src may legitimately differ from dest on exact-score
        # ties at the k boundary (ingest-order tiebreak) — assert its score
        # sequence instead
        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        a = SearchIndex(spark, src)
        b = SearchIndex(spark, dest)
        for q in QUERIES:
            exp = oracle.bm25_search(q, k=10)
            gb = [(r["url"], r["score"])
                  for r in b.search(q, "bm25", k=10).collect()]
            assert [u for u, _ in gb] == [u for u, _ in exp], q
            ga_scores = [r["score"]
                         for r in a.search(q, "bm25", k=10).collect()]
            assert ga_scores == pytest.approx([s for _, s in exp],
                                              abs=1e-12), q

    def test_url_tiebreak_restored(self, spark, tmp_path):
        """Two docs with IDENTICAL text appended in reverse url order tie on
        score. The reference breaks ties on Document.ID() = the url string
        (search_result.go:31-38 + entities_doc.go:12-14): the appended
        index honors it via the hydrated-top-k url re-tiebreak (kernels
        select on docid = ingest order; only the k-BOUNDARY can differ),
        and compaction restores docid ≡ url order so the contract holds
        structurally."""
        pdf, _ = _interleaved_slices(60, 1)
        dup_text = "curso de programación java y web"
        import pandas as pd

        extra = pd.DataFrame(
            {
                "url": ["zz-b-second", "zz-a-first"],
                "text": [dup_text, dup_text],
                "lang": ["es", "es"],
            }
        )
        out = str(tmp_path / "tie")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        append_index(spark, _df(spark, extra.iloc[[0]]), out,
                     num_partitions=1)
        append_index(spark, _df(spark, extra.iloc[[1]]), out,
                     num_partitions=1)
        idx = SearchIndex(spark, out)
        pre = [r["url"] for r in idx.search(dup_text, "bm25", k=5).collect()
               if r["url"].startswith("zz-")]
        assert pre == ["zz-a-first", "zz-b-second"]  # url re-tiebreak
        compact_index(spark, out, num_partitions=2)
        idx2 = SearchIndex(spark, out)
        post = [r["url"]
                for r in idx2.search(dup_text, "bm25", k=5).collect()
                if r["url"].startswith("zz-")]
        assert post == ["zz-a-first", "zz-b-second"]  # url order

    def test_raw_preserved(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(90, 3)
        out = _appended_index(spark, tmp_path, "raw", slices,
                              store_raw=True)
        compact_index(spark, out, num_partitions=2)
        idx = SearchIndex(spark, out)
        assert idx.has_raw
        rows = idx.search("curso", "bm25", k=5, include_raw=True).collect()
        assert rows
        text_of = dict(zip(pdf["url"], pdf["text"]))
        for r in rows:
            assert r["raw"] == text_of[r["url"]]

    def test_chunked_encode_parity(self, spark, tmp_path):
        """flush_docs far below the corpus size forces multiple docid-chunk
        segments per (term, bucket); results must be unchanged."""
        pdf, slices = _interleaved_slices(150, 3)
        out = _appended_index(spark, tmp_path, "chunked", slices)
        compact_index(spark, out, num_partitions=2, flush_docs=40)
        idx = SearchIndex(spark, out)
        segs = (
            idx._data.filter("kind = 's'").groupBy("term", "bucket").count()
            .filter("count > 1").count()
        )
        assert segs > 0  # the chunk path actually ran
        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        for q in QUERIES:
            got = [(r["url"], r["score"])
                   for r in idx.search(q, "bm25", k=10).collect()]
            exp = oracle.bm25_search(q, k=10)
            assert [u for u, _ in got] == [u for u, _ in exp], q

    def test_stale_staging_cleared(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "stale", slices)
        stale = os.path.join(out, "_compact_tmp")
        os.makedirs(os.path.join(stale, "data"))
        with open(os.path.join(stale, "data", "junk"), "w") as f:
            f.write("crashed run leftovers")
        compact_index(spark, out, num_partitions=2)
        assert not os.path.exists(stale)
        urls = [u for _, u, _ in _docmap_rows(spark, out)]
        assert urls == sorted(urls)


class TestCompactStreamingInterplay:
    def test_stream_epoch_ledger_survives_compaction(self, spark, tmp_path):
        """Compaction must carry the stream's ``last_epoch`` into its
        snapshot: a restarted stream replays its last epoch, and a lost
        epoch id would re-ingest it as a duplicate batch."""
        from visigoth_spark.streaming import foreach_batch_indexer

        pdf = generate_corpus(120).sort_values("url").reset_index(drop=True)
        p1, p2 = pdf.iloc[:80], pdf.iloc[80:]
        out = str(tmp_path / "sidx")
        fn = foreach_batch_indexer(out, num_partitions=2)
        fn(_df(spark, p1), epoch_id=0)
        fn(_df(spark, p2), epoch_id=1)
        compact_index(spark, out, num_partitions=2)
        st = load_stats(out)
        assert st["n_docs"] == 120 and st["n_batches"] == 1

        fn(_df(spark, p2), epoch_id=1)  # checkpoint replay after compaction
        st = load_stats(out)
        assert st["n_docs"] == 120 and st["n_batches"] == 1  # skipped

        fn(_df(spark, p2.iloc[:20]), epoch_id=2)  # stream continues
        st = load_stats(out)
        assert st["n_docs"] == 140 and st["n_batches"] == 2

    def test_orphan_batch_excluded_from_compaction(self, spark, tmp_path):
        """A crashed append leaves a batch dir with no manifest (healed by
        the next append's overwrite). Compaction must fold only COMMITTED
        batches — folding the orphan would make the uncommitted ingest
        permanent and duplicate its docid range."""
        import shutil

        pdf, slices = _interleaved_slices(120, 2)
        out = _appended_index(spark, tmp_path, "orph", slices)
        src = os.path.join(out, "data", "batch=1")
        shutil.copytree(src, os.path.join(out, "data", "batch=9"))
        compact_index(spark, out, num_partitions=2)
        st = load_stats(out)
        assert st["n_docs"] == 120
        rows = _docmap_rows(spark, out)
        assert len(rows) == 120
        assert [d for d, _, _ in rows] == list(range(120))
        assert sorted(u for _, u, _ in rows) == sorted(pdf["url"])


class TestFileLevelTermPruning:
    """compact_index records per-file term ranges in the snapshot;
    SearchIndex._seg_scan enumerates only covering files. The pruned plan
    must be invisible semantically: same results as the reference engine
    over the same documents, and appends must extend the ranges."""

    def test_manifest_written_and_results_identical(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(150, 3)
        out = _appended_index(spark, tmp_path, "fp", slices)
        compact_index(spark, out, num_partitions=4)
        idx = SearchIndex(spark, out)
        assert idx._segfiles is not None and len(idx._segfiles) >= 2
        # disjoint, ordered file ranges
        ordered = sorted(idx._segfiles, key=lambda e: e["term_min"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["term_max"] <= b["term_min"]
        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        for q in QUERIES:
            for route in ("driver", "spark"):
                got = [(r["url"], r["score"]) for r in idx.search(
                    q, "bm25", k=10, route=route).collect()]
                exp = oracle.bm25_search(q, k=10)
                assert [u for u, _ in got] == [u for u, _ in exp], (q, route)
                for (u, s1), (_, s2) in zip(got, exp):
                    assert s1 == pytest.approx(s2, abs=1e-12), (q, route, u)

    def test_all_terms_outside_ranges_returns_empty(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "fp2", slices)
        compact_index(spark, out, num_partitions=2)
        idx = SearchIndex(spark, out)
        # 'ÿÿÿÿ' (U+00FF) sorts after every fixture term — including
        # 'über' (ü = U+00FC > 'z') -> zero files selected
        assert idx._seg_scan(["ÿÿÿÿ"]) is None
        assert idx.search("ÿÿÿÿ", "hits", k=10).count() == 0

    def test_append_maintains_manifest(self, spark, tmp_path):
        """An append EXTENDS the file ranges with its own batch's (it used
        to delete them, costing file-level pruning until the next
        merge/compact): the appended doc's never-seen term must be
        findable through the maintained ranges, and the old batches keep
        their tight pruning entries."""
        import pandas as pd

        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "fp3", slices)
        compact_index(spark, out, num_partitions=2)
        before = _files(out, "segfiles")
        extra = pd.DataFrame({
            "url": ["zz-new-doc"],
            "text": ["palabrarara inventada"],
            "lang": ["es"],
        })
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        after = _files(out, "segfiles")
        new = _last_batch(out)
        new_entries = [e for e in after if e["path"].startswith(new)]
        assert len(after) == len(before) + len(new_entries) > len(before)
        idx = SearchIndex(spark, out)
        assert idx._segfiles is not None  # pruning still live
        got = [r["url"] for r in
               idx.search("palabrarara", "bm25", k=5).collect()]
        assert got == ["zz-new-doc"]
        # the correctness-critical direction: the appended batch's files
        # are ADMITTED for its own (stemmed) term (compacted batch-0 files
        # may legitimately also be admitted — their lexicographic ranges
        # tile the whole vocabulary)
        from visigoth_spark.analysis import analyze_text

        stem = analyze_text("palabrarara", idx.analyzer)[0]
        pruned = idx._seg_prune.prune([stem])
        assert any(p.startswith(new) for p in pruned)

    def test_search_many_pruned_parity(self, spark, tmp_path):
        pdf, slices = _interleaved_slices(90, 3)
        out = _appended_index(spark, tmp_path, "fp4", slices)
        compact_index(spark, out, num_partitions=3)
        idx = SearchIndex(spark, out)
        assert idx._segfiles is not None
        batch = idx.search_many(QUERIES, "bm25", k=10).collect()
        singles = []
        for qid, q in enumerate(QUERIES):
            for r in idx.search(q, "bm25", k=10).collect():
                singles.append((qid, r["url"], r["score"], r["hits"]))
        got = [(r["qid"], r["url"], r["score"], r["hits"]) for r in batch]
        assert got == singles


class TestDocfilesHydrationPruning:
    """compact_index records per-docmap-file docid ranges in the snapshot;
    _docmap_for opens only covering files. Must be semantically invisible,
    and appends must extend them."""

    def test_hydration_identical_with_and_without_manifest(
        self, spark, tmp_path
    ):
        pdf, slices = _interleaved_slices(120, 3)
        out = _appended_index(spark, tmp_path, "df1", slices,
                              store_raw=True)
        compact_index(spark, out, num_partitions=3)
        idx = SearchIndex(spark, out)
        assert idx._docfiles
        ids = [0, 7, 59, 119]
        fast = idx._docmap_for(ids, with_raw=True)
        assert set(fast) == set(ids)
        slow = {r["docid"]: (r["url"], r["raw"]) for r in
                idx._docmap.filter(idx._docmap.docid.isin(ids)).collect()}
        assert fast == slow
        # raw round-trips through the pruned read
        urls = {u: r for u, r in
                zip(pdf["url"], pdf["text"])}
        for d, (u, raw) in fast.items():
            assert raw == urls[u]

    def test_append_maintains_docfiles(self, spark, tmp_path):
        """Appends EXTEND the docid ranges with their own batch's (they
        used to delete them): hydration of an appended docid must work
        through the maintained ranges."""
        import pandas as pd

        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "df2", slices)
        compact_index(spark, out, num_partitions=2)
        extra = pd.DataFrame({
            "url": ["zz-df-new"], "text": ["palabrota nueva"],
            "lang": ["es"],
        })
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        new = _last_batch(out)
        assert any(e["path"].startswith(new)
                   for e in _files(out, "docfiles"))
        idx = SearchIndex(spark, out)
        assert idx._docfiles is not None
        # docid 60 = the appended doc; admitted by the maintained ranges
        pruned = idx._doc_prune.prune([60])
        assert any(p.startswith(new) for p in pruned)
        got = idx._docmap_for([60])
        assert got[60][0] == "zz-df-new"


class TestManifestSupersetVisibility:
    """The file ranges a reader plans from are the current snapshot's:
    an op's new files join them only with its commit, so no crash can
    make a reader plan an uncommitted batch's files."""

    def test_orphan_batch_entries_are_filtered(self, spark, tmp_path,
                                               crash_store):
        """Crash after the appended batch and its termdict version are
        written but before the commit: a reader must neither plan the
        orphan's files nor surface its docs."""
        import pandas as pd

        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "sv1", slices)
        compact_index(spark, out, num_partitions=2)
        extra = pd.DataFrame({
            "url": ["zz-orphan"], "text": ["fantasma palabra"],
            "lang": ["es"],
        })
        orphan = f"data/batch={load_snapshot(out)['batches'][-1]['batch'] + 1}/"
        with crash_store(match="snapshot-") as st:
            append_index(spark, _df(spark, extra), out, num_partitions=1)
        assert st["fired"] and os.path.isdir(os.path.join(out, orphan))
        idx = SearchIndex(spark, out)
        # the snapshot names none of the orphan's files...
        assert all(not e["path"].startswith(orphan)
                   for e in idx._segfiles)
        assert all(not e["path"].startswith(orphan)
                   for e in idx._docfiles)
        # ...so the orphan doc is invisible and other queries still work
        assert idx.search("fantasma", "bm25", k=5).count() == 0
        assert idx.search("curso", "bm25", k=5).count() > 0

    def test_replayed_append_replaces_entries(self, spark, tmp_path):
        """A replayed append (pinned batch id) rewrites its batch dir with
        fresh file names; its snapshot entry must REPLACE the batch's old
        one — every planned path must exist on disk."""
        import pandas as pd

        pdf, slices = _interleaved_slices(60, 2)
        out = _appended_index(spark, tmp_path, "sv2", slices)
        compact_index(spark, out, num_partitions=2)
        extra = pd.DataFrame({
            "url": ["zz-replay"], "text": ["replay documento unico"],
            "lang": ["es"],
        })
        bid = 1 + load_snapshot(out)["batches"][-1]["batch"]
        kw = dict(num_partitions=1, batch_id=bid, base_docid=60,
                  bucket_base=load_stats(out)["n_buckets"])
        append_index(spark, _df(spark, extra), out, **kw)
        append_index(spark, _df(spark, extra), out, **kw)  # replay
        b1 = [e["path"] for e in _files(out, "segfiles")
              if e["path"].startswith(f"data/batch={bid}/")]
        assert b1, "replayed batch entries present"
        for p in b1:
            assert os.path.exists(os.path.join(out, p)), p
        idx = SearchIndex(spark, out)
        got = [r["url"] for r in
               idx.search("replay", "bm25", k=5).collect()]
        assert got == ["zz-replay"]
        assert load_stats(out)["n_docs"] == 61


class TestPreCompactRecovery:
    """A crash inside an in-place compaction leaves a readable index (the
    old generation before its commit, the new one after), and the next
    compact_index completes from there."""

    def _build(self, spark, tmp_path, name):
        pdf, slices = _interleaved_slices(90, 3)
        out = _appended_index(spark, tmp_path, name, slices)
        return pdf, out

    def _oracle_check(self, spark, pdf, out):
        oracle = OracleIndex()
        for r in pdf.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        idx = SearchIndex(spark, out)
        got = [(r["url"], r["score"])
               for r in idx.search("curso java", "bm25", k=10).collect()]
        exp = oracle.bm25_search("curso java", k=10)
        assert [u for u, _ in got] == [u for u, _ in exp]

    def test_phase1_crash_recovered(self, spark, tmp_path, crash_store):
        """Crash before the commit (clearing the staging dir): the old
        generation stays current and readable; the re-run completes."""
        pdf, out = self._build(spark, tmp_path, "p1")
        with crash_store(match="_compact_tmp") as st:
            compact_index(spark, out, num_partitions=2)
        assert st["fired"]
        assert load_stats(out)["n_batches"] == 3
        self._oracle_check(spark, pdf, out)
        compact_index(spark, out, num_partitions=2)
        assert load_stats(out)["n_batches"] == 1
        self._oracle_check(spark, pdf, out)

    def test_phase2_crash_recovered(self, spark, tmp_path, crash_store):
        """Crash at the commit itself: the compacted batch and termdict
        version are written but unreferenced; the old generation stays
        current, and the re-run replaces the debris."""
        pdf, out = self._build(spark, tmp_path, "p2")
        with crash_store(match="snapshot-") as st:
            compact_index(spark, out, num_partitions=2)
        assert st["fired"]
        assert load_stats(out)["n_batches"] == 3
        self._oracle_check(spark, pdf, out)
        compact_index(spark, out, num_partitions=2)
        assert load_stats(out)["n_batches"] == 1
        assert sorted(os.listdir(os.path.join(out, "data"))) == [
            f"batch={load_snapshot(out)['batches'][0]['batch']}"]
        self._oracle_check(spark, pdf, out)

    def test_completed_swap_leftover_preserves_later_appends(
            self, spark, tmp_path, crash_store):
        """Crash AFTER the commit, while deleting the old generation: the
        compacted generation is live with old batch dirs left behind.
        Batches appended after that crash must survive the next
        compaction."""
        pdf, out = self._build(spark, tmp_path, "done")
        with crash_store(match="batch=0") as st:
            compact_index(spark, out, num_partitions=2)
        assert st["fired"]
        assert load_stats(out)["n_batches"] == 1
        assert os.path.isdir(os.path.join(out, "data", "batch=0"))
        # post-crash append: committed on top of the compacted generation
        extra = generate_corpus(8, seed=777)
        extra = extra.assign(url="zz-postcrash-" + extra["url"],
                             text=extra["text"] + " postcrash")
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        n_after = load_stats(out)["n_docs"]
        compact_index(spark, out, num_partitions=2)
        assert load_stats(out)["n_docs"] == n_after
        idx = SearchIndex(spark, out)
        got = [r["url"] for r in
               idx.search("postcrash", "linear", k=None).collect()]
        assert len(got) == 8 and all(u.startswith("zz-postcrash-")
                                     for u in got)
        self._oracle_check_with_extra(spark, pdf, extra, out)

    def _oracle_check_with_extra(self, spark, pdf, extra, out):
        import pandas as pd

        oracle = OracleIndex()
        both = pd.concat([pdf, extra], ignore_index=True)
        for r in both.sort_values("url").itertuples():
            oracle.put(r.url, r.text)
        idx = SearchIndex(spark, out)
        got = [(r["url"], r["score"])
               for r in idx.search("curso java", "bm25", k=10).collect()]
        exp = oracle.bm25_search("curso java", k=10)
        assert [u for u, _ in got] == [u for u, _ in exp]
