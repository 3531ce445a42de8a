"""Tiered (minor) compaction (build.merge_appends) and the manifest-driven
one-commit snapshot model it rests on.

merge_appends is a FILE-LAYOUT rewrite: appended batches collapse into one
term-range-partitioned tier with docids, buckets, blobs, and therefore
scores and result order byte-identical to the pre-merge index (unlike
compact_index, which remaps docids to url order). Visibility is flipped by
ONE snapshot commit listing the merged batch (with ``replaces=[...]``) in
place of the batches it folds; orphan dirs and not-yet-GC'd replaced
batches must be invisible to queries, stats, and the termdict refresh."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

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

QUERIES = ["curso", "programación java", "java java", "web curso gratis"]


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


def _slices(n=150, parts=3):
    pdf = generate_corpus(n).sort_values("url").reset_index(drop=True)
    return pdf, [pdf.iloc[i::parts] for i in range(parts)]


def _appended(spark, tmp_path, name, slices, **kw):
    out = str(tmp_path / name)
    build_index(spark, _df(spark, slices[0]), out, num_partitions=3, **kw)
    for s in slices[1:]:
        append_index(spark, _df(spark, s), out, num_partitions=2, **kw)
    return out


def _results(idx, engine="bm25"):
    out = {}
    for q in QUERIES:
        out[q] = [(r["url"], r["docid"], round(float(r["score"]), 12),
                   r["hits"]) for r in idx.search(q, engine, k=10).collect()]
    return out


def _visible(out):
    return load_snapshot(out)["batches"]


def _batch_dirs(out):
    return sorted(d for d in os.listdir(os.path.join(out, "data"))
                  if d.startswith("batch="))


class TestMergeIdentity:
    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("merge")
        pdf, slices = _slices(150, 3)
        out = _appended(spark, tmp, "idx", slices)
        idx_before = SearchIndex(spark, out)
        before = {
            "bm25": _results(idx_before, "bm25"),
            "hits": _results(idx_before, "hits"),
            "stats": load_stats(out),
            "docmap": [
                (r["docid"], r["url"], r["doclen"]) for r in
                idx_before._docmap.orderBy("docid").collect()
            ],
        }
        m = merge_appends(spark, out, num_partitions=3)
        return out, before, m

    def test_results_byte_identical(self, spark, built):
        out, before, m = built
        assert m is not None
        idx = SearchIndex(spark, out)
        assert _results(idx, "bm25") == before["bm25"]
        assert _results(idx, "hits") == before["hits"]

    def test_docmap_identical_and_docids_unchanged(self, spark, built):
        out, before, _ = built
        idx = SearchIndex(spark, out)
        got = [(r["docid"], r["url"], r["doclen"]) for r in
               idx._docmap.orderBy("docid").collect()]
        assert got == before["docmap"]

    def test_replaced_batches_gcd_single_tier_remains(self, spark, built):
        out, before, _ = built
        # base batch 0 + ONE merged tier; appended dirs gone
        assert _batch_dirs(out) == ["batch=0", "batch=3"]
        vis = _visible(out)
        assert [m["batch"] for m in vis] == [0, 3]
        merged = vis[1]
        assert merged["merged"] is True and merged["replaces"] == [1, 2]

    def test_stats_conserved(self, spark, built):
        out, before, _ = built
        st = load_stats(out)
        for k in ("n_docs", "total_tokens", "n_postings", "bytes_blob",
                  "avgdl"):
            assert st[k] == before["stats"][k], k
        assert st["n_batches"] == 2

    def test_segfiles_covers_whole_index(self, spark, built):
        out, _, _ = built
        files = [e for b in _visible(out) for e in b["segfiles"]]
        assert any(e["path"].startswith("data/batch=0/") for e in files)
        assert any(e["path"].startswith("data/batch=3/") for e in files)
        idx = SearchIndex(spark, out)
        assert idx._segfiles is not None

    def test_full_compact_after_merge(self, spark, built, tmp_path):
        # compact a COPY (this fixture is class-shared); docids are
        # remapped to url order by the major compaction, so compare
        # (url, score, hits) only
        out, before, _ = built
        copy = str(tmp_path / "compacted")
        shutil.copytree(out, copy)
        compact_index(spark, copy, num_partitions=4)
        idx = SearchIndex(spark, copy)
        for q in QUERIES:
            got = [(r["url"], round(float(r["score"]), 12), r["hits"])
                   for r in idx.search(q, "bm25", k=10).collect()]
            want = [(u, s, h) for u, _d, s, h in before["bm25"][q]]
            assert got == want, q

    def test_append_after_merge_continues_allocation(self, spark, built):
        # LAST in the class: mutates the shared index
        out, before, _ = built
        extra = pd.DataFrame({
            "url": ["zz-post-merge"],
            "text": ["palabrunica inventada"],
            "lang": ["es"],
        })
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        idx = SearchIndex(spark, out)
        assert len(idx) == before["stats"]["n_docs"] + 1
        got = [(r["url"], r["docid"]) for r in
               idx.search("palabrunica", "bm25", k=5).collect()]
        assert got == [("zz-post-merge", before["stats"]["n_docs"])]
        # hits scores are idf-free (pure hit counts), and the new doc has
        # the largest docid with zero hits on the old queries — the old
        # hits results must be EXACTLY unchanged by the append
        assert _results(idx, "hits") == before["hits"]


class TestVisibilityModel:
    def test_orphan_batch_invisible_to_queries(self, spark, tmp_path,
                                              crash_store):
        """A crashed append (batch dir written, snapshot not committed)
        must not leak postings into results, stats refreshes, or
        hydration."""
        pdf, slices = _slices(60, 2)
        out = _appended(spark, tmp_path, "vis", slices)
        # the crash: the append dies at its snapshot commit
        ghost = pd.DataFrame({
            "url": ["gg-ghost"], "text": ["fantasmagoria espectral"],
            "lang": ["es"],
        })
        with crash_store(match="snapshot-") as st:
            append_index(spark, _df(spark, ghost), out, num_partitions=1)
        assert st["fired"]
        assert "batch=2" in _batch_dirs(out)
        idx = SearchIndex(spark, out)
        assert idx._batches == [0, 1]
        assert idx.search("fantasmagoria", "bm25", k=5).count() == 0
        assert idx.search("fantasmagoria", "hits", k=5).count() == 0

    def test_uncommitted_merge_dir_invisible(self, spark, tmp_path):
        """A merge that crashed before its manifest commit leaves the
        merged dir inert: results unchanged, and the next merge reclaims
        the batch id."""
        pdf, slices = _slices(90, 3)
        out = _appended(spark, tmp_path, "vis2", slices)
        before = _results(SearchIndex(spark, out))
        # hand-craft the crash: a merged-tier dir at the id the next merge
        # will claim (batch=3), with NO manifest
        data = os.path.join(out, "data")
        shutil.copytree(os.path.join(data, "batch=1"),
                        os.path.join(data, "batch=3"))
        idx = SearchIndex(spark, out)
        assert idx._batches == [0, 1, 2]
        assert _results(idx) == before
        # the real merge now reclaims batch id 3 and overwrites the orphan
        m = merge_appends(spark, out, num_partitions=2)
        assert m is not None
        idx2 = SearchIndex(spark, out)
        assert [mm["batch"] for mm in _visible(out)] == [0, 3]
        assert _results(idx2) == before

    def test_half_gcd_replaced_manifest_stays_hidden(self, spark, tmp_path,
                                                     crash_store):
        """Crash AFTER the merge's snapshot commit but BEFORE GC: the
        replaced batches' dirs and the previous snapshot still exist, yet
        queries and stats must not double-count them."""
        pdf, slices = _slices(90, 3)
        out = _appended(spark, tmp_path, "vis3", slices)
        before = _results(SearchIndex(spark, out))
        n_docs = load_stats(out)["n_docs"]
        # the crash: the merge dies deleting the first replaced batch dir
        with crash_store(match="batch=1") as st:
            merge_appends(spark, out, num_partitions=2)
        assert st["fired"]
        assert _batch_dirs(out) == ["batch=0", "batch=1", "batch=2",
                                    "batch=3"]
        assert len(os.listdir(os.path.join(out, "_manifests"))) == 2
        vis = _visible(out)
        assert [m["batch"] for m in vis] == [0, 3]
        idx = SearchIndex(spark, out)
        assert idx._batches == [0, 3]
        assert _results(idx) == before
        # an append in this state must not double-count the resurrected
        # batches in its stats/termdict refresh
        extra = pd.DataFrame({
            "url": ["zz-late"], "text": ["palabrarisima nueva"],
            "lang": ["es"],
        })
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        assert load_stats(out)["n_docs"] == n_docs + 1

    def test_merge_below_min_batches_is_noop(self, spark, tmp_path):
        pdf, slices = _slices(40, 2)
        out = _appended(spark, tmp_path, "vis4", slices)
        assert merge_appends(spark, out, min_batches=3) is None
        assert _batch_dirs(out) == ["batch=0", "batch=1"]

    def test_merge_respects_stream_epoch_allocation(self, spark, tmp_path,
                                                    crash_store):
        """A stream epoch that crashed before its commit left an orphan
        batch dir at the id the merge then claims; the epoch's replay
        re-derives its ids from the merged snapshot, so it can neither
        overwrite the merged tier nor ingest twice."""
        from visigoth_spark.streaming import foreach_batch_indexer

        pdf, slices = _slices(90, 3)
        out = _appended(spark, tmp_path, "vis5", slices[:2])
        fn = foreach_batch_indexer(out, num_partitions=2)
        with crash_store(match="snapshot-") as st:
            fn(_df(spark, slices[2]), 7)
        assert st["fired"] and "batch=2" in _batch_dirs(out)
        merge_appends(spark, out, num_partitions=2, min_batches=1)
        assert [m["batch"] for m in _visible(out)] == [0, 2]
        fn(_df(spark, slices[2]), 7)  # the replay
        assert [m["batch"] for m in _visible(out)] == [0, 2, 3]
        assert load_stats(out)["n_docs"] == 90
        fn(_df(spark, slices[2]), 7)  # committed: skipped
        assert load_stats(out)["n_docs"] == 90

    def test_merge_twice_is_tiered(self, spark, tmp_path):
        """append after a merge, merge again: the second merge folds the
        previous tier + the new append into a fresh single tier."""
        pdf, slices = _slices(90, 3)
        out = _appended(spark, tmp_path, "vis6", slices)
        merge_appends(spark, out, num_partitions=2)
        extra = generate_corpus(110).sort_values("url").iloc[90:]
        append_index(spark, _df(spark, extra), out, num_partitions=2)
        before = _results(SearchIndex(spark, out))
        m = merge_appends(spark, out, num_partitions=2, min_batches=2)
        assert m is not None
        assert [mm["batch"] for mm in _visible(out)] == [0, 5]
        assert _results(SearchIndex(spark, out)) == before


class TestMergeEdgeCases:
    def test_zero_token_appended_batch_merges(self, spark, tmp_path):
        """An appended batch whose docs all analyze to ZERO tokens writes
        only kind=d; the merge must carry its docmap rows, skip its absent
        segment dir, and keep every search/hydration contract."""
        pdf, slices = _slices(60, 2)
        out = _appended(spark, tmp_path, "zt", slices)
        punct = pd.DataFrame({
            "url": [f"zz-punct-{i}" for i in range(3)],
            "text": ["!!! ... ???", "---", "¡¿"],
            "lang": ["es"] * 3,
        })
        append_index(spark, _df(spark, punct), out, num_partitions=1)
        before = _results(SearchIndex(spark, out))
        n_docs = load_stats(out)["n_docs"]
        m = merge_appends(spark, out, num_partitions=2)
        assert m is not None
        idx = SearchIndex(spark, out)
        assert len(idx) == n_docs == 63
        assert _results(idx) == before
        # zero-token docs are hydratable (docmap carried through the merge)
        got = idx._docmap_for([60, 61, 62])
        assert sorted(u for u, _ in got.values()) == sorted(punct["url"])
        # and the docfiles manifest covers them
        assert idx._docfiles is not None
        assert any(e["docid_max"] is not None and e["docid_max"] >= 62
                   for e in idx._docfiles)


    def test_deferred_gc_snapshot_isolation(self, spark, tmp_path):
        """merge_appends(gc=False) keeps the replaced batches on disk:
        a reader constructed BEFORE the merge keeps serving its snapshot
        (its planned paths still resolve), a reader constructed after sees
        only the merged tier, and gc_index reclaims the leftovers."""
        pdf, slices = _slices(90, 3)
        out = _appended(spark, tmp_path, "gcd", slices)
        old_reader = SearchIndex(spark, out)
        before = _results(old_reader)
        m = merge_appends(spark, out, num_partitions=2, gc=False)
        assert m is not None
        # replaced dirs retained
        assert _batch_dirs(out) == ["batch=0", "batch=1", "batch=2",
                                    "batch=3"]
        # old reader: same snapshot, still fully functional
        assert old_reader._batches == [0, 1, 2]
        assert _results(old_reader) == before
        # new reader: merged view, same results
        fresh = SearchIndex(spark, out)
        assert fresh._batches == [0, 3]
        assert _results(fresh) == before
        # reclaim
        assert gc_index(out) == [1, 2]
        assert _batch_dirs(out) == ["batch=0", "batch=3"]
        assert gc_index(out) == []  # idempotent
        assert _results(SearchIndex(spark, out)) == before


def test_half_written_manifests_regenerated_by_next_merge(spark, tmp_path,
                                                          crash_store):
    """A merge that crashed at its commit leaves the previous snapshot
    whole; the re-run and the next merge record the per-file term AND
    docid ranges of every visible batch, so hydration stays pruned."""
    pdf = generate_corpus(160).sort_values("url").reset_index(drop=True)
    out = str(tmp_path / "hm")
    build_index(spark, _df(spark, pdf.iloc[:80]), out, num_partitions=2)
    for lo, hi in ((80, 120), (120, 160)):
        append_index(spark, _df(spark, pdf.iloc[lo:hi]), out,
                     num_partitions=1)
    with crash_store(match="snapshot-") as st:
        merge_appends(spark, out, num_partitions=2)
    assert st["fired"]
    merge_appends(spark, out, num_partitions=2)
    extra = generate_corpus(30, seed=5)
    extra["url"] = "hm-" + extra["url"]
    for half in (extra.iloc[:15], extra.iloc[15:]):
        append_index(spark, _df(spark, half), out, num_partitions=1)
    merge_appends(spark, out, num_partitions=2)
    for b in _visible(out):
        assert b["segfiles"] and b["docfiles"], b["batch"]
    idx = SearchIndex(spark, out)
    assert len(idx._docfiles) == sum(len(b["docfiles"])
                                     for b in _visible(out))
    assert idx.search("curso", "bm25", 10).count() > 0


def _unsorted_files(out):
    """Data files of the snapshot's batches whose rows break the key order
    their writer promises: built (finalized), merged and compacted
    ``kind=s`` files are sorted by (term, bucket, min_docid), every
    ``kind=d`` file by docid (the row-group min/max the readers prune on
    assume it). An appended batch's segment files keep the order of the
    fused write, which promises none across flushes."""
    import pyarrow.parquet as pq

    bad = []
    for b in _visible(out):
        bdir = os.path.join(out, "data", f"batch={b['batch']}")
        keys = {"d": ["docid"]}
        if not b.get("appended"):
            keys["s"] = ["term", "bucket", "min_docid"]
        for kind, key in keys.items():
            kdir = os.path.join(bdir, f"kind={kind}")
            for fn in sorted(os.listdir(kdir)):
                if not fn.endswith(".parquet"):
                    continue
                tbl = pq.read_table(os.path.join(kdir, fn), columns=key)
                rows = list(zip(*(tbl[c].to_pylist() for c in key)))
                if rows != sorted(rows):
                    bad.append(f"batch={b['batch']}/kind={kind}/{fn}")
    return bad


def test_merged_and_compacted_files_are_key_sorted(spark, tmp_path):
    """Each writer keeps its key order through the partitioned ``kind=``
    write: checked after a two-batch build, each append, an update, a
    merge, and a compaction whose ``flush_docs`` splits a (term, bucket)
    into several chunks."""
    import pyarrow.parquet as pq

    from visigoth_spark.build import update_docs

    _, slices = _slices(300, 3)
    out = str(tmp_path / "sorted")
    build_index(spark, _df(spark, slices[0]), out, num_partitions=4,
                n_batches=2)
    assert len(_visible(out)) == 2
    assert _unsorted_files(out) == []
    for s in slices[1:]:
        append_index(spark, _df(spark, s), out, num_partitions=2)
        assert _unsorted_files(out) == []
    update_docs(spark, out, _df(spark, slices[1].iloc[:20].assign(
        text="curso java nuevo")), num_partitions=2)
    assert _unsorted_files(out) == []
    merge_appends(spark, out, num_partitions=2)
    assert any(b.get("merged") for b in _visible(out))
    assert _unsorted_files(out) == []
    # uncoalesced shuffles spread a (term, bucket)'s chunks over several
    # staged files, so only the writer's sort puts them in min_docid order
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        compact_index(spark, out, num_partitions=4, flush_docs=16)
    finally:
        spark.conf.set(key, saved)
    (entry,) = _visible(out)
    assert entry.get("compacted")
    seg = pq.read_table(
        os.path.join(out, "data", f"batch={entry['batch']}", "kind=s"),
        columns=["term", "bucket"]).to_pandas()
    assert seg.duplicated().sum() > 100  # several chunks per (term, bucket)
    assert _unsorted_files(out) == []


def test_batch_term_decode_equals_per_segment_concat(spark, tmp_path):
    """query._decode_term_segments (one batch decode of a term's segments,
    rows picked with numpy) equals the per-segment decode_segment /
    decode_positions concatenation in min_docid order, on an index with a
    build tier, a merged tier, a later append and tombstones, with the
    segment rows handed over shuffled."""
    import numpy as np

    from visigoth_spark.analysis import analyze_text
    from visigoth_spark.build import delete_docs
    from visigoth_spark.codec import decode_positions, decode_segment
    from visigoth_spark.query import _decode_term_segments

    pdf, slices = _slices(120, 3)
    out = _appended(spark, tmp_path, "dec", slices, store_positions=True)
    merge_appends(spark, out, num_partitions=2)
    extra = generate_corpus(150).sort_values("url").iloc[120:]
    append_index(spark, _df(spark, extra), out, num_partitions=2,
                 store_positions=True)
    delete_docs(spark, out, urls=sorted(pdf["url"])[::7])
    idx = SearchIndex(spark, out)
    terms = analyze_text("curso programación java web gratis",
                         idx.analyzer) + ["nosuchterm"]
    seg = idx._driver_seg_rows(
        terms, cols=["term", "bucket", "min_docid", "blob", "pos_blob"])
    assert seg is not None
    seg = seg.sample(frac=1.0, random_state=7).reset_index(drop=True)
    out_of_order = 0
    for t in terms:
        rows = seg[seg["term"] == t]
        out_of_order += int(
            (np.diff(rows["min_docid"].to_numpy()) < 0).any())
        parts = []
        for _, r in rows.sort_values("min_docid").iterrows():
            d, tf, dl = decode_segment(bytes(r["blob"]))
            parts.append((d, tf, dl, decode_positions(bytes(r["pos_blob"]),
                                                      tf)))
        want = [np.concatenate([p[j] for p in parts]) if parts
                else np.zeros(0, dtype=np.int64) for j in range(4)]
        got = _decode_term_segments(seg, t, positional=True)
        for j in range(4):
            np.testing.assert_array_equal(got[j], want[j], err_msg=t)
        for j in range(3):
            np.testing.assert_array_equal(
                _decode_term_segments(seg, t)[j], want[j], err_msg=t)
    assert out_of_order >= 2
