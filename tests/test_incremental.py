"""Incremental ingest (append_index ≙ MemoryIndex.Put's append semantics,
index_memory_index.go:44-60) and Structured Streaming indexing."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from visigoth_spark.build import (append_index, build_index, load_snapshot,
                                  load_stats)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex
from visigoth_spark.reference_engine import OracleIndex


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


@pytest.fixture(scope="module")
def split_corpus():
    pdf = generate_corpus(240)
    # ingest order: first 160 urls, then the remaining 80 (disjoint)
    s = pdf.sort_values("url").reset_index(drop=True)
    return s.iloc[:160], s.iloc[160:]


class TestAppend:
    def test_append_matches_oracle_insertion_order(self, spark, tmp_path,
                                                   split_corpus):
        part1, part2 = split_corpus
        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, part1), out, num_partitions=3)
        m = append_index(spark, _df(spark, part2), out, num_partitions=2)
        assert m.n_docs == 240

        oracle = OracleIndex()
        for part in (part1, part2):
            for r in part.sort_values("url").itertuples():
                oracle.put(r.url, r.text)

        idx = SearchIndex(spark, out)
        stats = load_stats(out)
        assert stats["n_docs"] == 240
        assert stats["total_tokens"] == sum(oracle.doclens)
        assert stats["avgdl"] == pytest.approx(oracle.avgdl())

        for q in ["curso", "programación java", "java java"]:
            got = [(r["url"], r["score"])
                   for r in idx.search(q, "bm25", k=10).collect()]
            exp = oracle.bm25_search(q, k=10)
            assert [u for u, _ in got] == [u for u, _ in exp], q
            for (u1, s1), (u2, s2) in zip(got, exp):
                assert s1 == pytest.approx(s2, abs=1e-12), (q, u1)

    def test_append_docids_continue(self, spark, tmp_path, split_corpus):
        part1, part2 = split_corpus
        out = str(tmp_path / "idx2")
        build_index(spark, _df(spark, part1), out, num_partitions=3)
        append_index(spark, _df(spark, part2), out, num_partitions=2)
        idx = SearchIndex(spark, out)
        rows = idx._docmap.orderBy("docid").collect()
        assert [r["docid"] for r in rows] == list(range(240))
        # per-batch url order: batch 1 = first 160 urls, batch 2 = the rest
        urls = [r["url"] for r in rows]
        assert urls[:160] == sorted(urls[:160])
        assert urls[160:] == sorted(urls[160:])

    def test_append_to_empty_dir_builds(self, spark, tmp_path, split_corpus):
        part1, _ = split_corpus
        out = str(tmp_path / "idx3")
        append_index(spark, _df(spark, part1), out, num_partitions=2)
        assert load_stats(out)["n_docs"] == 160


class TestStreaming:
    def test_stream_drains_and_matches_batch_build(self, spark, tmp_path,
                                                   split_corpus):
        from visigoth_spark.streaming import stream_index

        part1, part2 = split_corpus
        src = str(tmp_path / "src")
        os.makedirs(src)
        # two source files appear before the stream starts; availableNow
        # drains them (order of file pickup = one or two micro-batches)
        _df(spark, part1).coalesce(1).write.mode("append").parquet(src)
        _df(spark, part2).coalesce(1).write.mode("append").parquet(src)

        out = str(tmp_path / "sidx")
        stream_index(spark, src, out, str(tmp_path / "ckpt"),
                     num_partitions=2)

        idx = SearchIndex(spark, out)
        stats = load_stats(out)
        assert stats["n_docs"] == 240

        oracle = OracleIndex()
        pdf = generate_corpus(240).sort_values("url")
        for r in pdf.itertuples():
            oracle.put(r.url, r.text)
        got = [r["url"] for r in idx.search("curso java", "bm25", 10).collect()]
        exp = [u for u, _ in oracle.bm25_search("curso java", k=10)]
        # ranking identical iff scores unique; scores are global-stat exact
        assert got == exp

    def test_empty_first_epoch_is_a_noop(self, spark, tmp_path,
                                         split_corpus):
        """An empty FIRST micro-batch (trigger fires before the source has
        any data) must not kill the stream: build_index raises on an empty
        corpus, so the indexer skips the epoch (nothing to commit) and the
        next epoch takes the fresh-build path itself."""
        from visigoth_spark.streaming import foreach_batch_indexer

        part1, _ = split_corpus
        out = str(tmp_path / "eidx")
        fn = foreach_batch_indexer(out, num_partitions=2)
        fn(_df(spark, part1).limit(0), epoch_id=0)  # empty first epoch
        assert load_snapshot(out) is None
        fn(_df(spark, part1).limit(0), epoch_id=0)  # replay: still a no-op
        fn(_df(spark, part1), epoch_id=1)  # first real data: fresh build
        assert load_stats(out)["n_docs"] == 160
        assert load_snapshot(out)["last_epoch"] == 1

    def test_epoch_replay_is_idempotent(self, spark, tmp_path, split_corpus):
        from visigoth_spark.streaming import foreach_batch_indexer

        part1, _ = split_corpus
        out = str(tmp_path / "ridx")
        fn = foreach_batch_indexer(out, num_partitions=2)
        fn(_df(spark, part1), epoch_id=0)
        n1 = load_stats(out)["n_docs"]
        fn(_df(spark, part1), epoch_id=0)  # replay same epoch
        assert load_stats(out)["n_docs"] == n1 == 160


class TestStreamAutoMerge:
    def test_merge_every_bounds_batch_count(self, spark, tmp_path):
        """foreach_batch_indexer(merge_every=2): after every 2nd committed
        epoch the stream (the single writer) folds its appended tiers, so
        a long-running ingest keeps a bounded batch count with results
        identical to the unmerged ingest."""
        from visigoth_spark.streaming import foreach_batch_indexer

        pdf = generate_corpus(250).sort_values("url").reset_index(drop=True)
        out = str(tmp_path / "am")
        fn = foreach_batch_indexer(out, num_partitions=2, merge_every=2)
        for epoch in range(5):
            fn(_df(spark, pdf.iloc[epoch * 50:(epoch + 1) * 50]), epoch)

        # epoch 0 = fresh build (batch 0; NOT counted toward the merge
        # boundary); appends fire the merge on every 2nd APPEND: epoch 2
        # (append #2) folds appends 1-2 into a tier, epoch 4 (append #4)
        # folds tier+appends 3-4 -> base + ONE tier remain
        vis = [m["batch"] for m in load_snapshot(out)["batches"]]
        assert len(vis) == 2 and vis[0] == 0
        assert load_stats(out)["n_docs"] == 250

        oracle = OracleIndex()
        for r in pdf.itertuples():
            oracle.put(r.url, r.text)
        idx = SearchIndex(spark, out)
        got = [(r["url"], r["score"]) for r in
               idx.search("curso java", "bm25", 10).collect()]
        exp = oracle.bm25_search("curso java", k=10)
        assert [u for u, _ in got] == [u for u, _ in exp]
        for (_, s1), (_, s2) in zip(got, exp):
            assert s1 == pytest.approx(s2, abs=1e-12)

        # replay of a committed epoch is still a no-op after merges
        fn(_df(spark, pdf.iloc[0:50]), 1)
        assert load_stats(out)["n_docs"] == 250
        assert [m["batch"] for m in load_snapshot(out)["batches"]] == vis


class TestIncrementalTermdict:
    """append_index writes each new termdict version INCREMENTALLY (the
    snapshot's termdict UNION the new batch's aggregate — O(vocabulary),
    not O(total segments) per append); a replay of a batch the snapshot
    already names recounts every batch, and a crash anywhere before the
    commit leaves the previous version current."""

    @staticmethod
    def _td(spark, idx_dir):
        import pandas as pd

        td = os.path.join(idx_dir, load_snapshot(idx_dir)["termdict"])
        pdf = (spark.read.parquet(td)
               .toPandas().sort_values("term").reset_index(drop=True))
        return pdf[["term", "df", "sum_tf"]].astype(
            {"df": "int64", "sum_tf": "int64"})

    def test_incremental_equals_one_shot(self, spark, tmp_path):
        pdf = generate_corpus(200)
        inc = str(tmp_path / "inc")
        one = str(tmp_path / "one")
        build_index(spark, _df(spark, pdf.iloc[:100]), inc,
                    num_partitions=2)
        append_index(spark, _df(spark, pdf.iloc[100:150]), inc,
                     num_partitions=1)
        append_index(spark, _df(spark, pdf.iloc[150:]), inc,
                     num_partitions=1)
        build_index(spark, _df(spark, pdf), one, num_partitions=2)
        assert self._td(spark, inc).equals(self._td(spark, one))

    def test_covers_mismatch_falls_back_to_full(self, spark, tmp_path,
                                                crash_store):
        """An append that crashed after writing its termdict version but
        before the commit leaves the old version current; the re-run's
        termdict equals the one-shot build's."""
        pdf = generate_corpus(120)
        out = str(tmp_path / "fb")
        build_index(spark, _df(spark, pdf.iloc[:80]), out,
                    num_partitions=2)
        with crash_store(match="snapshot-") as st:
            append_index(spark, _df(spark, pdf.iloc[80:]), out,
                         num_partitions=1)
        assert st["fired"]
        assert load_stats(out)["n_docs"] == 80
        append_index(spark, _df(spark, pdf.iloc[80:]), out,
                     num_partitions=1)
        one = str(tmp_path / "fb_one")
        build_index(spark, _df(spark, pdf), one, num_partitions=2)
        assert self._td(spark, out).equals(self._td(spark, one))

    def test_replay_does_not_double_count(self, spark, tmp_path):
        pdf = generate_corpus(120)
        out = str(tmp_path / "rp")
        build_index(spark, _df(spark, pdf.iloc[:80]), out,
                    num_partitions=2)
        bid = 1 + max(m["batch"] for m in load_snapshot(out)["batches"])
        base = load_stats(out)["n_docs"]
        nb = load_stats(out)["n_buckets"]
        kw = dict(num_partitions=1, batch_id=bid, base_docid=base,
                  bucket_base=nb)
        append_index(spark, _df(spark, pdf.iloc[80:]), out, **kw)
        td1 = self._td(spark, out)
        # replay: same pinned allocation. The snapshot already names this
        # batch id, and batch-id equality does NOT prove content equality,
        # so the replay replaces the batch and recounts every batch; the
        # counts never double.
        append_index(spark, _df(spark, pdf.iloc[80:]), out, **kw)
        assert self._td(spark, out).equals(td1)  # not double-counted

    def test_random_append_splits_equal_one_shot(self, spark, tmp_path):
        """Property over a random ingest schedule: ANY sequence of appends
        (uneven sizes, interleaved content) produces a termdict identical
        to the one-shot build over the union — every append after the
        first staying on the incremental path."""
        import numpy as np

        rng = np.random.RandomState(11)
        pdf = generate_corpus(240)
        cuts = np.sort(rng.choice(np.arange(20, 220), size=4,
                                  replace=False))
        bounds = [0, *cuts.tolist(), 240]
        out = str(tmp_path / "rnd")
        build_index(spark, _df(spark, pdf.iloc[:bounds[1]]), out,
                    num_partitions=2)
        for lo, hi in zip(bounds[1:], bounds[2:]):
            append_index(spark, _df(spark, pdf.iloc[lo:hi]), out,
                         num_partitions=1)
        one = str(tmp_path / "rnd_one")
        build_index(spark, _df(spark, pdf), one, num_partitions=2)
        assert self._td(spark, out).equals(self._td(spark, one))

    def test_merge_repoints_covers(self, spark, tmp_path):
        from visigoth_spark.build import merge_appends

        pdf = generate_corpus(200)
        out = str(tmp_path / "mg")
        build_index(spark, _df(spark, pdf.iloc[:100]), out,
                    num_partitions=2)
        for lo, hi in ((100, 150), (150, 200)):
            append_index(spark, _df(spark, pdf.iloc[lo:hi]), out,
                         num_partitions=1)
        td = load_snapshot(out)["termdict"]
        merge_appends(spark, out, num_partitions=2)
        # the merge keeps the termdict version (vocabulary and counts
        # unchanged), and the next append extends it...
        assert load_snapshot(out)["termdict"] == td
        extra = generate_corpus(40, seed=7)
        extra["url"] = "x-" + extra["url"]
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        # ...and the values still match a one-shot build over everything
        one = str(tmp_path / "mg_one")
        both = pd.concat([pdf, extra], ignore_index=True)
        build_index(spark, _df(spark, both), one, num_partitions=2)
        assert self._td(spark, out).equals(self._td(spark, one))

    def test_crash_between_swap_and_covers_forces_full(self, spark,
                                                       tmp_path,
                                                       crash_store):
        """Crash inside the commit's cleanup: the new snapshot is written
        but the old termdict version not yet deleted. A pinned-batch
        replay then lands on the same counts — it never double-counts the
        replayed batch."""
        pdf = generate_corpus(120)
        out = str(tmp_path / "cw")
        build_index(spark, _df(spark, pdf.iloc[:80]), out,
                    num_partitions=2)
        kw = dict(num_partitions=1, batch_id=1, base_docid=80,
                  bucket_base=load_stats(out)["n_buckets"])
        with crash_store(match="termdict/") as st:
            append_index(spark, _df(spark, pdf.iloc[80:]), out, **kw)
        assert st["fired"]
        assert len(os.listdir(os.path.join(out, "termdict"))) == 2
        td1 = self._td(spark, out)
        append_index(spark, _df(spark, pdf.iloc[80:]), out, **kw)  # replay
        assert self._td(spark, out).equals(td1)
        assert load_stats(out)["n_docs"] == 120
