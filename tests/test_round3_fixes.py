"""Round-3 hardening: writer lock, vectorized manifest pruning, per-bucket
top-k caps for hits/linear/or kernels, the url tiebreak contract, and the
GC'd-snapshot loud-failure guarantee for the driver-local route."""

from __future__ import annotations

import json
import os
import socket

import numpy as np
import pandas as pd
import pytest

from visigoth_spark.build import (
    _writer_lock,
    append_index,
    build_index,
    merge_appends,
)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import (
    SearchIndex,
    _RangePruner,
    _decoded_body,
    _retiebreak_on_url,
)


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


class TestWriterLock:
    def test_second_writer_rejected(self, tmp_path):
        d = str(tmp_path / "idx")
        with _writer_lock(d, "append"):
            assert os.path.exists(
                os.path.join(d, "WRITER_LOCK"))
            with pytest.raises(RuntimeError, match="locked by another"):
                with _writer_lock(d, "merge"):
                    pass
        # released on exit
        assert not os.path.exists(
            os.path.join(d, "WRITER_LOCK"))

    def test_stale_dead_pid_lock_is_broken(self, tmp_path):
        d = str(tmp_path / "idx")
        os.makedirs(os.path.join(d, "_manifests"))
        lk = os.path.join(d, "WRITER_LOCK")
        with open(lk, "w") as f:
            json.dump({"pid": 2 ** 22 + 12345,  # beyond pid_max: dead
                       "host": socket.gethostname(), "op": "x"}, f)
        with _writer_lock(d, "append"):
            pass  # broke the stale lock instead of raising

    def test_live_pid_lock_raises(self, tmp_path):
        d = str(tmp_path / "idx")
        os.makedirs(os.path.join(d, "_manifests"))
        lk = os.path.join(d, "WRITER_LOCK")
        with open(lk, "w") as f:
            json.dump({"pid": os.getpid(),  # alive (us)
                       "host": socket.gethostname(), "op": "x"}, f)
        with pytest.raises(RuntimeError, match="locked by another"):
            with _writer_lock(d, "append"):
                pass

    def test_append_respects_lock(self, spark, tmp_path):
        pdf = generate_corpus(64)
        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        with _writer_lock(out, "other-op"):
            with pytest.raises(RuntimeError, match="locked"):
                append_index(spark, _df(spark, pdf.iloc[:8]), out,
                             num_partitions=1)
            with pytest.raises(RuntimeError, match="locked"):
                merge_appends(spark, out)
        # lock released -> append works
        append_index(spark, _df(spark, pdf.iloc[:8]), out,
                     num_partitions=1)


class TestRangePruner:
    def test_string_ranges(self):
        p = _RangePruner(
            [{"path": "a", "term_min": "apple", "term_max": "cat"},
             {"path": "b", "term_min": "dog", "term_max": "fox"},
             {"path": "c", "term_min": None, "term_max": None}],
            "term",
        )
        assert list(p.prune(["bee"])) == ["a", "c"]
        assert list(p.prune(["egg", "zebra"])) == ["b", "c"]
        assert list(p.prune(["zzz"])) == ["c"]  # stat-less: never excluded
        assert list(p.prune(["cat"])) == ["a", "c"]  # inclusive bounds

    def test_int_ranges_and_missing_manifest(self):
        d = _RangePruner(
            [{"path": "x", "docid_min": 0, "docid_max": 9},
             {"path": "y", "docid_min": 10, "docid_max": 19}],
            "docid",
        )
        assert list(d.prune([5, 12])) == ["x", "y"]
        assert list(d.prune([25])) == []
        # no manifest prunes to no file, never to "scan everything"
        assert list(_RangePruner(None, "term").prune(["a"])) == []
        assert list(_RangePruner([], "docid").prune([1])) == []

    def test_matches_naive_loop(self):
        rng = np.random.RandomState(7)
        entries = []
        for i in range(200):
            lo = int(rng.randint(0, 1000))
            hi = lo + int(rng.randint(0, 50))
            entries.append(
                {"path": f"f{i}", "docid_min": lo, "docid_max": hi})
        entries[17]["docid_min"] = entries[17]["docid_max"] = None
        p = _RangePruner(entries, "docid")
        ids = [int(x) for x in rng.randint(0, 1050, size=8)]
        naive = [
            e["path"] for e in entries
            if e["docid_min"] is None
            or any(e["docid_min"] <= i <= e["docid_max"] for i in ids)
        ]
        assert list(p.prune(ids)) == naive


class TestKernelCaps:
    """Per-bucket top-k caps (hits/linear/or): without them a head-term
    query on the collected search_many path materializes its entire
    per-bucket result set on the driver."""

    DEC = {"t": (np.arange(100, dtype=np.int64),
                 np.ones(100, dtype=np.int64),
                 np.full(100, 10, dtype=np.int64))}

    def _run(self, engine, k):
        return _decoded_body(self.DEC, engine, ["t"], {"t": 1},
                             {"t": 1.0}, 10.0, threshold=1, k=k)

    @pytest.mark.parametrize("engine", ["hits", "linear", "bm25_or"])
    def test_capped_at_k(self, engine):
        # every row ties here (uniform metric): score engines keep the
        # boundary tie class up to the 2k bound (r4 url-tiebreak
        # over-fetch); linear's order is docid — exactly k
        out = self._run(engine, 5)
        assert len(out) == (5 if engine == "linear" else 10)

    def test_capped_exactly_k_without_boundary_ties(self):
        # distinct per-doc scores (varying dl) -> no k-boundary tie ->
        # the cap is exactly k
        dec = {"t": (np.arange(100, dtype=np.int64),
                     np.ones(100, dtype=np.int64),
                     np.arange(10, 110, dtype=np.int64))}
        out = _decoded_body(dec, "bm25_or", ["t"], {"t": 1}, {"t": 1.0},
                            10.0, threshold=1, k=5)
        assert len(out) == 5

    @pytest.mark.parametrize("engine", ["hits", "linear", "bm25_or"])
    def test_uncapped_when_k_none(self, engine):
        assert len(self._run(engine, None)) == 100

    def test_cap_keeps_engine_order_prefix(self):
        # uniform hits/scores here -> docid ASC is the tiebreak; the capped
        # set must be the engine-order prefix (tie-extended to 2k for
        # hits), not an arbitrary subset
        out = self._run("hits", 5)
        assert list(out["docid"]) == list(range(10))
        out = self._run("linear", 5)
        assert list(out["docid"]) == [0, 1, 2, 3, 4]


class TestUrlTiebreak:
    def test_retiebreak_unit(self):
        pdf = pd.DataFrame({"url": ["b", "a", "c"], "docid": [0, 1, 2],
                            "score": [2.0, 2.0, 1.0], "hits": [1, 1, 1]})
        assert list(_retiebreak_on_url(pdf, "bm25")["url"]) == \
            ["a", "b", "c"]
        assert list(_retiebreak_on_url(
            pdf.assign(hits=[1, 2, 2]), "hits")["url"]) == ["a", "c", "b"]
        # linear keeps docid order
        assert list(_retiebreak_on_url(pdf, "linear")["docid"]) == \
            [0, 1, 2]

    def test_appended_ties_rank_by_url(self, spark, tmp_path):
        """Docs appended in reverse url order tie on score; both routes
        must return them url-ASC (reference Document.ID() contract) —
        including search_many."""
        pdf = generate_corpus(60)
        dup = "curso de programación java y web"
        extra = pd.DataFrame({
            "url": ["zz-b-second", "zz-a-first"],
            "text": [dup, dup], "lang": ["es", "es"],
        })
        out = str(tmp_path / "tie")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        for i in (0, 1):
            append_index(spark, _df(spark, extra.iloc[[i]]), out,
                         num_partitions=1)
        idx = SearchIndex(spark, out)
        for route in ("driver", "spark"):
            urls = [r["url"]
                    for r in idx.search(dup, "bm25", k=5,
                                        route=route).collect()
                    if r["url"].startswith("zz-")]
            assert urls == ["zz-a-first", "zz-b-second"], route
        rows = idx.search_many([dup], "bm25", k=5).collect()
        urls = [r["url"] for r in rows if r["url"].startswith("zz-")]
        assert urls == ["zz-a-first", "zz-b-second"]


class TestSearchIter:
    def test_streams_all_results_in_order(self, spark, tmp_path):
        """search_iter ≙ streams.ReadStream: unbounded result iteration,
        row order identical to the collected DataFrame."""
        pdf = generate_corpus(80)
        out = str(tmp_path / "it")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        idx = SearchIndex(spark, out)
        full = [(r["url"], r["score"]) for r in
                idx.search("curso", "hits", k=None).collect()]
        assert len(full) > 10
        streamed = [(r["url"], r["score"])
                    for r in idx.search_iter("curso", "hits")]
        assert streamed == full
        top3 = list(idx.search_iter("curso", "bm25", k=3))
        assert len(top3) == 3


class TestGcSnapshotDetection:
    def test_driver_route_fails_loud_after_gc(self, spark, tmp_path):
        """A SearchIndex constructed BEFORE merge_appends(gc=True) must not
        silently serve partial results on the driver route once its batch
        dirs are GC'd: _driver_seg_rows detects the visible-but-missing
        dir (manifest says n_segments > 0) and forces the distributed
        path, which fails loudly on the missing files."""
        pdf = generate_corpus(120)
        out = str(tmp_path / "gc")
        build_index(spark, _df(spark, pdf.iloc[:60]), out,
                    num_partitions=2)
        append_index(spark, _df(spark, pdf.iloc[60:90]), out,
                     num_partitions=1)
        append_index(spark, _df(spark, pdf.iloc[90:]), out,
                     num_partitions=1)
        stale = SearchIndex(spark, out)  # snapshot of the pre-merge batches
        assert stale.search("curso", "bm25", 5).count() > 0
        merge_appends(spark, out, num_partitions=2, gc=True)
        stale2 = SearchIndex(spark, out)  # fresh reader: fine
        assert stale2.search("curso", "bm25", 5).count() > 0
        # the stale reader's driver route must NOT return quietly-partial
        # results; acceptable outcomes are a loud error only
        with pytest.raises(Exception):
            stale.search("curso", "bm25", 5, route="driver").collect()

    def test_zero_token_batch_still_served(self, spark, tmp_path):
        """The n_segments==0 case stays on the silent-skip path: a batch
        whose docs all analyze to zero tokens writes no kind=s dir and must
        not disable the driver route."""
        pdf = generate_corpus(60)
        out = str(tmp_path / "zt")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        empty = pd.DataFrame({
            "url": ["zz-empty-1", "zz-empty-2"],
            # stopwords + punctuation only -> zero tokens after analysis
            "text": ["de la y ...", "!!! el los"],
            "lang": ["es", "es"],
        })
        append_index(spark, _df(spark, empty), out, num_partitions=1)
        idx = SearchIndex(spark, out)
        rows = idx.search("curso", "bm25", 5, route="driver").collect()
        assert rows
