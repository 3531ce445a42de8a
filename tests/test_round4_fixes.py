"""Round-4 hardening: the writer-lock break-claim protocol, the
Catalog.rename destination guard, the k=None broadcast gating, and
single-slash URI routing regressions (the compaction-recovery
completed-swap case lives in test_compact.py, the tiebreak and refresh
suites in their own classes below as they land)."""

from __future__ import annotations

import json
import os
import socket

import pytest

from visigoth_spark.build import _writer_lock, build_index
from visigoth_spark.corpus import generate_corpus

DEAD_PID = 2 ** 22 + 54321  # beyond pid_max on this host: provably dead


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


def _write_lock_file(path, pid, op="x"):
    with open(path, "w") as f:
        json.dump({"pid": pid, "host": socket.gethostname(), "op": op}, f)


class TestWriterLockBreakClaim:
    """Breaking a stale lock must go through the exclusive break claim:
    two contenders that both observed the same dead holder can never both
    remove-and-recreate (the r3 race: the second remove deleted the first
    contender's FRESH lock and both proceeded)."""

    def test_stale_lock_broken_and_claim_cleaned(self, tmp_path):
        d = str(tmp_path / "idx")
        os.makedirs(d)
        _write_lock_file(os.path.join(d, "WRITER_LOCK"), DEAD_PID)
        with _writer_lock(d, "append"):
            # we hold the main lock; the break claim must not linger
            assert not os.path.exists(
                os.path.join(d, "WRITER_LOCK.break"))
            holder = json.load(open(os.path.join(d, "WRITER_LOCK")))
            assert holder["pid"] == os.getpid()
        assert not os.path.exists(os.path.join(d, "WRITER_LOCK"))

    def test_live_break_claim_blocks_breaking(self, tmp_path):
        """While ANOTHER live contender holds the break claim, a stale
        main lock may not be broken by us — we must retry and ultimately
        give up loudly, never remove the lock out from under the
        breaker."""
        d = str(tmp_path / "idx")
        os.makedirs(d)
        lk = os.path.join(d, "WRITER_LOCK")
        _write_lock_file(lk, DEAD_PID)
        # live (our own pid) break claim held by "someone else"
        _write_lock_file(lk + ".break", os.getpid())
        with pytest.raises(RuntimeError, match="locked by another"):
            with _writer_lock(d, "append"):
                pass
        # neither file was touched
        assert json.load(open(lk))["pid"] == DEAD_PID
        assert json.load(open(lk + ".break"))["pid"] == os.getpid()

    def test_dead_break_claim_cleared(self, tmp_path):
        """A break claim whose own holder crashed is itself stale: it is
        cleared and the acquisition proceeds."""
        d = str(tmp_path / "idx")
        os.makedirs(d)
        lk = os.path.join(d, "WRITER_LOCK")
        _write_lock_file(lk, DEAD_PID)
        _write_lock_file(lk + ".break", DEAD_PID + 1)
        with _writer_lock(d, "append"):
            assert json.load(open(lk))["pid"] == os.getpid()
        assert not os.path.exists(lk)
        assert not os.path.exists(lk + ".break")

    def test_reverify_under_claim_spares_fresh_lock(self, tmp_path):
        """The breaker re-reads the main lock under the claim and only
        removes it when it still names the dead holder it decided on: a
        lock that changed hands in between (fresh live writer) survives.
        Simulated by handing the breaker a store whose first read returns
        the stale holder and whose later reads see a fresh live one."""
        from visigoth_spark import storage as vstore

        d = str(tmp_path / "idx")
        os.makedirs(d)
        lk = os.path.join(d, "WRITER_LOCK")
        # on disk: a FRESH lock held by a live writer (us)
        _write_lock_file(lk, os.getpid())

        stale = json.dumps({"pid": DEAD_PID,
                            "host": socket.gethostname(),
                            "op": "x"}).encode()
        real_read = vstore.LocalStore.read_bytes
        state = {"first": True}

        def stale_then_real(self_, path):
            if path == lk and state["first"]:
                state["first"] = False  # the breaker's initial observation
                return stale
            return real_read(self_, path)

        vstore.LocalStore.read_bytes = stale_then_real
        try:
            with pytest.raises(RuntimeError):
                with _writer_lock(d, "append"):
                    pass
        finally:
            vstore.LocalStore.read_bytes = real_read
        # the fresh live lock was NOT deleted by the aborted break
        assert json.load(open(lk))["pid"] == os.getpid()
        assert not os.path.exists(lk + ".break")


class TestKBoundaryTiebreak:
    """Constructed exact-score tie straddling the k boundary on APPENDED
    indexes (docid = ingest order != url order): the returned k-set must
    match the reference's url-order selection (search_result.go:31-38 +
    entities_doc.go:12-14) — the r3 residual where kernels selected the
    k-set on (score, docid) and a tied row outside it could win on url.
    Both append orders, both routes, three engines."""

    K = 3

    @pytest.fixture(scope="class")
    def tied(self, spark, tmp_path_factory):
        import pandas as pd

        from visigoth_spark.build import append_index, build_index
        from visigoth_spark.reference_engine import OracleIndex

        docs = [("u-00-top", "zorp zorp zorp blik")]  # clear winner
        for i in range(6):  # six IDENTICAL docs: exact BM25 tie class
            docs.append((f"u-{i + 1:02d}-tie", "zorp blik krandel velt"))
        for i in range(10):  # filler without the query terms
            docs.append((f"u-zz-{i:02d}", "relleno distinto aqui siempre"))
        pdf = pd.DataFrame({"url": [u for u, _ in docs],
                            "text": [t for _, t in docs],
                            "lang": "es"})
        tmp = tmp_path_factory.mktemp("ties")
        # two ingest orders, urls interleaved so docid order != url order
        # INSIDE the tie class on both
        idx_dirs = []
        for name, first in (("a", pdf.iloc[::2]), ("b", pdf.iloc[1::2])):
            rest = pdf.loc[~pdf.index.isin(first.index)]
            out = str(tmp / name)
            build_index(spark, spark.createDataFrame(first), out,
                        num_partitions=2)
            append_index(spark, spark.createDataFrame(rest), out,
                         num_partitions=1)
            idx_dirs.append(out)
        oracle = OracleIndex()
        for u, t in sorted(docs):
            oracle.put(u, t)
        return idx_dirs, oracle

    def _spark_top(self, spark, out, engine, route):
        from visigoth_spark.query import SearchIndex

        idx = SearchIndex(spark, out)
        rows = idx.search("zorp blik", engine, k=self.K,
                          route=route).collect()
        return [(r["url"], r["score"]) for r in rows]

    @pytest.mark.parametrize("route", ["driver", "spark"])
    def test_bm25_tie_class_selected_by_url(self, spark, tied, route):
        idx_dirs, oracle = tied
        exp = oracle.bm25_search("zorp blik", k=self.K)
        assert len({s for _, s in exp[1:]}) == 1  # tie straddles k
        for out in idx_dirs:
            got = self._spark_top(spark, out, "bm25", route)
            assert [u for u, _ in got] == [u for u, _ in exp]
            for (gu, gs), (eu, es) in zip(got, exp):
                assert gs == pytest.approx(es, abs=1e-12)

    @pytest.mark.parametrize("route", ["driver", "spark"])
    def test_hits_tie_class_selected_by_url(self, spark, tied, route):
        idx_dirs, oracle = tied
        exp = [u for u, _ in oracle.hits_search("zorp blik")][:self.K]
        for out in idx_dirs:
            got = self._spark_top(spark, out, "hits", route)
            assert [u for u, _ in got] == exp

    @pytest.mark.parametrize("route", ["driver", "spark"])
    def test_bm25_or_tie_class_selected_by_url(self, spark, tied, route):
        idx_dirs, oracle = tied
        exp = oracle.bm25_or_search("zorp blik", k=self.K)
        for out in idx_dirs:
            got = self._spark_top(spark, out, "bm25_or", route)
            assert [u for u, _ in got] == [u for u, _ in exp]

    def test_search_many_tie_class_selected_by_url(self, spark, tied):
        from visigoth_spark.query import SearchIndex

        idx_dirs, oracle = tied
        exp = [u for u, _ in oracle.bm25_search("zorp blik", k=self.K)]
        for out in idx_dirs:
            idx = SearchIndex(spark, out)
            rows = idx.search_many(["zorp blik", "relleno"], "bm25",
                                   k=self.K).collect()
            got = [r["url"] for r in rows if r["qid"] == 0]
            assert got == exp


class TestSearchIndexRefresh:
    """refresh(): committed maintenance becomes visible without
    constructing a new SearchIndex; the hot-term cache stays warm for
    terms the appended batches don't touch."""

    def _setup(self, spark, tmp_path):
        import pandas as pd

        from visigoth_spark.build import build_index

        pdf = generate_corpus(60)
        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)
        extra = pd.DataFrame({
            "url": [f"zz-new-{i}" for i in range(5)],
            "text": ["uniqtoken uniqtoken otherword"] * 5,
            "lang": "es",
        })
        return pdf, out, extra

    def test_appends_invisible_until_refresh_then_visible_warm(
            self, spark, tmp_path):
        from visigoth_spark.analysis import analyze_text
        from visigoth_spark.build import append_index
        from visigoth_spark.query import SearchIndex

        pdf, out, extra = self._setup(spark, tmp_path)
        idx = SearchIndex(spark, out)
        # warm the hot-term cache for a term the append will NOT touch
        warm_q = "curso"
        pre = [r["url"] for r in
               idx.search(warm_q, "bm25", k=5, route="driver").collect()]
        warm_terms = set(analyze_text(warm_q, idx.analyzer))
        assert warm_terms <= set(idx._term_cache)
        new_term = analyze_text("uniqtoken", idx.analyzer)[0]

        append_index(spark, _df(spark, extra), out, num_partitions=1)
        # snapshot stability: the pinned instance serves the OLD state
        assert len(idx) == 60
        assert idx.search("uniqtoken", "bm25", k=5).count() == 0
        assert [r["url"] for r in
                idx.search(warm_q, "bm25", k=5,
                           route="driver").collect()] == pre

        got = idx.refresh()
        assert got is idx
        assert len(idx) == 65
        # warm cache: untouched terms kept, appended terms evicted
        assert warm_terms <= set(idx._term_cache)
        assert new_term not in idx._term_cache
        found = [r["url"] for r in
                 idx.search("uniqtoken", "bm25", k=10).collect()]
        assert len(found) == 5 and all(u.startswith("zz-new-") for u in found)
        # and results for the warm term now reflect the new corpus stats
        fresh = SearchIndex(spark, out)
        assert [r["url"] for r in
                idx.search(warm_q, "bm25", k=5, route="driver").collect()] \
            == [r["url"] for r in
                fresh.search(warm_q, "bm25", k=5, route="spark").collect()]

    def test_pure_retier_merge_keeps_cache(self, spark, tmp_path):
        """merge_appends over batches the snapshot already decoded is a
        file-layout-only re-tier (segment rows byte-identical): the
        hot-term cache survives refresh()."""
        from visigoth_spark.build import append_index, merge_appends
        from visigoth_spark.query import SearchIndex

        pdf, out, extra = self._setup(spark, tmp_path)
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        append_index(spark, _df(spark, extra.assign(
            url="b-" + extra["url"])), out, num_partitions=1)
        idx = SearchIndex(spark, out)  # snapshot SEES all three batches
        idx.search("curso", "bm25", k=5, route="driver").collect()
        idx.search("uniqtoken", "bm25", k=20, route="driver").collect()
        cached = set(idx._term_cache)
        assert cached
        merge_appends(spark, out, num_partitions=1)
        idx.refresh()
        assert set(idx._term_cache) == cached  # pure re-tier: kept
        # and the warm cache still serves results identical to a cold one
        fresh = SearchIndex(spark, out)
        for q in ("curso", "uniqtoken"):
            assert [r["url"] for r in
                    idx.search(q, "bm25", k=10, route="driver").collect()] \
                == [r["url"] for r in
                    fresh.search(q, "bm25", k=10, route="spark").collect()]

    def test_merge_folding_post_snapshot_appends_evicts_their_terms(
            self, spark, tmp_path):
        from visigoth_spark.analysis import analyze_text
        from visigoth_spark.build import append_index, merge_appends
        from visigoth_spark.query import SearchIndex

        pdf, out, extra = self._setup(spark, tmp_path)
        idx = SearchIndex(spark, out)  # snapshot: batch 0 only
        idx.search("curso", "bm25", k=5, route="driver").collect()
        warm = set(analyze_text("curso", idx.analyzer))
        assert warm <= set(idx._term_cache)
        # two appends AFTER the snapshot, then a merge folding them
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        append_index(spark, _df(spark, extra.assign(
            url="b-" + extra["url"])), out, num_partitions=1)
        merge_appends(spark, out, num_partitions=1)
        idx.refresh()
        # the merged batch holds content the snapshot never decoded: its
        # terms are evicted; the untouched warm term survives
        new_term = analyze_text("uniqtoken", idx.analyzer)[0]
        assert new_term not in idx._term_cache
        assert warm <= set(idx._term_cache)
        assert idx.search("uniqtoken", "bm25", k=20).count() == 10

    def test_compaction_evicts_everything(self, spark, tmp_path):
        from visigoth_spark.build import append_index, compact_index
        from visigoth_spark.query import SearchIndex

        pdf, out, extra = self._setup(spark, tmp_path)
        append_index(spark, _df(spark, extra), out, num_partitions=1)
        idx = SearchIndex(spark, out)
        idx.search("curso", "bm25", k=5, route="driver").collect()
        assert idx._term_cache
        compact_index(spark, out, num_partitions=2)
        idx.refresh()
        assert not idx._term_cache  # docids reassigned -> full eviction
        assert idx._term_cache_bytes == 0
        assert idx.search("uniqtoken", "bm25", k=20).count() == 5


class TestCatalogRenameGuard:
    def test_rename_refuses_unregistered_destination_dir(
            self, spark, tmp_path):
        from visigoth_spark.catalog import Catalog

        root = str(tmp_path / "cat")
        cat = Catalog(spark, root)
        pdf = generate_corpus(30)
        cat.ingest("a", _df(spark, pdf), num_partitions=1)
        # unregistered leftover directory at the destination name
        leftover = os.path.join(root, "idx_b")
        os.makedirs(leftover)
        with open(os.path.join(leftover, "keep.txt"), "w") as f:
            f.write("manual copy — must not be destroyed")
        assert cat.rename("a", "b") is False
        assert os.path.exists(os.path.join(leftover, "keep.txt"))
        assert cat.list() == ["a"]  # manifest untouched
        # clearing the leftover lets the rename through
        import shutil

        shutil.rmtree(leftover)
        assert cat.rename("a", "b") is True
        assert cat.list() == ["b"]
        assert cat.search("b", "curso", k=3).count() > 0


class TestKZero:
    def test_k_zero_returns_empty_not_degenerate(self, spark, tmp_path):
        """LIMIT 0 semantics: k=0 must return an empty frame on every
        engine/route instead of tripping the kernels' k-boundary
        arithmetic (argpartition/iloc[k-1])."""
        from visigoth_spark.query import SearchIndex

        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, generate_corpus(30)), out,
                    num_partitions=1)
        idx = SearchIndex(spark, out)
        for engine in ("bm25", "bm25_or", "hits", "linear", "noop_all"):
            for route in ("driver", "spark"):
                assert idx.search("curso", engine, k=0,
                                  route=route).count() == 0
        assert idx.search_many(["curso"], "bm25", k=0).count() == 0


class TestUnboundedBroadcastGate:
    def test_k_none_broadcast_gated_on_match_estimate(
            self, spark, tmp_path, monkeypatch):
        """k=None hydration broadcasts the ranked set only when the
        termdict bounds the match count; a head-term match set stays in a
        plain (non-broadcast) join (r3 collected EVERY matching row onto
        the driver and shipped it back out)."""
        import visigoth_spark.query as q_mod
        from visigoth_spark.query import SearchIndex

        pdf = generate_corpus(200)
        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, pdf), out, num_partitions=2)

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        idx = SearchIndex(spark, out)
        # silence the auto-broadcast of small sides so the plan reflects
        # ONLY our explicit hint (at 10^12 docs neither side is auto-small)
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            small = plan(idx.search("curso", "bm25", k=None))
            assert "Broadcast" in small  # tail df -> broadcast hydration

            monkeypatch.setattr(q_mod, "UNBOUNDED_BROADCAST_MAX_ROWS", 0)
            big = plan(idx.search("curso", "bm25", k=None))
            assert "BroadcastHashJoin" not in big  # head -> plain join
            # results identical either way
            a = [r["url"] for r in
                 idx.search("curso", "bm25", k=None).collect()]
            monkeypatch.undo()
            b = [r["url"] for r in
                 idx.search("curso", "bm25", k=None).collect()]
            assert a == b and len(a) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)