"""Cost-based driver-local query routing (query.py::_route_driver):
below the byte threshold the SAME kernels run driver-side on a pyarrow
read of the same pruned files — zero Spark jobs per query. These tests
pin exact result identity (urls, docids, float64 scores, hits) between
route="driver" and route="spark" on every engine and every index layout
(build, appended, merged, compacted), plus the routing decision itself.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

from visigoth_spark.build import (
    append_index,
    build_index,
    compact_index,
    merge_appends,
)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import (
    SearchIndex,
    _head_k_with_ties,
    _order_keys,
    _retiebreak_on_url,
)
from visigoth_spark.reference_engine import OracleIndex

N_DOCS = 300

QUERIES = [
    ("programación java", "bm25"),
    ("curso completo programacion", "bm25"),
    ("java", "hits"),
    ("programacion web", "hits"),
    ("python web", "linear"),
    ("programación java", "bm25_or"),
    ("programación java", "bm25_exhaustive"),
    ("huevos", "bm25"),
    ("término inexistente xyzzy", "bm25"),
]


def _rows(df):
    return [(r["url"], r["docid"], r["score"], r["hits"])
            for r in df.collect()]


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """(name, SearchIndex) for every on-disk layout a query can meet."""
    root = tmp_path_factory.mktemp("route")
    pdf = generate_corpus(N_DOCS).sort_values("url").reset_index(drop=True)

    def df(sl):
        return spark.createDataFrame(sl[["url", "text", "lang"]])

    out = {}
    b = str(root / "build")
    build_index(spark, df(pdf), b, num_partitions=4)
    out["build"] = b

    a = str(root / "appended")
    build_index(spark, df(pdf.iloc[:200]), a, num_partitions=4)
    append_index(spark, df(pdf.iloc[200:]), a, num_partitions=2)
    out["appended"] = a

    m = str(root / "merged")
    build_index(spark, df(pdf.iloc[:150]), m, num_partitions=4)
    append_index(spark, df(pdf.iloc[150:220]), m, num_partitions=2)
    append_index(spark, df(pdf.iloc[220:]), m, num_partitions=2)
    merge_appends(spark, m, num_partitions=2)
    out["merged"] = m

    c = str(root / "compacted")
    build_index(spark, df(pdf.iloc[:200]), c, num_partitions=4)
    append_index(spark, df(pdf.iloc[200:]), c, num_partitions=2)
    compact_index(spark, c, num_partitions=4)
    out["compacted"] = c
    return out


@pytest.mark.parametrize("layout", ["build", "appended", "merged",
                                    "compacted"])
def test_driver_route_identical_to_spark_route(spark, layouts, layout):
    idx = SearchIndex(spark, layouts[layout])
    for q, engine in QUERIES:
        via_driver = _rows(idx.search(q, engine, 10, route="driver"))
        via_spark = _rows(idx.search(q, engine, 10, route="spark"))
        assert via_driver == via_spark, (layout, q, engine)


def test_driver_route_matches_oracle_scores(spark, layouts):
    idx = SearchIndex(spark, layouts["build"])
    oracle = OracleIndex()
    for r in generate_corpus(N_DOCS).sort_values("url").itertuples():
        oracle.put(r.url, r.text)
    got = [(r["url"], r["score"])
           for r in idx.search("programación java", "bm25", 10,
                               route="driver").collect()]
    exp = oracle.bm25_search("programación java", k=10)
    assert [u for u, _ in got] == [u for u, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert a == pytest.approx(b, abs=1e-12)


class _JobCounter:
    """Count Spark jobs run inside a scoped job group. The default
    statusTracker counters saturate at spark.ui.retainedJobs (1000) in a
    long shared test session, making before/after deltas on the global
    list flaky — a fresh group's count starts at 0 and new jobs are always
    retained (eviction drops the oldest)."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, "job-count probe")
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(self.group)
        return len(ids or [])


def test_auto_routes_small_queries_driver_side(spark, layouts):
    """Below the threshold, auto serves the query without launching any
    Spark job (group-scoped job counter stays at 0)."""
    idx = SearchIndex(spark, layouts["compacted"])
    with _JobCounter(spark.sparkContext, "vg-route-small") as jc:
        df = idx.search("programación java", "bm25", 10)  # route="auto"
        rows = df.collect()  # read from the local result: no job
        assert rows
        assert jc.count() == 0, \
            "auto route below threshold must not run a job"


ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def test_driver_route_runs_no_job_with_arrow_off(spark, layouts,
                                                 monkeypatch):
    """The zero-job driver route does not depend on Arrow conversion: with
    it off, a driver-routed search and an all-light search_many run no
    job and never reach createDataFrame, and return the rows they return
    with it on."""
    idx = SearchIndex(spark, layouts["compacted"])
    qs = [q for q, _ in QUERIES]  # all light here, one empty at plan time

    def run():
        one = idx.search("programación java", "bm25", 10)
        many = idx.search_many(qs, "bm25", 10)
        return ([tuple(r) for r in one.collect()],
                [tuple(r) for r in many.collect()],
                one.count(), len(many.toPandas()))

    with_arrow = run()
    assert with_arrow[0] and with_arrow[1]
    prev = spark.conf.get(ARROW)
    spark.conf.set(ARROW, "false")
    try:
        def refuse(*a, **kw):
            raise AssertionError("the driver route called createDataFrame")

        monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
        with _JobCounter(spark.sparkContext, "vg-route-arrow-off") as jc:
            without_arrow = run()
            assert jc.count() == 0, "driver route ran a Spark job"
        monkeypatch.undo()
    finally:
        spark.conf.set(ARROW, prev)
    assert without_arrow == with_arrow


def test_tie_handling_equals_pandas_formulation():
    """_head_k_with_ties and _retiebreak_on_url against the pandas sorts
    they replaced, on seeded frames dense with exact-metric ties (index
    labels included)."""
    def head_k_pandas(out, metric, k):
        if len(out) <= k:
            return out
        out = out.sort_values([metric, "docid"], ascending=[False, True])
        kth = out[metric].iloc[k - 1]
        n_keep = int((out[metric].to_numpy() >= kth).sum())
        return out.head(min(n_keep, 2 * k))

    def retiebreak_pandas(out, engine):
        by, asc = _order_keys(engine)
        return out.sort_values(by, ascending=asc, kind="stable",
                               ignore_index=True)

    rng = np.random.RandomState(20261017)
    for _ in range(200):
        n = int(rng.randint(0, 60))
        k = int(rng.randint(1, 15))
        out = pd.DataFrame({
            "docid": rng.permutation(4 * n + 1)[:n].astype(np.int64),
            # a handful of distinct values: most rows tie with another
            "score": rng.choice([0.25, 0.5, 1.0 / 3, 2.0], n),
            "hits": rng.randint(0, 3, n).astype(np.int32),
        })
        for metric in ("score", "hits"):
            pd.testing.assert_frame_equal(
                _head_k_with_ties(out, metric, k),
                head_k_pandas(out, metric, k))
        hydrated = out.assign(
            url=[f"u{v:02d}" for v in rng.randint(0, 30, n)])
        for engine in ("bm25", "hits", "linear"):
            pd.testing.assert_frame_equal(
                _retiebreak_on_url(hydrated, engine),
                retiebreak_pandas(hydrated, engine))


def test_auto_respects_byte_threshold(spark, layouts):
    """With a 0-byte threshold every query exceeds the estimate and auto
    must take the distributed path (observable: a Spark job runs)."""
    idx = SearchIndex(spark, layouts["build"], driver_local_max_bytes=0)
    with _JobCounter(spark.sparkContext, "vg-route-bytes") as jc:
        rows = idx.search("programación java", "bm25", 10).collect()
        assert rows
        assert jc.count() > 0, \
            "auto route above threshold must go distributed"


def test_search_many_driver_route_identical(spark, layouts):
    idx = SearchIndex(spark, layouts["merged"])
    qs = [q for q, _ in QUERIES[:6]]
    for engine in ("bm25", "hits", "bm25_or"):
        d = [(r["qid"], r["url"], r["docid"], r["score"], r["hits"])
             for r in idx.search_many(qs, engine, 10,
                                      route="driver").collect()]
        s = [(r["qid"], r["url"], r["docid"], r["score"], r["hits"])
             for r in idx.search_many(qs, engine, 10,
                                      route="spark").collect()]
        assert d == s, engine


def test_include_raw_rides_the_driver_route(spark, tmp_path):
    pdf = generate_corpus(80).sort_values("url").reset_index(drop=True)
    out = str(tmp_path / "raw")
    build_index(spark, spark.createDataFrame(pdf[["url", "text", "lang"]]),
                out, num_partitions=2, store_raw=True)
    idx = SearchIndex(spark, out)
    by_url = dict(zip(pdf["url"], pdf["text"]))
    rows = idx.search("programación", "bm25", 5, include_raw=True,
                      route="driver").collect()
    assert rows
    for r in rows:
        assert r["raw"] == by_url[r["url"]]


def test_hot_term_cache_warm_results_identical(spark, layouts):
    idx = SearchIndex(spark, layouts["compacted"])
    cold = _rows(idx.search("programación java", "bm25", 10,
                            route="driver"))
    assert idx._term_cache, "driver route must populate the term cache"
    warm = _rows(idx.search("programación java", "bm25", 10,
                            route="driver"))
    assert warm == cold


def test_hot_term_cache_respects_byte_budget(spark, layouts):
    idx = SearchIndex(spark, layouts["compacted"],
                      driver_cache_max_bytes=1)  # nothing fits
    r = _rows(idx.search("programación java", "bm25", 10, route="driver"))
    assert r and not idx._term_cache and idx._term_cache_bytes == 0
    # eviction keeps the accounting consistent under a small budget
    idx2 = SearchIndex(spark, layouts["compacted"],
                       driver_cache_max_bytes=64 << 10)
    for q in ("programación java", "curso completo", "huevos", "python"):
        idx2.search(q, "bm25", 10, route="driver").collect()
        assert idx2._term_cache_bytes <= 64 << 10
    # the bytes count every entry of the driver cache: hot terms and the
    # decoded termdict / docmap row groups
    assert idx2._term_cache_bytes == sum(
        sum(a.nbytes for a in v) for v in idx2._cache.entries.values()
    )


def test_scan_relations_built_on_first_distributed_use(spark, layouts):
    """Opening a SearchIndex and serving driver-routed queries lists no
    data directory: the Spark scan relations (``_data`` and the
    ``_docmap`` view of it) are built on their first distributed use, and
    refresh() drops them."""
    rels = {"_data", "_docmap"}
    idx = SearchIndex(spark, layouts["appended"])
    assert idx.search("programación java", "bm25", 10,
                      route="driver").collect()
    assert not rels & set(vars(idx))
    unbounded = _rows(idx.search("java", "bm25", None))  # docmap join
    assert {"_data", "_docmap"} <= set(vars(idx))
    idx.refresh()
    assert not rels & set(vars(idx))
    assert _rows(idx.search("java", "bm25", None)) == unbounded


def test_search_many_mixed_batch_splits_routes(spark, layouts):
    """Per-query routing inside one batch: with a postings bound that
    only some queries fit, the light ones serve from the cache and the
    heavy ones share one distributed job — results identical to the
    all-distributed batch."""
    idx = SearchIndex(spark, layouts["build"],
                      driver_local_max_postings=250)  # splits the batch:
    # 'java' (df 222) fits, 'programación java' (sum ~500) does not
    qs = [q for q, _ in QUERIES[:6]]
    d = [(r["qid"], r["url"], r["docid"], r["score"], r["hits"])
         for r in idx.search_many(qs, "bm25", 10).collect()]
    s = [(r["qid"], r["url"], r["docid"], r["score"], r["hits"])
         for r in idx.search_many(qs, "bm25", 10, route="spark").collect()]
    assert d == s
    assert idx._term_cache, "light queries must have used the cache"


def test_empty_results_run_no_job(spark, layouts):
    """A query answered empty — no match, k=0, stopwords only, the
    noop_zero engine — returns a local relation that collects without a
    Spark job, on either route and in a batch."""
    idx = SearchIndex(spark, layouts["compacted"])
    with _JobCounter(spark.sparkContext, "vg-route-empty") as jc:
        for route in ("auto", "spark"):
            assert idx.search("término inexistente xyzzy", "bm25", 10,
                              route=route).collect() == []
            assert idx.search("programación java", "bm25", 0,
                              route=route).collect() == []
        assert idx.search("el la de", "bm25", 10).collect() == []
        assert idx.search("java", "noop_zero", 10).collect() == []
        assert idx.search_many(["xyzzy", "el la de"], "bm25",
                               10).collect() == []
        assert jc.count() == 0


def test_search_many_job_counts(spark, layouts):
    """An all-light batch runs no job; a mixed batch runs its heavy
    queries in the same single kernel job a route="spark" batch runs."""
    sc = spark.sparkContext
    qs = [q for q, _ in QUERIES[:6]]
    idx = SearchIndex(spark, layouts["build"])
    with _JobCounter(sc, "vg-batch-light") as jc:
        assert idx.search_many(qs, "bm25", 10).collect()
        assert jc.count() == 0
    with _JobCounter(sc, "vg-batch-spark") as jc:
        idx.search_many(qs, "bm25", 10, route="spark").collect()
        n_spark = jc.count()
    mixed = SearchIndex(spark, layouts["build"],
                        driver_local_max_postings=250)
    with _JobCounter(sc, "vg-batch-mixed") as jc:
        mixed.search_many(qs, "bm25", 10).collect()
        assert 0 < jc.count() == n_spark


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


class TestExplainQuery:
    def test_plan_diagnostics(self, spark, tmp_path):
        from visigoth_spark.query import SearchIndex

        out = str(tmp_path / "idx")
        build_index(spark, _df(spark, generate_corpus(120)), out,
                    num_partitions=2)
        idx = SearchIndex(spark, out)
        d = idx.explain_query("curso java", "bm25", k=10)
        assert d["route"] == "driver"  # tiny dfs -> hot path
        assert not d["early_exit_empty"]
        assert d["fetch_rows"] == 20  # tie-extended over-fetch
        assert d["seg_files_total"] and \
            0 < d["seg_files_planned"] <= d["seg_files_total"]
        assert all(df > 0 for df in d["dfs"].values())
        # plan-time AND early exit on a missing term
        d2 = idx.explain_query("curso zzzznope", "bm25", k=10)
        assert d2["early_exit_empty"] and d2["route"].startswith("none")
        # forced-big df -> distributed
        idx.driver_local_max_postings = 0
        assert idx.explain_query("curso", "bm25", 10)["route"] == "spark"
        # linear fetches exactly k (docid order, no url ties)
        idx2 = SearchIndex(spark, out)
        assert idx2.explain_query("curso", "linear", 5)["fetch_rows"] == 5

    @pytest.mark.parametrize("bound", ["query", "query+exclude"])
    def test_explain_route_is_the_route_search_takes(self, spark, layouts,
                                                     bound):
        """explain_query reports the route search executes. The NOT
        terms' postings decode on whichever side serves the query, so
        their dfs count in the route decision: with a postings bound the
        query's own term fits but query + NOT term does not, both
        explain and search go distributed."""
        probe = SearchIndex(spark, layouts["build"])
        df_q = sum(probe.explain_query("java")["dfs"].values())
        df_x = sum(probe.explain_query("python")["dfs"].values())
        idx = SearchIndex(
            spark, layouts["build"],
            driver_local_max_postings=(df_q if bound == "query"
                                       else df_q + df_x))
        plan = idx.explain_query("java", "bm25", 10, exclude="python")
        with _JobCounter(spark.sparkContext, f"vg-explain-{bound}") as jc:
            assert idx.search("java", "bm25", 10,
                              exclude="python").collect()
            taken = "driver" if jc.count() == 0 else "spark"
        assert plan["route"] == taken
        assert taken == ("spark" if bound == "query" else "driver")

    def test_explain_reads_no_postings(self, spark, layouts):
        """explain_query is the plan without execution: no Spark job, no
        postings decoded, the hot-term cache untouched."""
        idx = SearchIndex(spark, layouts["compacted"])
        with _JobCounter(spark.sparkContext, "vg-explain-plan") as jc:
            d = idx.explain_query("programación java", "bm25", 10,
                                  exclude="python")
            assert jc.count() == 0
        assert not idx._term_cache and d["cached_terms"] == []
        idx.search("programación java", "bm25", 10).collect()
        assert idx.explain_query(
            "programación java")["cached_terms"] == d["terms"]
