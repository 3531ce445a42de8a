"""LSM document deletion (build.delete_docs): tombstoned docs are masked
from every engine on both routes (Lucene semantics — BM25 stats keep
counting them until compaction); compact_index purges them physically,
recomputes the stats, and clears the tombstone set."""

from __future__ import annotations

import shutil

import pytest

from visigoth_spark.analysis import AnalyzerConfig
from visigoth_spark.query import SearchIndex

AN = AnalyzerConfig(stopwords=frozenset(), stem=False)

DOCS = [
    ("u00", "alpha beta gamma"),
    ("u01", "alpha beta"),
    ("u02", "alpha beta old"),
    ("u03", "beta alpha"),
    ("u04", "alpha gamma old"),
    ("u05", "alpha beta gamma old"),
    ("u06", "gamma delta"),
    ("u07", "alpha old beta"),
]
OLD = {u for u, t in DOCS if "old" in t}


def _got(res):
    return [(r["url"], round(r["score"], 9), r["hits"]) for r in res.collect()]


@pytest.fixture()
def didx(spark, tmp_path):
    from visigoth_spark.build import build_index

    out = str(tmp_path / "didx")
    df = spark.createDataFrame(DOCS, "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2,
                store_positions=True)
    return out


def test_delete_by_url_masks_all_engines(spark, didx):
    from visigoth_spark.build import delete_docs

    idx0 = SearchIndex(spark, didx, analyzer=AN)
    base = {e: _got(idx0.search("alpha beta", engine=e, k=10))
            for e in ("bm25", "bm25_or", "hits", "linear", "phrase")}
    n = delete_docs(spark, didx, urls=sorted(OLD))
    assert n == len(OLD)
    idx = SearchIndex(spark, didx, analyzer=AN)
    for e, b in base.items():
        for route in ("driver", "spark"):
            got = _got(idx.search("alpha beta", engine=e, k=10,
                                  route=route))
            assert {g[0] for g in got} == {g[0] for g in b} - OLD, (e, route)
            # Lucene semantics: survivors' scores UNCHANGED pre-compaction
            bmap = {g[0]: g[1:] for g in b}
            for u, s, h in got:
                assert bmap[u] == (s, h), (e, route, u)


def test_delete_idempotent_and_unknown_url(spark, didx):
    from visigoth_spark.build import delete_docs, load_tombstones

    assert delete_docs(spark, didx, urls=["u02"]) == 1
    assert delete_docs(spark, didx, urls=["u02"]) == 0
    assert delete_docs(spark, didx, urls=["nope"]) == 0
    assert len(load_tombstones(didx)) == 1


def test_delete_by_docids_and_indexed_mask(spark, didx):
    from visigoth_spark.build import delete_docs

    idx0 = SearchIndex(spark, didx, analyzer=AN)
    ids_before = set(idx0.indexed("alpha").tolist())
    # urls sort == docid order for a single-batch build
    delete_docs(spark, didx, docids=[0, 1])
    idx = SearchIndex(spark, didx, analyzer=AN)
    assert set(idx.indexed("alpha").tolist()) == ids_before - {0, 1}


def test_delete_exclude_combine(spark, didx):
    from visigoth_spark.build import delete_docs

    delete_docs(spark, didx, urls=["u02"])
    idx = SearchIndex(spark, didx, analyzer=AN)
    got = {g[0] for g in _got(idx.search("alpha", engine="bm25", k=10,
                                         exclude="gamma"))}
    assert got == {"u01", "u03", "u07"}


def test_noop_all_and_search_many_mask(spark, didx):
    from visigoth_spark.build import delete_docs

    delete_docs(spark, didx, urls=sorted(OLD))
    idx = SearchIndex(spark, didx, analyzer=AN)
    urls = {r["url"] for r in idx.search("", engine="noop_all",
                                         k=None).collect()}
    assert urls == {u for u, _ in DOCS} - OLD
    rows = idx.search_many(["alpha beta"], engine="bm25", k=10).collect()
    assert {r["url"] for r in rows} and not (
        {r["url"] for r in rows} & OLD)


def test_refresh_sees_new_tombstones(spark, didx):
    from visigoth_spark.build import delete_docs

    idx = SearchIndex(spark, didx, analyzer=AN)
    pre = {g[0] for g in _got(idx.search("alpha beta", k=10))}
    assert pre & OLD  # snapshot before the delete still serves them
    delete_docs(spark, didx, urls=sorted(OLD))
    # pinned snapshot unchanged...
    assert {g[0] for g in _got(idx.search("alpha beta", k=10))} == pre
    # ...refresh picks the tombstones up
    idx.refresh()
    post = {g[0] for g in _got(idx.search("alpha beta", k=10))}
    assert post == pre - OLD


def test_compact_purges_tombstones(spark, didx, tmp_path):
    from visigoth_spark.build import (build_index, compact_index,
                                      delete_docs, load_stats,
                                      load_tombstones)

    delete_docs(spark, didx, urls=sorted(OLD))
    compact_index(spark, didx, num_partitions=2)
    assert load_tombstones(didx) == []
    stats = load_stats(didx)
    assert stats["n_docs"] == len(DOCS) - len(OLD)
    idx = SearchIndex(spark, didx, analyzer=AN)
    got = _got(idx.search("alpha beta", engine="bm25", k=10))
    # post-purge scores == a FRESH index over only the surviving docs
    fresh_out = str(tmp_path / "fresh")
    survivors = [(u, t) for u, t in DOCS if u not in OLD]
    build_index(spark, spark.createDataFrame(
        survivors, "url string, text string"), fresh_out,
        analyzer=AN, num_partitions=2, store_positions=True)
    want = _got(SearchIndex(spark, fresh_out, analyzer=AN).search(
        "alpha beta", engine="bm25", k=10))
    assert [(u, s, h) for u, s, h in got] == want
    # phrase still works on the purged positional index
    assert _got(idx.search("alpha beta", engine="phrase", k=10))


def test_append_after_delete(spark, didx):
    from visigoth_spark.build import append_index, delete_docs

    delete_docs(spark, didx, urls=["u02"])
    append_index(spark, spark.createDataFrame(
        [("u08", "alpha beta new")], "url string, text string"),
        didx, analyzer=AN, num_partitions=1)
    idx = SearchIndex(spark, didx, analyzer=AN)
    got = {g[0] for g in _got(idx.search("alpha beta", k=10))}
    assert "u08" in got and "u02" not in got


def test_delete_requires_exactly_one_selector(spark, didx):
    from visigoth_spark.build import delete_docs

    with pytest.raises(ValueError):
        delete_docs(spark, didx)
    with pytest.raises(ValueError):
        delete_docs(spark, didx, urls=["u00"], docids=[0])


def test_catalog_delete_fanout(spark, tmp_path):
    from visigoth_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"), analyzer=AN)
    df = spark.createDataFrame(DOCS, "url string, text string")
    cat.ingest("d1", df)
    cat.alias("live", "d1")
    assert cat.delete("live", ["u02", "u05"]) == 2
    rows = cat.search("live", "alpha beta", k=10).collect()
    assert not ({r["url"] for r in rows} & {"u02", "u05"})


def test_large_tombstone_set_ships_as_broadcast(spark, didx, monkeypatch):
    """Above the size threshold the tombstone set rides a Spark broadcast
    (once per executor) instead of every task closure — results identical
    on both routes."""
    from visigoth_spark.build import delete_docs

    delete_docs(spark, didx, urls=sorted(OLD))
    monkeypatch.setattr(SearchIndex, "_TOMB_BROADCAST_MIN", 0)
    idx = SearchIndex(spark, didx, analyzer=AN)
    a = _got(idx.search("alpha beta", k=10, route="spark"))
    assert idx._tomb_bv is not None  # broadcast path taken
    b = _got(idx.search("alpha beta", k=10, route="driver"))
    assert a == b and not ({g[0] for g in a} & OLD)
    # refresh releases and lazily recreates the broadcast
    idx.refresh()
    assert idx._tomb_bv is None
    c = _got(idx.search("alpha beta", k=10, route="spark"))
    assert c == a


def test_update_docs_replace_by_url(spark, didx):
    """update_docs = tombstone-existing + append in one locked call: the
    url's OLD version disappears, the new one is searchable, other docs
    untouched."""
    from visigoth_spark.build import update_docs

    new = spark.createDataFrame(
        [("u02", "omega fresh content"), ("u99", "omega brand new")],
        "url string, text string")
    n_replaced = update_docs(spark, didx, new, analyzer=AN,
                             num_partitions=1)
    assert n_replaced == 1  # u02 existed, u99 is new
    idx = SearchIndex(spark, didx, analyzer=AN)
    got = {g[0] for g in _got(idx.search("omega", k=10))}
    assert got == {"u02", "u99"}
    # the OLD u02 content is gone
    assert "u02" not in {g[0] for g in _got(idx.search("old", k=10))}
    # untouched docs still match
    assert "u01" in {g[0] for g in _got(idx.search("alpha beta", k=10))}


def test_compact_all_tombstoned_raises_clearly(spark, didx):
    from visigoth_spark.build import compact_index, delete_docs

    delete_docs(spark, didx, docids=list(range(len(DOCS))))
    with pytest.raises(ValueError, match="tombstoned"):
        compact_index(spark, didx, num_partitions=2)


def test_noop_all_with_broadcast_size_tombstones(spark, didx, monkeypatch):
    from visigoth_spark.build import delete_docs

    delete_docs(spark, didx, urls=sorted(OLD))
    monkeypatch.setattr(SearchIndex, "_TOMB_BROADCAST_MIN", 0)
    idx = SearchIndex(spark, didx, analyzer=AN)
    urls = {r["url"] for r in idx.search("", engine="noop_all",
                                         k=None).collect()}
    assert urls == {u for u, _ in DOCS} - OLD


def test_update_docs_counts_urls_not_docids(spark, didx):
    """A url ingested TWICE (the reference appends duplicates as distinct
    docs) then updated counts as ONE replaced url; an already-tombstoned
    url counts zero."""
    from visigoth_spark.build import append_index, delete_docs, update_docs

    append_index(spark, spark.createDataFrame(
        [("u02", "alpha beta old again")], "url string, text string"),
        didx, analyzer=AN, num_partitions=1)  # u02 now has TWO docids
    new = spark.createDataFrame([("u02", "omega v2")],
                                "url string, text string")
    assert update_docs(spark, didx, new, analyzer=AN,
                       num_partitions=1) == 1
    idx = SearchIndex(spark, didx, analyzer=AN)
    assert {g[0] for g in _got(idx.search("omega", k=10))} == {"u02"}
    assert "u02" not in {g[0] for g in _got(idx.search("old", k=10))}
    # updating an url whose docs are all tombstoned already: 0 replaced
    delete_docs(spark, didx, urls=["u04"])
    assert update_docs(spark, didx, spark.createDataFrame(
        [("u04", "omega v3")], "url string, text string"),
        analyzer=AN, num_partitions=1) == 0


def test_update_docs_join_path_above_driver_cap(spark, didx):
    """An update batch bigger than ``driver_url_max`` takes the join-based
    matching plan (urls never collected / never IN-list literals) and
    produces the SAME result as the point path: old versions tombstoned,
    new content searchable, replaced count url-exact."""
    from visigoth_spark.build import update_docs

    new = spark.createDataFrame(
        [("u02", "omega fresh content"), ("u05", "omega also fresh"),
         ("u99", "omega brand new")],
        "url string, text string")
    # driver_url_max=1 forces the join path for this 3-url batch
    n_replaced = update_docs(spark, didx, new, analyzer=AN,
                             num_partitions=1, driver_url_max=1)
    assert n_replaced == 2  # u02+u05 existed, u99 is new
    idx = SearchIndex(spark, didx, analyzer=AN)
    assert {g[0] for g in _got(idx.search("omega", k=10))} == {
        "u02", "u05", "u99"}
    gone = {g[0] for g in _got(idx.search("old", k=10))}
    assert "u02" not in gone and "u05" not in gone
    assert "u04" in gone and "u07" in gone  # untouched old docs remain


def test_update_docs_tombstone_cap_raises_loudly(spark, didx):
    """A join-path update whose MATCH set exceeds tombstone_max refuses
    with a clear error instead of materializing an unbounded tombstone
    set — and leaves the index untouched (no partial delete/append)."""
    from visigoth_spark.build import load_tombstones, update_docs

    idx0 = SearchIndex(spark, didx, analyzer=AN)
    before = _got(idx0.search("alpha beta", k=10))
    new = spark.createDataFrame(
        [(u, "rewrite everything") for u, _ in DOCS],
        "url string, text string")
    with pytest.raises(ValueError, match="tombstone_max"):
        update_docs(spark, didx, new, analyzer=AN, num_partitions=1,
                    driver_url_max=1, tombstone_max=3)
    assert load_tombstones(didx) == []
    idx = SearchIndex(spark, didx, analyzer=AN)
    assert _got(idx.search("alpha beta", k=10)) == before


def test_indexed_df_matches_indexed(spark, didx):
    """indexed_df: the distributed (never-on-the-driver) posting-list
    variant must return exactly indexed()'s docids — including the
    tombstone mask — just unordered."""
    from visigoth_spark.build import delete_docs

    idx = SearchIndex(spark, didx, analyzer=AN)
    for term in ("alpha", "echo", "nosuchterm"):
        want = sorted(idx.indexed(term).tolist())
        got = sorted(r.docid for r in idx.indexed_df(term).collect())
        assert got == want, term
    delete_docs(spark, didx, docids=[0, 2])
    idx2 = SearchIndex(spark, didx, analyzer=AN)
    want = sorted(idx2.indexed("alpha").tolist())
    got = sorted(r.docid for r in idx2.indexed_df("alpha").collect())
    assert got == want and 0 not in got and 2 not in got


def test_compact_tombstone_purge_starts_no_python_rdd(spark, didx, tmp_path,
                                                      monkeypatch):
    """The tombstone ids reach compaction's anti-join as an Arrow-backed
    local relation, not a parallelize -> map PythonRDD that starts Python
    workers for a handful of integers; with the Arrow flag on or off, no
    PythonRDD is created and the compacted index is the same."""
    from pyspark.core.rdd import PipelinedRDD

    from visigoth_spark.build import compact_index, delete_docs

    made = []
    jrdd = PipelinedRDD._jrdd
    monkeypatch.setattr(PipelinedRDD, "_jrdd", property(
        lambda self: made.append(1) or jrdd.fget(self)))
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    got = {}
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            out = str(tmp_path / f"arrow-{arrow}")
            shutil.copytree(didx, out)
            delete_docs(spark, out, urls=sorted(OLD))
            compact_index(spark, out, num_partitions=2)
            assert made == [], arrow
            idx = SearchIndex(spark, out, analyzer=AN)
            got[arrow] = (
                [tuple(r) for r in idx._docmap.orderBy("docid").collect()],
                _got(idx.search("alpha beta", engine="bm25", k=10)))
    finally:
        spark.conf.set(key, saved)
    assert got["true"] == got["false"]
    assert not {r[1] for r in got["true"][0]} & OLD
