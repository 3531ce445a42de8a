"""The row-group-cached reader of the term dictionary and the docmap
(``query._SortedParquet``): probes equal a full read on multi-row-group
files, cached row groups follow the snapshot through append, delete,
merge, compaction and ``refresh()``, and the driver cache stays inside its
byte budget."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import visigoth_spark.query as vq
from visigoth_spark.build import (append_index, build_index, compact_index,
                                  delete_docs, load_snapshot, merge_appends)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex

# terms the rewritten termdict adds around the index's own vocabulary:
# non-ASCII, the U+E000-U+FFFF block (above every surrogate, below the
# astral planes: UTF-16 order would put it after them) and astral terms
EXTRA_TERMS = ["0", "aaa", "ñandú", "ωμέγα", "日本", "x", "￯y",
               "\U00010000", "\U0001f600abc", "\U0010fffd"]
# absent terms before, between and after the row groups' ranges
ABSENT = ["", "!", "aa", "ñandu", "日", "", "￮", "￿",
          "\U0001f5ff", "\U0010ffff", "zzzzzz"]


def _df(spark, pdf):
    return spark.createDataFrame(pdf[["url", "text", "lang"]])


@pytest.fixture(scope="module")
def small_rg_index(spark, tmp_path_factory):
    """A built index whose termdict version is rewritten as two
    term-range files of 7-row row groups (its own rows plus
    ``EXTRA_TERMS``); returns (index dir, the full termdict table)."""
    out = str(tmp_path_factory.mktemp("td") / "idx")
    build_index(spark, _df(spark, generate_corpus(80)), out,
                num_partitions=2)
    td = os.path.join(out, load_snapshot(out)["termdict"])
    full = pq.read_table(td, columns=["term", "df", "sum_tf"]).to_pandas()
    extra = pd.DataFrame({"term": EXTRA_TERMS, "df": 1, "sum_tf": 1})
    full = pd.concat([full, extra]).sort_values(
        "term", key=lambda s: s.map(lambda t: t.encode()))
    for fn in os.listdir(td):
        os.remove(os.path.join(td, fn))
    half = len(full) // 2
    for i, part in enumerate((full.iloc[:half], full.iloc[half:])):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(td, f"part-{i}.parquet"),
                       row_group_size=7)
    return out, dict(zip(full["term"], full["df"]))


def _count_decodes(monkeypatch) -> list:
    calls: list = []
    real = vq._sorted_block
    monkeypatch.setattr(vq, "_sorted_block",
                        lambda *a: calls.append(1) or real(*a))
    return calls


@pytest.mark.parametrize("budget", [256 << 20, 0])
def test_term_df_and_prefix_equal_full_read(spark, small_rg_index, budget):
    out, full = small_rg_index
    idx = SearchIndex(spark, out, driver_cache_max_bytes=budget)
    assert idx._termdict_probe().paths  # two files, many row groups
    terms = sorted(full) + ABSENT
    assert idx.term_df(terms) == {t: full.get(t, 0) for t in terms}
    for t in terms:  # one term at a time: each probe on its own
        assert idx.term_df([t]) == {t: full.get(t, 0)}
    for prefix in ["a", "c", "pro", "ñ", "ω", "", "￯",
                   "\U0001f600", "\U0010fffd", "zz", "q"]:
        want = sorted(t for t in full if t.startswith(prefix))
        assert idx.expand_prefix(prefix) == want, prefix
    vocab = idx._termdict_probe().scan_range("", None)
    assert vocab == sorted(full)
    if budget == 0:
        assert idx._cache.nbytes == 0 and not idx._cache.entries


def test_probe_decodes_only_covering_row_groups(spark, small_rg_index,
                                                monkeypatch):
    """With a budget of 0 nothing is cached, and a probe still decodes
    only the row group covering its term (none for a term before every
    row group)."""
    out, full = small_rg_index
    idx = SearchIndex(spark, out, driver_cache_max_bytes=0)
    calls = _count_decodes(monkeypatch)
    term = sorted(full)[len(full) // 3]
    assert idx.term_df([term]) == {term: full[term]}
    assert len(calls) == 1
    assert idx.term_df([""]) == {"": 0} and len(calls) == 1
    # with a budget, a repeated probe decodes nothing
    idx2 = SearchIndex(spark, out)
    idx2.term_df([term])
    n = len(calls)
    idx2.term_df([term])
    assert len(calls) == n


def _docmap_full(out: str) -> dict:
    """docid -> url over every docmap file the snapshot names."""
    snap = load_snapshot(out)
    tbl = pa.concat_tables(
        pq.read_table(os.path.join(out, e["path"]), columns=["docid", "url"])
        for b in snap["batches"] for e in b["docfiles"])
    return dict(zip(tbl["docid"].to_pylist(), tbl["url"].to_pylist()))


def _check_blocks_live(idx: SearchIndex, out: str) -> None:
    """Every cached row group belongs to a file the snapshot names."""
    snap = load_snapshot(out)
    live = {os.path.join(out, e["path"])
            for b in snap["batches"] for e in b["docfiles"]}
    td = os.path.join(out, snap["termdict"])
    for key in idx._cache.entries:
        if isinstance(key, tuple):
            assert key[0] in live or os.path.dirname(key[0]) == td, key


def test_docmap_through_append_delete_merge_compact_refresh(spark,
                                                            tmp_path):
    pdf = generate_corpus(90)
    out = str(tmp_path / "idx")
    build_index(spark, _df(spark, pdf.iloc[:60]), out, num_partitions=2)
    idx = SearchIndex(spark, out)

    def check(n_docs: int) -> None:
        # every snapshot a reader opens names a termdict version
        assert load_snapshot(out)["termdict"]
        full = _docmap_full(out)
        assert len(full) == n_docs
        ids = sorted(full)
        got = idx._docmap_for(ids)
        assert {d: u for d, (u, _) in got.items()} == full
        _check_blocks_live(idx, out)
        fresh = SearchIndex(spark, out)
        for q in ("curso", "java programación", "python"):
            assert [(r["url"], r["score"]) for r in
                    idx.search(q, "bm25", 10, route="driver").collect()] \
                == [(r["url"], r["score"]) for r in
                    fresh.search(q, "bm25", 10, route="spark").collect()]

    check(60)
    for lo, hi in ((60, 75), (75, 90)):
        append_index(spark, _df(spark, pdf.iloc[lo:hi]), out,
                     num_partitions=1)
        before = {k for k in idx._cache.entries if isinstance(k, tuple)}
        idx.refresh()
        after = {k for k in idx._cache.entries if isinstance(k, tuple)}
        # an append names every earlier docmap file: their blocks stay
        assert {k for k in before if "termdict" not in k[0]} <= after
        check(hi)
    delete_docs(spark, out, urls=list(pdf["url"].iloc[:5]))
    idx.refresh()
    check(90)  # tombstones hide docs from search, not from the docmap
    assert merge_appends(spark, out, num_partitions=2) is not None
    idx.refresh()
    check(90)
    compact_index(spark, out, num_partitions=2)
    stale = {k for k in idx._cache.entries if isinstance(k, tuple)}
    idx.refresh()
    assert stale and not stale & set(idx._cache.entries)
    check(85)


def test_cache_bytes_never_exceed_budget(spark, tmp_path):
    pdf = generate_corpus(120)
    out = str(tmp_path / "idx")
    build_index(spark, _df(spark, pdf), out, num_partitions=3)
    budget = 24 << 10
    idx = SearchIndex(spark, out, driver_cache_max_bytes=budget)
    ref = SearchIndex(spark, out)
    for q in ("curso", "java", "programación java", "python tutorial",
              "curso completo", "huevos", "casco zampo", "web"):
        for engine in ("bm25", "bm25_or", "bm25_prefix"):
            assert [(r["url"], r["score"]) for r in
                    idx.search(q, engine, 10).collect()] \
                == [(r["url"], r["score"]) for r in
                    ref.search(q, engine, 10).collect()]
            assert 0 < idx._cache.nbytes <= budget
            assert idx._cache.nbytes == sum(
                sum(a.nbytes for a in v) for v in idx._cache.entries.values())


def test_pinned_reader_reads_its_deleted_termdict(spark, tmp_path):
    """An append deletes the termdict version the previous snapshot
    names. A reader of that snapshot holds its termdict files open from
    construction, so even with no cache it keeps answering term_df, the
    expansions and search for its own snapshot until refresh()."""
    pdf = generate_corpus(80)
    out = str(tmp_path / "idx")
    build_index(spark, _df(spark, pdf.iloc[:60]), out, num_partitions=2)
    idx = SearchIndex(spark, out, driver_cache_max_bytes=0)
    old_td = os.path.join(out, load_snapshot(out)["termdict"])
    terms = ["curs", "jav", "program", "python", "zzz-absent"]
    dfs = idx.term_df(terms)
    prefix = idx.expand_prefix("pro")
    rows = [(r["url"], r["score"]) for r in
            idx.search("curso java", "bm25", 10).collect()]
    append_index(spark, _df(spark, pdf.iloc[60:]), out, num_partitions=1)
    assert not os.path.exists(old_td)
    assert idx.term_df(terms) == dfs
    assert idx.expand_prefix("pro") == prefix
    assert [(r["url"], r["score"]) for r in
            idx.search("curso java", "bm25", 10).collect()] == rows
    idx.refresh()
    assert idx.term_df(terms) == SearchIndex(spark, out).term_df(terms)
