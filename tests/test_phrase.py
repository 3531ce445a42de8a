"""Positional postings + phrase engine + prefix/fuzzy expansion engines.

Oracle: a direct Python scorer over the analyzed corpus (same contract the
engine documents — phrase tf = count of adjacency-chain start positions in
the ANALYZED token sequence; score = sum(token idfs) x BM25 tf-norm of the
phrase tf; ties (score DESC, url ASC)).
"""

from __future__ import annotations

import math
import shutil

import numpy as np
import pytest

from visigoth_spark.analysis import AnalyzerConfig, analyze_text
from visigoth_spark.codec import (
    BM25_B,
    BM25_K1,
    decode_positions,
    encode_positions_groups,
)
from visigoth_spark.query import SearchIndex, _edit_distance_le

AN = AnalyzerConfig(stopwords=frozenset(), stem=False)

# constructed corpus: phrase repeats, duplicate-token runs, prefix/fuzzy
# vocabulary neighborhoods, plus filler for df variety
DOCS = [
    ("u00", "alpha beta gamma alpha beta"),
    ("u01", "alpha gamma beta delta"),
    ("u02", "beta alpha beta alpha"),
    ("u03", "echo echo echo delta"),
    ("u04", "alpha beta"),
    ("u05", "prefix prefab presto gamma"),
    ("u06", "datum datun data prefix"),
    ("u07", "gamma delta echo"),
    ("u08", "alpha beta gamma"),
    ("u09", "beta gamma alpha beta delta"),
    ("u10", "presto prefix alpha"),
    ("u11", "data gamma data gamma data"),
    ("u12", "echo echo"),
    ("u13", "delta delta gamma"),
    ("u14", "datum alpha beta datum"),
    ("u15", "zeta eta theta"),
]


def _analyzed():
    return {url: analyze_text(text, AN) for url, text in DOCS}


def _stats(corpus):
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    dfs = {}
    for toks in corpus.values():
        for t in set(toks):
            dfs[t] = dfs.get(t, 0) + 1
    return n, avgdl, dfs


def _idf(n, df):
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def phrase_oracle(corpus, phrase_tokens, k=10):
    """(url, score, ptf) rows in (score DESC, url ASC) order."""
    n, avgdl, dfs = _stats(corpus)
    m = len(phrase_tokens)
    out = []
    for url, toks in sorted(corpus.items()):
        ptf = sum(
            1
            for i in range(len(toks) - m + 1)
            if toks[i:i + m] == list(phrase_tokens)
        )
        if ptf:
            coeff = sum(_idf(n, dfs[t]) for t in phrase_tokens)
            dl = len(toks)
            s = coeff * (ptf * (BM25_K1 + 1.0)) / (
                ptf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
            )
            out.append((url, s, ptf))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    """Positions index over DOCS: batch build of the first 12 docs plus an
    APPEND of the rest — every phrase test below exercises the multi-batch
    concat path for free."""
    from visigoth_spark.build import append_index, build_index

    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    df = spark.createDataFrame(DOCS[:12], "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2,
                store_positions=True)
    df2 = spark.createDataFrame(DOCS[12:], "url string, text string")
    append_index(spark, df2, out, analyzer=AN, num_partitions=2)
    return SearchIndex(spark, out, analyzer=AN)


# ---- codec ------------------------------------------------------------------


def test_positions_roundtrip_fuzz():
    rng = np.random.default_rng(11)
    for _ in range(300):
        n_groups = int(rng.integers(1, 5))
        pair_counts = rng.integers(1, 6, n_groups)
        group_starts = np.zeros(n_groups, dtype=np.int64)
        np.cumsum(pair_counts[:-1], out=group_starts[1:])
        tfs = rng.integers(1, 7, int(pair_counts.sum()))
        pos = [np.sort(rng.choice(5000, size=tf, replace=False))
               for tf in tfs]
        flat = np.concatenate(pos)
        blobs = encode_positions_groups(group_starts, tfs, flat)
        g_ends = np.append(group_starts[1:], len(tfs))
        occ = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=occ[1:])
        for g in range(n_groups):
            s, e = group_starts[g], g_ends[g]
            got = decode_positions(blobs[g], tfs[s:e])
            assert np.array_equal(got, flat[occ[s]:occ[e]])


def test_positions_zero_position_representable():
    b = encode_positions_groups(
        np.array([0]), np.array([2]), np.array([0, 1]))
    assert np.array_equal(decode_positions(b[0], np.array([2])), [0, 1])


def test_edit_distance_le_vs_full_dp():
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            ndp = [i]
            for j, cb in enumerate(b, 1):
                ndp.append(min(dp[j] + 1, ndp[-1] + 1,
                               dp[j - 1] + (ca != cb)))
            dp = ndp
        return dp[-1]

    words = ["", "a", "ab", "abc", "abd", "bbc", "abcd", "acd", "xabc",
             "abcx", "aabc", "data", "datum", "datun", "dat", "daata"]
    for a in words:
        for b in words:
            for k in (0, 1, 2):
                assert _edit_distance_le(a, b, k) == (lev(a, b) <= k), (
                    a, b, k)


# ---- phrase engine ----------------------------------------------------------


def _got(res):
    return [(r["url"], r["score"], r["hits"]) for r in res.collect()]


def _assert_matches(got, want):
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[2] == w[2], (got, want)
        assert abs(g[1] - w[1]) < 1e-9, (got, want)


def test_phrase_matches_oracle_driver(pos_idx):
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta"))
    got = _got(pos_idx.search("alpha beta", engine="phrase", k=10,
                              route="driver"))
    _assert_matches(got, want)


def test_phrase_routes_identical(pos_idx):
    a = _got(pos_idx.search("alpha beta", engine="phrase", k=10,
                            route="driver"))
    b = _got(pos_idx.search("alpha beta", engine="phrase", k=10,
                            route="spark"))
    assert a == b


def test_phrase_duplicate_tokens(pos_idx):
    # "echo echo" must count overlapping starts: u03 = echo echo echo -> 2
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("echo", "echo"))
    assert ("u03" in [w[0] for w in want]
            and dict((w[0], w[2]) for w in want)["u03"] == 2)
    got = _got(pos_idx.search("echo echo", engine="phrase", k=10))
    _assert_matches(got, want)


def test_phrase_three_terms(pos_idx):
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta", "gamma"))
    got = _got(pos_idx.search("alpha beta gamma", engine="phrase", k=10))
    _assert_matches(got, want)


def test_phrase_single_token(pos_idx):
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("data",))
    got = _got(pos_idx.search("data", engine="phrase", k=10))
    _assert_matches(got, want)


def test_phrase_no_match_terms_present(pos_idx):
    # both terms exist, adjacency never does
    got = _got(pos_idx.search("zeta alpha", engine="phrase", k=10))
    assert got == []


def test_phrase_missing_term_early_exit(pos_idx):
    assert _got(pos_idx.search("alpha nosuchterm", engine="phrase")) == []


def test_phrase_k_caps(pos_idx):
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta"), k=2)
    got = _got(pos_idx.search("alpha beta", engine="phrase", k=2))
    _assert_matches(got, want)


def test_phrase_requires_positions(spark, tmp_path):
    from visigoth_spark.build import build_index

    out = str(tmp_path / "plainidx")
    df = spark.createDataFrame(DOCS[:6], "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2)
    idx = SearchIndex(spark, out, analyzer=AN)
    assert not idx.has_positions
    with pytest.raises(ValueError, match="store_positions"):
        idx.search("alpha beta", engine="phrase")


def test_phrase_survives_compaction(spark, pos_idx, tmp_path):
    from visigoth_spark.build import compact_index

    copy = str(tmp_path / "cidx")
    shutil.copytree(pos_idx.index_dir, copy)
    before = _got(pos_idx.search("alpha beta", engine="phrase", k=10))
    compact_index(spark, copy, num_partitions=2)
    idx2 = SearchIndex(spark, copy, analyzer=AN)
    assert idx2.has_positions
    after = _got(idx2.search("alpha beta", engine="phrase", k=10))
    # urls/scores/hits identical (docids may be remapped)
    assert after == before


def test_search_many_phrase_matches_single(pos_idx):
    qs = ["alpha beta", "echo echo", "alpha nosuchterm"]
    rows = pos_idx.search_many(qs, engine="phrase", k=5).collect()
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], r["score"], r["hits"]))
    for qid, q in enumerate(qs):
        single = _got(pos_idx.search(q, engine="phrase", k=5))
        assert by_qid.get(qid, []) == single, q


def test_search_many_phrase_requires_positions(spark, tmp_path):
    from visigoth_spark.build import build_index

    out = str(tmp_path / "plainidx2")
    df = spark.createDataFrame(DOCS[:4], "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2)
    idx = SearchIndex(spark, out, analyzer=AN)
    with pytest.raises(ValueError, match="store_positions"):
        idx.search_many(["alpha beta"], engine="phrase")


def test_explain_phrase(pos_idx):
    ex = pos_idx.explain_query("alpha nosuchterm", engine="phrase")
    assert ex["early_exit_empty"] is True
    ex2 = pos_idx.explain_query("alpha beta", engine="phrase")
    assert ex2["early_exit_empty"] is False


# ---- prefix / fuzzy expansion ----------------------------------------------


def test_expand_prefix(pos_idx):
    assert pos_idx.expand_prefix("pre") == ["prefab", "prefix", "presto"]
    assert pos_idx.expand_prefix("pre", max_terms=2) == ["prefab", "prefix"]
    assert pos_idx.expand_prefix("zzz") == []
    assert pos_idx.expand_prefix("") == []


def test_expand_fuzzy(pos_idx):
    # substitution, and the exact term itself
    assert pos_idx.expand_fuzzy("datum") == ["datum", "datun"]
    # deletion/insertion neighbors
    assert "data" in pos_idx.expand_fuzzy("dat")
    assert pos_idx.expand_fuzzy("dataa") == ["data"]
    assert pos_idx.expand_fuzzy("qqqq") == []


def test_prefix_engine_equals_manual_or(pos_idx):
    exp = pos_idx.expand_prefix("pre")
    a = _got(pos_idx.search("pre", engine="bm25_prefix", k=10))
    b = _got(pos_idx.search(" ".join(exp), engine="bm25_or", k=10))
    assert a == b and len(a) > 0


def test_fuzzy_engine_equals_manual_or(pos_idx):
    exp = pos_idx.expand_fuzzy("datun")
    a = _got(pos_idx.search("datun", engine="bm25_fuzzy", k=10))
    b = _got(pos_idx.search(" ".join(exp), engine="bm25_or", k=10))
    assert a == b and len(a) > 0


def test_prefix_no_expansion_empty(pos_idx):
    assert _got(pos_idx.search("zzz", engine="bm25_prefix", k=10)) == []


def test_search_many_prefix_matches_single(pos_idx):
    batch = pos_idx.search_many(["pre", "dat"], engine="bm25_prefix", k=5)
    rows = batch.collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], r["score"], r["hits"]))
    for qid, q in enumerate(["pre", "dat"]):
        single = _got(pos_idx.search(q, engine="bm25_prefix", k=5))
        assert by_qid.get(qid, []) == single, q


def test_positions_column_ignored_by_other_engines(pos_idx):
    # non-phrase engines on a positions index behave normally
    got = _got(pos_idx.search("alpha beta", engine="bm25", k=5))
    assert len(got) > 0


def test_phrase_and_expansion_on_object_store_uri(spark, tmp_path):
    """Positional index at a file:// URI (HadoopStore control plane): the
    driver-side pos read is unavailable, so phrase runs the DISTRIBUTED
    route with pos_blob in the pruned scan; prefix expansion reads the
    termdict through its reader. Results must equal the POSIX oracle."""
    from visigoth_spark.build import build_index

    out = "file://" + str(tmp_path / "uidx")
    df = spark.createDataFrame(DOCS, "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2,
                store_positions=True)
    idx = SearchIndex(spark, out, analyzer=AN)
    assert idx.has_positions
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta"))
    got = _got(idx.search("alpha beta", engine="phrase", k=10))
    _assert_matches(got, want)
    # expansion works over the URI index...
    assert idx.expand_prefix("pre") == ["prefab", "prefix", "presto"]
    assert "datun" in idx.expand_fuzzy("datum")
    # ...and the TRUE-remote range seek (what an s3a:// index uses, where
    # no local pyarrow path exists) returns the same window, driven
    # through the HadoopStore seekable stream
    from visigoth_spark import storage as vstore
    from visigoth_spark.build import load_snapshot
    from visigoth_spark.query import _ByteLRU, _termdict_reader

    st = vstore.get_store(out, spark)
    rtd = _termdict_reader(
        st, vstore.join(out, load_snapshot(out)["termdict"]), None,
        _ByteLRU(0))
    assert rtd.scan_range("pre", "prf") == ["prefab", "prefix", "presto"]
    assert "datum" in rtd.scan_range("", None)  # fuzzy's full-vocab pass
    rtd.close()
    a = _got(idx.search("pre", engine="bm25_prefix", k=10))
    exp = idx.expand_prefix("pre")
    b = _got(idx.search(" ".join(exp), engine="bm25_or", k=10))
    assert a == b and len(a) > 0


# ---- slop (ordered total-window proximity) -----------------------------------


def proximity_oracle(corpus, tokens, slop, k=10):
    """Brute-force windowed-proximity scorer: ptf = number of start
    positions p0 of tokens[0] from which SOME in-order chain of all tokens
    fits in a window of len(tokens)+slop (exhaustive DFS — independently
    validates the engine's greedy-earliest walk)."""
    n, avgdl, dfs = _stats(corpus)
    m = len(tokens)
    out = []
    for url, toks in sorted(corpus.items()):
        occ = {t: [i for i, x in enumerate(toks) if x == t]
               for t in set(tokens)}

        def chain_exists(j, prev, p0):
            if j == m:
                return prev - p0 <= m - 1 + slop
            return any(
                p > prev and chain_exists(j + 1, p, p0)
                for p in occ[tokens[j]]
                if p > prev and p - p0 <= m - 1 + slop
            )

        ptf = sum(1 for p0 in occ.get(tokens[0], [])
                  if chain_exists(1, p0, p0))
        if ptf:
            coeff = sum(_idf(n, dfs[t]) for t in tokens)
            dl = len(toks)
            s = coeff * (ptf * (BM25_K1 + 1.0)) / (
                ptf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
            )
            out.append((url, s, ptf))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def test_slop_widens_match_set(pos_idx):
    corpus = _analyzed()
    # u01 = "alpha gamma beta delta": alpha..beta span 3, needs slop>=1
    strict = {g[0] for g in _got(pos_idx.search(
        "alpha beta", engine="phrase", k=16))}
    sloppy = {g[0] for g in _got(pos_idx.search(
        "alpha beta", engine="phrase", k=16, slop=1))}
    assert "u01" not in strict and "u01" in sloppy
    assert strict <= sloppy
    want = proximity_oracle(corpus, ["alpha", "beta"], 1, k=16)
    got = _got(pos_idx.search("alpha beta", engine="phrase", k=16, slop=1))
    _assert_matches(got, want)


def test_slop_zero_equals_phrase(pos_idx):
    a = _got(pos_idx.search("alpha beta", engine="phrase", k=10))
    b = _got(pos_idx.search("alpha beta", engine="phrase", k=10, slop=0))
    assert a == b


def test_slop_routes_identical(pos_idx):
    a = _got(pos_idx.search("alpha beta gamma", engine="phrase", k=10,
                            slop=2, route="driver"))
    b = _got(pos_idx.search("alpha beta gamma", engine="phrase", k=10,
                            slop=2, route="spark"))
    assert a == b and len(a) > 0


def test_slop_requires_phrase_engine(pos_idx):
    with pytest.raises(ValueError, match="slop"):
        pos_idx.search("alpha", engine="bm25", slop=1)
    with pytest.raises(ValueError, match="slop"):
        pos_idx.search_many(["alpha"], engine="bm25", slop=1)


def test_search_many_slop_matches_single(pos_idx):
    qs = ["alpha beta", "alpha delta"]
    rows = pos_idx.search_many(qs, engine="phrase", k=5, slop=2).collect()
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], r["score"], r["hits"]))
    for qid, q in enumerate(qs):
        single = _got(pos_idx.search(q, engine="phrase", k=5, slop=2))
        assert by_qid.get(qid, []) == single, q


def test_phrase_body_fuzz_vs_brute():
    """Direct _phrase_body fuzz (no Spark): random small-alphabet docs,
    random 2-3 token queries, slop 0..3, vs the exhaustive DFS oracle."""
    import math

    from visigoth_spark.query import _phrase_body

    rng = np.random.default_rng(23)
    alpha = list("abcde")
    for trial in range(120):
        n_docs = int(rng.integers(2, 7))
        docs = {d: [alpha[i] for i in rng.integers(0, len(alpha),
                                                   rng.integers(3, 15))]
                for d in range(n_docs)}
        m = int(rng.integers(2, 4))
        tokens = [alpha[i] for i in rng.integers(0, len(alpha), m)]
        slop = int(rng.integers(0, 4))
        # build decoded arrays per distinct term
        decoded = {}
        for t in set(tokens):
            ids, tfs, dls, pos = [], [], [], []
            for d in sorted(docs):
                p = [i for i, x in enumerate(docs[d]) if x == t]
                if p:
                    ids.append(d)
                    tfs.append(len(p))
                    dls.append(len(docs[d]))
                    pos.extend(p)
            decoded[t] = (np.array(ids, dtype=np.int64),
                          np.array(tfs, dtype=np.int64),
                          np.array(dls, dtype=np.int64),
                          np.array(pos, dtype=np.int64))
        idf = {t: 1.0 for t in tokens}  # uniform: isolates the matching
        avgdl = sum(len(v) for v in docs.values()) / n_docs
        out = _phrase_body(decoded, tokens, idf, avgdl, k=None, slop=slop)
        got = {int(r.docid): int(r.hits) for r in out.itertuples()}
        # brute DFS
        want = {}
        for d, toks in docs.items():
            occ = {t: [i for i, x in enumerate(toks) if x == t]
                   for t in set(tokens)}

            def chain(j, prev, p0):
                if j == m:
                    return prev - p0 <= m - 1 + slop
                return any(p > prev and chain(j + 1, p, p0)
                           for p in occ[tokens[j]]
                           if p - p0 <= m - 1 + slop)

            ptf = sum(1 for p0 in occ.get(tokens[0], [])
                      if chain(1, p0, p0))
            if ptf:
                want[d] = ptf
        assert got == want, (trial, tokens, slop, docs, got, want)


def test_streamed_appends_inherit_positions(spark, tmp_path):
    """A stream appending into a positional base index inherits
    store_positions (epoch appends read the flag from stats), so phrase
    queries cover streamed docs too."""
    from visigoth_spark.build import build_index, load_stats
    from visigoth_spark.streaming import foreach_batch_indexer

    out = str(tmp_path / "sidx")
    df = spark.createDataFrame(DOCS[:10], "url string, text string")
    build_index(spark, df, out, analyzer=AN, num_partitions=2,
                store_positions=True)
    fn = foreach_batch_indexer(out, analyzer=AN, num_partitions=2)
    fn(spark.createDataFrame(DOCS[10:13], "url string, text string"), 0)
    fn(spark.createDataFrame(DOCS[13:], "url string, text string"), 1)
    assert load_stats(out)["n_docs"] == len(DOCS)
    idx = SearchIndex(spark, out, analyzer=AN)
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta"))
    got = _got(idx.search("alpha beta", engine="phrase", k=10))
    _assert_matches(got, want)
    # "datum alpha beta datum" (u14) arrived via the stream: covered
    assert "u14" in {g[0] for g in got}


def test_fused_generator_multibatch_flush_identity():
    """The cross-batch flush merge (dictionary-encode + integer lexsort —
    the web-scale partition path that Spark-level tests never hit at small
    fixtures) must produce the same postings and positions as a direct
    per-pair oracle, across several input batches."""
    from unittest import mock

    import pandas as pd

    from visigoth_spark.build import _fused_generator
    from visigoth_spark.codec import decode_positions, decode_segment

    rng = np.random.default_rng(5)
    words = ["w%02d" % i for i in range(9)]
    docs = [" ".join(words[j] for j in rng.integers(0, 9, rng.integers(2, 9)))
            for _ in range(90)]
    batches = [pd.DataFrame({"url": [f"u{i+off:03d}" for i in range(30)],
                             "text": docs[off:off + 30]})
               for off in (0, 30, 60)]

    class FakeTC:
        def partitionId(self):
            return 0

    gen = _fused_generator({0: 0}, AN, store_positions=True)
    with mock.patch("pyspark.TaskContext.get", return_value=FakeTC()):
        frames = list(gen(iter(batches)))
    seg = pd.concat([f[f["kind"] == "s"] for f in frames])
    got: dict[tuple, tuple] = {}
    for _, row in seg.iterrows():
        ids, tfs, dls = decode_segment(bytes(row["blob"]))
        pos = decode_positions(bytes(row["pos_blob"]), tfs)
        off = 0
        for i, docid in enumerate(ids):
            got[(row["term"], int(docid))] = (
                int(tfs[i]), int(dls[i]),
                tuple(int(p) for p in pos[off:off + tfs[i]]))
            off += int(tfs[i])
    want: dict[tuple, tuple] = {}
    for docid, text in enumerate(docs):
        toks = text.split()
        for t in set(toks):
            ps = tuple(i for i, x in enumerate(toks) if x == t)
            want[(t, docid)] = (len(ps), len(toks), ps)
    assert got == want


def test_stream_creates_positional_index_from_scratch(spark, tmp_path):
    """foreach_batch_indexer(store_positions=True): the FIRST epoch's
    fresh build enables positions, later epochs inherit; a conflicting
    explicit append raises instead of mixing."""
    from visigoth_spark.build import append_index
    from visigoth_spark.streaming import foreach_batch_indexer

    out = str(tmp_path / "spidx")
    fn = foreach_batch_indexer(out, analyzer=AN, num_partitions=2,
                               store_positions=True)
    fn(spark.createDataFrame(DOCS[:8], "url string, text string"), 0)
    fn(spark.createDataFrame(DOCS[8:], "url string, text string"), 1)
    idx = SearchIndex(spark, out, analyzer=AN)
    assert idx.has_positions
    corpus = _analyzed()
    want = phrase_oracle(corpus, ("alpha", "beta"))
    _assert_matches(_got(idx.search("alpha beta", engine="phrase", k=10)),
                    want)
    with pytest.raises(ValueError, match="store_positions"):
        append_index(spark, spark.createDataFrame(
            [("zz", "alpha")], "url string, text string"),
            out, analyzer=AN, num_partitions=1, store_positions=False)


def test_suggest_ranks_by_df(pos_idx):
    # deterministic full contract on a known neighborhood
    out2 = pos_idx.suggest("datun")
    terms = [t for t, _ in out2]
    assert set(terms) == {"datum", "datun"}
    dfs = dict(out2)
    assert dfs["datum"] == 2 and dfs["datun"] == 1
    assert terms == ["datum", "datun"]  # df DESC
    assert pos_idx.suggest("qqqq") == []
    assert pos_idx.suggest("") == []
    with pytest.raises(ValueError, match="single term"):
        pos_idx.suggest("machine lerning")


class TestFuzzydictSidecar:
    def test_sidecar_equals_scan_and_staleness(self, spark, tmp_path,
                                               crash_store):
        from visigoth_spark.build import (append_index, build_fuzzydict,
                                          build_index)

        out = str(tmp_path / "fidx")
        build_index(spark, spark.createDataFrame(
            DOCS, "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        idx = SearchIndex(spark, out, analyzer=AN)
        scan = {t: idx.expand_fuzzy(t) for t in
                ("datum", "sow", "alpha", "qqqq", "prefib")}
        n = build_fuzzydict(spark, out)
        assert n > 0
        idx2 = SearchIndex(spark, out, analyzer=AN)
        for t, want in scan.items():
            # sidecar path must be LIVE (candidates resolvable) and equal
            assert idx2._fuzzy_sidecar_candidates(t) is not None, t
            assert idx2.expand_fuzzy(t) == want, t
        # transposition guard: variant intersection admits "ab"<->"ba"
        # (distance 2) — the verify must reject it
        assert "beta" not in idx2.expand_fuzzy("bate") or \
            _ed_ok("bate", "beta")
        # lifecycle: an append changes the vocabulary -> the sidecar is
        # delta-extended in the SAME op and stays live; the new term is
        # served from the SymSpell point read, not the scan
        append_index(spark, spark.createDataFrame(
            [("u99", "qqqx content")], "url string, text string"),
            out, analyzer=AN, num_partitions=1)
        idx3 = SearchIndex(spark, out, analyzer=AN)
        assert idx3._fuzzydict_ok
        assert idx3._fuzzy_sidecar_candidates("qqqq") == ["qqqx"]
        assert idx3.expand_fuzzy("qqqq") == ["qqqx"]
        # a crash mid-extend (the next append dies at its commit) leaves
        # the previous snapshot's sidecar, whose candidates stay correct
        with crash_store(match="snapshot-") as st:
            append_index(spark, spark.createDataFrame(
                [("u98", "qqqw content")], "url string, text string"),
                out, analyzer=AN, num_partitions=1)
        assert st["fired"]
        idx3b = SearchIndex(spark, out, analyzer=AN)
        assert idx3b._fuzzy_sidecar_candidates("qqqq") == ["qqqx"]
        assert idx3b.expand_fuzzy("qqqq") == ["qqqx"]
        build_fuzzydict(spark, out)
        idx4 = SearchIndex(spark, out, analyzer=AN)
        assert idx4._fuzzy_sidecar_candidates("qqqq") == ["qqqx"]
        assert idx4.expand_fuzzy("qqqq") == ["qqqx"]

    def test_sidecar_engine_path(self, spark, tmp_path):
        from visigoth_spark.build import build_fuzzydict, build_index

        out = str(tmp_path / "fidx2")
        build_index(spark, spark.createDataFrame(
            DOCS, "url string, text string"), out, analyzer=AN,
            num_partitions=2, store_positions=True)
        build_fuzzydict(spark, out)
        idx = SearchIndex(spark, out, analyzer=AN)
        a = _got(idx.search("datun", engine="bm25_fuzzy", k=10))
        b = _got(idx.search(" ".join(idx.expand_fuzzy("datun")),
                            engine="bm25_or", k=10))
        assert a == b and len(a) > 0


def _ed_ok(a, b):
    from visigoth_spark.query import _edit_distance_le

    return _edit_distance_le(a, b, 1)


def test_merge_repoints_fuzzydict_and_refresh_sees_rebuild(spark, tmp_path,
                                                          crash_store):
    """A minor merge keeps the sidecar live (vocabulary unchanged — the
    snapshot keeps naming its files); a rebuild after an append becomes
    visible at refresh() (snapshot semantics)."""
    from visigoth_spark.build import (append_index, build_fuzzydict,
                                      build_index, merge_appends)

    out = str(tmp_path / "mfidx")
    build_index(spark, spark.createDataFrame(
        DOCS[:10], "url string, text string"), out, analyzer=AN,
        num_partitions=2)
    # two appends (same vocab universe) then a fresh sidecar, then merge
    append_index(spark, spark.createDataFrame(
        DOCS[10:13], "url string, text string"), out, analyzer=AN,
        num_partitions=1)
    append_index(spark, spark.createDataFrame(
        DOCS[13:], "url string, text string"), out, analyzer=AN,
        num_partitions=1)
    build_fuzzydict(spark, out)
    idx0 = SearchIndex(spark, out, analyzer=AN)
    assert idx0._fuzzydict_ok
    merge_appends(spark, out, num_partitions=2)
    idx1 = SearchIndex(spark, out, analyzer=AN)
    assert idx1._fuzzydict_ok  # NOT false-staled by the layout-only merge
    assert idx1.expand_fuzzy("datun") == ["datum", "datun"]
    # vocabulary change: the append delta-extends the sidecar in the same
    # op — fresh at the next snapshot, new term served sidecar-side; a
    # LIVE handle still sees the old snapshot until refresh()
    append_index(spark, spark.createDataFrame(
        [("u98", "qqqz fresh")], "url string, text string"), out,
        analyzer=AN, num_partitions=1)
    # the pinned old snapshot may read the pre-extend files ([]), fall
    # back (None), or already see the delta file — never a wrong answer
    assert idx1._fuzzy_sidecar_candidates("qqqz") in (None, [], ["qqqz"])
    idx2 = SearchIndex(spark, out, analyzer=AN)
    assert idx2._fuzzydict_ok
    assert idx2.expand_fuzzy("qqqz") == ["qqqz"]
    assert idx2._fuzzy_sidecar_candidates("qqqz") == ["qqqz"]
    # snapshot semantics: a handle pins the sidecar it opened with; a
    # d=2 rebuild that crashed at its commit changes nothing, and
    # refresh() after the completed rebuild sees the new sidecar
    idx3 = SearchIndex(spark, out, analyzer=AN)
    assert idx3._fuzzydict_d == 1
    with crash_store(match="snapshot-") as st:
        build_fuzzydict(spark, out, max_edits=2)
    assert st["fired"]
    assert SearchIndex(spark, out, analyzer=AN)._fuzzydict_d == 1
    assert idx3.expand_fuzzy("qqqz") == ["qqqz"]
    build_fuzzydict(spark, out, max_edits=2)
    assert idx3._fuzzydict_d == 1  # pinned snapshot
    idx3.refresh()
    assert idx3._fuzzydict_d == 2
    assert idx3._fuzzy_sidecar_candidates("qqqz") == ["qqqz"]


def test_suggest_live_df_excludes_deleted(spark, tmp_path):
    from visigoth_spark.build import build_index, delete_docs

    out = str(tmp_path / "sidx")
    build_index(spark, spark.createDataFrame(
        DOCS, "url string, text string"), out, analyzer=AN,
        num_partitions=2)
    # tombstone every doc containing 'datum' (u06, u14 -> docids 6, 14)
    delete_docs(spark, out, urls=["u06", "u14"])
    idx = SearchIndex(spark, out, analyzer=AN)
    out2 = idx.suggest("datun")
    # datum's docs are all deleted -> never suggested; datun lived in u06
    # only -> also gone; data survives (u06 deleted but u11 lives)
    terms = [t for t, _ in out2]
    assert "datum" not in terms and "datun" not in terms


class TestFuzzydictLifecycle:
    """Round-5 lifecycle contract: a sidecar built ONCE stays fresh
    (``_fuzzydict_ok``) across every maintenance op — append (delta-
    extend), merge (re-point or rebuild), compact (staged rebuild) —
    so fuzzy/suggest never demote to the O(vocabulary) scan."""

    def test_fresh_across_maintenance_epochs(self, spark, tmp_path):
        from visigoth_spark.build import (append_index, build_fuzzydict,
                                          build_index, compact_index,
                                          merge_appends)

        out = str(tmp_path / "lfidx")
        build_index(spark, spark.createDataFrame(
            DOCS[:8], "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        build_fuzzydict(spark, out)
        epochs = []

        def snap(label):
            idx = SearchIndex(spark, out, analyzer=AN)
            epochs.append((label, idx._fuzzydict_ok))
            return idx

        snap("build+sidecar")
        append_index(spark, spark.createDataFrame(
            DOCS[8:12], "url string, text string"), out, analyzer=AN,
            num_partitions=1)
        snap("append1")
        append_index(spark, spark.createDataFrame(
            DOCS[12:], "url string, text string"), out, analyzer=AN,
            num_partitions=1)
        snap("append2")
        merge_appends(spark, out, num_partitions=2)
        snap("merge")
        append_index(spark, spark.createDataFrame(
            [("u90", "novel vocabword here")], "url string, text string"),
            out, analyzer=AN, num_partitions=1)
        snap("append3")
        compact_index(spark, out, num_partitions=2)
        idx = snap("compact")
        assert all(ok for _, ok in epochs), epochs
        # end state serves both old and newly-appended vocabulary from
        # the sidecar point read, equal to the scan result
        assert idx._fuzzy_sidecar_candidates("vocabword") == ["vocabword"]
        assert idx.expand_fuzzy("datun") == ["datum", "datun"]

    def test_merge_rebuilds_stale_sidecar(self, spark, tmp_path,
                                          crash_store):
        """An append that crashed before its commit (its variant file
        written, unreferenced) never leaves a sidecar missing terms: the
        re-run and the next append extend it, and the merge keeps it."""
        from visigoth_spark.build import (append_index, build_fuzzydict,
                                          build_index, merge_appends)

        out = str(tmp_path / "mridx")
        build_index(spark, spark.createDataFrame(
            DOCS[:8], "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        build_fuzzydict(spark, out)
        first = spark.createDataFrame(
            [("u91", "qqqy stuff")], "url string, text string")
        with crash_store(match="snapshot-") as st:
            append_index(spark, first, out, analyzer=AN, num_partitions=1)
        assert st["fired"]
        append_index(spark, first, out, analyzer=AN, num_partitions=1)
        append_index(spark, spark.createDataFrame(
            [("u92", "more stuff")], "url string, text string"), out,
            analyzer=AN, num_partitions=1)
        assert SearchIndex(spark, out, analyzer=AN)._fuzzydict_ok
        merge_appends(spark, out, num_partitions=2)
        idx = SearchIndex(spark, out, analyzer=AN)
        assert idx._fuzzydict_ok
        assert idx._fuzzy_sidecar_candidates("qqqy") == ["qqqy"]

    def test_compact_shrinks_vocabulary(self, spark, tmp_path):
        """Tombstone every doc holding a term, compact: the term leaves
        the termdict AND the rebuilt sidecar (sidecar == scan still)."""
        from visigoth_spark.build import (build_fuzzydict, build_index,
                                          compact_index, delete_docs)

        out = str(tmp_path / "shidx")
        build_index(spark, spark.createDataFrame(
            DOCS, "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        build_fuzzydict(spark, out)
        # 'datun' lives only in u06
        delete_docs(spark, out, urls=["u06"])
        compact_index(spark, out, num_partitions=2)
        idx = SearchIndex(spark, out, analyzer=AN)
        assert idx._fuzzydict_ok
        # sidecar candidates must NOT resurrect the purged term, and must
        # equal the scan fallback's answer
        assert idx.expand_fuzzy("datun") == ["datum"]
        cands = idx._fuzzy_sidecar_candidates("datun")
        assert cands is not None and "datun" not in cands


class TestFuzzydictD2:
    def test_d2_sidecar_equals_scan(self, spark, tmp_path):
        """SymSpell d=2 sidecar-served expansion ≡ the O(vocab) scan on
        the fixture vocabulary, for BOTH max_edits=1 and 2; size
        reported via the build return value."""
        from visigoth_spark.build import build_fuzzydict, build_index

        out = str(tmp_path / "d2idx")
        build_index(spark, spark.createDataFrame(
            DOCS, "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        idx_scan = SearchIndex(spark, out, analyzer=AN)
        probes = ("datum", "datun", "data", "alpha", "alhpa", "prefib",
                  "gamm", "zzta", "qq", "presto")
        want = {d: {t: idx_scan.expand_fuzzy(t, max_edits=d)
                    for t in probes} for d in (1, 2)}
        n1 = build_fuzzydict(spark, out, max_edits=1)
        idx1 = SearchIndex(spark, out, analyzer=AN)
        assert idx1._fuzzydict_d == 1
        # d=1 served by sidecar; d=2 exceeds it -> scan fallback (None)
        assert idx1._fuzzy_sidecar_candidates("datum", 2) is None
        for t in probes:
            assert idx1.expand_fuzzy(t, max_edits=1) == want[1][t], t
            assert idx1.expand_fuzzy(t, max_edits=2) == want[2][t], t
        n2 = build_fuzzydict(spark, out, max_edits=2)
        assert n2 > n1  # d=2 neighborhood strictly larger
        idx2 = SearchIndex(spark, out, analyzer=AN)
        assert idx2._fuzzydict_d == 2
        for t in probes:
            # both distances now sidecar-served and scan-identical
            for d in (1, 2):
                assert idx2.expand_fuzzy(t, max_edits=d) == want[d][t], (
                    t, d)
        # the d=2 point read is live (not silently falling back)
        assert idx2._fuzzy_sidecar_candidates("datum", 2) is not None
        with pytest.raises(ValueError, match="max_edits"):
            build_fuzzydict(spark, out, max_edits=3)

    def test_d2_suggest_uses_sidecar(self, spark, tmp_path):
        from visigoth_spark.build import build_fuzzydict, build_index

        out = str(tmp_path / "d2sg")
        build_index(spark, spark.createDataFrame(
            DOCS, "url string, text string"), out, analyzer=AN,
            num_partitions=2)
        build_fuzzydict(spark, out, max_edits=2)
        idx = SearchIndex(spark, out, analyzer=AN)
        got = idx.suggest("datxy", max_edits=2)
        terms = [t for t, _ in got]
        assert "datum" in terms and "data" in terms


class TestSuggestQuery:
    """Query-level did-you-mean (round-4 verdict task 9): per-token
    correction re-ranked by the AND-upper-bound estimated result df."""

    def test_corrects_both_tokens(self, pos_idx):
        out = pos_idx.suggest_query("datun alpa")
        assert out[0] == ("datum alpha", 2)
        assert ("datun alpha", 1) in out

    def test_original_query_never_suggests_itself(self, pos_idx):
        out = pos_idx.suggest_query("alpha beta")
        qs = [q for q, _ in out]
        assert "alpha beta" not in qs
        # beta's d=1 vocabulary neighbors (eta, zeta) tie on min-df and
        # sum-df; lexicographic tiebreak orders them
        assert qs[:2] == ["alpha eta", "alpha zeta"]

    def test_unknown_token_stays_verbatim(self, pos_idx):
        out = pos_idx.suggest_query("qqqq beta")
        assert out[0][0] == "qqqq eta"
        assert out[0][1] == 0  # AND-bound df: the unknown term zeroes it

    def test_single_token_query_matches_suggest(self, pos_idx):
        got = pos_idx.suggest_query("datun")
        want = [(t, d) for t, d in pos_idx.suggest("datun") if t != "datun"]
        assert got == want

    def test_empty_and_stopword_only(self, pos_idx):
        assert pos_idx.suggest_query("") == []
        assert pos_idx.suggest_query("...") == []

    def test_first_token_correction_enumerated(self, pos_idx):
        """Every token's candidates are combined: per_term shrinks until
        the full product fits max_candidates, instead of truncating a
        product that varies only the last tokens (which kept the first
        token on its top candidate)."""
        out = pos_idx.suggest_query("datux beta beta beta beta", k=100,
                                    max_candidates=40)
        assert out[0] == ("datum beta beta beta beta", 2)
        assert {q.split()[0] for q, _ in out} == {"datum", "datun"}

    def test_cli_suggest_routes_on_analyzed_tokens(self, spark, pos_idx,
                                                   capsys):
        """One quoted multi-word argument is a whole-query suggestion, a
        single word a term suggestion."""
        import json

        from visigoth_spark.cli import cmd_suggest

        def run(query):
            assert cmd_suggest(["--index", pos_idx.index_dir, "--no-stem",
                                query]) == 0
            return [json.loads(x)
                    for x in capsys.readouterr().out.splitlines()]

        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        saved = spark.conf.get(conf)  # the cli session sets it
        try:
            assert run("datun alpa")[0] == {"query": "datum alpha",
                                            "estimated_df": 2}
            assert run("datun")[0] == {"term": "datum", "df": 2}
        finally:
            spark.conf.set(conf, saved)
