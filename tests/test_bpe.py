"""Real-BPE token counting (round-4 verdict task 6): trainer determinism,
application semantics (the rank-order replace-all contract shared by
Python / Spark / DuckDB), and the three-way engine identity."""

from __future__ import annotations

import re

import duckdb
import pytest

from visigoth_spark.bpe import (
    MERGES_FILE,
    apply_bpe,
    bpe_token_count,
    load_merges,
    train_bpe,
)

SPLIT = re.compile(r"[^\W_]+", re.UNICODE)


# --- trainer ---------------------------------------------------------------


def test_train_deterministic_and_ordered():
    freqs = {"hola": 10, "holas": 4, "bola": 6, "bolas": 2, "ala": 5}
    m1 = train_bpe(freqs, 10)
    m2 = train_bpe(dict(reversed(list(freqs.items()))), 10)
    assert m1 == m2  # insertion order must not matter
    # the most frequent pair trains first: 'la' appears in every word
    assert m1[0] == ("l", "a")


def test_train_stops_when_no_pair_repeats():
    merges = train_bpe({"ab": 1, "cd": 1}, 50)
    assert merges == []  # every pair occurs once -> nothing to learn


def test_train_tiebreak_lexicographic():
    # 'ab' and 'cd' both occur twice; lexicographically smaller wins
    merges = train_bpe({"ab": 2, "cd": 2}, 1)
    assert merges == [("a", "b")]


# --- application semantics ---------------------------------------------------


def test_apply_repeat_run_left_to_right():
    # the '<a><a><a><a>' -> '<aa><aa>' non-overlapping scan (bpe.py doc)
    assert apply_bpe("aaaa", [("a", "a")]) == ["aa", "aa"]
    assert apply_bpe("aaa", [("a", "a")]) == ["aa", "a"]
    assert apply_bpe("aaaaa", [("a", "a"), ("aa", "aa")]) == ["aaaa", "a"]


def test_apply_no_cross_symbol_false_match():
    # after (a,b)->ab, the pair (b,b) must NOT match inside '<ab><b>'
    assert apply_bpe("abb", [("a", "b"), ("b", "b")]) == ["ab", "b"]


def test_apply_rank_order_full_word():
    merges = [("h", "o"), ("l", "a"), ("ho", "la")]
    assert apply_bpe("hola", merges) == ["hola"]
    assert apply_bpe("holas", merges) == ["hola", "s"]
    assert bpe_token_count("hola", merges) == 1


def test_apply_empty_and_unknown():
    merges = load_merges()
    assert apply_bpe("", merges) == []
    # a word with no trainable pairs stays character-split
    assert bpe_token_count("x", merges) == 1


def test_frozen_merges_file_shape():
    merges = load_merges(MERGES_FILE)
    assert len(merges) == 200
    assert all(a and b and " " not in a for a, b in merges)
    # merges compose: every non-initial symbol is built by an earlier merge
    known = set()
    for a, b in merges:
        for sym in (a, b):
            assert len(sym) == 1 or sym in known, sym
        known.add(a + b)


def test_frozen_merges_have_unique_outputs():
    """Rank-order folding equals priority-queue BPE only when no two
    merges produce the same symbol (bpe.py module docstring)."""
    merges = load_merges(MERGES_FILE)
    outputs = [a + b for a, b in merges]
    assert len(set(outputs)) == len(outputs)


# --- Spark plan == python reference == DuckDB oracle -------------------------


@pytest.fixture(scope="module")
def merges():
    return load_merges()


def test_spark_matches_python_reference(spark, merges):
    import pandas as pd

    from visigoth_spark.pipeline import token_counts_bpe

    rows = [
        (0, "Programación en Java: curso completo, 2024!"),
        (1, ""),
        (2, "aaaa aaa la la la programación"),
        (3, "León 92 años über"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.alnum_tokens, r.bpe_tokens)
        for r in token_counts_bpe(df, merges).collect()
    }
    for doc_id, text in rows:
        toks = SPLIT.findall(text.lower())
        want = (len(toks), sum(bpe_token_count(t, merges) for t in toks))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    assert got[1] == (0, 0)  # zero-token doc preserved by the left join


def test_harness_key_matches_duckdb_oracle(spark):
    from visigoth_spark.harness import SQL_TOKEN_COUNT_BPE, q_token_count_bpe

    sf_dir = "/root/testdata/sf0.001"
    sdf = (
        q_token_count_bpe(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = (
        con.execute(SQL_TOKEN_COUNT_BPE)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(sdf) == len(odf) > 0
    assert (sdf["alnum_tokens"].to_numpy()
            == odf["alnum_tokens"].to_numpy()).all()
    assert (sdf["bpe_tokens"].to_numpy()
            == odf["bpe_tokens"].to_numpy()).all()
    # real merges compress vs character count but never below 1 per token
    nonzero = sdf[sdf["alnum_tokens"] > 0]
    assert (nonzero["bpe_tokens"] >= nonzero["alnum_tokens"]).all()
