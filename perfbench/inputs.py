"""Seeded workload inputs: a url-sorted parquet corpus and a query stream.

The corpus is ``visigoth_spark.corpus.write_corpus_parquet(path, n, seed)``
and the docs to append are ``generate_corpus(n_extra, seed + 1)`` with
their urls moved under ``/new-`` so they are disjoint from the corpus. The
query stream is shaped like ``generate_queries``: terms drawn from the
head (rank < 100 among non-stopwords), torso (< 2000) and tail.

Inputs depend only on (seed, sizes) and are cached per seed under the
work directory, so their generation is never part of a timed phase.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

# engine of query i is ENGINE_CYCLE[i % 10]: 80% AND-BM25, 10% OR, 10% hits
ENGINE_CYCLE = ("bm25",) * 8 + ("bm25_or", "hits")
# zones of query terms by vocabulary rank among non-stopwords: head, torso,
# tail. The head is wide enough that a 4k-doc corpus yields 200 distinct
# queries.
QUERY_ZONES = ((0, 100), (100, 2000), (2000, 20_000))
KEEP_SEEDS = 4  # cached seeds kept on disk
# the columns the benchmark hands to the program in memory (the corpus
# parquet also has html and warc_ts, which build_index prunes at the scan)
DOC_COLUMNS = ["url", "text", "lang"]


def make_queries(n: int, rng: np.random.RandomState, vocab: list[str],
                 texts: list[str], nomatch: bool = True
                 ) -> list[tuple[str, str]]:
    """``n`` distinct (query text, engine) pairs. The shape of query ``i``
    is fixed by ``i``, so every seed's stream has the same mix: its engine
    (``ENGINE_CYCLE``), 1-3 terms (same count for 10 queries in a row) and
    each term's rank zone (head, torso and tail in turn). The terms come
    from one random document, so every query matches at least that
    document, except that, with ``nomatch``, one query in 40 (an AND
    query) also carries a word absent from the vocabulary and matches
    nothing. The seed picks the words."""
    from visigoth_spark.stopwords_es import SPANISH_STOPWORDS

    rank = {w: i for i, w in enumerate(
        w for w in vocab if w.lower() not in SPANISH_STOPWORDS)}
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    for _ in range(100 * n):
        i = len(out)
        words = sorted(set(texts[rng.randint(len(texts))].split())
                       & rank.keys())
        terms = []
        for j in range(i // 10 % 3 + 1):
            lo, hi = QUERY_ZONES[(i + j) % len(QUERY_ZONES)]
            pool = [w for w in words if lo <= rank[w] < hi] or words
            terms.append(pool[rng.randint(len(pool))])
        if nomatch and i % 40 == 5:
            terms.append(f"nomatch{i}")
        q = " ".join(terms)
        if q not in seen:
            seen.add(q)
            out.append((q, ENGINE_CYCLE[i % len(ENGINE_CYCLE)]))
            if len(out) == n:
                return out
    raise RuntimeError(f"only {len(out)} distinct queries in {100 * n} draws")


class Inputs:
    """Everything one run feeds the program, made from ``seed``:

    - ``corpus_path``: url-sorted parquet of ``n_docs`` docs (the
      ``assume_sorted=True`` build source);
    - ``corpus``: the same rows as a pandas frame of ``DOC_COLUMNS``;
    - ``queries``: ``n_queries`` distinct (text, engine) pairs, each
      matching at least one doc (a query that matches nothing runs a Spark
      job, ~10x a driver-route query, whose time varies with the host);
    - ``extra``: ``n_extra`` fresh docs with urls disjoint from the corpus
      (appends)."""

    def __init__(self, cache_root: str, seed: int, n_docs: int,
                 n_queries: int, n_extra: int = 0):
        from visigoth_spark.corpus import (build_vocabulary, generate_corpus,
                                           write_corpus_parquet)

        key = f"seed{seed}-d{n_docs}-q{n_queries}-x{n_extra}"
        self.dir = d = os.path.join(cache_root, key)
        self.corpus_path = os.path.join(d, "corpus.parquet")
        if not os.path.exists(os.path.join(d, "DONE")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            write_corpus_parquet(self.corpus_path, n_docs, seed)
            extra = generate_corpus(n_extra, seed + 1)
            extra["url"] = extra["url"].str.replace("/page-", "/new-")
            extra[DOC_COLUMNS].to_parquet(os.path.join(d, "extra.parquet"),
                                          index=False)
            queries = make_queries(
                n_queries, np.random.RandomState(seed), build_vocabulary(),
                list(pd.read_parquet(self.corpus_path, columns=["text"])
                     ["text"]), nomatch=False)
            with open(os.path.join(d, "queries.json"), "w") as f:
                json.dump(queries, f)
            open(os.path.join(d, "DONE"), "w").close()
            _prune(cache_root, keep=d)
        self.corpus = pd.read_parquet(self.corpus_path, columns=DOC_COLUMNS)
        self.extra = pd.read_parquet(os.path.join(d, "extra.parquet"))
        with open(os.path.join(d, "queries.json")) as f:
            self.queries = [tuple(q) for q in json.load(f)]
        self.text_bytes = text_bytes(self.corpus)


def text_bytes(df: pd.DataFrame) -> int:
    """UTF-8 bytes of the ``text`` column."""
    return sum(len(t.encode()) for t in df["text"])


def _prune(cache_root: str, keep: str) -> None:
    """Keep the ``KEEP_SEEDS`` most recent cached input sets."""
    dirs = sorted((os.path.join(cache_root, e) for e in os.listdir(cache_root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
