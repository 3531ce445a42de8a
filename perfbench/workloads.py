"""The two workloads. Each takes a :class:`measure.Bench`, builds its
starting state (untimed), repeats its set-up for ``setup_s``, runs its
timed phase (passes over the queries while ``bench.seconds`` lasts on
serve; one fixed cycle of writes and reads on maintain) and checks the
program's outputs.

All load comes from this single-threaded client, one call at a time
(a closed loop with one client).
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import numpy as np

import visigoth_spark.build as vbuild
import visigoth_spark.query as vquery
from bench import _segments_digest
from inputs import Inputs, make_queries, text_bytes
from measure import (Bench, file_state, rows_of, same_results,
                     written_between)

K = 10
N_QUERIES = 120
SETUP_REPEATS = 3
WARMUP_PASSES = 2  # serve: ~240 queries bring the JVM to steady state
MIN_PASSES = 3  # serve's timed passes over the query stream, at least
ORACLE_DOCS = 300  # OracleIndex.put costs ~5 ms/doc
ORACLE_QUERIES = 12  # maintain: drawn from the slice, 3 engines each
CHECK_CHUNK = 50
CHECK_SAMPLE = 60  # distinct queries cross-checked on the other route


def _inputs(b: Bench, n_docs: int, n_extra: int = 0) -> Inputs:
    b.inputs = Inputs(os.path.join(b.work, "..", "inputs"), b.seed,
                      b.size(n_docs, 500), b.size(N_QUERIES, 20),
                      n_extra)
    return b.inputs


def _build(b: Bench, path: str, out: str) -> None:
    """Untimed index build of a url-sorted parquet corpus."""
    shutil.rmtree(out, ignore_errors=True)
    b.op("base_build", lambda: vbuild.build_index(
        b.spark, b.spark.read.parquet(path), out, assume_sorted=True))


def _query(b: Bench, idx, q: str, engine: str, served: dict,
           units: int = 1, tag=None) -> None:
    """One served top-k query (search + collect), a latency sample of the
    request ``(tag, q, engine)``; its rows go to ``served``. In the traced
    run the plan (route, cache hits, files planned) of a timed query is
    recorded first."""
    route = ""
    if b.tracer.enabled and b.timing:
        plan = idx.explain_query(q, engine, K)
        b.explains.append(plan)
        route = plan["route"].split()[0]
    rows = b.op("query", lambda: idx.search(q, engine, K).collect(),
                units=units, latency_key=(tag, q, engine), route=route)
    if rows is not None:
        served[(q, engine)] = rows_of(rows)


def _check_on_spark(b: Bench, idx, served: dict) -> None:
    """Each served query's top-k equals its ``search_many`` row set on the
    Spark route."""
    by_engine: dict[str, list[str]] = {}
    for q, engine in served:
        by_engine.setdefault(engine, []).append(q)
    for engine, qs in by_engine.items():
        for i in range(0, len(qs), CHECK_CHUNK):
            chunk = qs[i:i + CHECK_CHUNK]
            rows = b.op("check", lambda: idx.search_many(
                chunk, engine, K, route="spark").collect())
            if rows is None:
                continue
            ref = rows_of(rows, with_qid=True)
            for qid, q in enumerate(chunk):
                b.check(f"{engine} {q!r}: route=spark differs",
                        same_results(served[(q, engine)], ref.get(qid, [])))


def _sample(b: Bench, results: dict) -> dict:
    """A seeded sample of ``CHECK_SAMPLE`` distinct queries' results."""
    keys = sorted(results)
    pick = np.random.RandomState(b.seed).choice(
        len(keys), min(len(keys), CHECK_SAMPLE), replace=False)
    return {keys[i]: results[keys[i]] for i in pick}


def _check_oracle(b: Bench, sl, drawn: list[str], index_dir: str) -> None:
    """The pinned queries and ``drawn`` on the index of the docs ``sl``
    equal the pure-Python reference engine: bm25 and bm25_or (url, score)
    and hits (url, hits) top-k."""
    from visigoth_spark.corpus import PINNED_QUERIES
    from visigoth_spark.reference_engine import OracleIndex

    oracle = OracleIndex()
    for url, text in zip(sl["url"], sl["text"]):
        oracle.put(url, text)
    idx = vquery.SearchIndex(b.spark, index_dir)
    # queries that match something (empty results cost a Spark job each)
    qs = [q for q in PINNED_QUERIES + drawn if oracle.bm25_or_search(q, 1)]
    for q in qs:
        for engine, want in (("bm25", oracle.bm25_search(q, K)),
                             ("bm25_or", oracle.bm25_or_search(q, K)),
                             ("hits", oracle.hits_search(q)[:K])):
            rows = b.op("check", lambda: idx.search(q, engine, K).collect())
            got = [(r["url"], r["hits"] if engine == "hits" else r["score"])
                   for r in rows or []]
            b.check(f"oracle {engine} {q!r}", rows is not None and len(
                got) == len(want) and all(
                u == wu and abs(v - wv) <= 1e-9 * max(1.0, abs(wv))
                for (u, v), (wu, wv) in zip(got, want)))


# -- serve -------------------------------------------------------------------
def serve(b: Bench) -> None:
    """Closed loop, one client, on a warm SearchIndex: the seeded stream of
    top-10 queries (route="auto", mostly the driver route), pass after
    pass. ``WARMUP_PASSES`` untimed passes fill the hot-term cache and let
    the JVM compile the per-query path (createDataFrame/collect); until
    then a query costs up to twice its steady-state time, and how fast the
    JIT gets there varies from run to run. Timed passes then repeat while
    ``bench.seconds`` lasts (at least ``MIN_PASSES``): throughput is the
    median over them, and each query's latency the median of its timed
    repeats. Every query must return in each later pass what it returned
    in the first (cold-cache) one."""
    inp = _inputs(b, 6_000)
    base = os.path.join(b.work, "idx")
    _build(b, inp.corpus_path, base)
    b.index_dir, b.text_bytes = base, inp.text_bytes
    _open_repeated(b, base, *inp.queries[0])
    idx = vquery.SearchIndex(b.spark, base)
    first = _pass(b, idx, inp.queries)
    for _ in range(WARMUP_PASSES - 1):
        _pass(b, idx, inp.queries, first)
    with b.timed():
        while len(b.rounds) < MIN_PASSES or b.elapsed() < b.seconds:
            b.new_round()
            _pass(b, idx, inp.queries, first)
    _check_on_spark(b, idx, _sample(b, first))
    b.layer["query.cache_mb"] = idx._term_cache_bytes / 2**20


def _pass(b: Bench, idx, queries: list, first: dict | None = None,
          units: int = 1, tag=None) -> dict:
    """One pass over ``queries`` (see :func:`_query`); returns their rows.
    Each must equal its rows in ``first``, when given."""
    served: dict = {}
    for q, engine in queries:
        _query(b, idx, q, engine, served, units, tag)
    if first is not None:
        with b.paused():
            for key, got in served.items():
                b.check(f"repeat of {key} changed its result",
                        same_results(first.get(key, []), got))
    return served


def _open_repeated(b: Bench, path: str, q: str, engine: str) -> None:
    """The ``setup_s`` samples: ``SETUP_REPEATS`` times, open a SearchIndex
    on ``path`` and run its first query."""
    for _ in range(SETUP_REPEATS):
        b.setup_step(lambda: vquery.SearchIndex(b.spark, path).search(
            q, engine, K).collect())


# -- maintain ----------------------------------------------------------------
APPENDS = 2
APPEND_DOCS = 500
DELETE_DOCS = 50
BURST = 34  # 3 bursts: 102 requests, 10 of them beyond p90
BURST_REPEATS = 3


def maintain(b: Bench) -> None:
    """The index's life: a cold build, then writes beside reads.

    Set-up builds a small slice of the corpus twice with
    ``build_index(assume_sorted=True)`` (the first build warms the JVM and
    the Python workers); the builds must be identical, and the slice index
    must equal the reference engine on ``ORACLE_QUERIES`` queries drawn
    from the slice's docs. ``setup_s`` is measured on it as on serve. An
    append and a merge onto the slice index then compile the plans the
    timed ones reuse.

    The timed phase builds the base index from the sorted parquet corpus
    into a fresh directory with the same call, opens a reader on it, then
    runs two appends of fresh docs (each followed by refresh) and a burst,
    a delete of seeded urls, merge_appends + burst, compact_index + burst.
    The reader keeps no hot-term cache (``driver_cache_max_bytes=0``), so
    every query decodes its terms from the layout on disk and pays its
    read cost. A burst runs the stream's next ``BURST`` bm25 queries one by
    one (route "auto": the driver route), ``BURST_REPEATS`` times over;
    each query's latency is the median of its repeats. Then all of them
    run in one ``search_many(route="spark")``: the distributed scan,
    per-bucket WAND kernel and global merge on the appended, merged and
    compacted layouts, whose results the single queries must equal.
    Throughput is docs indexed (built and appended) per second of the
    timed phase."""
    from visigoth_spark.corpus import build_vocabulary

    n_app = b.size(APPEND_DOCS, 50)
    inp = _inputs(b, 3_000, n_extra=APPENDS * n_app)
    sl = inp.corpus.iloc[:b.size(ORACLE_DOCS, 100)]
    slice_path = os.path.join(b.work, "slice.parquet")
    sl.to_parquet(slice_path, index=False)
    small = os.path.join(b.work, "slice_idx")
    digests = set()
    for _ in range(2):
        _build(b, slice_path, small)
        digests.add(_segments_digest(small))
    b.check("builds of one corpus differ", len(digests) == 1)
    drawn = [q for q, _ in make_queries(
        b.size(ORACLE_QUERIES, 10), np.random.RandomState(b.seed),
        build_vocabulary(), list(sl["text"]))]
    _open_repeated(b, small, drawn[0], "bm25")
    _check_oracle(b, sl, drawn, small)
    # the JVM's first append and merge compile plans the timed ones reuse
    more = inp.corpus.iloc[len(sl):len(sl) + b.size(50, 5)]
    b.op("warm_append", lambda: vbuild.append_index(
        b.spark, b.spark.createDataFrame(more), small))
    b.op("warm_merge", lambda: vbuild.merge_appends(b.spark, small))

    work = os.path.join(b.work, "idx")
    b.index_dir = work
    stream = itertools.cycle([(q, e) for q, e in inp.queries if e == "bm25"])
    rng = np.random.RandomState(b.seed)
    live_urls = list(inp.corpus["url"])
    per_query: list[float] = []
    idx = None

    def burst():
        qs = [next(stream) for _ in range(b.size(BURST, 5))]
        tag = len(per_query)  # each burst's queries are requests of their own
        first = _pass(b, idx, qs, units=0, tag=tag)
        for _ in range(BURST_REPEATS - 1):
            _pass(b, idx, qs, first, units=0, tag=tag)
        t0 = time.perf_counter()
        rows = b.op("search_many", lambda: idx.search_many(
            [q for q, _ in qs], "bm25", K, route="spark").collect(),
            queries=len(qs))
        per_query.append((time.perf_counter() - t0) / len(qs))
        if rows is not None:
            with b.paused():
                got = rows_of(rows, with_qid=True)
                for i, key in enumerate(qs):
                    if key in first:
                        b.check(f"bm25 {key[0]!r}: route=spark differs",
                                same_results(first[key], got.get(i, [])))

    def write(name, fn, units=0):
        before = file_state(work) if b.tracer.enabled else None
        b.op(name, fn, units=units)
        if before is not None:
            with b.paused():
                b.written_bytes += written_between(before, file_state(work))
        if idx is not None:
            b.op("refresh", idx.refresh)

    with b.timed():
        b.text_bytes = inp.text_bytes
        write("build_index", lambda: vbuild.build_index(
            b.spark, b.spark.read.parquet(inp.corpus_path), work,
            assume_sorted=True), units=len(inp.corpus))
        idx = b.op("open", lambda: vquery.SearchIndex(
            b.spark, work, driver_cache_max_bytes=0))
        for i in range(APPENDS):
            part = inp.extra.iloc[i * n_app:(i + 1) * n_app]
            b.text_bytes += text_bytes(part)
            live_urls.extend(part["url"])
            write("append_index", lambda: vbuild.append_index(
                b.spark, b.spark.createDataFrame(part), work),
                units=len(part))
        burst()
        gone = [live_urls.pop(i) for i in sorted(
            rng.choice(len(live_urls), b.size(DELETE_DOCS, 5),
                       replace=False), reverse=True)]
        write("delete_docs",
              lambda: vbuild.delete_docs(b.spark, work, urls=gone))
        write("merge_appends", lambda: vbuild.merge_appends(b.spark, work))
        burst()
        write("compact_index", lambda: vbuild.compact_index(b.spark, work))
        burst()
    b.layer["storage.write_amp"] = b.written_bytes / b.text_bytes
    b.layer["query.batch_ms_per_query"] = float(np.median(per_query)) * 1e3
