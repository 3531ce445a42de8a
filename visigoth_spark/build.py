"""Batch index build: corpus DataFrame -> on-disk inverted index.

Dataflow — ONE fused mapInPandas pass over the corpus, ZERO wide shuffles:

  corpus(url, text)
    -> deterministic partitioning substrate:
         assume_sorted: parquet file splits in url order (no shuffle at all)
         else: repartitionByRange(P, url) + sortWithinPartitions(url) [persist]
    -> pass 0: per-partition row counts -> driver prefix sums  (zero-column
       scan; P rows on the driver)
    -> pass 1 (mapInPandas, fused): per partition —
         dense global docid = offset[pid] + local row,
         vectorized analyze, tf via pandas groupby,
         sort (term, docid), vectorized multi-group varbyte encode
         -> SEGMENT rows (kind='s') for every term in the partition
         -> DOCMAP rows (kind='d') (docid, url, doclen)
       written ONCE, partitioned by (kind, batch).
  stats (N, total_tokens, avgdl) derived from segment metadata, committed
  with the batch list in the index's snapshot (below).

Why no (term, docid) shuffle: docids are assigned CONTIGUOUSLY per corpus
partition, so with bucket := partition id every (term, bucket) posting group
already lives inside exactly one map task. The shuffle the classic build
pays to co-locate a term's postings buys nothing here — per-term posting
lists are split across buckets by docid range (Lucene-style segments), and
query-time intersection is per-bucket embarrassingly parallel with zero
cross-bucket coordination (query.py concatenates a term's segments in
min_docid order).

Scale rationale (100 TB / 10^12 docs):
- **docid assignment** is one cheap zero-column counting pass + driver
  prefix sums — no global window, no driver materialization beyond P counts.
  Dense ids in url order make (score DESC, docid ASC) ≡ (score DESC,
  url ASC), the reference's determinism contract (search_result.go:31-38),
  and give delta=1-heavy varbyte streams.
- **head-term skew** (north_rule: explicit handling, not AQE-only): a head
  term's postings are split across ALL partitions, and no task ever holds
  more postings for one term than its own partition's doc count — the
  per-group memory bound is structural, independent of term frequency. There
  is no shuffle whose reducer could be skewed in the first place.
- **postings never carry text/urls** — analysis, tf-aggregation and encoding
  happen inside the partition that read the text; only compressed segment
  blobs and (docid, url) docmap rows are written out (SURVEY §1.5).
- **checkpoint/resume**: the corpus is built in ``n_batches`` partition-range
  batches; each batch writes its own parquet subdir and then commits a
  progress snapshot naming it (lineage: counts, bytes, wall time, per-file
  ranges). Resume skips the batches the last snapshot names. Batches are
  disjoint docid ranges, so segments across batches concatenate in sorted
  order at query time.

Control plane — one committed snapshot per index. The index's whole state
(visible batches with their per-file term/docid ranges, stats, the termdict
version, the fuzzydict file list, the tombstone file, the last streaming
epoch) is ONE immutable ``_manifests/snapshot-<n>.json``; readers take the
highest n. Every write op writes its new pieces to paths no snapshot names
yet (a new batch id, ``termdict/<n>/``, ``fuzzydict/<n>/``,
``_manifests/tombstones-<n>.json``), commits by writing snapshot n — a new
file name, so no rename and no window where the current state is absent —
and then deletes what the commit left unreferenced. A crash before the
commit leaves the previous snapshot current and only unreferenced debris
(reclaimed by ``gc_index``, or overwritten when the next op claims the same
paths).

Catalog-level semantics (index naming, aliases) live in catalog.py.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visigoth_spark.analysis import AnalyzerConfig, DEFAULT_ANALYZER, analyze_flat
from visigoth_spark.codec import (decode_groups, decode_positions,
                                  encode_groups, encode_positions_groups)
from visigoth_spark import storage as vstore

# one fused output schema: segment rows (kind='s') + docmap rows (kind='d').
# Non-applicable columns carry sentinel values (not nulls) to keep the Arrow
# conversion branch-free; readers always filter on kind first.
OUT_SCHEMA = (
    "kind string, bucket int, term string, df_seg int, sum_tf long, "
    "min_docid long, max_docid long, blob binary, skips binary, "
    "docid long, url string, doclen int, raw string, pos_blob binary"
)

_SEG_COLS = ["term", "df_seg", "sum_tf", "min_docid", "max_docid",
             "blob", "skips", "pos_blob"]
_DOC_COLS = ["docid", "url", "doclen", "raw"]


@dataclass
class BuildMetrics:
    n_docs: int = 0
    n_postings: int = 0
    n_segments: int = 0
    bytes_blob: int = 0
    total_tokens: int = 0
    wall_sec: float = 0.0


import contextlib
import socket


@contextlib.contextmanager
def _writer_lock(index_dir: str, op: str):
    """Enforce the single-concurrent-writer contract the maintenance ops
    (append/merge/compact/gc) document: two writers claiming the same batch
    id or snapshot number would corrupt the index. A create-exclusive
    lock file at the index root records (pid, host, op); a second writer
    fails with a clear error instead of corrupting. A lock whose pid is
    dead ON THIS host is a crashed writer's leftover and is broken
    automatically; a live-pid or foreign-host lock raises. Atomic on POSIX/HDFS
    (O_EXCL / create(overwrite=false)); best-effort on S3-like stores —
    pair with an external lease there (storage.py module notes).

    The lock lives at the INDEX ROOT, not under ``_manifests/``, which
    ``gc_index`` clears of everything the current snapshot does not name.

    Breaking a stale lock goes through a second exclusive file, the
    BREAK CLAIM (``WRITER_LOCK.break``): removing the dead holder's lock
    directly would race — two contenders that both read the same
    dead-pid holder would both remove-and-recreate, and the second
    remove deletes the first contender's FRESH lock, yielding exactly
    the concurrent writers the lock exists to prevent. Instead a
    contender must (1) win ``create_exclusive`` on the break claim,
    (2) RE-READ the main lock under that claim and re-verify the holder
    is still the dead one it saw — while the claim is held no other
    contender can remove the main lock, so the only way its content
    changes is a release+fresh-acquire, whose new holder is alive and
    aborts the break — and only then (3) remove the main lock, drop the
    claim, and go back to competing in ``create_exclusive`` like
    everyone else (it may lose to a third writer; that is correct). A
    break claim whose own holder is dead (breaker crashed mid-break) is
    itself removed after the same dead-pid check."""
    store = vstore.get_store(index_dir)
    store.makedirs(index_dir)
    lock = vstore.join(index_dir, "WRITER_LOCK")
    claim = lock + ".break"
    me = {"pid": os.getpid(), "host": socket.gethostname(), "op": op}
    payload = json.dumps(me).encode()

    def _holder(path) -> dict:
        try:
            return store.read_json(path)
        except FileNotFoundError:
            raise
        except (OSError, ValueError):
            return {}

    def _dead(holder: dict) -> bool:
        """True only for a provably dead holder pid ON THIS host."""
        if holder.get("host") != me["host"] or not holder.get("pid"):
            return False
        try:
            os.kill(int(holder["pid"]), 0)
        except ProcessLookupError:
            return True  # crashed writer on this host
        except PermissionError:
            pass  # alive, owned by another user
        return False

    for attempt in range(4):
        if store.create_exclusive(lock, payload):
            break
        try:
            holder = _holder(lock)
        except FileNotFoundError:
            # holder released between our failed create and the read —
            # definitionally not a live foreign lock; retry the create
            if attempt < 3:
                continue
            holder = {}
        if _dead(holder) and attempt < 3:
            if store.create_exclusive(claim, payload):
                try:
                    # re-verify under the claim: only remove if the main
                    # lock still names the dead holder we decided on
                    with contextlib.suppress(FileNotFoundError):
                        cur = _holder(lock)
                        if cur.get("pid") == holder.get("pid") and _dead(cur):
                            store.remove(lock)
                finally:
                    with contextlib.suppress(FileNotFoundError):
                        store.remove(claim)
                continue
            # someone else is mid-break: if THE BREAKER crashed, clear
            # its claim and retry; otherwise let it finish and recompete
            try:
                if _dead(_holder(claim)):
                    with contextlib.suppress(FileNotFoundError):
                        store.remove(claim)
            except FileNotFoundError:
                pass
            continue
        raise RuntimeError(
            f"index {index_dir!r} is locked by another writer "
            f"{holder or '<unreadable lock>'} ({lock}); maintenance "
            f"ops are single-writer — wait for it, or remove the lock "
            f"file if the writer is known dead"
        )
    else:
        raise RuntimeError(
            f"could not acquire the writer lock on {index_dir!r} after "
            f"contended retries ({lock})"
        )
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            store.remove(lock)


def _locked(op: str, dir_arg: int):
    """Decorator: run the maintenance op under the index writer lock
    (``dir_arg`` = positional index of the index/out dir argument)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out_dir = kwargs.get("out_dir", kwargs.get("index_dir"))
            if out_dir is None:
                out_dir = args[dir_arg]
            with _writer_lock(out_dir, op):
                return fn(*args, **kwargs)
        return wrapper
    return deco


def _input_file_size(f: str, spark) -> int:
    """Size of one DataFrame.inputFiles() entry. Spark reports these as
    URIs — 'file:/x' (single slash) for local files; other schemes go
    through their Hadoop store."""
    if f.startswith("file:"):
        return os.path.getsize("/" + f.split(":/", 1)[1].lstrip("/"))
    if vstore.is_uri(f):
        return vstore.get_store(f, spark).getsize(f)
    return os.path.getsize(f)


def _tick(op: str, label: str, since: list[float]) -> None:
    """With ``VISIGOTH_TIMING=1``, print the seconds since ``since[0]`` as
    stage ``label`` of ``op``; restart the stage clock either way."""
    if os.environ.get("VISIGOTH_TIMING") == "1":
        print(f"# {op} phase {label}: {time.time() - since[0]:.2f}s",
              flush=True)
    since[0] = time.time()


def _ranged_corpus(corpus: DataFrame, num_partitions: int,
                   extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Range-partition the corpus by url and sort within partitions — the
    deterministic docid substrate. Only url/text/lang (+ a statement column
    when requested) are shuffled; html is pruned at the scan (Catalyst
    column pruning)."""
    keep = ("url", "text", "lang") + tuple(
        c for c in extra_cols if c not in ("url", "text", "lang")
    )
    cols = [c for c in keep if c in corpus.columns]
    return (
        corpus.select(*cols)
        .repartitionByRange(num_partitions, "url")
        .sortWithinPartitions("url")
    )


def _partition_offsets(src: DataFrame) -> dict[int, int]:
    """Pass 0: per-partition counts -> prefix-sum offsets (P rows on driver).
    Projects zero data columns, so a parquet-backed src is a metadata-speed
    scan."""
    counts = (
        src.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(max(by_pid) + 1 if by_pid else 0):
        offsets[pid] = acc
        acc += by_pid.get(pid, 0)
    offsets[-1] = acc  # total doc count
    return offsets


def _seg_frame(terms: np.ndarray, docids: np.ndarray, tfs: np.ndarray,
               dls: np.ndarray, bucket: int,
               positions: np.ndarray | None = None) -> pd.DataFrame:
    """Encode one partition's accumulated (term, docid, tf, doclen) pairs
    into segment rows. Inputs must be sorted by (term, docid); find group
    boundaries vectorized, run the multi-group varbyte encoder once.
    ``positions``, when given, is the flat per-occurrence position array
    (pairs tiling it in the same (term, docid) order, ascending within a
    pair) — encoded as the parallel ``pos_blob`` stream (codec.py)."""
    change = np.empty(len(terms), dtype=bool)
    change[0] = True
    change[1:] = terms[1:] != terms[:-1]
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(terms))
    blobs, skips = encode_groups(starts, docids, tfs, dls)
    if positions is not None:
        pos_blobs = encode_positions_groups(starts, tfs, positions)
    else:
        pos_blobs = None
    # per-group sum_tf via segmented reduction (groups tile the array)
    sum_tf = np.add.reduceat(tfs, starts)
    n = len(starts)
    return pd.DataFrame(
        {
            "kind": np.full(n, "s", dtype=object),
            "bucket": np.full(n, bucket, dtype=np.int32),
            "term": terms[starts],
            "df_seg": (ends - starts).astype(np.int32),
            "sum_tf": sum_tf.astype(np.int64),
            "min_docid": docids[starts],
            "max_docid": docids[ends - 1],
            "blob": blobs,
            "skips": skips,
            "docid": np.full(n, -1, dtype=np.int64),
            "url": np.full(n, "", dtype=object),
            "doclen": np.zeros(n, dtype=np.int32),
            "raw": np.full(n, None, dtype=object),
            "pos_blob": (pos_blobs if pos_blobs is not None
                         else np.full(n, None, dtype=object)),
        }
    )


def _doc_frame(docids: np.ndarray, urls: np.ndarray, lens: np.ndarray,
               bucket: int, raws: np.ndarray | None = None) -> pd.DataFrame:
    n = len(docids)
    return pd.DataFrame(
        {
            "kind": np.full(n, "d", dtype=object),
            "bucket": np.full(n, bucket, dtype=np.int32),
            "term": np.full(n, "", dtype=object),
            "df_seg": np.zeros(n, dtype=np.int32),
            "sum_tf": np.zeros(n, dtype=np.int64),
            "min_docid": np.zeros(n, dtype=np.int64),
            "max_docid": np.zeros(n, dtype=np.int64),
            "blob": np.full(n, b"", dtype=object),
            "skips": np.full(n, b"", dtype=object),
            "docid": docids,
            "url": urls,
            "doclen": lens.astype(np.int32),
            "raw": (raws if raws is not None
                    else np.full(n, None, dtype=object)),
            "pos_blob": np.full(n, None, dtype=object),
        }
    )


def _fused_generator(offsets: dict[int, int], analyzer: AnalyzerConfig,
                     flush_docs: int = 500_000, bucket_base: int = 0,
                     index_col: str = "text", raw_col: str | None = None,
                     store_positions: bool = False):
    """mapInPandas fn: the whole per-partition build. Emits docmap rows as
    input batches stream through, accumulates (term, docid, tf, doclen)
    pairs, and encodes all of the partition's segments in one vectorized
    pass at the end (or every ``flush_docs`` docs — a flush splits terms
    into extra docid-disjoint segments, which query-time concatenation
    already handles, so memory stays bounded for huge partitions).

    ``index_col`` is what gets analyzed (the DocRequest *statement*,
    entities_request.go:31-38); ``raw_col``, when set, is the stored
    content hydrated into results as ``Doc.Raw`` (search_result.go:6-9)."""

    def gen(iterator):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        bucket = pid + bucket_base
        next_id = offsets.get(pid, 0)
        # acc: per-input-batch (terms, docids, tfs, doclens) group arrays,
        # each already (term-lex, docid)-sorted; a doc lives in exactly one
        # input batch, so groups never span batches
        acc: list[tuple] = []
        acc_docs = 0

        def flush():
            nonlocal acc, acc_docs
            if not acc:
                return None
            if len(acc) == 1:
                t, d, tf, dl, pos = acc[0]
            else:
                t = np.concatenate([a[0] for a in acc])
                d = np.concatenate([a[1] for a in acc])
                tf = np.concatenate([a[2] for a in acc])
                dl = np.concatenate([a[3] for a in acc])
                # cross-batch merge: re-sort the (distinct-pair) groups.
                # NOT np.lexsort((d, t)) on the object-string terms — at
                # web-scale partitions (10^7+ pairs) python-object compares
                # dominate the whole flush; dictionary-encode the terms
                # (one C pass), remap codes to lexicographic ranks, and
                # integer-lexsort instead (same order, measured ~2x on
                # 14M-pair partitions)
                denc = pc.dictionary_encode(pa.array(t, type=pa.string()))
                codes = denc.indices.to_numpy(
                    zero_copy_only=False).astype(np.int64)
                vocab = np.asarray(denc.dictionary.to_pylist(),
                                   dtype=object)
                vorder = np.argsort(vocab, kind="stable")
                rank_of = np.empty(len(vocab), dtype=np.int64)
                rank_of[vorder] = np.arange(len(vocab))
                order = np.lexsort((d, rank_of[codes]))
                if store_positions:
                    # gather each pair's variable-length position run into
                    # the new pair order (runs never merge: a doc lives in
                    # exactly one input batch)
                    pos_cat = np.concatenate([a[4] for a in acc])
                    src_off = np.zeros(len(tf), dtype=np.int64)
                    np.cumsum(tf[:-1], out=src_off[1:])
                    tf_o = tf[order]
                    out_starts = np.zeros(len(tf_o), dtype=np.int64)
                    np.cumsum(tf_o[:-1], out=out_starts[1:])
                    total = int(tf.sum())
                    idx = (np.repeat(src_off[order], tf_o)
                           + np.arange(total)
                           - np.repeat(out_starts, tf_o))
                    pos = pos_cat[idx]
                else:
                    pos = None
                t, d, tf, dl = t[order], d[order], tf[order], dl[order]
            acc = []
            acc_docs = 0
            return _seg_frame(t, d, tf, dl, bucket, positions=pos)

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            # flat-Arrow analysis: tokens stay in Arrow (RE2 split, is_in
            # stopwords, vectorized stem take) — no per-token Python objects
            terms_arr, lens = analyze_flat(pdf[index_col], analyzer)
            docids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            raws = (pdf[raw_col].to_numpy(dtype=object)
                    if raw_col is not None else None)
            yield _doc_frame(docids, pdf["url"].to_numpy(dtype=object),
                             lens, bucket, raws)
            if len(terms_arr) == 0:
                continue
            # tf per (term, doc) without pandas: dictionary-encode terms
            # (C, one pass), remap codes to lexicographic ranks, pack
            # (rank, local docid) into one int64 key, np.unique with counts
            # -> groups sorted by (term, docid). ~8x the pandas groupby.
            denc = pc.dictionary_encode(terms_arr)
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            vocab = np.asarray(denc.dictionary.to_pylist(), dtype=object)
            vorder = np.argsort(vocab, kind="stable")
            rank_of = np.empty(len(vocab), dtype=np.int64)
            rank_of[vorder] = np.arange(len(vocab))
            vocab_sorted = vocab[vorder]
            local = np.repeat(docids - docids[0], lens)
            rkey = rank_of[codes] * n + local
            if store_positions:
                # stable sort keeps each pair's occurrences in document
                # order, so the gathered positions stay ascending per pair
                order = np.argsort(rkey, kind="stable")
                rs = rkey[order]
                gb = np.empty(len(rs), dtype=bool)
                gb[0] = True
                gb[1:] = rs[1:] != rs[:-1]
                gstarts = np.flatnonzero(gb)
                uniq = rs[gstarts]
                counts = np.diff(np.append(gstarts, len(rs)))
                doc_starts = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=doc_starts[1:])
                pos_in_doc = (np.arange(len(codes), dtype=np.int64)
                              - np.repeat(doc_starts, lens))
                pos_flat = pos_in_doc[order]
            else:
                uniq, counts = np.unique(rkey, return_counts=True)
                pos_flat = None
            g_local = uniq % n
            acc.append((
                vocab_sorted[uniq // n],
                docids[0] + g_local,
                counts.astype(np.int64),
                lens[g_local],
                pos_flat,
            ))
            acc_docs += n
            if acc_docs >= flush_docs:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    return gen


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    analyzer: AnalyzerConfig = DEFAULT_ANALYZER,
    num_partitions: int | None = None,
    n_batches: int = 1,
    resume: bool = False,
    assume_sorted: bool = False,
    flush_docs: int = 500_000,
    store_raw: bool = False,
    statement_col: str | None = None,
    store_positions: bool = False,
) -> BuildMetrics:
    """Build (or resume) the inverted index at ``out_dir``.

    Each batch's segment files are rewritten term-range partitioned right
    after its fused zero-shuffle write (``_finalize_batch_segments``: the
    layout ``compact_index`` produces), so a fresh index is query-ready
    with file-level pruning from the first search: the planner enumerates
    ~1 segment file per query term instead of scheduling one split per
    corpus partition (the reference analogue is the hash-map probe being
    O(1) from the first Put, index_memory_index.go:24-27). Cost: one extra
    read+write of the COMPRESSED posting blobs per batch (~bytes_blob, a
    few percent of corpus bytes — never the corpus text, never the
    docmap/raw rows). Appends keep the fused layout; ``merge_appends``
    and ``compact_index`` establish the serving layout for them.

    ``store_positions``: also store each posting's token positions (in the
    analyzed token sequence) as the parallel ``pos_blob`` varbyte stream —
    required for ``engine="phrase"`` queries. Off by default: positions
    roughly double posting bytes at web scale, and every non-phrase query
    path ignores (and never reads) the column.

    ``store_raw``: store each document's content in the docmap so results
    can hydrate ``Doc.Raw`` (≙ search_result.go:6-9 / the ``"raw"`` field of
    search_result_easyjson.go:127-142). Off by default — at web scale the
    stored-content sidecar doubles the write volume and most serving paths
    hydrate from the source table instead.

    ``statement_col``: the DocRequest content/statement split
    (entities_request.go:31-38): when set, THIS column is analyzed/indexed
    while ``text`` is only stored (implies ``store_raw``) — search matches
    on the statement, results carry the content.

    ``assume_sorted``: the caller guarantees the corpus source is already
    globally sorted by url with partition order == url order (e.g. an
    Iceberg table maintained with a url sort order, or the bench fixture
    parquet). Skips the range shuffle entirely — docids come from
    (file-split order, row offset); parquet file splits of equal size keep
    file order (Spark's split packing sorts by length descending with a
    stable sort), which tests/test_engine_spark.py pins via docmap url
    monotonicity. The resulting index is identical to the shuffle path when
    the guarantee holds."""
    return _build(**locals())


def _build(spark, corpus, out_dir, analyzer=DEFAULT_ANALYZER,
           num_partitions=None, n_batches=1, resume=False,
           assume_sorted=False, flush_docs=500_000, store_raw=False,
           statement_col=None, store_positions=False, commit=None
           ) -> BuildMetrics:
    """``build_index``; ``commit`` holds extra snapshot fields for the
    final commit (the streaming epoch of a stream's first build)."""
    t0 = time.time()
    import visigoth_spark

    visigoth_spark.ensure_shipped(spark)
    if statement_col is not None and statement_col not in corpus.columns:
        raise ValueError(
            f"statement_col {statement_col!r} not in corpus columns "
            f"{corpus.columns}"
        )
    gen_kw = dict(analyzer=analyzer, flush_docs=flush_docs,
                  index_col=statement_col or "text",
                  raw_col="text" if (store_raw or statement_col) else None,
                  store_positions=store_positions)
    tmark = [t0]
    store = vstore.get_store(out_dir, spark)
    store.makedirs(vstore.join(out_dir, "_manifests"))
    snap = load_snapshot(out_dir, store)
    done = ({b["batch"]: b for b in snap["batches"]}
            if resume and snap is not None else {})

    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    saved_mpb = None
    persisted = False
    if assume_sorted:
        # split the sorted source into ~P read partitions (row-group
        # granularity); scoped to this build — restored in finally so the
        # session's other reads keep the default split size. No persist:
        # parquet re-reads are deterministic and cheaper than JVM row
        # caching of text columns.
        try:
            files = corpus.inputFiles()
            total = sum(_input_file_size(f, spark) for f in files)
            saved_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes",
                str(max(1 << 20, total // P)),
            )
        except Exception:
            saved_mpb = None
        keep = ("url", "text", "lang") + (
            (statement_col,) if statement_col else ()
        )
        cols = [c for c in dict.fromkeys(keep) if c in corpus.columns]
        src = corpus.select(*cols)
    else:
        # the range shuffle samples boundaries nondeterministically, so the
        # partitioning must be pinned across passes -> persist
        extra = (statement_col,) if statement_col else ()
        src = _ranged_corpus(corpus, P, extra).persist()
        persisted = True
    try:
        offsets = _partition_offsets(src)
        _tick("build", "offsets", tmark)
        n_docs = offsets.pop(-1)
        if n_docs == 0:
            raise ValueError("empty corpus")
        P = len(offsets)  # actual partition count (file splits when sorted)

        pids = sorted(offsets)
        batch_bounds = [
            pids[round(i * len(pids) / n_batches):
                 round((i + 1) * len(pids) / n_batches)]
            for i in range(n_batches)
        ]
        batches = []
        for bi, batch_pids in enumerate(batch_bounds):
            if bi in done:
                batches.append(done[bi])
                continue
            if not batch_pids:
                batches.append({"batch": bi, "partitions": [],
                                "buckets": [], "n_docs": 0})
                continue
            tb = time.time()
            part = src
            if len(batch_pids) < P:
                part = src.withColumn(
                    "_pid", F.spark_partition_id()
                ).filter(F.col("_pid").isin(batch_pids)).drop("_pid")
            batches.append(_index_batch(
                spark, store, out_dir, bi, part, offsets, batch_pids,
                n_docs, 0, gen_kw, "build", tb, tmark))
            # progress commit: resume skips the batches it names
            snap = _commit(store, out_dir, _next(
                snap, batches=list(batches), stats=None, termdict=None),
                snap)

        # ---- term dictionary: term -> (df, sum_tf) --------------------------
        # one aggregation over segment METADATA columns (no blobs touched);
        # term-sorted with small row groups so the query coordinator resolves
        # df/idf with a driver-side pruned read instead of a Spark job per
        # query (the Lucene term-dictionary-seek analogue).
        n = _next(snap)["id"]
        td = f"termdict/{n}"
        _write_termdict(_term_rows(spark, out_dir, batches),
                        vstore.join(out_dir, td), P)
        _tick("build", "termdict", tmark)
        stats = {
            "bm25": {"k1": 1.2, "b": 0.75},
            "store_raw": bool(store_raw or statement_col),
            "store_positions": store_positions,
            "statement_col": statement_col,
            "analyzer": {
                "keep_pattern": analyzer.keep_pattern,
                "lowercase": analyzer.lowercase,
                "stem": analyzer.stem,
                "n_stopwords": len(analyzer.stopwords),
            },
            "built_at_sec": time.time(),
            "wall_sec": time.time() - t0,
        }
        fresh = dict(_EMPTY, batches=batches, stats=stats, termdict=td)
        snap = _commit(store, out_dir,
                       _next(snap, **{**fresh, **(commit or {})}), snap)
        st = snap["stats"]
        return BuildMetrics(
            n_docs=n_docs, n_postings=st["n_postings"],
            n_segments=st["n_segments"], bytes_blob=st["bytes_blob"],
            total_tokens=st["total_tokens"], wall_sec=time.time() - t0)
    finally:
        if saved_mpb is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)
        if persisted:
            src.unpersist()


# the columns of a ``kind=s`` / ``kind=d`` file: the partitioned write
# keeps ``kind`` in the directory name only
_SEG_FILE_SCHEMA = OUT_SCHEMA.removeprefix("kind string, ")


# ---- the on-disk layout: one writer per file kind --------------------------
# Every data file of a batch is written by one of these three. Rows carry
# ``kind`` ('s' segment, 'd' docmap) and land under ``<path>/kind=<k>/`` in
# 4 MB row groups: segment files are term-sorted and docmap files
# docid-sorted, so query-term and docid filters prune row groups (the
# parquet analogue of the term-dictionary seek) and the per-file ranges
# the snapshot records prune whole files.

def _write_batch_rows(rows: DataFrame, path: str,
                      mode: str = "overwrite") -> None:
    """Write ``rows`` of either kind under ``path``, one dir per kind. The
    fused build/append write calls it directly; the write then sorts only
    by ``kind``, so within a kind the rows keep whatever order Spark's
    sort leaves (readers sort a row group at decode:
    ``query._SortedParquet``)."""
    (
        rows.write.mode(mode)
        .option("parquet.block.size", str(4 * 1024 * 1024))
        .partitionBy("kind")
        .parquet(path)
    )


def _write_segments(rows: DataFrame, path: str, n_files: int,
                    mode: str = "overwrite") -> None:
    """Segment rows, term-range partitioned into at most 64 files (disjoint
    per-file term ranges) and sorted by (term, bucket, min_docid) within
    each. The sort leads with the constant ``kind``: the partitioned write
    requires that order and would otherwise plan its own sort on ``kind``,
    which drops the one below."""
    _write_batch_rows(
        rows.repartitionByRange(max(1, min(64, n_files)), "term")
        .sortWithinPartitions("kind", "term", "bucket", "min_docid"),
        path, mode)


def _write_docmap(rows: DataFrame, path: str, n_files: int,
                  mode: str = "overwrite") -> None:
    """Docmap rows, docid-range partitioned into ``n_files`` files and
    docid-sorted within each (``kind`` first, as in ``_write_segments``)."""
    _write_batch_rows(
        rows.repartitionByRange(n_files, "docid")
        .sortWithinPartitions("kind", "docid"),
        path, mode)


def _finalize_batch_segments(spark: SparkSession, store, batch_path: str,
                             n_files: int) -> None:
    """Rewrite one batch's ``kind=s`` dir through ``_write_segments`` —
    the layout ``compact_index`` produces, established at build time so
    the per-file term ranges prune to ~1 file per query term from the
    first search. Only the compressed posting blobs move (one read+write
    of ~bytes_blob); the docmap files never do. Content is row-identical
    — file placement is the only thing that changes (the bench's resume
    digest compares sorted rows for exactly this reason). The rewrite goes
    to a temp dir that then replaces ``kind=s``; the batch dir is not
    named by any snapshot yet (the caller commits it after this returns),
    so a crash mid-rewrite leaves it unreferenced and resume redoes it."""
    seg_dir = vstore.join(batch_path, "kind=s")
    if not store.isdir(seg_dir):
        return  # batch whose docs all analyzed to zero tokens
    files = [vstore.join(seg_dir, f) for f in store.listdir(seg_dir)
             if f.endswith(".parquet")]
    if not files:
        return
    tmp = vstore.join(batch_path, "_seg_tmp")
    # basePath: ``kind`` comes back as the hive column the writer keys on
    _write_segments(
        spark.read.option("basePath", batch_path).schema(OUT_SCHEMA)
        .parquet(*files), tmp, n_files)
    store.rmtree(seg_dir)
    store.rename(vstore.join(tmp, "kind=s"), seg_dir)
    store.rmtree(tmp)


def _index_batch(spark: SparkSession, store, out_dir: str, batch: int,
                 src: DataFrame, offsets: dict[int, int], pids: list[int],
                 n_total: int, bucket_base: int, gen_kw: dict, op: str,
                 t0: float, tmark: list[float]) -> dict:
    """Index corpus partitions ``pids`` of ``src`` as batch ``batch`` of a
    build (``op="build"``) or an append (``op="append"``): the fused write
    (docids from ``offsets``, ``n_total`` past the last partition;
    ``gen_kw`` are ``_fused_generator``'s options), the term-range segment
    rewrite when building, and the batch's snapshot entry, marked
    ``appended`` for an append. Bucket = ``bucket_base`` + partition id.
    The entry's ``wall_sec`` counts from ``t0``; ``tmark`` is the op's
    stage clock."""
    path = vstore.join(out_dir, "data", f"batch={batch}")
    gen = _fused_generator(offsets, bucket_base=bucket_base, **gen_kw)
    _write_batch_rows(src.mapInPandas(gen, OUT_SCHEMA), path)
    _tick(op, f"batch {batch}", tmark)
    if op == "build":
        _finalize_batch_segments(spark, store, path, n_files=len(pids))
        _tick(op, f"batch {batch} finalize", tmark)
    ends = [offsets.get(p + 1, n_total) for p in pids]
    mark = {"appended": True} if op == "append" else {}
    return _batch_entry(
        spark, out_dir, batch, **mark, partitions=pids,
        buckets=[bucket_base + p for p in pids],
        docid_range=[offsets[pids[0]], ends[-1]],
        n_docs=ends[-1] - offsets[pids[0]],
        bucket_width=max(e - offsets[p] for p, e in zip(pids, ends)),
        wall_sec=time.time() - t0)


def _seg_meta(spark: SparkSession, batch_path: str):
    """Segment-metadata aggregate for one batch dir. Reads the batch ROOT
    with the hive `kind` partition filter (tolerates an absent kind=s dir —
    a batch whose docs all analyze to zero tokens writes only kind=d)."""
    return (
        spark.read.parquet(batch_path)
        .filter(F.col("kind") == "s")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("df_seg").alias("n_postings"),
            F.sum("sum_tf").alias("total_tokens"),
            F.sum(F.length("blob")).alias("bytes_blob"),
        )
        .collect()[0]
    )


# ---- the committed snapshot -------------------------------------------------
_SNAP = "snapshot-"

# a snapshot's fields besides ``id``: what a fresh index starts from
_EMPTY = {"batches": [], "stats": None, "termdict": None, "fuzzydict": None,
          "tombstones": None, "last_epoch": None}


def _snapshot_ids(store, index_dir: str) -> list[int]:
    """Numbers of the committed snapshots, ascending."""
    man = vstore.join(index_dir, "_manifests")
    if not store.isdir(man):
        return []
    return sorted(int(f[len(_SNAP):-5]) for f in store.listdir(man)
                  if f.startswith(_SNAP) and f.endswith(".json")
                  and f[len(_SNAP):-5].isdigit())


def _snapshot_path(index_dir: str, n: int) -> str:
    return vstore.join(index_dir, "_manifests", f"{_SNAP}{n}.json")


def load_snapshot(index_dir: str, store=None) -> dict | None:
    """The index's current state: the highest-numbered committed
    ``_manifests/snapshot-<n>.json``, or None when nothing is committed.
    A writer deletes the snapshot it superseded, so a read that loses
    that race lists again."""
    store = store or vstore.get_store(index_dir)
    for attempt in range(3):
        ids = _snapshot_ids(store, index_dir)
        if not ids:
            return None
        try:
            return store.read_json(_snapshot_path(index_dir, ids[-1]))
        except Exception:
            if attempt == 2:
                raise


def _require(index_dir: str, store) -> dict:
    """The current snapshot of a finished build; FileNotFoundError when
    there is none (nothing committed, or only an unfinished build's
    progress snapshots)."""
    snap = load_snapshot(index_dir, store)
    if snap is None or snap["stats"] is None:
        raise FileNotFoundError(f"no committed index at {index_dir!r}")
    return snap


def load_stats(index_dir: str) -> dict:
    """The current snapshot's stats (n_docs, avgdl, ...). Raises
    FileNotFoundError when no finished build is committed — the one
    "does this index exist" check."""
    return _require(index_dir, vstore.get_store(index_dir))["stats"]


def index_exists(index_dir: str) -> bool:
    """True once a build of ``index_dir`` has committed (see load_stats)."""
    try:
        load_stats(index_dir)
        return True
    except FileNotFoundError:
        return False


def _next(snap: dict | None, **changes) -> dict:
    """The snapshot after ``snap``: its fields with ``changes`` applied,
    numbered one past it."""
    prev = snap or dict(_EMPTY, id=-1)
    return {**prev, **changes, "id": prev["id"] + 1}


def _batch_totals(batches: list[dict]) -> dict:
    """The stats the batch list determines."""
    live = [b for b in batches if b["n_docs"]]
    n_docs = max(b["docid_range"][1] for b in live)
    total = sum(b["total_tokens"] for b in live)
    return {
        "n_docs": n_docs,
        "total_tokens": total,
        "avgdl": total / n_docs,
        "n_postings": sum(b["n_postings"] for b in live),
        "n_segments": sum(b["n_segments"] for b in live),
        "bytes_blob": sum(b["bytes_blob"] for b in live),
        # bucket == corpus partition: the structural per-segment bound is
        # the largest partition's doc count
        "bucket_width": max(b["bucket_width"] for b in live),
        "n_buckets": 1 + max(max(b["buckets"]) for b in live),
        "n_batches": len(live),
    }


def _named(snap: dict) -> set[str]:
    """Root-relative paths ``snap`` references: batch dirs, the termdict
    version, the fuzzydict dirs, the tombstone file."""
    out = {f"data/batch={b['batch']}" for b in snap["batches"]}
    out.update(p for p in (snap["termdict"], snap["tombstones"]) if p)
    if snap["fuzzydict"]:
        out.update(f.rsplit("/", 1)[0] for f in snap["fuzzydict"]["files"])
    return out


def _commit(store, index_dir: str, snap: dict, base: dict | None,
            gc: bool = True) -> dict:
    """The op's single commit point: write ``snap`` as a NEW snapshot
    file. Then, with ``gc``, delete what ``base`` (the snapshot the op
    started from) named and ``snap`` does not, and ``base``'s file."""
    snap["batches"] = sorted(snap["batches"], key=lambda b: b["batch"])
    if snap["stats"] is not None:
        snap["stats"] = {**snap["stats"], **_batch_totals(snap["batches"])}
    store.write_json_atomic(_snapshot_path(index_dir, snap["id"]), snap,
                            indent=None)
    if gc and base is not None:
        for rel in sorted(_named(base) - _named(snap)):
            path = vstore.join(index_dir, rel)
            if rel.startswith("_manifests/"):
                with contextlib.suppress(FileNotFoundError):
                    store.remove(path)
            else:
                store.rmtree(path)
        with contextlib.suppress(FileNotFoundError):
            store.remove(_snapshot_path(index_dir, base["id"]))
    return snap


def _read_batches(spark: SparkSession, index_dir: str, batches: list[dict]
                  ) -> DataFrame:
    """The rows of the given batches (hive columns ``batch`` and ``kind``
    included)."""
    data_root = vstore.join(index_dir, "data")
    return spark.read.option("basePath", data_root).parquet(
        *[vstore.join(data_root, f"batch={b['batch']}")
          for b in batches if b["n_docs"]])


def _term_rows(spark: SparkSession, index_dir: str, batches: list[dict]
               ) -> DataFrame:
    """(term, df, sum_tf) per segment row of the given batches."""
    return (_read_batches(spark, index_dir, batches)
            .filter(F.col("kind") == "s")
            .select("term", F.col("df_seg").cast("long").alias("df"),
                    "sum_tf"))


def _write_termdict(rows: DataFrame, path: str, n_buckets: int) -> None:
    """One termdict version: ``rows`` (term, df, sum_tf) summed per term,
    term-range partitioned and term-sorted with 1 MB row groups — the
    driver-side df seek reads only the row groups covering a query term."""
    (
        rows.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("sum_tf").alias("sum_tf"))
        .repartitionByRange(max(1, min(32, n_buckets // 4)), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 20))
        .parquet(path)
    )


def _batch_entry(spark: SparkSession, index_dir: str, batch: int,
                 **fields) -> dict:
    """A batch's snapshot entry: ``fields`` plus the segment totals and
    the per-file term and docid ranges, swept once from the footers of
    the batch as written."""
    path = vstore.join(index_dir, "data", f"batch={batch}")
    meta = _seg_meta(spark, path)
    return dict(
        fields, batch=batch,
        n_segments=int(meta["n_segments"] or 0),
        n_postings=int(meta["n_postings"] or 0),
        total_tokens=int(meta["total_tokens"] or 0),
        bytes_blob=int(meta["bytes_blob"] or 0),
        segfiles=_sweep_file_ranges(
            index_dir, [vstore.join(path, "kind=s")], "term", "term"),
        docfiles=_sweep_file_ranges(
            index_dir, [vstore.join(path, "kind=d")], "docid", "docid"),
    )


def _tombstone_ids(store, index_dir: str, snap: dict | None) -> list[int]:
    if snap is None or not snap["tombstones"]:
        return []
    path = vstore.join(index_dir, snap["tombstones"])
    return sorted(int(d) for d in store.read_json(path)["docids"])


def _write_tombstones(store, index_dir: str, n: int, docids) -> str:
    """The tombstone file snapshot ``n`` will name (a fresh path)."""
    rel = f"_manifests/tombstones-{n}.json"
    store.write_json_atomic(vstore.join(index_dir, rel),
                            {"docids": sorted(int(d) for d in docids)},
                            indent=None)
    return rel


def _metrics(entry: dict, n_docs: int, t0: float) -> BuildMetrics:
    return BuildMetrics(
        n_docs=n_docs, n_postings=entry["n_postings"],
        n_segments=entry["n_segments"], bytes_blob=entry["bytes_blob"],
        total_tokens=entry["total_tokens"], wall_sec=time.time() - t0)


@_locked("append", dir_arg=2)
def append_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    analyzer: AnalyzerConfig = DEFAULT_ANALYZER,
    num_partitions: int | None = None,
    flush_docs: int = 500_000,
    store_raw: bool = False,
    statement_col: str | None = None,
    batch_id: int | None = None,
    base_docid: int | None = None,
    bucket_base: int | None = None,
    store_positions: bool | None = None,
) -> BuildMetrics:
    """Incrementally ingest ``corpus`` into an EXISTING index (or create it).

    ``store_positions``: only meaningful when this call CREATES the index
    (the streaming first-epoch path) — an existing index's setting is an
    index-level invariant that appends inherit; passing a conflicting
    value raises instead of silently building a mixed index.

    ≙ the reference's incremental ``MemoryIndex.Put``
    (index_memory_index.go:44-60): new documents get docids continuing after
    the current max — insertion order, exactly the reference's append-time id
    assignment. The new docs land in a fresh batch dir with fresh bucket ids
    (disjoint from every existing bucket), so query-time per-bucket kernels
    and cross-batch segment concatenation keep working unchanged.

    One commit (single concurrent writer): ``batch_id`` / ``base_docid`` /
    ``bucket_base`` are derived from the current snapshot; the batch dir,
    a new termdict version (the old termdict UNION the batch's aggregate —
    O(vocabulary), never a re-scan of every batch) and, when the index has
    a fuzzydict, the batch's deletion-variant file are written to paths no
    snapshot names, and the next snapshot commits them together. A crash
    before that leaves the previous snapshot current; the orphan batch dir
    is overwritten by the next append, which claims the same id. Pinning
    ``batch_id`` to a batch the snapshot already names REPLACES that batch
    (a replay: the termdict is then recomputed over every batch, so the
    counts never double).

    Ordering note: WITHIN each appended batch docids follow url order; ACROSS
    batches they follow ingest order. The reference breaks exact-score ties
    on Document.ID() — the url STRING (search_result.go:31-38 +
    entities_doc.go:12-14) — NOT insertion order, so on an appended index
    the kernels' docid tiebreak can select a different k-set at the score
    boundary than strict url order would. query.py re-tiebreaks the
    hydrated top-k on url (contract holds within the returned set);
    ``compact_index`` restores url-ordered docids and with them the full
    contract. Exact-score ranking is unaffected (BM25 stats are global).
    """
    return _append(**locals())


def _append(spark, corpus, out_dir, analyzer=DEFAULT_ANALYZER,
            num_partitions=None, flush_docs=500_000, store_raw=False,
            statement_col=None, batch_id=None, base_docid=None,
            bucket_base=None, store_positions=None, commit=None
            ) -> BuildMetrics:
    """``append_index`` without the writer lock; ``commit`` holds extra
    fields for its snapshot (update_docs' tombstones, a streaming epoch)."""
    t0 = time.time()
    import visigoth_spark

    visigoth_spark.ensure_shipped(spark)
    store = vstore.get_store(out_dir, spark)
    base = load_snapshot(out_dir, store)
    if base is None or base["stats"] is None:
        return _build(spark, corpus, out_dir, analyzer=analyzer,
                      num_partitions=num_partitions, flush_docs=flush_docs,
                      store_raw=store_raw, statement_col=statement_col,
                      store_positions=bool(store_positions), commit=commit)
    stats = base["stats"]
    # positions are an index-level invariant: a mixed index (some batches
    # with pos_blob, some without) would silently break phrase queries on
    # the gap — appends always inherit the base index's setting
    inherited = bool(stats.get("store_positions"))
    if store_positions is not None and bool(store_positions) != inherited:
        raise ValueError(
            f"store_positions={store_positions} conflicts with the "
            f"index's setting ({inherited}); positions are an index-level "
            "invariant — rebuild (or compact into a new index) to change it"
        )
    store_positions = inherited
    if base_docid is None:
        base_docid = stats["n_docs"]
    if bucket_base is None:
        bucket_base = stats["n_buckets"]
    if batch_id is None:
        batch_id = 1 + max(b["batch"] for b in base["batches"])
    if statement_col is None:
        # inherit the index's statement/content split — an append must
        # analyze the same column the original build did
        statement_col = stats.get("statement_col")
    if statement_col is not None and statement_col not in corpus.columns:
        raise ValueError(
            f"statement_col {statement_col!r} not in corpus columns "
            f"{corpus.columns}"
        )
    if (store_raw or statement_col) and not stats.get("store_raw"):
        # retrofitting raw onto an index whose existing documents have no
        # stored content would make include_raw silently return null for
        # every pre-existing doc — refuse; rebuild with store_raw instead
        raise ValueError(
            "cannot enable store_raw on an existing index built without it"
        )

    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    extra = (statement_col,) if statement_col else ()
    src = _ranged_corpus(corpus, P, extra).persist()
    try:
        offsets = _partition_offsets(src)
        n_new = offsets.pop(-1)
        if n_new == 0:
            return BuildMetrics(n_docs=base_docid)
        offsets = {pid: off + base_docid for pid, off in offsets.items()}
        P = len(offsets)

        entry = _index_batch(
            spark, store, out_dir, batch_id, src, offsets, sorted(offsets),
            base_docid + n_new, bucket_base,
            dict(analyzer=analyzer, flush_docs=flush_docs,
                 index_col=statement_col or "text",
                 raw_col="text" if stats.get("store_raw") else None,
                 store_positions=store_positions),
            "append", t0, [t0])
        batches = [b for b in base["batches"] if b["batch"] != batch_id]
        n = base["id"] + 1
        td = f"termdict/{n}"
        new_rows = _term_rows(spark, out_dir, [entry])
        if len(batches) < len(base["batches"]):  # replay: recount all
            rows = _term_rows(spark, out_dir, batches + [entry])
        else:
            rows = (spark.read.parquet(vstore.join(out_dir, base["termdict"]))
                    .select("term", "df", "sum_tf").unionByName(new_rows))
        _write_termdict(rows, vstore.join(out_dir, td), bucket_base + P)
        fd = base["fuzzydict"]
        if fd:
            # keep the sidecar complete: add the batch's terms' variants
            # (rows for terms it already holds are harmless duplicates —
            # readers dedup candidates; compaction rebuilds it)
            fd = dict(fd, files=fd["files"] + _fuzzy_files(
                spark, store, out_dir, n, new_rows.select("term").distinct(),
                fd["max_edits"], 1))
        snap = _commit(store, out_dir, _next(
            base, batches=batches + [entry], termdict=td, fuzzydict=fd,
            stats=dict(stats, built_at_sec=time.time()),
            **(commit or {})), base)
        return _metrics(entry, snap["stats"]["n_docs"], t0)
    finally:
        src.unpersist()


@_locked("merge", dir_arg=1)
def merge_appends(
    spark: SparkSession,
    index_dir: str,
    num_partitions: int | None = None,
    min_batches: int = 2,
    gc: bool = True,
) -> BuildMetrics | None:
    """Tiered (minor) compaction: collapse the appended/previously-merged
    batches into ONE term-range-partitioned batch without touching the
    base build batches and WITHOUT decoding a single posting blob — the
    LSM / Lucene tiered-merge analogue, with ``compact_index`` as the
    major compaction (the reference never needs either: ``MemoryIndex``
    is one in-memory map, index_memory_index.go:11-18).

    - **File-layout only.** Segment rows (one per (term, bucket, chunk);
      the blob stays opaque) are rewritten ``repartitionByRange(term)`` so
      the merged tier gets ~disjoint per-file term ranges; docmap rows are
      rewritten docid-range partitioned. Docids, buckets, scores and
      result order are byte-identical to the pre-merge index — no docid
      remap, no re-encode, no text touched.
    - **Bounds query fan-out.** N appends leave N batch dirs and ~N file
      splits per query term; after a merge a term touches ~1 merged file.
    - **One commit.** The merged batch is written under a new batch id
      that no snapshot names; the next snapshot lists it (with
      ``replaces=[...]``) in place of the batches it folds. The termdict
      and fuzzydict stay as they are: the vocabulary and every (term, df,
      sum_tf) are unchanged. A crash before the commit leaves an inert
      orphan dir, overwritten by the next merge. Single concurrent writer,
      same as ``append_index``.

    At 10^12-doc scale this is the steady-state maintenance op: appends
    accumulate small L0 batches, ``merge_appends`` rolls them into the L1
    tier at file-shuffle cost, and the full rewrite (url-order remap +
    re-encode) runs rarely, when the ingest-order tiebreak or bucket-count
    drift starts to matter.

    ``gc=False`` defers reclamation: the replaced batches stay on disk, so
    readers that opened the previous snapshot keep working; ``gc_index``
    deletes them once those readers are gone.

    Returns the merged batch's metrics, or None when fewer than
    ``min_batches`` appended batches exist."""
    t0 = time.time()
    import visigoth_spark

    visigoth_spark.ensure_shipped(spark)
    store = vstore.get_store(index_dir, spark)
    base = _require(index_dir, store)
    to_merge = [b for b in base["batches"]
                if b.get("appended") or b.get("merged")]
    if len(to_merge) < min_batches:
        return None
    src_ids = [b["batch"] for b in to_merge]
    new_batch = 1 + max(b["batch"] for b in base["batches"])
    batch_path = vstore.join(index_dir, "data", f"batch={new_batch}")
    store.rmtree(batch_path)  # inert orphan from a crashed prior merge
    rows = _read_batches(spark, index_dir, to_merge).drop("batch")
    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    _write_segments(rows.filter(F.col("kind") == "s"), batch_path, P)
    _write_docmap(rows.filter(F.col("kind") == "d"), batch_path,
                  max(1, min(32, P)), mode="append")
    entry = _batch_entry(
        spark, index_dir, new_batch, merged=True, replaces=src_ids,
        docid_range=[min(b["docid_range"][0] for b in to_merge),
                     max(b["docid_range"][1] for b in to_merge)],
        n_docs=sum(b["n_docs"] for b in to_merge),
        buckets=sorted({x for b in to_merge for x in b["buckets"]}),
        bucket_width=max(b["bucket_width"] for b in to_merge),
        wall_sec=time.time() - t0)
    batches = [b for b in base["batches"] if b["batch"] not in src_ids]
    snap = _commit(store, index_dir, _next(
        base, batches=batches + [entry],
        stats=dict(base["stats"], merged_at_sec=time.time())), base, gc=gc)
    return _metrics(entry, snap["stats"]["n_docs"], t0)


@_locked("gc", dir_arg=0)
def gc_index(index_dir: str) -> list[int]:
    """Delete everything the current snapshot does not name: older
    snapshots, batch dirs (the replaced batches ``merge_appends(gc=False)``
    left behind, orphans of crashed ops), termdict and fuzzydict versions,
    tombstone files. Only call once readers of older snapshots are gone
    (single-writer contract, like every other maintenance op here). Safe
    to re-run. Returns the batch ids reclaimed."""
    store = vstore.get_store(index_dir)
    snap = load_snapshot(index_dir, store)
    if snap is None:
        return []
    keep = _named(snap) | {f"_manifests/{_SNAP}{snap['id']}.json"}
    victims = []
    for sub in ("data", "termdict", "fuzzydict", "_manifests"):
        d = vstore.join(index_dir, sub)
        if not store.isdir(d):
            continue
        for name in store.listdir(d):
            if f"{sub}/{name}" in keep:
                continue
            path = vstore.join(d, name)
            if sub == "_manifests":
                store.remove(path)
            else:
                store.rmtree(path)
                if name.startswith("batch="):
                    victims.append(int(name[len("batch="):]))
    return sorted(victims)


def load_tombstones(index_dir: str) -> list[int]:
    """The index's tombstoned docids (sorted), [] when none."""
    store = vstore.get_store(index_dir)
    return _tombstone_ids(store, index_dir, load_snapshot(index_dir, store))


@_locked("delete", dir_arg=1)
def delete_docs(spark: SparkSession, index_dir: str,
                urls=None, docids=None) -> int:
    """LSM-style document deletion: commit the docids as TOMBSTONES — a
    new immutable ``_manifests/tombstones-<n>.json`` holding the whole
    set, named by the next snapshot (later appends carry its path, never
    a copy of the set).

    Semantics (exactly Lucene's deleted-docs model):
    - queries mask tombstoned docs BEFORE scoring and k-capping (exact —
      a deleted doc can never appear in results, and survivors' ranks are
      computed as if it simply lost the match);
    - BM25 corpus statistics (df, n_docs, avgdl) keep counting deleted
      docs until the next ``compact_index``, which purges them physically
      (docmap rows dropped pre-remap, postings dropped by the remap join)
      and clears the tombstone set;
    - ``merge_appends`` is unaffected (file layout only — docids stable).
    An update is delete + append (``update_docs`` commits both at once;
    the reference's Put always appends a NEW doc even for a repeated url —
    entities_doc.go:12-14 identity is the url STRING; tombstoning the old
    docid gives replace semantics).

    ``urls`` resolve against the current snapshot's docmap; unknown urls
    delete nothing. Returns the number of newly tombstoned docids
    (idempotent: re-deleting is 0 and commits nothing). Scale note: the
    tombstone set ships to query kernels with the task closure — keep it
    modest (<~1M) and compact to reclaim."""
    if (urls is None) == (docids is None):
        raise ValueError("pass exactly one of urls= or docids=")
    store = vstore.get_store(index_dir, spark)
    base = _require(index_dir, store)
    if docids is None:
        urls = list(urls)
        if not urls:
            return 0
        rows = (
            _read_batches(spark, index_dir, base["batches"])
            .filter(F.col("kind") == "d")
            .filter(F.col("url").isin(urls))
            .select("docid").collect()
        )
        docids = [r["docid"] for r in rows]
    cur = set(_tombstone_ids(store, index_dir, base))
    new = {int(d) for d in docids} - cur
    if new:
        n = base["id"] + 1
        _commit(store, index_dir, _next(
            base, tombstones=_write_tombstones(store, index_dir, n,
                                               cur | new)), base)
    return len(new)


def _deletion_variants(term_col, max_edits: int):
    """Array column: the term itself plus every string reachable by
    deleting up to ``max_edits`` characters (the SymSpell deletion
    neighborhood), deduplicated — pure Catalyst, no Python in the row
    path. ``max_edits=2`` builds the 2-deletion neighborhood as the
    1-deletions of the 1-deletions."""
    def del1(col):
        return F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.concat(
                col.substr(F.lit(1), i - 1),
                col.substr(i + 1, F.length(col)),
            ),
        )

    d1 = del1(term_col)
    out = F.array_union(F.array(term_col), d1)
    if max_edits >= 2:
        out = F.array_union(out, F.flatten(F.transform(d1, del1)))
    return F.array_distinct(out)


def _fuzzy_files(spark: SparkSession, store, root: str, n: int,
                 terms: DataFrame, max_edits: int, n_files: int
                 ) -> list[str]:
    """Write the (variant, term) rows of ``terms`` to ``fuzzydict/<n>/`` —
    a path only snapshot ``n`` will name — variant-range partitioned and
    variant-sorted; return its parquet files, root-relative."""
    rel = f"fuzzydict/{n}"
    path = vstore.join(root, rel)
    (
        terms.select(
            F.explode(_deletion_variants(F.col("term"), max_edits))
            .alias("variant"),
            "term",
        )
        .repartitionByRange(n_files, "variant")
        .sortWithinPartitions("variant", "term")
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 20))
        .parquet(path)
    )
    return [f"{rel}/{f}" for f in store.listdir(path)
            if f.endswith(".parquet")]


@_locked("fuzzydict", dir_arg=1)
def build_fuzzydict(spark: SparkSession, index_dir: str,
                    num_files: int = 4, max_edits: int = 1) -> int:
    """SymSpell-style deletion-neighborhood sidecar for fuzzy expansion:
    one (variant, term) row for every vocabulary term and each of its
    up-to-``max_edits``-deletion strings, variant-range partitioned +
    variant-sorted. Two terms are within Levenshtein distance d iff their
    d-deletion neighborhoods intersect (incl. the terms themselves), so a
    fuzzy lookup becomes a row-group-pruned point read of the query's
    deletion-neighborhood keys instead of the O(vocabulary) scan — the
    public SymSpell design (Garbe), which is the scale path
    ``expand_fuzzy`` documents. ``max_edits=2`` serves both d=1 and d=2
    lookups (a 1-deletion neighborhood is a subset of the stored
    2-deletion one; extra candidates die at the exact verify) at
    O(len^2) variants per term.

    Lifecycle: the snapshot names the sidecar's file list, so it is fresh
    by construction. The maintenance ops keep it so — ``append_index``
    adds a file of the batch's terms' variants in its own commit,
    ``merge_appends`` keeps it (vocabulary unchanged), and
    ``compact_index`` rebuilds it (the vocabulary can SHRINK there:
    tombstone purge drops fully-deleted terms) — so one explicit build
    keeps the O(keys) path live for the index's lifetime. Returns the
    variant row count."""
    import visigoth_spark

    visigoth_spark.ensure_shipped(spark)
    if max_edits not in (1, 2):
        raise ValueError("max_edits must be 1 or 2")
    store = vstore.get_store(index_dir, spark)
    base = _require(index_dir, store)
    n = base["id"] + 1
    terms = spark.read.parquet(
        vstore.join(index_dir, base["termdict"])).select("term")
    files = _fuzzy_files(spark, store, index_dir, n, terms, max_edits,
                         num_files)
    _commit(store, index_dir, _next(base, fuzzydict={
        "files": files, "max_edits": max_edits, "num_files": num_files}),
        base)
    return spark.read.parquet(
        *[vstore.join(index_dir, f) for f in files]).count()


@_locked("update", dir_arg=1)
def update_docs(spark: SparkSession, index_dir: str, corpus: DataFrame,
                analyzer: AnalyzerConfig = DEFAULT_ANALYZER,
                num_partitions: int | None = None,
                driver_url_max: int = 100_000,
                tombstone_max: int = 2_000_000,
                **append_kwargs) -> int:
    """Replace-by-url: tombstone the index's CURRENT docs for ``corpus``'s
    urls and append ``corpus`` as new docs — the engine-level update
    primitive, ONE commit: the tombstones and the appended batch become
    visible in the same snapshot, so a crash leaves either the old docs or
    the new ones, never neither. Returns how many urls existed before
    (were replaced); the rest are plain inserts.

    Scale guard: batches of up to ``driver_url_max`` distinct urls take
    the point path (url IN-list pruned docmap scan). Bigger batches
    switch to a join-based matching plan — the corpus's distinct urls
    join the docmap executor-side, so neither the url list nor its plan
    literals ever materialize on the driver. The matched-docid count is
    still bounded by ``tombstone_max`` with a LOUD error: tombstones are
    a driver/manifest-resident set by design (query.py masks them into
    every kernel), so a rewrite touching more live docs than that must go
    through ``build_index``/``compact_index`` instead of pretending to be
    an update."""
    # one count decides the matching plan; distinct() also makes the
    # "replaced" accounting url-unique by construction
    urls_df = corpus.select("url").distinct()
    n_urls = urls_df.count()
    store = vstore.get_store(index_dir, spark)
    base = load_snapshot(index_dir, store)
    replaced, commit = 0, None
    if n_urls and base is not None and base["stats"] is not None:
        docmap = (_read_batches(spark, index_dir, base["batches"])
                  .filter(F.col("kind") == "d"))
        if n_urls <= driver_url_max:
            # point path: IN-list filter prunes docmap files/row-groups
            urls = [r["url"] for r in urls_df.collect()]
            rows = (docmap.filter(F.col("url").isin(urls))
                    .select("url", "docid").collect())
        else:
            # join path: urls stay distributed; only the MATCHED (url,
            # docid) pairs come back, after the tombstone_max count gate
            matched = docmap.join(urls_df, "url").select("url", "docid")
            n_matched = matched.count()
            if n_matched > tombstone_max:
                raise ValueError(
                    f"update_docs matched {n_matched:,} existing docs — "
                    f"above tombstone_max={tombstone_max:,}. A rewrite "
                    "this size must not run through the tombstone path "
                    "(the docid set is driver/manifest-resident): rebuild "
                    "with build_index, or update in bounded batches and "
                    "compact_index between them."
                )
            rows = matched.collect()
        live = set(_tombstone_ids(store, index_dir, base))
        found = [(r["url"], int(r["docid"])) for r in rows
                 if int(r["docid"]) not in live]
        # replaced = DISTINCT urls currently visible (a url ingested twice
        # counts once; an already-tombstoned url counts zero — it no
        # longer "exists"); the tombstones themselves are by docid
        replaced = len({u for u, _ in found})
        if found:
            commit = {"tombstones": _write_tombstones(
                store, index_dir, base["id"] + 1,
                live | {d for _, d in found})}
    _append(spark, corpus, index_dir, analyzer=analyzer,
            num_partitions=num_partitions, commit=commit, **append_kwargs)
    return replaced


@_locked("compact", dir_arg=1)
def compact_index(
    spark: SparkSession,
    index_dir: str,
    dest: str | None = None,
    num_partitions: int | None = None,
    flush_docs: int = 500_000,
) -> BuildMetrics:
    """Merge a multi-batch (appended) index back into the canonical
    single-batch layout — the Lucene force-merge analogue for this engine
    (north_rule "merge" clause; the reference never needs it because
    ``MemoryIndex`` is one in-memory map, index_memory_index.go:11-18).

    What compaction restores after a run of ``append_index`` calls:

    - **url-ordered dense docids**: appended batches assign docids in ingest
      order, so exact-score ties are broken by ingest order. Compaction
      reassigns docids densely in global url order, restoring
      (score DESC, docid ASC) ≡ (score DESC, url ASC) — the pure-batch-build
      determinism contract (search_result.go:31-38).
    - **bounded bucket count**: every append adds P fresh buckets; the
      per-bucket query kernel fans out per bucket, so hundreds of appends
      mean hundreds of tiny kernel groups. Compaction rewrites to exactly P
      range-partitioned buckets.
    - **one segment run per term**: per-term postings fragmented across
      batch dirs collapse into at most ceil(bucket_docs/flush_docs) segments
      per (term, bucket), cutting per-query decode/seek overhead.
    - **term-range file layout**: compacted segment files are
      range-partitioned AND sorted by term (the build's per-corpus-partition
      files are only term-sorted *within* a file), so a query term's
      segments for ALL buckets live in one file — row-group pruning touches
      a single file per term instead of one per corpus partition.

    Dataflow (never touches corpus text — compaction is metadata + postings
    only, ~bytes_blob + docmap in, same out):

      docmap (all batches) --left_anti tombstones (Arrow local relation,
        broadcast)--> --repartitionByRange(url)--> pass 0 offsets
        --mapInPandas--> map(docid_old -> docid_new, bucket_new) [staged]
      segments --mapInPandas: codec.decode_groups, one varbyte pass per
        Arrow batch--> (term, docid_old, tf, dl) [doclens ride in the blob]
        --join map on docid_old (broadcast when small, SMJ at scale)-->
        --groupBy(bucket, docid_new // flush_docs) applyInPandas-->
          re-encoded segment rows [staged, so encode runs once]
          --repartitionByRange(term)--> write
      a new termdict version (and fuzzydict, when the index has one);
      ONE snapshot commits the compacted batch in place of every batch.
      ``VISIGOTH_TIMING=1`` prints each stage's seconds.

    Invariants preserved (asserted by tests/test_compact.py): the multiset
    of per-term (url, tf, doclen) postings, n_docs, total_tokens,
    n_postings, store_raw content, BM25 scores. Per-doc-range memory in the
    encode stage is bounded by ``flush_docs`` docs per group — a group is a
    (bucket, docid-chunk), never a whole term's posting list, so head-term
    skew cannot concentrate in one task (same structural bound as the
    build).

    ``dest``: write the compacted index to a NEW directory, leaving
    ``index_dir`` untouched (repoint an alias after, catalog.py).
    ``dest=None`` compacts in place, with the same commit rule as every
    other op: the compacted batch gets a new batch id, its termdict a new
    version, the next snapshot names them instead of the old generation,
    and the old generation is deleted after that commit. Readers see the
    old index or the new one at every step — no rename is involved, so the
    same holds on object stores. The staging dir (``_compact_tmp``: the
    docid map and the encoded segments) is deleted before the commit; a
    stale one from a crashed run is cleared on the next call.
    """
    import visigoth_spark

    visigoth_spark.ensure_shipped(spark)
    t0 = time.time()
    tmark = [t0]
    store = vstore.get_store(index_dir, spark)
    base = _require(index_dir, store)
    stats = base["stats"]
    # dest may live on a DIFFERENT store than the source index (e.g.
    # compact a POSIX index into s3a://)
    root = index_dir if dest is None else dest
    root_store = store if dest is None else vstore.get_store(dest, spark)
    root_store.makedirs(vstore.join(root, "_manifests"))
    prev = base if dest is None else load_snapshot(dest, root_store)
    sid = _next(prev)["id"]
    new_batch = 1 + max((b["batch"] for b in prev["batches"]), default=-1) \
        if prev else 0
    stage = vstore.join(root, "_compact_tmp")
    root_store.rmtree(stage)  # stale staging from a crashed prior run

    # fold ONLY the snapshot's batches: orphan dirs of crashed ops are
    # not part of the index
    data = _read_batches(spark, index_dir, base["batches"])
    has_raw = bool(stats.get("store_raw")) and "raw" in data.columns
    has_pos = (bool(stats.get("store_positions"))
               and "pos_blob" in data.columns)
    doc_cols = ["docid", "url", "doclen"] + (["raw"] if has_raw else [])
    docmap_old = data.filter(F.col("kind") == "d").select(*doc_cols)

    # purge tombstoned docs: dropped from the docmap BEFORE the remap, so
    # they get no new docid; their postings drop for free at the remap
    # join below (inner on docid_old). Stats recompute from the re-encoded
    # data, so n_docs/df/avgdl stop counting them — the Lucene merge
    # semantics — and the tombstone set is NOT carried to the new
    # generation (old docids would alias remapped ones). The ids go in as
    # an Arrow table: a JVM local relation whatever the Arrow flag, where a
    # list of tuples is a PythonRDD job that starts Python workers.
    tombs = _tombstone_ids(store, index_dir, base)
    if tombs:
        tdf = spark.createDataFrame(
            pa.table({"docid": pa.array(tombs, pa.int64())}))
        docmap_old = docmap_old.join(F.broadcast(tdf), "docid", "left_anti")

    P = num_partitions or spark.sparkContext.defaultParallelism * 2
    # secondary sort on old docid: a url ingested twice (the reference
    # appends duplicates as distinct docs) keeps ingest order within the tie
    src = (
        docmap_old.repartitionByRange(P, "url")
        .sortWithinPartitions("url", "docid")
        .persist()
    )
    try:
        offsets = _partition_offsets(src)
        n_docs = offsets.pop(-1)
        if n_docs == 0:
            if tombs:
                raise ValueError(
                    "every document is tombstoned — an index cannot "
                    "compact to empty; drop it (Catalog.drop / rmtree) "
                    "instead of compacting"
                )
            raise ValueError("cannot compact an empty index")
        P = len(offsets)

        def remap_gen(iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            next_id = offsets.get(pid, 0)
            for pdf in iterator:
                n = len(pdf)
                if n == 0:
                    continue
                out = pd.DataFrame(
                    {
                        "docid_old": pdf["docid"].to_numpy(np.int64),
                        "docid": np.arange(next_id, next_id + n,
                                           dtype=np.int64),
                        "bucket": np.full(n, pid, dtype=np.int32),
                        "url": pdf["url"].to_numpy(dtype=object),
                        "doclen": pdf["doclen"].to_numpy(np.int32),
                        "raw": (pdf["raw"].to_numpy(dtype=object)
                                if "raw" in pdf.columns
                                else np.full(n, None, dtype=object)),
                    }
                )
                next_id += n
                yield out

        # stage the docid map as parquet: the range shuffle samples
        # boundaries nondeterministically, so the TWO downstream consumers
        # (docmap write, postings join) must read ONE pinned materialization
        map_path = vstore.join(stage, "map")
        src.mapInPandas(
            remap_gen,
            "docid_old long, docid long, bucket int, url string, "
            "doclen int, raw string",
        ).write.mode("overwrite").parquet(map_path)
    finally:
        src.unpersist()
    map_df = spark.read.parquet(map_path)
    _tick("compact", "offsets/remap", tmark)

    # ---- new docmap (kind=d) ----------------------------------------------
    batch_path = vstore.join(root, "data", f"batch={new_batch}")
    n = F.lit
    _write_docmap(map_df.select(
        n("d").alias("kind"), "bucket", n("").alias("term"),
        n(0).alias("df_seg"), n(0).cast("long").alias("sum_tf"),
        n(0).cast("long").alias("min_docid"),
        n(0).cast("long").alias("max_docid"),
        n(b"").cast("binary").alias("blob"),
        n(b"").cast("binary").alias("skips"),
        "docid", "url", "doclen",
        (F.col("raw") if has_raw else n(None).cast("string")).alias("raw"),
        n(None).cast("binary").alias("pos_blob"),
    ), batch_path, P)
    _tick("compact", "docmap write", tmark)

    # ---- postings: decode -> remap -> re-encode ----------------------------
    def explode_gen(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            # every segment of the Arrow batch in one decode pass
            ids, tfs, dls, _, n = decode_groups(pdf["blob"].to_numpy())
            out = {
                "term": np.repeat(pdf["term"].to_numpy(dtype=object), n),
                "docid_old": ids,
                "tf": tfs,
                # doclen rides the blob (decode gives it for free), so
                # the remap join below only carries (docid, bucket) —
                # a narrower build side and shuffle
                "dl": dls,
            }
            if has_pos:
                # per-posting position lists ride the shuffle as
                # array<long> and re-encode on the other side; position
                # streams are posting-local, so the batch's concatenated
                # streams decode as one
                flat = decode_positions(b"".join(pdf["pos_blob"]), tfs)
                out["pos"] = pd.Series(np.split(flat, np.cumsum(tfs[:-1])),
                                       dtype=object)
            yield pd.DataFrame(out)

    explode_schema = "term string, docid_old long, tf long, dl long"
    seg_cols = ["term", "blob"]
    if has_pos:
        explode_schema += ", pos array<long>"
        seg_cols.append("pos_blob")
    exploded = (
        data.filter(F.col("kind") == "s")
        .select(*seg_cols)
        .mapInPandas(explode_gen, explode_schema)
    )
    # the remap side is (docid_old, docid, bucket): ~20 B/doc. Up to a few
    # million docs that is broadcast territory — hash-joining each posting
    # row beats sort-merge-joining the (50x larger) exploded postings side,
    # and the bench's AQE-off sessions would otherwise always pick SMJ.
    # Past the cutoff (~80 MB broadcast) SMJ is the right plan and scales
    # to 10^12 docs.
    remap = map_df.select("docid_old", "docid", "bucket")
    if n_docs <= 4_000_000:
        remap = F.broadcast(remap)
    joined = exploded.join(remap, "docid_old").withColumn(
        "chunk", F.floor(F.col("docid") / F.lit(flush_docs)))

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort on integer term codes (codes follow the sorted vocabulary)
        # instead of comparing Python strings inside lexsort
        codes, vocab = pd.factorize(pdf["term"].to_numpy(dtype=object),
                                    sort=True)
        d = pdf["docid"].to_numpy(np.int64)
        tf = pdf["tf"].to_numpy(np.int64)
        dl = pdf["dl"].to_numpy(np.int64)
        order = np.lexsort((d, codes))
        pos = None
        if "pos" in pdf.columns:
            pos = np.concatenate(
                [np.asarray(p, dtype=np.int64)
                 for p in pdf["pos"].to_numpy(dtype=object)[order]]
            ) if len(pdf) else np.zeros(0, dtype=np.int64)
        return _seg_frame(vocab[codes[order]], d[order], tf[order], dl[order],
                          int(pdf["bucket"].iloc[0]), positions=pos)

    # staged as parquet: the range partitioner's sampling job and the write
    # would each run encode_group over every group if they read the plan
    seg_path = vstore.join(stage, "segments")
    (joined.groupBy("bucket", "chunk").applyInPandas(encode_group, OUT_SCHEMA)
     .write.mode("overwrite").parquet(seg_path))
    _write_segments(spark.read.parquet(seg_path), batch_path, P,
                    mode="append")
    _tick("compact", "postings decode/encode/write", tmark)

    # ---- termdict + fuzzydict + the commit ---------------------------------
    pids = sorted(offsets)
    part_sizes = [offsets[p + 1] - offsets[p] for p in pids[:-1]]
    part_sizes.append(n_docs - offsets[pids[-1]])
    entry = _batch_entry(
        spark, root, new_batch, compacted=True,
        compacted_from=stats["n_batches"], partitions=pids, buckets=pids,
        docid_range=[0, n_docs], n_docs=n_docs,
        bucket_width=max(part_sizes), wall_sec=time.time() - t0)
    td = f"termdict/{sid}"
    _write_termdict(_term_rows(spark, root, [entry]),
                    vstore.join(root, td), P)
    _tick("compact", "termdict", tmark)
    fd = base["fuzzydict"]
    if fd:
        # the vocabulary can SHRINK here (tombstone purge drops
        # fully-deleted terms): rebuild the sidecar from the new termdict
        fd = dict(fd, files=_fuzzy_files(
            spark, root_store, root, sid,
            spark.read.parquet(vstore.join(root, td)).select("term"),
            fd["max_edits"], fd["num_files"]))
        _tick("compact", "fuzzydict", tmark)
    root_store.rmtree(stage)  # staging artifact, not part of the index
    now = time.time()
    _commit(root_store, root, _next(
        prev, batches=[entry], termdict=td, fuzzydict=fd, tombstones=None,
        last_epoch=base["last_epoch"],
        stats=dict(stats, store_raw=has_raw, compacted_at_sec=now,
                   built_at_sec=now, wall_sec=now - t0)), prev)
    _tick("compact", "commit", tmark)
    return _metrics(entry, n_docs, t0)


def _sweep_file_ranges(root: str, dirs: list[str],
                       column: str, key: str) -> list[dict]:
    """Per-file (min, max) of ``column`` from parquet footer stats — one
    driver-side metadata sweep, no row reads. Parquet stats truncation is
    conservative (min rounds down, max rounds up), so pruning on these
    bounds can only over-include, never miss a file. Paths are stored
    relative to ``root``, the index root. A ``dirs`` entry that does not exist (e.g. a
    batch whose docs all analyzed to zero tokens writes no kind=s dir) is
    skipped. A file with absent stats gets null bounds — planners must
    always include it."""
    import pyarrow as pa_
    import pyarrow.parquet as pq_

    store = vstore.get_store(root)

    def _footer(full: str):
        local = store.local_path(full)
        if local is not None:
            return pq_.ParquetFile(local).metadata
        # object store: footer via the store's seekable stream (a handful
        # of ranged reads per file; py4j-batched, no per-byte marshalling)
        with store.open_seekable(full) as f:
            return pq_.ParquetFile(pa_.PythonFile(f, mode="r")).metadata

    entries = []
    for d in dirs:
        if not store.isdir(d):
            continue
        for fn in store.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            full = vstore.join(d, fn)
            md = _footer(full)
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            ci = names.index(column)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or st.min is None or st.max is None:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            entries.append({
                "path": vstore.relpath(full, root),
                f"{key}_min": min(mins) if mins else None,
                f"{key}_max": max(maxs) if maxs else None,
            })
    return entries
