"""Structured Streaming incremental indexing (SURVEY §7.3's streaming
extension; the reference itself is batch/volatile — its incremental surface
is ``MemoryIndex.Put`` one doc at a time, index_memory_index.go:44-60).

Spark shape: ``readStream`` on the corpus source -> ``writeStream
.foreachBatch(append_index)``. Each micro-batch becomes one new index batch
dir (Lucene-style segment generation): new docids continue after the current
max (insertion order ≙ the reference's append-time id assignment), new
buckets are disjoint from all existing ones, and the query path needs no
changes — it already concatenates a term's segments across batches in docid
order.

Exactly-once: an epoch's append commits the epoch id with its batch, in
the same snapshot (``last_epoch``). A replayed epoch at or below
``last_epoch`` is skipped outright; one that never committed re-derives its
batch id, docids and buckets from the current snapshot, exactly as on its
first attempt, and overwrites whatever orphan that attempt left.

At 10^12-doc scale the same shape runs against a Kafka/file source with a
long trigger interval; the per-epoch cost is one fused analyze+encode pass
over the epoch's documents (build.py's zero-shuffle pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from visigoth_spark.analysis import AnalyzerConfig, DEFAULT_ANALYZER
from visigoth_spark.build import (_append, _writer_lock, load_snapshot,
                                  merge_appends)


def foreach_batch_indexer(out_dir: str,
                          analyzer: AnalyzerConfig = DEFAULT_ANALYZER,
                          num_partitions: int | None = None,
                          merge_every: int | None = None,
                          store_positions: bool = False):
    """Returns a foreachBatch(fn) that appends each micro-batch to the index.

    Epoch idempotence (see module docstring): each epoch's append commits
    ``last_epoch`` with its batch, so a replay of a committed epoch is
    skipped and a replay of an uncommitted one redoes it.

    ``merge_every=k`` runs ``merge_appends`` (tiered minor compaction)
    whenever k appended batches have accumulated since the last merge,
    bounding the L0 batch count a long-running stream accumulates. Safe
    here because the stream IS the single writer, and a crash mid-merge
    only delays the merge (the epoch itself is already committed).
    """

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        snap = load_snapshot(out_dir)
        fresh = snap is None or snap["stats"] is None
        if not fresh and snap["last_epoch"] is not None \
                and epoch_id <= snap["last_epoch"]:
            return  # replayed epoch, already fully ingested
        if fresh and batch_df.isEmpty():
            # an empty FIRST epoch (e.g. a trigger firing before any
            # source files exist) must not reach build_index, which
            # raises on an empty corpus and would kill the stream
            return
        spark = batch_df.sparkSession
        with _writer_lock(out_dir, "append"):
            _append(spark, batch_df, out_dir, analyzer=analyzer,
                    num_partitions=num_partitions,
                    store_positions=store_positions if fresh else None,
                    commit={"last_epoch": epoch_id})
        appended = [b for b in load_snapshot(out_dir)["batches"]
                    if b.get("appended")]
        if merge_every and len(appended) >= merge_every:
            merge_appends(spark, out_dir, num_partitions=num_partitions)

    return fn


SESSION_OUT_SCHEMA = ("user_id long, session_idx long, n_events long, "
                      "session_start string, session_end string")
SESSION_STATE_SCHEMA = "last_us long, start_us long, n_ev long, idx long"


def _session_fn(gap_us: int):
    """applyInPandasWithState kernel: per-user gap sessionization with the
    open session carried in GroupState across micro-batches. Emits (update
    mode) every session touched this batch — closed sessions final, the
    still-open session at its current value (a later batch re-emits it).
    Vectorized: numpy break-detection + reduceat per segment."""

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        if state.exists:
            last_us, start_us, n_ev, idx = state.get
        else:
            last_us, start_us, n_ev, idx = None, None, 0, 0
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            yield pd.DataFrame(
                columns=["user_id", "session_idx", "n_events",
                         "session_start", "session_end"]
            )
            return
        ev = pd.concat(pdfs).sort_values("ts")
        us = ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        gap_ns_prev = (np.inf if last_us is None else us[0] - last_us)
        breaks = np.empty(len(us), dtype=bool)
        breaks[0] = gap_ns_prev > gap_us
        if len(us) > 1:
            breaks[1:] = np.diff(us) > gap_us
        seg = np.cumsum(breaks)  # 0 = continuation of the open session
        starts_pos = np.flatnonzero(breaks)
        sessions = []  # (idx, n, start_us, end_us)
        if not breaks[0]:
            # first segment extends the open session
            cont_len = int(starts_pos[0]) if len(starts_pos) else len(us)
            n_ev += cont_len
            last_us = int(us[cont_len - 1])
            sessions.append((idx, n_ev, start_us, last_us))
        for si, sp in enumerate(starts_pos):
            ep = (starts_pos[si + 1] if si + 1 < len(starts_pos)
                  else len(us))
            idx += 1
            start_us = int(us[sp])
            n_ev = int(ep - sp)
            last_us = int(us[ep - 1])
            sessions.append((idx, n_ev, start_us, last_us))
        state.update((int(last_us), int(start_us), int(n_ev), int(idx)))

        def fmt(u):
            return (pd.Timestamp(u, unit="us")
                    .strftime("%Y-%m-%d %H:%M:%S"))

        yield pd.DataFrame(
            {
                "user_id": np.full(len(sessions), user_id, dtype=np.int64),
                "session_idx": np.array([s[0] for s in sessions],
                                        dtype=np.int64),
                "n_events": np.array([s[1] for s in sessions],
                                     dtype=np.int64),
                "session_start": [fmt(s[2]) for s in sessions],
                "session_end": [fmt(s[3]) for s in sessions],
            }
        )

    return fn


def sessionize_stream(events_stream, gap_minutes: int = 30):
    """Stateful streaming sessionization (the brief's custom stateful
    operator shape): ``applyInPandasWithState`` keyed by user, update
    output mode — semantics identical to the batch ``pipeline.sessionize``
    for in-order (per-batch time-split) arrival; pinned stream ≡ batch in
    tests/test_streaming_events.py including sessions that SPAN
    micro-batches (merged through GroupState)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events_stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes * 60 * 1_000_000),
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def stream_index(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = ("url string, warc_ts timestamp, html binary, "
                   "text string, lang string"),
    analyzer: AnalyzerConfig = DEFAULT_ANALYZER,
    num_partitions: int | None = None,
    available_now: bool = True,
    merge_every: int | None = None,
    store_positions: bool = False,
):
    """Index a growing parquet directory incrementally. With
    ``available_now`` the stream drains everything currently present and
    stops (the batch-catchup mode used in tests); otherwise it keeps running
    on the default trigger."""
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
    )
    writer = (
        stream.writeStream
        .foreachBatch(foreach_batch_indexer(out_dir, analyzer,
                                            num_partitions,
                                            merge_every=merge_every,
                                            store_positions=store_positions))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
