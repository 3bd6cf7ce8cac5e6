"""Stateful streaming deduplication: first-occurrence-wins exact dedup
ACROSS micro-batches via ``applyInPandasWithState``.

The batch operator :func:`pylate_spark.operators.dedup.exact_dedup`
answers "which of these rows duplicate each other"; a continuous
ingest pipeline needs the *streaming* form — "have I ever seen this
content before?" — where the seen-set must survive micro-batch
boundaries and restarts. Spark's built-in ``dropDuplicates`` on a
stream keeps unbounded state with no per-key control; this operator
owns its state explicitly (count + first-seen key per content hash,
optional processing-time TTL for bounded state on unbounded streams),
which is the `applyInPandasWithState` custom-stateful-operator shape.

Reference analog: the reference has no streaming surface at all — its
closest shape is the server's request de-dup window
(``/root/reference/pylate/server/server.py:80-124`` batches dynamic
requests); the *semantics* implemented here are the streaming twin of
its corpus-level exact dedup expectations.

Scale notes: state is one tiny row per distinct content hash,
partitioned by the hash (the shuffle key), so state size is
O(distinct contents) spread across executors — the TTL bounds it on
infinite streams. No per-row Python: each group's rows arrive as
pandas batches; the kernel does column-level ops only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from pylate_spark.functions.tokenize import native_tokens_col
from pylate_spark.worker import forget_archive_importers

#: state per content hash: how many copies seen, which key won
_STATE_SCHEMA = "n_seen long, first_key string"


def stream_exact_dedupe(
    pages_stream: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """First occurrence of each normalized text survives; every later
    copy (same micro-batch or any later one) is dropped. Emits the
    input columns plus ``text_hash``. Deterministic within a batch:
    among same-batch duplicates the minimum ``key_col`` wins.

    ``ttl_minutes`` sets a processing-time timeout per content hash:
    state older than the TTL is dropped, so a duplicate arriving after
    the window is treated as new — the standard bounded-state trade on
    unbounded streams (set it to your re-crawl horizon).
    """
    hashed = pages_stream.withColumn(
        "text_hash", F.md5(F.array_join(native_tokens_col(text_col), " "))
    )
    out_schema = T.StructType(
        list(hashed.schema.fields)
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = (ttl_minutes or 0) * 60_000

    def dedupe(key, pdf_iter, state):
        forget_archive_importers()
        if state.hasTimedOut:
            state.remove()
            return
        n_seen, first_key = state.get if state.exists else (0, None)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if n_seen == 0:
            winner = pdf.sort_values(key_col, kind="mergesort").iloc[[0]]
            state.update((int(n_seen + len(pdf)), str(winner[key_col].iloc[0])))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            yield winner
        else:
            state.update((int(n_seen + len(pdf)), first_key))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)

    return hashed.groupBy("text_hash").applyInPandasWithState(
        dedupe, out_schema, _STATE_SCHEMA, "append", timeout
    )


def stream_dedupe_stats(deduped: DataFrame, window: str = "5 minutes",
                        ts_col: str = "warc_ts", watermark: str = "10 minutes") -> DataFrame:
    """Survivor volume per event-time window — chain after
    :func:`stream_exact_dedupe` for ingest monitoring."""
    return (
        deduped.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_unique_pages"))
        .select(F.col("w.start").alias("window_start"), "n_unique_pages")
    )
