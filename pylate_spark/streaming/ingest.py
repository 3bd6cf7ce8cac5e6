"""Structured-Streaming ingest: continuous index maintenance.

The reference has no streaming operators — its incremental surface is
``IndexUpdater.add/remove`` (``/root/reference/pylate/indexes/
stanford_nlp/index_updater.py:52,142``) and the dynamic-batching HTTP
server (``server/server.py:80-124``). The Spark-native translation is a
``foreachBatch`` sink: each micro-batch of new pages is appended to the
index through the same exactly-once, batch-aligned
:func:`pylate_spark.plans.maintenance.add_documents` path, so streaming
ingest inherits the build's resume/commit discipline (checkpointing is
Structured Streaming's; idempotence is the manifest's).

Also provided: a watermarked ingest-monitoring aggregation (pages/sec
by language over event time) — the standard late-data-tolerant
windowed agg shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def stream_index_updates(
    pages_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    key_col: str = "url",
    text_col: str = "text",
) -> StreamingQuery:
    """Append every micro-batch of pages to the index.

    ``pages_stream`` is any streaming DataFrame with (url, text, ...)
    — e.g. ``spark.readStream.schema(PAGES_SCHEMA).parquet(dir)`` or a
    Kafka source after parsing.

    Exactly-once under epoch replay: the sink is idempotent per
    ``epoch_id``. Each add records ``"{checkpoint_dir}#{epoch_id}"`` as
    the manifest's max applied epoch for this checkpoint (epoch ids are
    monotonic per checkpoint and commit in order, so one integer per
    stream encodes the applied set) in the same atomic write that
    commits the staged rows, so a replayed epoch is skipped; an epoch
    whose previous attempt crashed mid-staging leaves a ``pending_add``
    marker and its partial rows are purged before the redo; an attempt
    that crashed mid-build is completed (``resume_add``) *before* the
    replay decision, at which point its epoch key is already recorded.
    Every add uses the batch geometry persisted in the index manifest.
    """
    from pylate_spark.plans.build import IndexPaths, load_manifest
    from pylate_spark.plans.maintenance import add_documents, resume_add

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = (
            batch_df.sparkSession
            if hasattr(batch_df, "sparkSession")
            else batch_df.sql_ctx.sparkSession
        )
        manifest = load_manifest(IndexPaths(index_dir))
        if manifest and not manifest.get("finalized"):
            # finish an interrupted add first: its docs are already
            # staged+recorded, so the epoch skip below stays correct
            resume_add(spark, index_dir)
        if batch_df.isEmpty():
            return
        add_documents(
            spark,
            batch_df,
            index_dir,
            key_col=key_col,
            text_col=text_col,
            epoch_key=f"{checkpoint_dir}#{epoch_id}",
            epoch_monotonic=True,  # sink-generated keys commit in order
        )

    writer = (
        pages_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_monitor(
    pages_stream: DataFrame,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Watermarked event-time ingest metrics: pages + token volume per
    (window, lang), tolerating late WARC records up to the watermark."""
    from pylate_spark.functions.tokenize import native_tokens_col

    return (
        pages_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.size(native_tokens_col("text"))).alias("n_tokens"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_tokens",
        )
    )
