"""Streaming ingest tests: foreachBatch index updates must land
exactly-once and produce the same index as a batch add (the streaming
analog of the reference's incremental-add tests,
``tests/test_fast_plaid.py``)."""

from __future__ import annotations

import pytest

from pylate_spark.config import IndexConfig
from pylate_spark.plans.build import build_index
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import PAGES_SCHEMA, synth_pages_pandas
from pylate_spark.streaming.ingest import ingest_monitor, stream_index_updates

CFG = IndexConfig(shard_size=64, block_size=32, term_buckets=8)
QUERIES = [(0, "the w00004"), (1, "w00001 w00002")]


def test_stream_index_updates(spark, tmp_path):
    base_pdf = synth_pages_pandas(200)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base_pdf), idx_dir, config=CFG, shards_per_batch=2)
    before = InvertedIndex(spark, idx_dir).n_docs

    # stream source: a directory of parquet files appearing over time
    src = tmp_path / "incoming"
    src.mkdir()
    extra = synth_pages_pandas(80, seed=321)
    spark.createDataFrame(extra).write.mode("overwrite").parquet(str(src / "f1"))

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(str(src / "f1"))
    q = stream_index_updates(stream, idx_dir, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    idx = InvertedIndex(spark, idx_dir)
    assert idx.n_docs == before + 80
    res = idx.search(QUERIES, k=5)
    assert res.count() > 0

    # restart with the same checkpoint: no re-ingest (exactly-once)
    stream2 = spark.readStream.schema(PAGES_SCHEMA).parquet(str(src / "f1"))
    q2 = stream_index_updates(stream2, idx_dir, checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    assert InvertedIndex(spark, idx_dir).n_docs == before + 80


def test_ingest_monitor(spark, tmp_path):
    pdf = synth_pages_pandas(100)
    src = tmp_path / "mon"
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(str(src))
    agg = ingest_monitor(stream, watermark="1 hour", window="1 minute")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mon_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM mon_out").collect()
    assert sum(r["n_pages"] for r in rows) == 100
    langs = {r["lang"] for r in rows}
    assert "en" in langs and "de" in langs


def test_stream_exact_dedupe_across_microbatches(spark, tmp_path):
    """applyInPandasWithState dedup: in-batch dups collapse to the
    min-key winner; a dup arriving in a LATER micro-batch is dropped
    too (state survives the batch boundary); distinct docs pass."""
    import pandas as pd

    from pylate_spark.streaming.dedupe import stream_exact_dedupe

    base = synth_pages_pandas(4)  # 4 distinct texts
    src = tmp_path / "dedupe_src"
    src.mkdir()

    # micro-batch 1: doc0, doc1, and an in-batch copy of doc0 (new url)
    b1 = pd.concat([base.iloc[[0, 1]], base.iloc[[0]]], ignore_index=True)
    b1.loc[2, "url"] = "https://mirror.example/zzz-copy-of-0"
    # micro-batch 2: doc2 plus a cross-batch copy of doc1
    b2 = pd.concat([base.iloc[[2]], base.iloc[[1]]], ignore_index=True)
    b2.loc[1, "url"] = "https://mirror.example/zzz-copy-of-1"
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force separate micro-batches
        .parquet(str(src / "*"))
    )
    out = stream_exact_dedupe(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedupe_out")
        .option("checkpointLocation", str(tmp_path / "dedupe_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT url, text_hash FROM dedupe_out").collect()
    urls = sorted(r["url"] for r in rows)
    # exactly one survivor per distinct text; original urls win (they
    # sort below the zzz- mirrors); the cross-batch dup was dropped
    assert urls == sorted(base.iloc[[0, 1, 2]]["url"].tolist()), urls
    assert len({r["text_hash"] for r in rows}) == 3


def test_stream_exact_dedupe_ttl_path(spark, tmp_path):
    """The processing-time-TTL configuration (timeout registered per
    content hash) must run the same dedup end-to-end; TTL *expiry*
    semantics are wall-clock and not asserted here — only that the
    stateful path with timeouts enabled is correct."""
    import pandas as pd

    from pylate_spark.streaming.dedupe import stream_exact_dedupe

    base = synth_pages_pandas(3)
    dup = base.iloc[[0]].copy()
    dup["url"] = "https://zzz.example/dup"
    src = tmp_path / "ttl_src"
    src.mkdir()
    spark.createDataFrame(pd.concat([base, dup])).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(str(src / "*"))
    out = stream_exact_dedupe(stream, ttl_minutes=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT url FROM ttl_out").collect()
    assert len(rows) == 3 and not any("zzz" in r["url"] for r in rows)


def test_stream_dedupe_stats_e2e(spark, tmp_path):
    """stream_dedupe_stats chains an event-time windowed aggregation
    AFTER the applyInPandasWithState dedupe — a multiple-stateful-
    operator pipeline whose acceptance is Spark-version-sensitive, so
    it gets its own end-to-end run. Two micro-batches: batch 2's
    timestamps push the watermark past batch 1's window, so the first
    window finalizes and is emitted in append mode with the
    post-dedupe survivor count (3 arrivals, 1 in-batch dup → 2)."""
    import pandas as pd

    from pylate_spark.streaming.dedupe import stream_dedupe_stats, stream_exact_dedupe

    base = synth_pages_pandas(3)
    src = tmp_path / "stats_src"
    src.mkdir()

    b1 = pd.concat([base.iloc[[0, 1]], base.iloc[[0]]], ignore_index=True)
    b1.loc[2, "url"] = "https://mirror.example/zzz-copy-of-0"
    b1["warc_ts"] = pd.Timestamp("2024-01-01 00:01:00")
    b2 = base.iloc[[2]].copy()
    b2["warc_ts"] = pd.Timestamp("2024-01-01 02:00:00")  # watermark mover
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    stats = stream_dedupe_stats(
        stream_exact_dedupe(stream), window="5 minutes", watermark="10 minutes"
    )
    q = (
        stats.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedupe_stats_out")
        .option("checkpointLocation", str(tmp_path / "stats_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        str(r["window_start"]): r["n_unique_pages"]
        for r in spark.sql("SELECT * FROM dedupe_stats_out").collect()
    }
    assert rows.get("2024-01-01 00:00:00") == 2, rows
