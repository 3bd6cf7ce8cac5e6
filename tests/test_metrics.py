"""Hand-computed metric goldens (the reference's unit-test style,
e.g. ``tests/test_xtr_scoring.py:13-43``) + a consolidation test."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pylate_spark.operators.metrics import hits_at_k, ndcg_at_k, recall_at_k


@pytest.fixture(scope="module")
def eval_frames(spark):
    results = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [0, 0, 0, 1, 1],
                "rank": [1, 2, 3, 1, 2],
                "docid": [10, 11, 12, 20, 21],
                "score": [5.0, 4.0, 3.0, 2.0, 1.0],
            }
        )
    )
    qrels = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [0, 0, 1, 1],
                "docid": [11, 99, 20, 21],
                "relevance": [2, 1, 1, 1],
            }
        )
    )
    return results, qrels


def test_ndcg_golden(eval_frames):
    results, qrels = eval_frames
    got = {r["query_id"]: r["ndcg"] for r in ndcg_at_k(results, qrels, k=3).collect()}
    # q0: hit doc11 (rel 2) at rank 2 -> dcg = 3/log2(3); ideal = 3/1 + 1/log2(3)
    dcg0 = 3 / math.log2(3)
    idcg0 = 3 / math.log2(2) + 1 / math.log2(3)
    assert got[0] == pytest.approx(round(dcg0 / idcg0, 6))
    # q1: both relevant docs at ranks 1,2 = ideal ordering -> ndcg 1.0
    assert got[1] == pytest.approx(1.0)


def test_hits_golden(eval_frames):
    """hits@k is ranx's COUNT of relevant retrieved, not the fraction."""
    results, qrels = eval_frames
    got = {r["query_id"]: r["hits"] for r in hits_at_k(results, qrels, k=3).collect()}
    assert got[0] == 1  # 1 of 2 relevant found
    assert got[1] == 2


def test_recall_golden(eval_frames):
    results, qrels = eval_frames
    got = {r["query_id"]: r["recall"] for r in recall_at_k(results, qrels, k=3).collect()}
    assert got[0] == pytest.approx(0.5)
    assert got[1] == pytest.approx(1.0)


def test_ndcg_zero_idcg_is_zero(spark):
    """A query whose qrels are all relevance=0 gets ndcg 0, not null."""
    results = spark.createDataFrame(
        pd.DataFrame({"query_id": [5], "rank": [1], "docid": [1], "score": [1.0]})
    )
    qrels = spark.createDataFrame(
        pd.DataFrame({"query_id": [5, 5], "docid": [1, 2], "relevance": [0, 0]})
    )
    rows = ndcg_at_k(results, qrels, k=3).collect()
    assert len(rows) == 1 and rows[0]["ndcg"] == 0.0


def test_consolidate_segments(spark, tmp_path):
    """After an incremental add, consolidation must reduce batch dirs
    to one without changing any search result."""
    import os

    from pylate_spark.config import IndexConfig
    from pylate_spark.plans.build import build_index
    from pylate_spark.plans.maintenance import add_documents, consolidate_segments
    from pylate_spark.plans.query import InvertedIndex
    from pylate_spark.sources.synth import synth_pages_pandas

    d = str(tmp_path / "idx")
    cfg = IndexConfig(shard_size=64, block_size=32, term_buckets=8)
    build_index(spark, spark.createDataFrame(synth_pages_pandas(200)), d, config=cfg, shards_per_batch=2)
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(100, seed=9)), d)
    q = [(0, "the w00004"), (1, "w00001 w00002")]
    from pylate_spark.plans.build import IndexPaths, active_dir, load_manifest

    def seg_batch_dirs():
        paths = IndexPaths(d)
        seg = active_dir(paths, load_manifest(paths), "segments")
        return [x for x in os.listdir(seg) if x.startswith("batch=")]

    before = InvertedIndex(spark, d).search(q, k=10).orderBy("query_id", "rank").collect()
    assert len(seg_batch_dirs()) > 1
    consolidate_segments(spark, d)
    assert len(seg_batch_dirs()) == 1
    after = InvertedIndex(spark, d).search(q, k=10).orderBy("query_id", "rank").collect()
    assert before == after


def test_evaluate_index_end_to_end(spark, tmp_path):
    """The BEIR-evaluate analog: build -> search -> per-query metrics
    table via evaluation.evaluate_index, with deterministic term-overlap
    qrels; sanity: metrics bounded, every judged query present."""
    from pylate_spark.config import IndexConfig
    from pylate_spark.evaluation import evaluate_index, term_overlap_qrels
    from pylate_spark.plans.build import build_index
    from pylate_spark.sources.synth import synth_pages_pandas, synth_queries_pandas

    d = str(tmp_path / "idx")
    pages = spark.createDataFrame(synth_pages_pandas(300))
    build_index(spark, pages, d,
                config=IndexConfig(shard_size=64, block_size=32, term_buckets=8),
                shards_per_batch=2)
    qpdf = synth_queries_pandas(10)
    queries = [(int(r.query_id), r.text) for r in qpdf.itertuples()]
    # derive doc ids the same way the build did (rank of url) so the
    # qrels docids line up with the index docids
    from pyspark.sql import functions as F

    from pylate_spark.operators.docids import assign_docids

    with_ids = assign_docids(pages, 64, key_col="url")
    qdf = spark.createDataFrame(qpdf)
    qrels = term_overlap_qrels(
        with_ids.select(F.col("docid").alias("doc_id"), "text"), qdf, max_docid=300
    )
    out = evaluate_index(spark, d, queries, qrels, k=5).collect()
    assert len(out) > 0
    for r in out:
        assert r["ndcg"] is None or 0.0 <= r["ndcg"] <= 1.0
        assert r["recall"] is None or 0.0 <= r["recall"] <= 1.0
        assert r["hits"] is None or 0 <= r["hits"] <= 5
