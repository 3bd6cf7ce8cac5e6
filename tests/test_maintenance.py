"""Mutation + resume tests — the analog of the reference's
``tests/test_fast_plaid.py:9-294`` (delete/re-add/reload correctness)
and its resume-from-checkpoint discipline
(``collection_indexer.py:64-71,422-427``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans import build as B
from pylate_spark.plans.build import build_index
from pylate_spark.plans.maintenance import add_documents, compact, delete_documents
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import synth_pages_pandas

K = 10
CFG = IndexConfig(shard_size=64, block_size=32, term_buckets=8, bm25=BM25Params())
N_DOCS = 500
SPB = 2  # shards_per_batch -> batch span 128 docids
QUERIES = [(0, "the w00004 w00123"), (1, "rare0001 w00001"), (2, "w00002 w00003 of")]


def _ranked(df):
    return [
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]


def _assert_matches_oracle(got, oracle, score_tol=1e-5):
    want = oracle.search_all(QUERIES, k=K)
    assert [(q, r, d) for q, r, d, _ in got] == [(q, r, d) for q, r, d, _ in want]
    np.testing.assert_allclose(
        [s for *_, s in got], [s for *_, s in want], rtol=score_tol
    )


def _kill_nth_batch_build(monkeypatch, n):
    """Make the n-th batch build (1-based) raise, as a killed job would.
    Every build, add and resume builds its batches through the one call
    in ``build._commit_batches``, so this is the one place to patch."""
    orig = B._build_one_batch
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == n:
            raise RuntimeError("simulated kill")
        return orig(*a, **kw)

    monkeypatch.setattr(B, "_build_one_batch", dying)


def _killed_build(spark, pages, d, monkeypatch):
    """A build killed while building its 2nd batch: batch 0 committed,
    the index staged but not finalized."""
    _kill_nth_batch_build(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="simulated kill"):
        build_index(spark, pages, d, config=CFG, shards_per_batch=SPB)
    monkeypatch.undo()
    m = B.load_manifest(B.IndexPaths(d))
    assert [k for k, v in m["batches"].items() if v["status"] == "committed"] == ["0"]
    assert not m.get("finalized")


@pytest.fixture(scope="module")
def corpus_pdf():
    return synth_pages_pandas(N_DOCS)


@pytest.fixture()
def index_dir(spark, corpus_pdf, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus_pdf), d, config=CFG, shards_per_batch=SPB)
    return d


def test_resume_after_kill(spark, corpus_pdf, tmp_path, monkeypatch):
    """Kill after the first committed batch; resume must complete and be
    identical to a clean build."""
    d = str(tmp_path / "idx_kill")
    pages = spark.createDataFrame(corpus_pdf)
    _killed_build(spark, pages, d, monkeypatch)

    manifest = build_index(spark, pages, d, config=CFG, shards_per_batch=SPB, resume=True)
    assert manifest["finalized"]
    got = _ranked(InvertedIndex(spark, d).search(QUERIES, k=K))
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    _assert_matches_oracle(got, oracle)


def test_resume_without_config_keeps_manifest_geometry(spark, corpus_pdf, tmp_path, monkeypatch):
    """A resume that does not repeat the build's config (as a
    spark-submit rerun does) must finish under the geometry staging
    persisted — not the default IndexConfig, whose shard_size and
    term_buckets disagree with the staged docids and committed batch."""
    d = str(tmp_path / "idx_kill")
    pages = spark.createDataFrame(corpus_pdf)
    _killed_build(spark, pages, d, monkeypatch)

    manifest = build_index(spark, pages, d, resume=True)
    assert manifest["finalized"]
    assert manifest["config"] == CFG.to_dict()
    assert manifest["shards_per_batch"] == SPB
    got = _ranked(InvertedIndex(spark, d).search(QUERIES, k=K))
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    _assert_matches_oracle(got, oracle)


@pytest.mark.parametrize("mode", ["exhaustive", "cascade"])
def test_delete_rank_identical(spark, corpus_pdf, index_dir, mode):
    doomed = list(range(0, N_DOCS, 7))
    delete_documents(spark, index_dir, doomed)
    idx = InvertedIndex(spark, index_dir)
    got = _ranked(idx.search(QUERIES, k=K, mode=mode))
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    oracle.delete(set(doomed))
    # engine stats must track the oracle's post-delete stats exactly
    assert idx.n_docs == oracle.n_docs
    assert idx.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    _assert_matches_oracle(got, oracle)


def test_compact_preserves_results(spark, corpus_pdf, index_dir):
    doomed = list(range(0, N_DOCS, 5))
    delete_documents(spark, index_dir, doomed)
    before = _ranked(InvertedIndex(spark, index_dir).search(QUERIES, k=K))
    manifest = compact(spark, index_dir)
    assert manifest["finalized"]
    idx = InvertedIndex(spark, index_dir)
    assert idx._tomb_bc is None
    after = _ranked(idx.search(QUERIES, k=K))
    assert before == after


def test_add_documents_rank_identical(spark, corpus_pdf, index_dir):
    extra_pdf = synth_pages_pandas(200, seed=777)
    # engine assigns new docids from the next batch-aligned base
    base = ((N_DOCS - 1) // (CFG.shard_size * SPB) + 1) * (CFG.shard_size * SPB)
    manifest = add_documents(spark, spark.createDataFrame(extra_pdf), index_dir)
    assert manifest["finalized"]
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    # new docids follow url-rank order within the added set
    order = np.argsort(extra_pdf["url"].to_numpy())
    oracle.add([(base + i, extra_pdf["text"].iloc[j]) for i, j in enumerate(order)])
    idx = InvertedIndex(spark, index_dir)
    assert idx.n_docs == oracle.n_docs
    assert idx.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    got = _ranked(idx.search(QUERIES, k=K))
    _assert_matches_oracle(got, oracle)


def test_add_then_delete_then_compact(spark, corpus_pdf, index_dir):
    """Full mutation lifecycle, the reference's test_fast_plaid pattern."""
    extra_pdf = synth_pages_pandas(100, seed=888)
    base = ((N_DOCS - 1) // (CFG.shard_size * SPB) + 1) * (CFG.shard_size * SPB)
    add_documents(spark, spark.createDataFrame(extra_pdf), index_dir)
    delete_documents(spark, index_dir, list(range(0, N_DOCS, 3)))
    before = _ranked(InvertedIndex(spark, index_dir).search(QUERIES, k=K))
    compact(spark, index_dir)
    after = _ranked(InvertedIndex(spark, index_dir).search(QUERIES, k=K))
    assert before == after

    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    order = np.argsort(extra_pdf["url"].to_numpy())
    oracle.add([(base + i, extra_pdf["text"].iloc[j]) for i, j in enumerate(order)])
    oracle.delete(set(range(0, N_DOCS, 3)))
    _assert_matches_oracle(after, oracle)


def test_add_killed_then_resumed(spark, corpus_pdf, index_dir, monkeypatch):
    """A crash mid-add must not duplicate documents: re-calling
    add_documents raises; resume_add completes from staged state and
    the result matches a clean add."""
    from pylate_spark.plans.maintenance import resume_add

    extra_pdf = synth_pages_pandas(120, seed=999)
    _kill_nth_batch_build(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated kill"):
        add_documents(spark, spark.createDataFrame(extra_pdf), index_dir)
    monkeypatch.undo()

    # re-adding the same docs must be refused while incomplete
    with pytest.raises(ValueError, match="incomplete add"):
        add_documents(spark, spark.createDataFrame(extra_pdf), index_dir)

    manifest = resume_add(spark, index_dir)
    assert manifest["finalized"]

    base = ((N_DOCS - 1) // (CFG.shard_size * SPB) + 1) * (CFG.shard_size * SPB)
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    order = np.argsort(extra_pdf["url"].to_numpy())
    oracle.add([(base + i, extra_pdf["text"].iloc[j]) for i, j in enumerate(order)])
    idx = InvertedIndex(spark, index_dir)
    assert idx.n_docs == oracle.n_docs
    got = _ranked(idx.search(QUERIES, k=K))
    _assert_matches_oracle(got, oracle)


def test_compact_refuses_incomplete_add(spark, corpus_pdf, index_dir, monkeypatch):
    """compact on an index whose add was killed mid-build must refuse,
    not finalize over the uncommitted batch: that used to report
    ``finalized`` with the add's docs never indexed, after which
    resume_add returned at once and the docs were lost for good."""
    from pylate_spark.plans.maintenance import resume_add

    doomed = list(range(0, N_DOCS, 7))
    delete_documents(spark, index_dir, doomed)
    extra_pdf = synth_pages_pandas(120, seed=999)
    _kill_nth_batch_build(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated kill"):
        add_documents(spark, spark.createDataFrame(extra_pdf), index_dir)
    monkeypatch.undo()

    with pytest.raises(ValueError, match="incomplete add"):
        compact(spark, index_dir)
    assert not B.load_manifest(B.IndexPaths(index_dir)).get("finalized")

    resume_add(spark, index_dir)
    manifest = compact(spark, index_dir)
    assert manifest["n_docs"] == N_DOCS - len(doomed) + len(extra_pdf) == 548

    base = ((N_DOCS - 1) // (CFG.shard_size * SPB) + 1) * (CFG.shard_size * SPB)
    oracle = OracleIndex(list(zip(range(N_DOCS), corpus_pdf["text"])))
    order = np.argsort(extra_pdf["url"].to_numpy())
    oracle.add([(base + i, extra_pdf["text"].iloc[j]) for i, j in enumerate(order)])
    oracle.delete(set(doomed))
    idx = InvertedIndex(spark, index_dir)
    assert idx.n_docs == oracle.n_docs
    _assert_matches_oracle(_ranked(idx.search(QUERIES, k=K)), oracle)
