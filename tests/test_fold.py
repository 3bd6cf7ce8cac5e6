"""The incremental finalize: an add folds only its new batches into the
active term stats, a delete subtracts only the documents it deletes.

Every check compares against a from-scratch recount over the live
texts: ``term_stats (term, df, cf)`` and the driver's df lookup
(``build.term_dfs``) against a ``Counter`` of ``tokenize_py`` tokens,
the manifest's ``n_docs`` / ``sum_dl`` / ``avgdl`` against the live
corpus, and ``search`` against ``OracleIndex`` (rank identity). The
fold must agree after random add / delete / compact sequences, after
a kill at the fold's commit, on a manifest written before the fold
record existed, and without re-tokenizing any deleted document on add.
"""

from __future__ import annotations

import itertools
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.functions.tokenize import tokenize_py
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans import build as B
from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest, save_manifest
from pylate_spark.plans.maintenance import add_documents, compact, delete_documents, resume_add
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import synth_pages_pandas

CFG = IndexConfig(shard_size=16, block_size=8, term_buckets=4, bm25=BM25Params())
SPB = 2  # batch span 32 docids
SPAN = CFG.shard_size * SPB
K = 8
#: a small vocabulary, so terms leave the stats when their last
#: document is deleted and come back with a later add
VOCAB = ["the", "of", "alpha", "beta", "gamma", "delta", "omega", "rare"]
QUERIES = [(0, "the alpha"), (1, "beta gamma rare"), (2, "omega delta of")]


class Corpus:
    """Live docid → text, mirroring what the index should hold."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.urls = itertools.count()
        self.live: dict[int, str] = {}

    def pages(self, n: int) -> pd.DataFrame:
        texts = []
        for _ in range(n):
            k = int(self.rng.integers(0, 6))  # 0 → a doc with no tokens
            texts.append(" ".join(self.rng.choice(VOCAB, k).tolist()) or "!!")
        # zero-padded, increasing urls: url rank within a batch == list order
        return pd.DataFrame({"url": [f"u{next(self.urls):06d}" for _ in texts], "text": texts})

    def staged(self, base: int, pdf: pd.DataFrame) -> None:
        self.live.update((base + i, t) for i, t in enumerate(pdf["text"]))


def _new_base(d: str) -> int:
    return int(load_manifest(IndexPaths(d))["lineage"][-1]["docid_base"])


def _assert_exact(spark, d: str, live: dict[int, str]) -> None:
    """term_stats, corpus stats and search all equal a recount of ``live``."""
    df, cf, dls = Counter(), Counter(), []
    for text in live.values():
        toks = Counter(tokenize_py(text))
        if toks:
            dls.append(sum(toks.values()))
        df.update(toks.keys())
        cf.update(toks)
    paths = IndexPaths(d)
    m = load_manifest(paths)
    got = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in spark.read.parquet(active_dir(paths, m, "term_stats")).collect()
    }
    assert got == {t: (df[t], cf[t]) for t in df}
    assert B.term_dfs(paths, m, [*df, "zzzznotaword"]) == dict(df)
    assert m["n_docs"] == len(dls)
    assert m["sum_dl"] == sum(dls)
    assert m["avgdl"] == pytest.approx(sum(dls) / len(dls) if dls else 0.0, rel=1e-12)
    oracle = OracleIndex(list(live.items()))
    rows = InvertedIndex(spark, d).search(QUERIES, k=K).orderBy("query_id", "rank").collect()
    want = oracle.search_all(QUERIES, k=K)
    assert [(r["query_id"], r["rank"], r["docid"]) for r in rows] == [w[:3] for w in want]
    np.testing.assert_allclose([r["score"] for r in rows], [w[3] for w in want], rtol=1e-5)


def _build(spark, d: str, corpus: Corpus, n: int) -> None:
    pdf = corpus.pages(n)
    build_index(spark, spark.createDataFrame(pdf), d, config=CFG, shards_per_batch=SPB)
    corpus.staged(0, pdf)


def _add(spark, d: str, corpus: Corpus, n: int) -> None:
    pdf = corpus.pages(n)
    add_documents(spark, spark.createDataFrame(pdf), d)
    corpus.staged(_new_base(d), pdf)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_mutations_match_recount(spark, tmp_path_factory, data):
    """Random add / delete / compact sequences. Deletes mix live ids,
    already-deleted ids and ids no document was ever assigned."""
    d = str(tmp_path_factory.mktemp("fold") / "idx")
    corpus = Corpus(data.draw(st.integers(0, 2**16), label="seed"))
    _build(spark, d, corpus, data.draw(st.integers(1, 40), label="n_base"))
    for _ in range(data.draw(st.integers(1, 3), label="n_steps")):
        op = data.draw(st.sampled_from(["add", "delete", "compact"]), label="op")
        if op == "add":
            _add(spark, d, corpus, data.draw(st.integers(1, 40), label="n_add"))
        elif op == "delete":
            top = max(corpus.live, default=0) + 2 * SPAN  # past every assigned id
            ids = data.draw(st.lists(st.integers(0, top), max_size=12), label="ids")
            delete_documents(spark, d, ids)
            for i in ids:
                corpus.live.pop(i, None)
        else:
            compact(spark, d)
        _assert_exact(spark, d, corpus.live)


def test_delete_of_unassigned_docid_leaves_later_add_searchable(spark, tmp_path):
    """Deleting an id no document holds is a no-op. Tombstoning it
    would delete the document a later add assigns it to: that doc was
    then never returned, not even for its own text, and n_docs was one
    short."""
    cfg = IndexConfig(shard_size=16, block_size=8, term_buckets=4, bm25=BM25Params())
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(64)), d, config=cfg,
                shards_per_batch=4)
    m = delete_documents(spark, d, [64])
    assert m["n_docs"] == 64
    extra = synth_pages_pandas(16, seed=7)
    m = add_documents(spark, spark.createDataFrame(extra), d)
    assert m["lineage"][-1]["docid_base"] == 64
    assert m["n_docs"] == 80
    text = extra["text"].iloc[int(np.argsort(extra["url"].to_numpy())[0])]
    hits = InvertedIndex(spark, d).search([(0, text)], k=100).collect()
    assert 64 in {r["docid"] for r in hits}


def test_add_after_delete_does_not_retokenize_deleted_docs(spark, tmp_path, monkeypatch):
    """The active term stats are already net of every delete, so an add
    folds its new batches in without subtracting any tombstone again."""
    d = str(tmp_path / "idx")
    corpus = Corpus(1)
    _build(spark, d, corpus, 40)
    delete_documents(spark, d, [1, 2, 3, 35])
    for i in (1, 2, 3, 35):
        corpus.live.pop(i)

    def refuse(*a, **kw):
        raise AssertionError("add re-tokenized deleted documents")

    monkeypatch.setattr(B, "_subtract_deleted", refuse)
    _add(spark, d, corpus, 20)
    monkeypatch.undo()
    _assert_exact(spark, d, corpus.live)


def test_kill_at_fold_commit_then_resume_folds_once(spark, tmp_path, monkeypatch):
    """A crash after the new term_stats dir is written but before the
    manifest commit leaves the old stats and fold record live; resume
    folds the new batches exactly once."""
    d = str(tmp_path / "idx")
    corpus = Corpus(2)
    _build(spark, d, corpus, 40)
    delete_documents(spark, d, [0, 33])
    for i in (0, 33):
        corpus.live.pop(i)
    folded = load_manifest(IndexPaths(d))["folded"]

    orig = B.save_manifest

    def dying(paths, manifest):
        if manifest.get("finalized"):
            raise RuntimeError("killed at the fold commit")
        orig(paths, manifest)

    monkeypatch.setattr(B, "save_manifest", dying)
    pdf = corpus.pages(30)
    with pytest.raises(RuntimeError, match="fold commit"):
        add_documents(spark, spark.createDataFrame(pdf), d)
    monkeypatch.undo()
    m = load_manifest(IndexPaths(d))
    assert not m["finalized"] and m["folded"] == folded
    assert all(b["status"] == "committed" for b in m["batches"].values())

    resume_add(spark, d)
    corpus.staged(_new_base(d), pdf)
    _assert_exact(spark, d, corpus.live)


def test_manifest_without_fold_record_refolds_exactly(spark, tmp_path, monkeypatch):
    """An index written before the fold record and the staged per-batch
    stats existed: no record means nothing folded, so the next add
    refolds every batch and subtracts the tombstones inside each batch
    range. That includes a stray tombstone on an id the old delete
    accepted before any document held it: the query filter hides that
    document, so the stats leave it out too."""
    d = str(tmp_path / "idx")
    corpus = Corpus(3)
    _build(spark, d, corpus, 50)
    delete_documents(spark, d, [2, 40, 49])
    for i in (2, 40, 49):
        corpus.live.pop(i)
    paths = IndexPaths(d)
    m = load_manifest(paths)
    stray = 2 * SPAN + 1  # in the batch the next add stages
    spark.createDataFrame(pd.DataFrame({"docid": [2, 40, 49, stray]})).write.mode(
        "overwrite"
    ).parquet(active_dir(paths, m, "tombstones"))
    del m["folded"]
    save_manifest(paths, m)

    _add(spark, d, corpus, 20)
    assert _new_base(d) == 2 * SPAN
    corpus.live.pop(stray)
    _assert_exact(spark, d, corpus.live)

    # an add killed mid-batch on such an index, its staged batch stats
    # stripped as the old staging left them: resume computes them
    orig = B._build_one_batch

    def dying(*a, **kw):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(B, "_build_one_batch", dying)
    pdf = corpus.pages(25)
    with pytest.raises(RuntimeError, match="simulated kill"):
        add_documents(spark, spark.createDataFrame(pdf), d)
    monkeypatch.setattr(B, "_build_one_batch", orig)
    m = load_manifest(paths)
    m["batches"] = {k: b for k, b in m["batches"].items() if b["status"] == "committed"}
    del m["folded"]
    save_manifest(paths, m)
    resume_add(spark, d)
    corpus.staged(_new_base(d), pdf)
    _assert_exact(spark, d, corpus.live)
