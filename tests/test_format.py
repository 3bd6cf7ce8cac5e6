"""Postings-format gate: an index whose manifest does not name format 2
(``functions/codec.py``) is refused at every step that reads posting
payloads or appends new ones, and ``rebuild_index`` migrates it.

A format-1 index is simulated by dropping the manifest's ``format``
field, as every manifest written before format 2 lacks it; the refusal
happens before any payload is read. ``rebuild_index`` reads only
staging and tombstones, so it also migrates the oldest manifests, which
lack ``key_type`` too."""

from __future__ import annotations

import numpy as np
import pytest

import pylate_spark.plans.build as B
from pylate_spark import storage
from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest, save_manifest
from pylate_spark.plans.maintenance import (
    add_documents,
    compact,
    delete_documents,
    rebuild_index,
    resume_add,
)
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import synth_pages_pandas

CFG = IndexConfig(shard_size=32, block_size=16, term_buckets=8, bm25=BM25Params())
SPB = 2
QUERIES = [(0, "the w00004 w00123"), (1, "rare0001 w00001"), (2, "w00002 w00003 of")]


def _strip(d, *fields):
    paths = IndexPaths(d)
    m = load_manifest(paths)
    for f in fields:
        m.pop(f, None)
    save_manifest(paths, m)
    return paths


def test_format1_index_is_refused(spark, tmp_path, monkeypatch):
    """InvertedIndex, add_documents, resume_add and compact each refuse
    a format-1 manifest with an error that names rebuild_index; the
    refused add stages nothing."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(64)), d, config=CFG,
                shards_per_batch=SPB)
    delete_documents(spark, d, [1, 2])  # so compact has work to refuse
    paths = _strip(d, "format")
    staged = storage.listdir(active_dir(paths, load_manifest(paths), "staging"))
    committed = storage.read_text(paths.manifest)
    extra = spark.createDataFrame(synth_pages_pandas(8, seed=5))

    with pytest.raises(ValueError, match="format 1.*rebuild_index"):
        InvertedIndex(spark, d)
    with pytest.raises(ValueError, match="rebuild_index"):
        add_documents(spark, extra, d)
    with pytest.raises(ValueError, match="rebuild_index"):
        compact(spark, d)
    assert storage.read_text(paths.manifest) == committed
    assert storage.listdir(active_dir(paths, load_manifest(paths), "staging")) == staged

    # an add killed mid-batch on a format-2 index, then read as format 1
    m = load_manifest(paths)
    m["format"] = B.FORMAT
    save_manifest(paths, m)

    def dying(*a, **kw):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(B, "_build_one_batch", dying)
    with pytest.raises(RuntimeError, match="simulated kill"):
        add_documents(spark, extra, d)
    monkeypatch.undo()
    _strip(d, "format")
    with pytest.raises(ValueError, match="rebuild_index"):
        resume_add(spark, d)
    assert not load_manifest(paths).get("finalized")


def test_rebuild_migrates_legacy_integer_keyed_index(spark, tmp_path):
    """An integer-keyed index whose manifest lacks both ``format`` and
    ``key_type``: rebuild_index reads its staging with the url type of
    the Parquet footer and writes a format-2 index that ranks exactly
    as OracleIndex over the live documents."""
    pdf = synth_pages_pandas(150)
    pdf["url"] = np.arange(7_000, 7_000 + len(pdf), dtype=np.int64)[::-1]
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build_index(spark, spark.createDataFrame(pdf), src, config=CFG, shards_per_batch=SPB)
    doomed = [0, 17, 90]
    delete_documents(spark, src, doomed)
    _strip(src, "format", "key_type")

    m = rebuild_index(spark, src, dst)
    assert m["format"] == B.FORMAT and m["key_type"] == "bigint"
    # docids are dense in url order: docid d holds url 7000 + d
    live = pdf.sort_values("url")
    live = live[~live["url"].isin(7_000 + np.asarray(doomed))]
    oracle = OracleIndex(list(enumerate(live["text"])))
    idx = InvertedIndex(spark, dst)
    assert idx.n_docs == oracle.n_docs
    rows = idx.search(QUERIES, k=10).orderBy("query_id", "rank").collect()
    got = [(r["query_id"], r["rank"], r["docid"], r["score"]) for r in rows]
    want = oracle.search_all(QUERIES, k=10)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    np.testing.assert_allclose([g[3] for g in got], [w[3] for w in want], rtol=1e-5)
    assert sorted(idx.docmap().toPandas()["url"]) == sorted(live["url"])
