"""The index's state tables have one owner (``plans/build.py``): one
declared schema and one reader per table, one segment writer, one
tombstone reader.

- every segment file is sorted by ``(term, shard)`` after each writer:
  a build, an add, ``compact`` and ``consolidate_segments``
- a corpus with no tokens builds, searches to an empty result and
  takes a later add
- opening a handle and reading a state table start no Spark job, and
  each declared schema equals the one Spark infers from the files, for
  string and integer key columns
"""

from __future__ import annotations

import glob

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest
from pylate_spark.plans.maintenance import add_documents, compact, consolidate_segments, delete_documents
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import synth_pages_pandas

CFG = IndexConfig(shard_size=32, block_size=16, term_buckets=4, bm25=BM25Params())
SPB = 2
K = 8
QUERIES = [(0, "the w00004 w00123"), (1, "rare0001 w00001"), (2, "w00002 w00003 of")]


def _unsorted_segment_files(d: str) -> list[str]:
    """Segment files of the active version whose rows are not sorted
    by ``(term, shard)``."""
    paths = IndexPaths(d)
    seg_dir = active_dir(paths, load_manifest(paths), "segments")
    files = sorted(glob.glob(f"{seg_dir}/**/*.parquet", recursive=True))
    assert files
    bad = []
    for f in files:
        t = pq.read_table(f, columns=["term", "shard"])
        keys = list(zip(t.column("term").to_pylist(), t.column("shard").to_pylist()))
        if keys != sorted(keys):
            bad.append(f)
    return bad


def _ranked(df):
    return [(r["query_id"], r["rank"], r["docid"], r["score"]) for r in df.orderBy("query_id", "rank").collect()]


def _jobs(spark, name: str, fn) -> int:
    """Spark jobs started by ``fn()``, counted through a job group once
    the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_segment_files_term_sorted_after_every_writer(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(300)), d, config=CFG, shards_per_batch=SPB)
    assert _unsorted_segment_files(d) == [], "build"
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(150, seed=7)), d)
    assert _unsorted_segment_files(d) == [], "add_documents"
    delete_documents(spark, d, list(range(0, 300, 7)))
    compact(spark, d)
    assert _unsorted_segment_files(d) == [], "compact"
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(150, seed=8)), d)
    consolidate_segments(spark, d)
    assert _unsorted_segment_files(d) == [], "consolidate_segments"


def test_build_of_corpus_without_tokens_then_add(spark, tmp_path):
    d = str(tmp_path / "idx")
    empty = pd.DataFrame({"url": ["a", "b"], "text": ["!!", "??"]})
    m = build_index(spark, spark.createDataFrame(empty), d, config=CFG, shards_per_batch=SPB)
    assert m["finalized"] and m["n_docs"] == 0
    res = InvertedIndex(spark, d).search(QUERIES, k=K)
    assert res.dtypes == [("query_id", "bigint"), ("rank", "int"), ("docid", "bigint"), ("score", "float")]
    assert res.count() == 0

    extra = synth_pages_pandas(120, seed=3)
    m = add_documents(spark, spark.createDataFrame(extra), d)
    base = int(m["lineage"][-1]["docid_base"])
    assert m["n_docs"] == 120
    got = _ranked(InvertedIndex(spark, d).search(QUERIES, k=K))
    want = OracleIndex(list(enumerate(empty["text"])) + [(base + i, t) for i, t in enumerate(extra["text"])])
    expected = want.search_all(QUERIES, k=K)
    assert got
    assert [g[:3] for g in got] == [w[:3] for w in expected]
    np.testing.assert_allclose([g[3] for g in got], [w[3] for w in expected], rtol=1e-5)


@pytest.mark.parametrize("key", ["url", "doc_id"])
def test_state_reads_start_no_job(spark, tmp_path, key):
    """``url`` keys are strings, ``doc_id`` keys are integers: the
    staging and docmap ``url`` column keeps the caller's key type."""
    d = str(tmp_path / "idx")
    pages = synth_pages_pandas(200)
    pages["doc_id"] = range(len(pages))
    build_index(
        spark, spark.createDataFrame(pages[[key, "text"]]), d, config=CFG, shards_per_batch=SPB, key_col=key
    )
    delete_documents(spark, d, [1, 5, 9])
    paths = IndexPaths(d)
    manifest = load_manifest(paths)

    handle = {}
    assert _jobs(spark, "open", lambda: handle.setdefault("idx", InvertedIndex(spark, d))) == 0
    assert handle["idx"]._tomb_bc is not None
    assert handle["idx"]._tomb_bc.value.tolist() == [1, 5, 9]

    from pylate_spark.plans.build import STATE_SCHEMAS, read_state

    for name in STATE_SCHEMAS:
        assert _jobs(spark, f"read_{name}", lambda: read_state(spark, paths, manifest, name)) == 0
        # the declared schema is the one Spark infers from the files
        inferred = spark.read.parquet(active_dir(paths, manifest, name)).schema
        assert read_state(spark, paths, manifest, name).schema == inferred, name
