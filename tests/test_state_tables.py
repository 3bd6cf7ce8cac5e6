"""The index's state tables have one owner (``plans/build.py``): four
tables (staging, segments, term_stats, tombstones), one declared schema
and one reader per table, one segment writer, one tombstone reader.

- every segment file is sorted by ``(term, shard)`` after each writer:
  a build, an add, ``compact`` and ``consolidate_segments``
- a corpus with no tokens builds, searches to an empty result and
  takes a later add
- opening a handle and reading a state table start no Spark job, and
  each declared schema equals the one Spark infers from the files, for
  string and integer key columns
- the url map (``InvertedIndex.docmap``) is a projection of staging:
  no mutation writes a ``docmap`` dir, the read starts no job and skips
  ``text``, a handle keeps its snapshot across an add, and an index
  that still has the stored ``docmap`` dir of the old layout resolves
  the same urls and loses that dir at its next mutation
- the manifest's ``n_postings`` / ``bytes`` equal the segments' after
  ``compact`` and after a later add, and ``compact`` commits once
"""

from __future__ import annotations

import glob

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from pylate_spark import storage
from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans import build as B
from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest, read_state
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
    staging ``url`` column keeps the caller's key type."""
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


def _docmap_dirs(d: str) -> list[str]:
    return [n for n in storage.listdir(d) if n.startswith("docmap")]


def test_no_mutation_writes_a_docmap(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(100)), d, config=CFG, shards_per_batch=SPB)
    assert _docmap_dirs(d) == [], "build"
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(40, seed=7)), d)
    assert _docmap_dirs(d) == [], "add_documents"
    delete_documents(spark, d, [1, 2, 70])
    compact(spark, d)
    assert _docmap_dirs(d) == [], "compact"
    assert "docmap" not in load_manifest(IndexPaths(d))["dirs"]


def test_docmap_is_a_staging_projection(spark, tmp_path):
    d = str(tmp_path / "idx")
    pages = synth_pages_pandas(100)
    build_index(spark, spark.createDataFrame(pages), d, config=CFG, shards_per_batch=SPB)
    idx = InvertedIndex(spark, d)
    out = {}
    assert _jobs(spark, "docmap", lambda: out.setdefault("dm", idx.docmap())) == 0
    dm = out["dm"]
    assert dm.columns == ["url", "docid", "shard", "dl"]
    plan = dm._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "text" not in read_schema and "docid" in read_schema, read_schema
    # docids are dense in url order
    urls = sorted(pages["url"])
    assert sorted((r["docid"], r["url"]) for r in dm.collect()) == list(enumerate(urls))


def test_docmap_snapshot_across_add(spark, tmp_path, monkeypatch):
    """A handle opened before an add keeps its document set: the add
    appends its rows to the same staging dir, and the handle reads only
    the batches its manifest committed."""
    monkeypatch.setattr(B, "GC_RETAIN_SECONDS", 3600.0)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(100)), d, config=CFG, shards_per_batch=SPB)
    old = InvertedIndex(spark, d)
    n = old.docmap().count()
    assert n == 100
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=7)), d)
    assert old.docmap().count() == n
    assert InvertedIndex(spark, d).docmap().count() == n + 16


def _legacy_docmap(spark, d: str) -> str:
    """Write the stored url map of the old layout, as its finalize
    wrote it (staging minus ``text``), and point the manifest at it."""
    paths = IndexPaths(d)
    m = load_manifest(paths)
    read_state(spark, paths, m, "staging").select("url", "docid", "shard", "dl").write.parquet(
        storage.join(d, "docmap_v1")
    )
    m.setdefault("dirs", {})["docmap"] = "docmap_v1"
    B.save_manifest(paths, m)
    return storage.join(d, "docmap_v1")


def test_resolve_urls_equals_stored_docmap(spark, tmp_path):
    """``resolve_urls`` over the staging projection returns the rows the
    stored docmap's join returned, deleted documents included."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(150)), d, config=CFG, shards_per_batch=SPB)
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(30, seed=7)), d)
    delete_documents(spark, d, [3, 4])
    stored = _legacy_docmap(spark, d)
    idx = InvertedIndex(spark, d)
    res = idx.search(QUERIES, k=K)
    cols = ["query_id", "rank", "docid", "score", "url"]
    got = sorted(tuple(r) for r in idx.resolve_urls(res).select(cols).collect())
    old = res.join(spark.read.parquet(stored).select("docid", "url"), "docid", "left")
    assert got == sorted(tuple(r) for r in old.select(cols).collect())
    assert got and all(r[-1] is not None for r in got)
    ids = [int(r["docid"]) for r in idx.docmap().select("docid").collect()]
    assert len(ids) == 180 and {3, 4} <= set(ids)


def test_legacy_docmap_dir_swept_at_next_mutation(spark, tmp_path):
    d = str(tmp_path / "idx")
    pages = synth_pages_pandas(80)
    build_index(spark, spark.createDataFrame(pages), d, config=CFG, shards_per_batch=SPB)
    stored = _legacy_docmap(spark, d)
    idx = InvertedIndex(spark, d)
    rows = idx.resolve_urls(idx.search(QUERIES, k=K)).collect()
    urls = sorted(pages["url"])
    assert rows and all(r["url"] == urls[r["docid"]] for r in rows)
    delete_documents(spark, d, [5])
    assert not storage.exists(stored)
    assert _docmap_dirs(d) == []


def _segment_totals(spark, d: str) -> tuple[int, int]:
    paths = IndexPaths(d)
    r = read_state(spark, paths, load_manifest(paths), "segments").agg(
        F.sum("df"), F.sum(F.length("payload"))
    ).collect()[0]
    return int(r[0]), int(r[1])


def test_manifest_totals_after_compact_then_add(spark, tmp_path, monkeypatch):
    """compact moves every posting into segments batch 0. The add after
    it re-sums the per-batch entries, which used to keep their
    pre-compact figures: 600 docs, every 3rd deleted, then a 100-page
    add reported n_postings 23,108 against 16,327 in the segments.
    compact also commits once, and refolds without resolving a
    tombstone against staging."""
    cfg = IndexConfig(shard_size=64, block_size=16, term_buckets=4, bm25=BM25Params())
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(synth_pages_pandas(600)), d, config=cfg, shards_per_batch=2)
    delete_documents(spark, d, list(range(0, 600, 3)))

    events = []

    def spy(name, fn):
        def called(*a):
            events.append(name)
            return fn(*a)
        return called

    for name in ("save_manifest", "gc_stale_versions", "_subtract_deleted"):
        monkeypatch.setattr(B, name, spy(name, getattr(B, name)))
    compact(spark, d)
    monkeypatch.undo()
    m = load_manifest(IndexPaths(d))
    assert (m["n_postings"], m["bytes"]) == _segment_totals(spark, d)

    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(100, seed=5)), d)
    assert (m["n_postings"], m["bytes"]) == _segment_totals(spark, d)
    assert m["n_docs"] == 400 + 100
    assert events[: events.index("gc_stale_versions")] == ["save_manifest"]
    assert "_subtract_deleted" not in events
