"""Regression tests for the round-2 maintenance-safety fixes:

- batch-geometry persistence (an add with a different shards_per_batch
  used to allocate colliding batch ids and silently drop the new docs;
  adds now take the geometry only from the manifest);
- batch-id allocation past compact-emptied trailing batches;
- epoch-idempotent adds (exactly-once under Structured Streaming epoch
  replay, including the crash-between-staging-and-manifest window);
- the whole index lifecycle on a URI path (``file://``) — no raw
  POSIX ``os``/``shutil`` calls on index state (object-store safety).
"""

from __future__ import annotations

import pytest

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest, save_manifest
from pylate_spark.plans.maintenance import (
    _stage_corpus,
    add_documents,
    compact,
    delete_documents,
    resume_add,
)
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.sources.synth import synth_pages_pandas

CFG = IndexConfig(shard_size=32, block_size=16, term_buckets=8, bm25=BM25Params())
SPB = 2  # batch span = 64 docids


def _build(spark, d, n=64):
    build_index(spark, spark.createDataFrame(synth_pages_pandas(n)), d, config=CFG,
                shards_per_batch=SPB)
    return d


def _n_hits(spark, d, text="the"):
    return InvertedIndex(spark, d).search([(0, text)], k=10_000).count()


def test_add_reuses_built_geometry(spark, tmp_path):
    """Build with spb=2, then add: an add with a different spb used to
    allocate colliding batch ids → new docs silently never indexed. An
    add takes no geometry of its own; it reuses the built one."""
    d = _build(spark, str(tmp_path / "idx"))
    extra = spark.createDataFrame(synth_pages_pandas(16, seed=7))
    n_before = _n_hits(spark, d)
    m = add_documents(spark, extra, d)  # geometry from the manifest
    assert m["n_docs"] == 64 + 16
    assert _n_hits(spark, d) > n_before  # new docs actually searchable


def test_add_to_manifest_without_batch_span(spark, tmp_path):
    """A manifest written before shards_per_batch was persisted: an add
    falls back to the build default of 64 shards per batch, so the new
    docs start at the next 64-shard batch boundary and are searchable."""
    d = _build(spark, str(tmp_path / "idx"))
    paths = IndexPaths(d)
    manifest = load_manifest(paths)
    del manifest["shards_per_batch"]
    save_manifest(paths, manifest)
    n_before = _n_hits(spark, d)
    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=7)), d)
    assert m["n_docs"] == 64 + 16
    span = CFG.shard_size * 64
    assert m["batches"]["1"]["status"] == "committed" and m["batches"]["1"]["n_docs"] == 16
    docmap = InvertedIndex(spark, d).docmap()
    assert docmap.where(f"docid >= {span}").agg({"docid": "min"}).collect()[0][0] == span
    assert docmap.where(f"docid >= {span}").count() == 16
    assert _n_hits(spark, d) > n_before


def test_add_after_compact_emptied_trailing_batch(spark, tmp_path):
    """Deleting+compacting the whole trailing batch used to let the next
    add re-derive an already-committed batch id from the shrunken docid
    range — the build loop then skipped it. Batch ids now allocate past
    every committed id."""
    d = _build(spark, str(tmp_path / "idx"), n=128)  # batches 0,1
    delete_documents(spark, d, list(range(64, 128)))  # all of batch 1
    compact(spark, d)
    assert load_manifest(IndexPaths(d))["n_docs"] == 64
    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=11)), d)
    assert m["n_docs"] == 64 + 16
    # the new batch id must be fresh, not a recycled committed one
    new_ids = [int(k) for k, v in m["batches"].items() if v.get("n_docs") == 16]
    assert new_ids and min(new_ids) >= 2
    assert _n_hits(spark, d) >= 64


def test_add_epoch_replay_is_noop(spark, tmp_path):
    d = _build(spark, str(tmp_path / "idx"))
    extra = spark.createDataFrame(synth_pages_pandas(16, seed=5))
    m1 = add_documents(spark, extra, d, epoch_key="ckpt#1", epoch_monotonic=True)
    assert m1["n_docs"] == 80
    m2 = add_documents(spark, extra, d, epoch_key="ckpt#1", epoch_monotonic=True)  # replay
    assert m2["n_docs"] == 80
    # streaming epoch keys are recorded as max-epoch-per-stream (bounded
    # manifest growth), not one list entry per micro-batch
    assert m2["applied_epoch_max"]["ckpt"] == 1
    assert "ckpt#1" not in m2.get("applied_epochs", [])


def test_arbitrary_epoch_keys_keep_exact_semantics(spark, tmp_path):
    """A non-streaming caller key that HAPPENS to end in '#<int>' must
    not get monotonic-skip semantics: 'load#1' after 'load#2' is a new
    key and its documents must be indexed (the monotonic shortcut is
    opt-in for the streaming sink only)."""
    d = _build(spark, str(tmp_path / "idx"))
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=5)),
                  d, epoch_key="load#2")
    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=7)),
                      d, epoch_key="load#1")
    assert m["n_docs"] == 64 + 16 + 16  # NOT silently skipped
    # and exact replay of an applied key is still a no-op
    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=7)),
                      d, epoch_key="load#1")
    assert m["n_docs"] == 64 + 16 + 16


def test_add_replay_after_crash_mid_staging(spark, tmp_path):
    """Simulate the worst replay window: pending_add marker written and
    rows staged, but the post-staging manifest commit never happened
    (crash). The replayed epoch must purge the orphan rows and redo the
    add exactly once."""
    d = _build(spark, str(tmp_path / "idx"))
    paths = IndexPaths(d)
    manifest = load_manifest(paths)
    # reproduce add_documents' crash state by hand: marker + staged rows
    manifest["pending_add"] = {"first_new_batch": 1, "docid_base": 64, "epoch_key": "ckpt#9"}
    save_manifest(paths, manifest)
    extra_pdf = synth_pages_pandas(16, seed=5)
    _stage_corpus(spark, spark.createDataFrame(extra_pdf), CFG, SPB, "url", "text",
                  staging_dir=active_dir(paths, manifest, "staging"), docid_base=64)
    # ... crash; Structured Streaming replays the epoch:
    m = add_documents(spark, spark.createDataFrame(extra_pdf), d, epoch_key="ckpt#9", epoch_monotonic=True)
    assert m["n_docs"] == 64 + 16  # exactly once, no duplicates
    docmap = InvertedIndex(spark, d).docmap()
    assert docmap.count() == 80  # orphan staged rows purged, one add applied
    assert docmap.select("docid").distinct().count() == 80


def test_add_replay_after_crash_mid_build(spark, tmp_path):
    """Crash after the staging commit (epoch recorded, batches pending):
    the sink's discipline is resume_add then the epoch skip."""
    d = _build(spark, str(tmp_path / "idx"))
    paths = IndexPaths(d)
    extra_pdf = synth_pages_pandas(16, seed=5)

    import pylate_spark.plans.build as B

    orig = B._build_one_batch

    def dying(spark_, paths_, config_, batch_, spb_, manifest_):
        raise RuntimeError("kill")

    B._build_one_batch = dying  # the one batch-build call site
    try:
        with pytest.raises(RuntimeError, match="kill"):
            add_documents(spark, spark.createDataFrame(extra_pdf), d, epoch_key="ckpt#2", epoch_monotonic=True)
    finally:
        B._build_one_batch = orig
    # replay discipline (what the streaming sink does):
    m = load_manifest(paths)
    assert not m.get("finalized")
    resume_add(spark, d)
    m = add_documents(spark, spark.createDataFrame(extra_pdf), d, epoch_key="ckpt#2", epoch_monotonic=True)
    assert m["n_docs"] == 64 + 16
    assert m["applied_epoch_max"]["ckpt"] == 2


def test_index_lifecycle_on_uri_path(spark, tmp_path):
    """build → search → delete → compact → add → resume on a file://
    URI: every driver-side state op must go through the storage layer
    (raw os.path/shutil would not see this path the same way Spark and
    PyArrow do, and would break outright on s3://)."""
    d = f"file://{tmp_path}/uri_idx"
    _build(spark, d, n=96)
    idx = InvertedIndex(spark, d)
    before = idx.search([(0, "the w00004")], k=5).collect()
    assert len(before) > 0
    delete_documents(spark, d, [before[0]["docid"]])
    got = InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect()
    assert before[0]["docid"] not in {r["docid"] for r in got}
    compact(spark, d)
    got2 = InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect()
    assert [(r["docid"], r["rank"]) for r in got2] == [(r["docid"], r["rank"]) for r in got]
    m = add_documents(spark, spark.createDataFrame(synth_pages_pandas(8, seed=3)), d)
    assert m["finalized"] and m["n_docs"] == 96 - 1 + 8


def test_large_tombstone_set_broadcast_and_rank_identity(spark, tmp_path):
    """100k+ tombstones: shipped to executors once as a broadcast (not
    pickled into every task closure) and filtered in the kernel without
    changing ranks of surviving docs. The bulk of the ids reference
    docids outside the corpus (the cheap way to size-test the mechanism
    without a 100k-doc build); a handful are real deletes."""
    import numpy as np
    import pandas as pd

    d = _build(spark, str(tmp_path / "idx"), n=256)
    real = [3, 64, 130]
    delete_documents(spark, d, real)
    want = InvertedIndex(spark, d).search([(0, "the w00004")], k=20).collect()

    # append 150k never-matching tombstones directly (docids >= corpus)
    big = pd.DataFrame({"docid": np.arange(1_000_000, 1_150_000, dtype=np.int64)})
    paths = IndexPaths(d)
    spark.createDataFrame(big).write.mode("append").parquet(
        active_dir(paths, load_manifest(paths), "tombstones")
    )
    idx = InvertedIndex(spark, d)
    assert idx._tomb_bc is not None and idx._tomb_bc.value.size == 150_000 + len(real)
    got = idx.search([(0, "the w00004")], k=20).collect()
    assert [(r["rank"], r["docid"], r["score"]) for r in got] == [
        (r["rank"], r["docid"], r["score"]) for r in want
    ]
    assert not {r["docid"] for r in got} & set(real)


def test_versioned_swap_crash_windows(spark, tmp_path):
    """Versioned-directory rewrites: (a) a crash AFTER the new version
    is written but BEFORE the manifest commit leaves the old state live
    and the new dir as sweepable garbage; (b) after a successful
    compact, exactly one version of each state dir remains and results
    are unchanged."""
    from pylate_spark import storage
    from pylate_spark.plans.build import gc_stale_versions
    from pylate_spark.plans.maintenance import consolidate_segments

    d = _build(spark, str(tmp_path / "idx"), n=128)
    paths = IndexPaths(d)
    want = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()

    # (a) simulate the crash: an orphan next-version dir exists, the
    # manifest still points at the old one — the index must open and
    # answer from the committed state, and the next rewrite's GC sweeps
    orphan = storage.join(d, "segments_v99")
    storage.makedirs(orphan)
    got = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    assert got == want
    consolidate_segments(spark, d)  # commits a real new version + GCs
    assert not storage.exists(orphan)
    got = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    assert got == want

    # (b) delete + compact: pointers flip, exactly one live version per
    # logical dir, rank-identity holds for survivors
    victim = want[-1]["docid"]
    delete_documents(spark, d, [victim])
    before = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    compact(spark, d)
    manifest = load_manifest(paths)
    gc_stale_versions(paths, manifest)
    names = storage.listdir(d)
    for logical in ("segments", "term_stats", "staging"):
        versions = [n for n in names if n == logical or n.startswith(logical + "_v")]
        assert len(versions) == 1, (logical, versions)
    assert not [n for n in names if n.startswith("docmap")]
    after = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    assert after == before
    assert victim not in {r["docid"] for r in after}


def test_rebuild_renumbers_dense_and_preserves_results(spark, tmp_path):
    """rebuild_index: after delete+add churn, the rebuilt index has a
    dense 0..n-1 docid space and returns the same (url, score) results
    (docids differ by design — ranks may flip only on exact score ties,
    so compare score-sorted url multisets)."""
    from pylate_spark.plans.maintenance import rebuild_index

    d = _build(spark, str(tmp_path / "idx"), n=128)
    delete_documents(spark, d, [5, 17, 64, 65])
    add_documents(spark, spark.createDataFrame(synth_pages_pandas(16, seed=5)), d)
    src = InvertedIndex(spark, d)

    d2 = str(tmp_path / "idx2")
    m2 = rebuild_index(spark, d, d2)
    dst = InvertedIndex(spark, d2)
    assert m2["n_docs"] == src.n_docs == 128 - 4 + 16
    dm = dst.docmap()
    n = dm.count()
    assert n == m2["n_docs"]
    agg = dm.agg({"docid": "max"}).collect()[0][0]
    assert agg == n - 1  # dense renumbering
    assert dm.select("docid").distinct().count() == n

    def by_url(idx):
        # k > corpus so the boundary can't cut a score tie differently
        rows = idx.resolve_urls(idx.search([(0, "the w00004")], k=500, round_to=4)).collect()
        return sorted((round(float(r["score"]), 4), r["url"]) for r in rows)

    assert by_url(src) == by_url(dst)


def test_gc_snapshot_retention(spark, tmp_path, monkeypatch):
    """With a retention window, a rewrite retires the old version dirs
    instead of deleting them: a reader that resolved its pointers
    before the rewrite keeps answering from its immutable snapshot; the
    dirs are swept only after the window expires (Iceberg's
    expire_snapshots model, for readers that outlive a compaction)."""
    import pylate_spark.plans.build as B
    from pylate_spark import storage
    from pylate_spark.plans.build import gc_stale_versions, save_manifest
    from pylate_spark.plans.maintenance import consolidate_segments

    d = _build(spark, str(tmp_path / "idx"), n=64)
    paths = IndexPaths(d)
    reader = InvertedIndex(spark, d)  # snapshot: pointers resolved now
    want = reader.search([(0, "the w00004")], k=5).collect()
    old_seg = active_dir(paths, load_manifest(paths), "segments")

    monkeypatch.setattr(B, "GC_RETAIN_SECONDS", 3600.0)
    consolidate_segments(spark, d)  # rewrites segments + sweeps with window
    assert storage.exists(old_seg), "retired dir must survive the window"
    assert reader.search([(0, "the w00004")], k=5).collect() == want
    assert InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect() == want

    # expire the window: back-date the retirement stamps, sweep again
    m = load_manifest(paths)
    m["retired"] = {k: 0.0 for k in m.get("retired", {})}
    save_manifest(paths, m)
    gc_stale_versions(paths, m)
    assert not storage.exists(old_seg)
    assert InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect() == want


def test_gc_retention_keeps_tombstones_with_old_segments(spark, tmp_path, monkeypatch):
    """compact under a retention window must FLIP the tombstones dir,
    not delete it: a reader on the pre-compact manifest snapshot needs
    the old tombstones alongside the old segments, or deleted documents
    resurrect mid-query."""
    import pylate_spark.plans.build as B
    from pylate_spark import storage

    d = _build(spark, str(tmp_path / "idx"), n=96)
    top = InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect()
    victim = top[0]["docid"]
    delete_documents(spark, d, [victim])
    pre_manifest = load_manifest(IndexPaths(d))  # the snapshot a reader holds
    old_tomb = active_dir(IndexPaths(d), pre_manifest, "tombstones")
    want = InvertedIndex(spark, d).search([(0, "the w00004")], k=5).collect()
    assert victim not in {r["docid"] for r in want}

    monkeypatch.setattr(B, "GC_RETAIN_SECONDS", 3600.0)
    compact(spark, d)
    # old tombstones dir survives the window for snapshot readers...
    assert storage.exists(old_tomb)
    late_reader_view = spark.read.parquet(old_tomb)
    assert victim in {r["docid"] for r in late_reader_view.collect()}
    # ...while a fresh handle sees the compacted state (no tombstones)
    idx = InvertedIndex(spark, d)
    assert idx._tomb_bc is None
    assert idx.search([(0, "the w00004")], k=5).collect() == want


def test_delete_crash_before_commit_leaves_index_intact(spark, tmp_path):
    """delete_documents is one atomic commit: if it dies before the
    manifest write (after the new tombstone/term_stats versions were
    written), the index is untouched — and the RETRY actually deletes
    (an append-based protocol made the retry a silent no-op)."""
    import pylate_spark.plans.maintenance as M

    d = _build(spark, str(tmp_path / "idx"), n=128)
    want = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    victim = want[0]["docid"]
    n_docs_before = load_manifest(IndexPaths(d))["n_docs"]

    orig = M.save_manifest

    def dying(paths_, manifest_):
        raise RuntimeError("kill before commit")

    M.save_manifest = dying
    try:
        with pytest.raises(RuntimeError):
            delete_documents(spark, d, [victim])
    finally:
        M.save_manifest = orig

    # crash window: nothing visible changed
    m = load_manifest(IndexPaths(d))
    assert m["n_docs"] == n_docs_before
    got = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    assert got == want

    # retry is NOT a no-op: the doc goes away with exact stats
    m = delete_documents(spark, d, [victim])
    assert m["n_docs"] == n_docs_before - 1
    got = InvertedIndex(spark, d).search([(0, "the w00004")], k=10).collect()
    assert victim not in {r["docid"] for r in got}


def test_compact_crash_before_commit_leaves_index_intact(spark, tmp_path, monkeypatch):
    """compact is one atomic commit (``build._finalize``'s manifest
    write): killed there, the manifest on disk is byte-identical, a
    fresh handle ranks as before, the tombstones are intact, and a
    re-run compacts to the oracle's ranking of the live documents.

    A delete killed at its commit first leaves a tombstone dir of the
    version name compact allocates for the cleared set; compact must
    not adopt that orphan."""
    import numpy as np

    import pylate_spark.plans.build as B
    import pylate_spark.plans.maintenance as M
    from pylate_spark import storage
    from pylate_spark.oracle import OracleIndex

    pages = synth_pages_pandas(128)
    d = _build(spark, str(tmp_path / "idx"), n=128)
    doomed = list(range(0, 128, 5))
    delete_documents(spark, d, doomed)
    paths = IndexPaths(d)
    queries = [(0, "the w00004"), (1, "w00001 w00002 of")]

    def ranked():
        rows = InvertedIndex(spark, d).search(queries, k=10).orderBy("query_id", "rank").collect()
        return [(r["query_id"], r["rank"], r["docid"], r["score"]) for r in rows]

    def dying(paths_, manifest_):
        raise RuntimeError("killed at the commit")

    want = ranked()
    kept = want[0][2]  # a live, top-ranked doc the killed delete names
    monkeypatch.setattr(M, "save_manifest", dying)
    with pytest.raises(RuntimeError):
        delete_documents(spark, d, [kept])
    monkeypatch.undo()
    committed = storage.read_text(paths.manifest)
    monkeypatch.setattr(B, "save_manifest", dying)
    with pytest.raises(RuntimeError, match="killed at the commit"):
        compact(spark, d)
    monkeypatch.undo()
    assert storage.read_text(paths.manifest) == committed
    assert ranked() == want
    assert B._tombstones(paths, load_manifest(paths)).tolist() == doomed

    m = compact(spark, d)
    assert B._tombstones(paths, m).size == 0
    oracle = OracleIndex(list(enumerate(pages["text"])))
    oracle.delete(set(doomed))
    got = ranked()
    expected = oracle.search_all(queries, k=10)
    assert [g[:3] for g in got] == [w[:3] for w in expected]
    np.testing.assert_allclose([g[3] for g in got], [w[3] for w in expected], rtol=1e-5)
