"""Incremental index maintenance: add / delete / compact.

Reference analogs:
- ``add_documents`` without full rebuild —
  ``/root/reference/pylate/indexes/fast_plaid.py:210-227`` and
  ``stanford_nlp/index_updater.py:142-163`` (append new chunks, reuse
  trained codec). Our adds append whole new *build batches* (docids
  start at the next batch-aligned boundary so committed batches are
  never touched — the append is as atomic and resumable as the
  original build), then fold the new batches into the term/corpus
  stats exactly: the stats work scales with the new batches, not with
  the index.
- ``remove_documents`` — ``fast_plaid.py:232-276`` renumbers ids;
  ``index_updater.py:52-69,329-365`` rewrites IVF cells. We use
  tombstones instead (Iceberg-style row-level deletes): a small docid
  set consulted by the query kernel, with *exact* stats adjustment
  (df/cf per term, N, avgdl recomputed from the staged texts of the
  deleted docs, in one pass over those docs only), so post-delete
  scores remain rank-identical to a from-scratch oracle. Block
  metadata stays a valid upper bound under deletion (scores only
  shrink), so the pruning cascade stays exact.
- ``compact`` physically drops tombstoned postings and rewrites
  segments — the analog of the reference's chunk rewrite
  (``index_updater.py:414-460``).

Idempotence / replay contract (used by streaming ingest):
- batch geometry (``shards_per_batch``) is persisted in the manifest at
  build time; adds always reuse it, so new batch ids can never collide
  with committed ones (new ids are allocated past the highest committed
  batch id).
- every add is bracketed by manifest commits: a ``pending_add`` marker
  is written *before* staging (so a crash mid-staging is detected and
  the partial batch dirs purged on the next attempt), and the
  ``epoch_key`` (if any) is recorded (streaming keys as max applied
  epoch per checkpoint dir, arbitrary keys in ``applied_epochs``) in
  the same atomic manifest write that commits the staged rows — so a
  replayed epoch either finds its key (skip) or finds no trace of its
  rows (safe to redo). See :mod:`pylate_spark.streaming.ingest`.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pylate_spark import storage
from pylate_spark.plans.build import (
    IndexPaths,
    _commit_batches,
    _doc_stats,
    _finalize,
    _geometry,
    _now,
    _stage_corpus,
    _staged_entries,
    _subtract_deleted,
    _tombstones,
    _write_segments,
    active_dir,
    build_index,
    bump_dir,
    gc_stale_versions,
    load_manifest,
    read_state,
    require_format,
    save_manifest,
)
from pylate_spark.plans.segments import SEGMENT_SCHEMA
from pylate_spark.worker import forget_archive_importers


def _purge_staged_batches(staging_dir: str, first_batch: int) -> None:
    """Remove staged batch partitions >= first_batch (repair path for
    an add that crashed between staging write and manifest commit)."""
    for name in storage.listdir(staging_dir):
        if not name.startswith("batch="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b >= first_batch:
            storage.rmtree(storage.join(staging_dir, name))


def _epoch_parts(epoch_key: str) -> tuple[str, int] | None:
    """Split a streaming epoch key ``"{checkpoint_dir}#{epoch_id}"``
    into (stream id, epoch number); None if the tail is not a
    NON-NEGATIVE int. Negative tails are deliberately rejected:
    Structured Streaming epoch ids are non-negative, and accepting
    ``"x#-2"`` would make ``_epoch_applied`` compare ``-2 <= -1``
    (the never-applied default) and silently skip a never-applied
    add — exact-set semantics are the safe fallback for such keys."""
    sid, sep, e = epoch_key.rpartition("#")
    if sep and e.isdigit():
        return sid, int(e)
    return None


def _epoch_applied(manifest: dict, epoch_key: str, monotonic: bool) -> bool:
    if monotonic:
        parts = _epoch_parts(epoch_key)
        if parts is not None and parts[1] <= int(
            manifest.get("applied_epoch_max", {}).get(parts[0], -1)
        ):
            return True
    # exact-set semantics (and pre-round-3 manifests)
    return epoch_key in manifest.get("applied_epochs", [])


def _record_epoch(manifest: dict, epoch_key: str, monotonic: bool) -> None:
    """Record an applied epoch.

    ``monotonic=True`` (the streaming sink's own keys, shaped
    ``"{checkpoint_dir}#{epoch_id}"``): Structured Streaming epoch ids
    are monotonic per checkpoint dir and commit in order through the
    foreachBatch sink, so the max applied epoch per stream fully
    encodes the applied set — O(#streams) manifest growth instead of
    one list entry per micro-batch (O(n²) rewrite churn over a
    long-running stream). Arbitrary caller keys MUST use
    ``monotonic=False`` (exact set semantics): treating any key that
    happens to end in ``#<int>`` as monotonic would silently skip a
    never-applied add whose numeric tail is below a previous one."""
    if monotonic:
        parts = _epoch_parts(epoch_key)
        if parts is None:
            raise ValueError(
                f"monotonic epoch_key must end in '#<int>', got {epoch_key!r}"
            )
        m = manifest.setdefault("applied_epoch_max", {})
        m[parts[0]] = max(int(m.get(parts[0], -1)), parts[1])
    else:
        manifest.setdefault("applied_epochs", []).append(epoch_key)


def _repair_pending_add(paths: IndexPaths, manifest: dict) -> dict:
    """If a previous add crashed between its pending_add marker and the
    staging commit, its orphan staged rows were never indexed — purge
    them before ANY operation that consumes staging (delete stats
    deltas, compact's staging rewrite), not just before the next add.
    The interrupted epoch's source replays it."""
    pending = manifest.get("pending_add")
    if pending:
        _purge_staged_batches(
            active_dir(paths, manifest, "staging"), int(pending["first_new_batch"])
        )
        manifest.pop("pending_add")
        save_manifest(paths, manifest)
    return manifest


def _open(index_dir: str) -> tuple[IndexPaths, dict]:
    """The one entry step of every mutation of a finalized index: load
    the manifest, refuse an index with an incomplete add, and repair a
    crashed pending add's orphan staged rows."""
    paths = IndexPaths(index_dir)
    manifest = load_manifest(paths)
    if not manifest.get("finalized"):
        # re-staging would duplicate the interrupted add's docs; any
        # other mutation would finalize over its uncommitted batches
        raise ValueError(
            "index has an incomplete add in progress; call "
            "resume_add(spark, index_dir) to finish it, then retry"
        )
    return paths, _repair_pending_add(paths, manifest)


def add_documents(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    key_col: str = "url",
    text_col: str = "text",
    epoch_key: str | None = None,
    epoch_monotonic: bool = False,
) -> dict:
    """Append new documents as fresh build batches.

    New docids start at the batch-aligned boundary past every batch id
    the manifest has ever committed, so (a) existing committed batches
    are untouched, (b) every (shard, term) run stays unique — no
    cross-batch posting merge is ever needed at query time — and (c)
    batch ids never collide even after a compact emptied the trailing
    batch. No staging scan is needed: once the index opens, every
    staged row belongs to a committed batch (a crashed add's rows are
    purged, an incomplete add is refused). The batch geometry (config,
    ``shards_per_batch``) is the one the build persisted in the
    manifest; an add takes no geometry of its own.

    Only the new batches are built and folded into the term stats
    (``build._finalize``); committed segments and deleted documents are
    not re-read, and no document table is rewritten: the url map is a
    projection of staging (``InvertedIndex.docmap``).

    ``epoch_key`` makes the add idempotent per key (exactly-once under
    Structured Streaming epoch replay): an already-applied key returns
    immediately; a key whose previous attempt crashed mid-staging is
    detected via the ``pending_add`` manifest marker and its partial
    rows purged before redoing. ``epoch_monotonic=True`` (set by the
    streaming sink, whose ``"{checkpoint}#{epoch}"`` keys commit in
    increasing order) stores only the max applied epoch per stream;
    leave it False for arbitrary caller keys, which keep exact
    per-key semantics.
    """
    paths, manifest = _open(index_dir)
    if epoch_key is not None and _epoch_applied(manifest, epoch_key, epoch_monotonic):
        return manifest  # replayed epoch whose rows already committed
    require_format(paths, manifest)  # before staging: a refused add leaves no rows
    config, spb = _geometry(manifest)
    batch_span = config.shard_size * spb

    staging_dir = active_dir(paths, manifest, "staging")
    next_batch = max((int(k) for k in manifest.get("batches", {})), default=-1) + 1
    docid_base = next_batch * batch_span

    # pre-stage marker: committed BEFORE any staged row becomes visible,
    # so a crash inside the staging job is detectable and repairable
    manifest["pending_add"] = {
        "first_new_batch": next_batch,
        "docid_base": docid_base,
        "epoch_key": epoch_key,
        "at": _now(),
    }
    save_manifest(paths, manifest)

    t0 = time.time()
    staged = _stage_corpus(
        spark, new_pages, config, spb, key_col, text_col,
        staging_dir=staging_dir, docid_base=docid_base,
    )
    stage_sec = round(time.time() - t0, 3)
    if staged:
        manifest["n_batches"] = max(staged) + 1
        manifest["batches"].update(_staged_entries(staged))
    manifest["finalized"] = False
    manifest.pop("pending_add", None)
    if epoch_key is not None:
        # recorded in the SAME atomic write that commits the staged rows:
        # a replay after this point skips; before it, finds purged rows
        _record_epoch(manifest, epoch_key, epoch_monotonic)
    manifest.setdefault("lineage", []).append(
        {"stage": "add_documents", "at": _now(),
         "docid_base": docid_base, "epoch_key": epoch_key, "stage_sec": stage_sec}
    )
    save_manifest(paths, manifest)
    return _commit_batches(spark, paths, manifest)


def resume_add(spark: SparkSession, index_dir: str) -> dict:
    """Complete an interrupted ``add_documents`` (or initial build that
    was staged but killed mid-batches): builds every uncommitted batch
    from the already-staged corpus, under the geometry persisted in the
    manifest, and re-finalizes. Idempotent — the staged rows carry
    their docids, so no re-staging and no duplicates (the resume
    discipline of ``collection_indexer.py:64-71``)."""
    paths = IndexPaths(index_dir)
    manifest = _repair_pending_add(paths, load_manifest(paths))
    if manifest.get("finalized"):
        return manifest
    if not manifest.get("staged"):
        raise ValueError("nothing staged at this index dir; use build_index")
    return _commit_batches(spark, paths, manifest)


def delete_documents(spark: SparkSession, index_dir: str, docids: list[int]) -> dict:
    """Tombstone-delete docids with exact stats adjustment.

    Only docids of staged documents are deleted. An id the index never
    assigned, one already deleted, or one a compact has purged is
    ignored: tombstoning a never-assigned id would silently delete the
    document a later add assigns it to. The ids resolve in one pass
    over the deleted documents (``build._subtract_deleted``); only
    their text is re-tokenized, for the df/cf deltas.

    The delete is ONE atomic commit: the new tombstone set and the
    adjusted term_stats are written as fresh versioned dirs, and both
    pointer flips land in the same manifest write as the corpus-stats
    update. A crash anywhere before that write leaves the old state
    fully live — a retry redoes the whole delete cleanly (an append-
    then-crash protocol would instead make the retry a silent no-op via
    the double-delete guard, permanently desynchronizing stats from the
    tombstone filter)."""
    paths, manifest = _open(index_dir)
    old_tomb = _tombstones(paths, manifest)
    # idempotent: ignore ids already tombstoned (double-delete guard)
    ids = np.setdiff1d(np.asarray(docids, dtype=np.int64), old_tomb)
    if not ids.size:
        return manifest
    ts = read_state(spark, paths, manifest, "term_stats")
    new_ts, deleted, n_del, dl_del = _subtract_deleted(spark, paths, manifest, ts, ids)
    if not deleted.size:
        return manifest
    spark.createDataFrame(pd.DataFrame({"docid": np.union1d(old_tomb, deleted)})).write.mode(
        "overwrite"
    ).parquet(storage.join(paths.root, bump_dir(manifest, "tombstones")))
    # versioned rewrite: write the new stats dir, flip the pointer in
    # the same manifest commit as the stats update below (no
    # delete-then-move window), GC the old version after
    new_ts.write.mode("overwrite").parquet(
        storage.join(paths.root, bump_dir(manifest, "term_stats"))
    )
    sum_dl = manifest.get("sum_dl", round(manifest["avgdl"] * manifest["n_docs"]))
    manifest["n_docs"] = manifest["n_docs"] - n_del
    manifest["sum_dl"] = sum_dl - dl_del
    manifest["avgdl"] = (manifest["sum_dl"] / manifest["n_docs"]) if manifest["n_docs"] else 0.0
    manifest.setdefault("lineage", []).append(
        {"stage": "delete_documents", "at": _now(), "n_deleted": int(deleted.size)}
    )
    save_manifest(paths, manifest)
    gc_stale_versions(paths, manifest)
    return manifest


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove tombstoned postings: decode → filter →
    re-encode, one *vectorized* codec pass per Arrow batch (all
    surviving groups of a batch are re-encoded in a single
    ``encode_group_arrow`` call — no per-row Python encode), rewrite
    the segments table and staging, clear tombstones, refold the stats
    — the analog of the reference's chunk rewrite on delete
    (``index_updater.py:414-460``).

    ONE atomic commit: the new segments, staging, tombstones and
    term_stats versions all flip in ``build._finalize``'s manifest
    write. A crash anywhere before it leaves the pre-compact index
    fully live, and a re-run redoes the whole compact. Every batch is
    committed (an incomplete add is refused), so nothing is built."""
    paths, manifest = _open(index_dir)
    require_format(paths, manifest)
    tomb = _tombstones(paths, manifest)
    if tomb.size == 0:
        return manifest
    tomb_bc = spark.sparkContext.broadcast(tomb)
    block_size = _geometry(manifest)[0].block_size

    def rewrite(batches):
        import pyarrow as pa

        from pylate_spark.functions.codec import decode_postings
        from pylate_spark.plans.segments import blocks_from_row, encode_group_arrow

        forget_archive_importers()
        t = tomb_bc.value
        for rb in batches:
            pdf = pa.Table.from_batches([rb]).to_pandas()
            if not len(pdf):
                continue
            payloads = pdf["payload"].to_numpy(object)
            cols = {c: pdf[c].to_numpy(object) for c in
                    ("b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")}
            ds, tfs, dls, src, cnt = [], [], [], [], []
            for i in range(len(pdf)):
                row = {c: cols[c][i] for c in cols}
                d, tf, dl = decode_postings(payloads[i], blocks_from_row(row))
                keep = ~np.isin(d, t)
                n = int(keep.sum())
                if n == 0:
                    continue  # every posting of this run was deleted
                ds.append(d[keep])
                tfs.append(tf[keep])
                dls.append(dl[keep])
                src.append(i)
                cnt.append(n)
            if not ds:
                continue
            src_a = np.asarray(src, dtype=np.int64)
            cnt_a = np.asarray(cnt, dtype=np.int64)
            # groups stay contiguous: each input row is one complete
            # (shard, term) run (unique across the table by batch-aligned
            # docid construction), so concatenation in row order is a
            # valid group-sorted long frame
            yield encode_group_arrow(
                np.repeat(pdf["shard"].to_numpy(np.int64)[src_a], cnt_a),
                np.repeat(pdf["bucket"].to_numpy(np.int64)[src_a], cnt_a),
                np.repeat(pdf["term"].to_numpy(object)[src_a], cnt_a),
                np.concatenate(ds),
                np.concatenate(tfs),
                np.concatenate(dls),
                block_size,
            )

    new = read_state(spark, paths, manifest, "segments").drop("batch").mapInArrow(
        rewrite, schema=SEGMENT_SCHEMA
    )
    # every rewritten run lands in batch 0; its entry carries the
    # rewrite's observed totals, the other batches' are zeroed, so the
    # finalize's per-batch sum stays the one source of the totals
    totals = _write_segments(new, storage.join(paths.root, bump_dir(manifest, "segments")), 0)
    # purge staging too, and re-derive per-batch doc stats, so the
    # fold below (and every later one) counts only live docs
    tomb_df = spark.createDataFrame(pd.DataFrame({"docid": tomb}))
    # resolve the CURRENT staging dir before bumping its pointer
    staged = read_state(spark, paths, manifest, "staging").join(
        F.broadcast(tomb_df), "docid", "left_anti"
    )
    staged.write.mode("overwrite").partitionBy("batch").parquet(
        storage.join(paths.root, bump_dir(manifest, "staging"))
    )
    # the bumped pointer now names the purged copy
    per_batch = {
        int(r["batch"]): r
        for r in read_state(spark, paths, manifest, "staging")
        .groupBy("batch")
        .agg(*_doc_stats())
        .collect()
    }
    for key, entry in manifest["batches"].items():
        r = per_batch.get(int(key))
        for f in ("n_docs", "n_docs_tokenized", "sum_dl"):
            entry[f] = int(r[f]) if r is not None else 0
        for f in ("n_postings", "bytes", "n_runs"):
            entry[f] = int(totals[f] or 0) if key == "0" else 0
    # the cleared tombstone set is a fresh, empty version (removing a
    # crashed delete's orphan of that name): the old dir retires through
    # the retention window, so a reader on the pre-compact snapshot
    # keeps filtering deleted docs out of the old segments
    storage.rmtree(storage.join(paths.root, bump_dir(manifest, "tombstones")))
    manifest["folded"] = []
    manifest.setdefault("lineage", []).append(
        {"stage": "compact", "at": _now(), "n_tombstones_purged": int(tomb.size)}
    )
    manifest = _finalize(spark, paths, manifest)
    tomb_bc.unpersist(blocking=False)
    return manifest


def rebuild_index(
    spark: SparkSession,
    index_dir: str,
    dst_dir: str,
) -> dict:
    """Physically rebuild the index's live snapshot into ``dst_dir``
    with a FRESH dense docid space — the docid-renumbering analog of
    the reference's ``remove()`` (``fast_plaid.py:259-269``, which
    renumbers ids on delete).

    :func:`compact` is the in-place option: it drops tombstoned
    postings but preserves the docid space, so ids grow sparse forever
    under churn (valid tombstone-style design, zero reader disruption).
    After heavy delete/add churn, a rebuild re-densifies ids
    (0..n_docs-1 in url order), restores doc-range shard balance, and
    resets batch fragmentation. It writes a complete NEW index root —
    the caller flips serving to ``dst_dir`` when done (a cross-root
    atomic rename doesn't exist on object stores; a root-level pointer
    flip in the serving layer is the same commit discipline the
    manifest uses for state dirs). External docid references (subsets,
    qrels keyed by docid) must be re-resolved through the new
    ``InvertedIndex.docmap`` via url. The new index keeps the source's
    geometry (config and ``shards_per_batch`` from its manifest). The
    live documents are staging minus the tombstone set
    (``build._tombstones``, read on the driver), removed by a broadcast
    anti-join, as in :func:`compact`.

    Returns the new manifest at ``dst_dir``."""
    paths, manifest = _open(index_dir)
    config, spb = _geometry(manifest)

    live = read_state(spark, paths, manifest, "staging")
    tomb = _tombstones(paths, manifest)
    if tomb.size:
        live = live.join(
            F.broadcast(spark.createDataFrame(pd.DataFrame({"docid": tomb}))), "docid", "left_anti"
        )

    new_manifest = build_index(
        spark, live.select("url", "text"), dst_dir, config=config, shards_per_batch=spb
    )
    # carry the applied-epoch record: the rebuilt index contains every
    # document those epochs added, so a stream replaying its last
    # in-flight epoch against the new root must still be skipped —
    # otherwise the first replay after the serving flip double-adds
    for k in ("applied_epoch_max", "applied_epochs"):
        if k in manifest:
            new_manifest[k] = manifest[k]
    new_manifest.setdefault("lineage", []).append(
        {"stage": "rebuild_index", "at": _now(), "src": index_dir}
    )
    save_manifest(IndexPaths(dst_dir), new_manifest)
    return new_manifest


def consolidate_segments(spark: SparkSession, index_dir: str) -> dict:
    """File-level segment consolidation: after many incremental adds,
    the segments table accumulates one directory tree per batch; this
    rewrites all rows into a single batch partition (~one file per
    term bucket) WITHOUT decoding payloads — per-(shard, term) runs are
    unique across batches by construction (batch-aligned docid bases),
    so consolidation is a pure file merge, the trivial-fan-in SPIMI
    merge at the storage layer. It writes through the one segment
    writer (``build._write_segments``), so its files are term-sorted
    like every other segment file. Reference analog: chunk
    consolidation in ``index_updater.py:414-460`` minus the
    recompression."""
    paths, manifest = _open(index_dir)
    seg = read_state(spark, paths, manifest, "segments").drop("batch")
    new_seg_dir = storage.join(paths.root, bump_dir(manifest, "segments"))
    _write_segments(seg, new_seg_dir, 0)
    manifest.setdefault("lineage", []).append(
        {"stage": "consolidate_segments", "at": _now()}
    )
    save_manifest(paths, manifest)  # commit point: the dir flip is live
    gc_stale_versions(paths, manifest)
    return manifest
