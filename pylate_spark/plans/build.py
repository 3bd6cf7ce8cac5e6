"""SPIMI-style resumable index build.

Mirrors the reference's four-phase resumable build
(``setup → train → index → finalize``,
``/root/reference/pylate/indexes/stanford_nlp/indexing/collection_indexer.py:62-79``):

- **setup** (:func:`_stage_corpus`): deterministic dense docid
  assignment (url rank), doc-range sharding, native-expression token
  counting (``dl``), staged corpus written partitioned by build batch —
  the analog of ``plan.json`` + the saved collection chunks
  (``collection_indexer.py:81-121``).
- **index** (:func:`_build_one_batch`): per-batch SPIMI build. The
  *text* is exchanged once by doc-range shard; tokenize → local sort →
  posting-block encode then run fused in one wide stage, so the long
  ``(term, docid, tf, dl)`` rows never cross the network — they are
  born, sorted, and compressed inside their shard's partition. Resume
  skips batches whose manifest entry is committed, exactly as the
  reference skips already-saved chunks
  (``collection_indexer.py:408-449``, ``index_saver.py:21-50``).
- **finalize** (:func:`_finalize`): global term statistics by *fold*
  — the active ``term_stats`` plus the per-(shard, term) runs of the
  batches not yet folded, summed per term (the SPIMI merge; the
  recorded ``merge_fan_in`` is runs/term) — so an add's stats work
  scales with its new batches only. Then the manifest with corpus
  stats, config, lineage and per-batch metrics — the analog of
  ``metadata.json`` (``collection_indexer.py:578-591``).
  Batch and fan-in metrics are observed on the writes that produce
  them, never read back.

State layout: this module owns it. ``manifest.json`` (the commit
point) names the active version dir (:func:`active_dir`) of four
Parquet tables: ``staging`` and ``segments`` (partitioned by
``batch``; segments then by ``bucket``, each file sorted by ``(term,
shard)``), ``term_stats`` and ``tombstones``. Staging is also the
document table: the url ↔ docid map is its projection
(``InvertedIndex.docmap``), not a stored copy. Spark reads the first
three only through :func:`read_state`, with the schemas declared once
in ``STATE_SCHEMAS`` (no inference job; an empty table reads as
empty). Tombstones are read on the driver by :func:`_tombstones`.
Segments are written only by :func:`_write_segments`.

Skew note (north_rule): the *salt* is the doc-range shard. A stopword's
postings are split across all shards, so no task ever materializes more
than ``shard_size`` postings for one term, and runs concatenate in
shard order into globally docid-sorted posting lists (merge = ordered
append, fan-in recorded per term).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from pylate_spark import storage
from pylate_spark.config import IndexConfig
from pylate_spark.functions.predicates import in_list
from pylate_spark.functions.tokenize import native_tokens_col, terms_long
from pylate_spark.operators.docids import assign_docids
from pylate_spark.plans.segments import SEGMENT_SCHEMA, arrow_carry_iterator

MANIFEST = "manifest.json"


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


@dataclass
class IndexPaths:
    """Index directory root. ``root`` may be a plain local path or
    any URI PyArrow/Hadoop speak (``file://``, ``hdfs://``, ``s3://``)
    — all driver-side state access goes through
    :mod:`pylate_spark.storage`, never raw ``os``/``shutil``. State
    dirs are named only through :func:`active_dir`."""

    root: str

    @property
    def manifest(self) -> str:
        return storage.join(self.root, MANIFEST)


#: logical state directories whose rewrites are versioned
_VERSIONED = ("segments", "term_stats", "staging", "tombstones")


def active_dir(paths: IndexPaths, manifest: dict, name: str) -> str:
    """Resolve a logical state dir (segments/term_stats/staging/tombstones)
    to its current physical directory. Rewrites write a NEW versioned
    directory and flip this pointer inside the atomic manifest commit —
    the object-store-safe swap: there is never a window where the live
    directory has been deleted but its replacement not yet moved in
    (a delete-then-rename swap has exactly that window, and on S3 the
    'rename' is a long copy). Superseded versions are garbage-collected
    after the commit (:func:`gc_stale_versions`)."""
    return storage.join(paths.root, manifest.get("dirs", {}).get(name, name))


#: the declared schema (DDL) of each state table Spark reads, in the
#: column order a read returns (partition columns last). ``url`` holds
#: the caller's key column, so its type is the manifest's ``key_type``.
#: Tombstones are read on the driver (:func:`_tombstones`).
STATE_SCHEMAS = {
    "segments": ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in SEGMENT_SCHEMA.fields if f.name != "bucket"
    ) + ", batch int, bucket int",
    "staging": "shard long, docid long, url {key}, dl int, text string, batch int",
    "term_stats": "term string, df long, cf long, merge_fan_in long",
}


def read_state(spark: SparkSession, paths: IndexPaths, manifest: dict, name: str) -> DataFrame:
    """The active version of state table ``name``, read with its
    declared schema. No schema-inference job runs, and a table with no
    data file (a build whose corpus has no tokens) reads as empty. A
    manifest written before ``key_type`` was recorded takes the key
    type from the staging Parquet footer, read on the driver."""
    schema = STATE_SCHEMAS[name]
    if "{key}" in schema:
        key = manifest.get("key_type")
        if key is None:
            t = storage.column_type(active_dir(paths, manifest, "staging"), "url")
            key = "string" if t is None else from_arrow_type(t).simpleString()
        schema = schema.format(key=key)
    return spark.read.schema(schema).parquet(active_dir(paths, manifest, name))


#: the postings format a build writes (``functions/codec.py``), stored
#: in the manifest as ``format``; a manifest without it is format 1
FORMAT = 2


def require_format(paths: IndexPaths, manifest: dict) -> None:
    """Refuse to read or append posting payloads of an index whose
    format is not :data:`FORMAT`. ``maintenance.rebuild_index`` reads
    only staging and tombstones, so it migrates such an index."""
    found = manifest.get("format", 1)
    if found != FORMAT:
        raise ValueError(
            f"index at {paths.root} has postings format {found}; this version "
            f"reads format {FORMAT} only. Rebuild it with "
            f"maintenance.rebuild_index(spark, index_dir, dst_dir)"
        )


#: snapshot-retention window for superseded version dirs, seconds. 0 =
#: GC immediately after the commit that retired them (single-writer,
#: re-open-after-mutation discipline — fine for tests and batch jobs).
#: On a cluster with concurrent readers, set this LONGER than the
#: longest-running query: a reader that resolved active_dir pointers
#: before a rewrite keeps reading its (immutable) snapshot dirs until
#: the window expires — Iceberg's expire_snapshots(retention) model.
GC_RETAIN_SECONDS = float(os.environ.get("PYLATE_GC_RETAIN_S", "0"))


def bump_dir(manifest: dict, name: str) -> str:
    """Allocate the next version name for a logical dir and point the
    (in-memory) manifest at it. The caller writes the new data there,
    then commits via save_manifest — a crash in between leaves the old
    version active and the new dir as garbage for the next GC. The
    outgoing version is stamped into ``manifest["retired"]`` so the GC
    retention clock starts at this rewrite's commit."""
    cur = manifest.get("dirs", {}).get(name, name)
    tail = cur.rsplit("_v", 1)
    v = int(tail[1]) + 1 if len(tail) == 2 and tail[1].isdigit() else 1
    nxt = f"{name}_v{v}"
    manifest.setdefault("dirs", {})[name] = nxt
    # None = "retires at the NEXT manifest commit": save_manifest stamps
    # the actual time. Stamping here (allocation time) would let a long
    # rewrite consume the retention window before readers were even
    # exposed to the new version.
    manifest.setdefault("retired", {})[cur] = None
    return nxt


def gc_stale_versions(paths: IndexPaths, manifest: dict, retain_s: float | None = None) -> None:
    """Best-effort removal of superseded version dirs, with snapshot
    retention. Safe any time after the manifest commit; a crash mid-GC
    just leaves garbage for the next sweep.

    A superseded dir is removed once it has been retired (pointer
    flipped away from it) for at least ``retain_s`` seconds (default
    ``GC_RETAIN_SECONDS`` / ``$PYLATE_GC_RETAIN_S``). With a window of
    0 a reader holding a handle to a superseded version may fail after
    GC — re-open the index after mutations, as the reference does after
    IndexUpdater runs; with a window longer than the longest query,
    in-flight readers finish on their immutable snapshot first. Orphan
    dirs with no retirement record (a rewrite that crashed before its
    commit) are removed immediately at window 0, else get a clock
    started now."""
    import re

    retain = GC_RETAIN_SECONDS if retain_s is None else retain_s
    dirs = manifest.get("dirs", {})
    active = {dirs.get(n, n) for n in _VERSIONED}
    retired = manifest.setdefault("retired", {})
    # "docmap": the url map indexes stored before staging became the
    # document table; never active, so its dirs are swept
    pat = re.compile(r"^(" + "|".join((*_VERSIONED, "docmap")) + r")(_v\d+)?$")
    now = time.time()
    present = set(storage.listdir(paths.root))
    changed = False
    for name in present:
        if not pat.match(name) or name in active:
            continue
        ts = retired.get(name)
        if ts is None:
            if retain <= 0:
                storage.rmtree(storage.join(paths.root, name))
            else:
                retired[name] = now  # crash orphan: start its clock
                changed = True
        elif now - float(ts) >= retain:
            storage.rmtree(storage.join(paths.root, name))
            retired.pop(name, None)
            changed = True
    # drop bookkeeping for dirs that are gone or became active again
    for name in list(retired):
        if name in active or name not in present:
            retired.pop(name, None)
            changed = True
    if changed:
        save_manifest(paths, manifest)


def load_manifest(paths: IndexPaths) -> dict:
    if storage.exists(paths.manifest):
        return json.loads(storage.read_text(paths.manifest))
    return {}


def save_manifest(paths: IndexPaths, manifest: dict) -> None:
    storage.makedirs(paths.root)
    # retirement clocks start NOW — the commit is when readers stop
    # being handed the old versions (see bump_dir)
    retired = manifest.get("retired", {})
    for name, ts in retired.items():
        if ts is None:
            retired[name] = time.time()
    # atomic commit point — see storage module notes on the semantics
    # per filesystem class
    storage.write_text(paths.manifest, json.dumps(manifest, indent=1, default=str))


def _stage_corpus(
    spark: SparkSession,
    pages: DataFrame,
    config: IndexConfig,
    shards_per_batch: int,
    key_col: str,
    text_col: str,
    staging_dir: str,
    docid_base: int = 0,
) -> dict[int, dict]:
    """Append the staged corpus ``(batch, shard, docid, url, dl, text)``
    to ``staging_dir``, partitioned by batch. ``dl`` is computed with
    the *native* ``regexp_extract_all`` so corpus stats never
    re-tokenize (the UDF tokenizer is asserted equal to it in tests).

    Bandwidth shape (round 4): the full rows cross the wire exactly
    once — :func:`assign_docids` fixes the bucket geometry from a
    keys-only scan, so the text goes scan → one exchange → rank + dl +
    staged write fused in a single wide stage. (The round-3 form
    range-exchanged the text, pinned it DISK_ONLY and re-read it twice
    more — measured as the worst-scaling build phase on a
    bandwidth-capped box, SCALING.md §3.) The staged write is verified
    dense (max docid == row count - 1) before the caller commits the
    staging manifest entry — the cheap guard for the "input must be
    deterministically re-readable" contract of the two-pass docid
    assignment. The guard groups by batch, so the same scan returns
    each new batch's exact doc stats (``{batch: {n_docs,
    n_docs_tokenized, sum_dl}}``, empty for an empty input) — BM25's N
    and avgdl come from them, so they are an aggregate, never an
    accumulator that a retried task could double-count."""
    # project to the two columns the build needs before any exchange —
    # html and other payload columns would otherwise ride through the
    # exchange and the staging write (Catalyst prunes scans, but the
    # explicit select also bounds what the wide stage carries)
    pages = pages.select(key_col, text_col)
    key_type = pages.schema[key_col].dataType.simpleString()
    with_ids = assign_docids(pages, config.shard_size, key_col=key_col)
    if docid_base:
        with_ids = with_ids.withColumn("docid", F.col("docid") + F.lit(docid_base)).withColumn(
            "shard", (F.col("docid") / F.lit(config.shard_size)).cast("long")
        )
    staged = (
        with_ids.withColumn("dl", F.size(native_tokens_col(text_col, config.token_pattern)))
        .withColumn("batch", (F.col("shard") / F.lit(shards_per_batch)).cast("long"))
        .select(
            "batch",
            "shard",
            "docid",
            F.col(key_col).alias("url"),
            "dl",
            F.col(text_col).alias("text"),
        )
    )
    staged.write.mode("append").partitionBy("batch").parquet(staging_dir)
    # density guard (columns-pruned scan of what was just written): a
    # non-deterministic input DataFrame would desynchronize the counts
    # pass from the rank pass and corrupt docids silently
    # the batch predicate prunes partitions and docid >= base hits
    # parquet row-group stats, so an incremental add (append into
    # existing staging) skips old batches.
    # Moments, not just count+min+max: a counts-vs-rank desync that
    # PRESERVES the total row count (one bucket short, another long)
    # creates a duplicate docid plus a hole that min/max/count cannot
    # see — but it shifts the sum by (dup - hole) ≠ 0, and any
    # compensating multi-error set still moves the sum of squares.
    # Decimal(38) aggregation: int64 sums overflow at ~10^9 docs
    # (n·docid ~ 10^24 at the design point) and Spark wraps silently.
    d38 = F.col("docid").cast("decimal(38,0)")
    rows = (
        spark.read.schema(STATE_SCHEMAS["staging"].format(key=key_type)).parquet(staging_dir)
        .where((F.col("batch") >= docid_base // (config.shard_size * shards_per_batch))
               & (F.col("docid") >= docid_base))
        .groupBy("batch")
        .agg(
            *_doc_stats(),
            F.max("docid").alias("mx"), F.min("docid").alias("mn"),
            F.sum(d38).alias("s1"), F.sum(d38 * d38).alias("s2"),
        )
        .collect()
    )
    n = sum(int(r["n_docs"]) for r in rows)
    if n:
        mn, mx = min(int(r["mn"]) for r in rows), max(int(r["mx"]) for r in rows)
        s1, s2 = sum(int(r["s1"]) for r in rows), sum(int(r["s2"]) for r in rows)
        b, hi = docid_base, docid_base + n - 1
        want_s1 = n * b + n * (n - 1) // 2
        want_s2 = sum((n * b * b, b * n * (n - 1), (n - 1) * n * (2 * n - 1) // 6))
        if not (mn == b and mx == hi and s1 == want_s1 and s2 == want_s2):
            raise RuntimeError(
                f"staged docids not dense: n={n}, min={mn}, max={mx}, "
                f"sum={s1} (want {want_s1}), sumsq={s2} (want {want_s2}), "
                f"base={docid_base} — is the input DataFrame deterministic across reads?"
            )
    return {
        int(r["batch"]): {f: int(r[f] or 0) for f in ("n_docs", "n_docs_tokenized", "sum_dl")}
        for r in rows
    }


def _doc_stats() -> list:
    """Aggregates over staged rows: doc count, tokenized-doc count
    (``dl > 0`` — the docs BM25's N counts) and total length."""
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("n_docs_tokenized"),
        F.sum("dl").alias("sum_dl"),
    ]


def _write_segments(df: DataFrame, seg_dir: str, batch: int):
    """The one segment writer: write segment rows ``df``
    (SEGMENT_SCHEMA) as the whole ``batch=<batch>`` dir of ``seg_dir``,
    one file per term bucket (``repartition("bucket")``; otherwise every
    task writes a tiny file into every bucket dir), each sorted by
    ``(term, shard)``. Returns the metrics observed on the write.

    Writing into the batch dir, partitioned by ``bucket`` alone, makes
    the ``(bucket, term, shard)`` sort satisfy the writer's required
    order: it is the one sort in the plan. Do not partition by a
    literal ``batch`` column: the optimizer can fold it out of a sort,
    so the writer adds its own ``(batch, bucket)`` sort, which either
    replaces the term sort or keeps term order only by being stable."""
    obs = Observation()
    (
        df.repartition("bucket")
        .sortWithinPartitions("bucket", "term", "shard")
        .observe(
            obs,
            F.sum("df").alias("n_postings"),
            F.sum(F.length("payload")).alias("bytes"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(storage.join(seg_dir, f"batch={batch}"))
    )
    return obs.get


def _build_one_batch(
    spark: SparkSession,
    paths: IndexPaths,
    config: IndexConfig,
    batch: int,
    shards_per_batch: int,
    manifest: dict,
) -> dict:
    """Tokenize → shuffle-by-shard → encode → append segments for one
    batch of shards. Returns the manifest metrics entry."""
    t0 = time.time()
    staged = read_state(spark, paths, manifest, "staging").where(F.col("batch") == batch)
    block_size, n_buckets = config.block_size, config.term_buckets
    # SPIMI proper: exchange the *text* by doc-range shard first, then
    # tokenize → local sort → encode fused in ONE wide stage. The long
    # (term, docid, tf, dl) rows never cross the network: they are
    # born, sorted, and compressed inside their shard's partition. This
    # also pins tokenizer parallelism to shards_per_batch instead of
    # the staging file-split layout (file packing had been starving it
    # to a handful of straggler tasks).
    sharded = staged.repartition(shards_per_batch, "shard").select("docid", "text")
    tl = (
        terms_long(sharded, id_col="docid", text_col="text", pattern=config.token_pattern)
        .withColumn("shard", (F.col("docid") / F.lit(config.shard_size)).cast("long"))
        .withColumn("bucket", (F.crc32(F.col("term")) % F.lit(n_buckets)).cast("int"))
    )
    encoded = (
        tl.sortWithinPartitions("shard", "term", "docid")
        .select("shard", "bucket", "term", "docid", "tf", "dl")
        .mapInArrow(
            lambda it: arrow_carry_iterator(it, block_size),
            schema=SEGMENT_SCHEMA,
        )
    )
    # a batch that previously died mid-write is replaced wholesale: the
    # batch directory is the atomic unit of commit (the analog of the
    # reference's per-chunk save + chunk-exists resume check,
    # ``index_saver.py:28-50``)
    m = _write_segments(encoded, active_dir(paths, manifest, "segments"), batch)
    # doc stats from the staging guard; a batch staged before they were
    # recorded there computes them here
    d = manifest["batches"].get(str(batch), {})
    if "n_docs" not in d:
        d = staged.agg(*_doc_stats()).collect()[0].asDict()
    dt = time.time() - t0
    n_post = int(m["n_postings"] or 0)
    nbytes = int(m["bytes"] or 0)
    return {
        "status": "committed",
        "batch": batch,
        "n_docs": int(d["n_docs"]),
        "n_docs_tokenized": int(d["n_docs_tokenized"] or 0),
        "sum_dl": int(d["sum_dl"] or 0),
        "n_postings": n_post,
        "n_runs": int(m["n_runs"] or 0),
        "bytes": nbytes,
        "build_sec": round(dt, 3),
        "docs_per_sec": round(int(d["n_docs"]) / dt, 1) if dt > 0 else None,
        "postings_per_sec": round(n_post / dt, 1) if dt > 0 else None,
        "bytes_per_posting": round(nbytes / n_post, 3) if n_post else None,
        "committed_at": _now(),
    }


def _staged_entries(staged: dict[int, dict]) -> dict[str, dict]:
    """Manifest entries for freshly staged batches: their doc stats,
    status ``staged`` until the batch build commits them."""
    return {str(b): {"status": "staged", **d} for b, d in staged.items()}


def _geometry(manifest: dict) -> tuple[IndexConfig, int]:
    """(config, shards_per_batch) as staging committed them. Every step
    after staging reads the geometry here, never from a caller; a
    manifest without the batch span gets the build default of 64."""
    return IndexConfig.from_dict(manifest["config"]), int(manifest.get("shards_per_batch", 64))


def _tombstones(paths: IndexPaths, manifest: dict) -> np.ndarray:
    """The active tombstone set, sorted and unique, read on the driver."""
    return np.unique(
        storage.read_column(active_dir(paths, manifest, "tombstones"), "docid").astype(np.int64)
    )


def _subtract_deleted(
    spark: SparkSession, paths: IndexPaths, manifest: dict, ts: DataFrame, ids: np.ndarray
) -> tuple[DataFrame, np.ndarray, int, int]:
    """Subtract the staged documents among ``ids`` from term stats
    ``ts``. Ids of no staged document are dropped: never assigned, or
    purged by a compact, they have nothing to delete. One pass reads
    ``(docid, dl)`` of the matching staged rows, from only the batch
    partitions the ids fall in; only those documents' text is then
    tokenized for the exact per-term df/cf deltas. Returns (adjusted
    term stats, the resolved docids, their tokenized-doc count, their
    sum_dl)."""
    config, spb = _geometry(manifest)
    ids = np.asarray(ids, dtype=np.int64)
    staged = read_state(spark, paths, manifest, "staging").where(
        in_list("batch", np.unique(ids // (config.shard_size * spb)).tolist())
    )
    doomed = staged.join(
        F.broadcast(spark.createDataFrame(pd.DataFrame({"docid": ids}))), "docid", "left_semi"
    )
    hit = doomed.select("docid", "dl").toPandas()
    if not len(hit):
        return ts, np.empty(0, np.int64), 0, 0
    deltas = (
        terms_long(doomed.select("docid", "text"), pattern=config.token_pattern)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_del"), F.sum("tf").alias("cf_del"))
    )
    ts = (
        ts.join(F.broadcast(deltas), "term", "left")
        .withColumn("df", F.col("df") - F.coalesce(F.col("df_del"), F.lit(0)))
        .withColumn("cf", F.col("cf") - F.coalesce(F.col("cf_del"), F.lit(0)))
        .drop("df_del", "cf_del")
        .where(F.col("df") > 0)
    )
    dl = hit["dl"].to_numpy(np.int64)
    return ts, hit["docid"].to_numpy(np.int64), int((dl > 0).sum()), int(dl.sum())


def _finalize(spark: SparkSession, paths: IndexPaths, manifest: dict) -> dict:
    """Fold the batches not yet folded into the term stats and commit
    them with the corpus stats.

    ``term_stats' = term_stats ⊕ runs(new batches)``: the active stats
    and the new batches' (shard, term) runs in one union, summed per
    term (df, cf, merge_fan_in); ``n_docs`` and ``sum_dl`` add the new
    batches' staged doc stats. The active stats are already net of
    every delete (a delete subtracts at delete time), so the fold
    subtracts only tombstones inside a new batch's docid range. Deletes
    resolve against staging, so there are none; an index written
    before that rule may carry such stray ids.

    ``manifest["folded"]`` lists the folded batch ids and flips in the
    same atomic commit as the new term_stats dir, so a crash before the
    commit re-folds from the old stats. A manifest without the record
    (a fresh build, compact, an index written before the record
    existed) folds every batch into empty stats. A term whose df falls
    to 0 leaves the stats; if it returns, its ``merge_fan_in`` restarts
    from the runs folded since.

    term_stats is written as a NEW version dir and flipped in the same
    manifest commit that flips ``finalized`` (an in-place overwrite
    would leave a torn directory on a crash mid-write), together with
    any dir the caller bumped before (compact's segments, staging and
    tombstones). The totals ``n_postings`` / ``bytes`` are the sum of
    the per-batch entries."""
    t0 = time.time()
    batches = manifest["batches"]
    folded = set(manifest.get("folded", []))
    new = sorted(int(k) for k in batches if int(k) not in folded)
    config, spb = _geometry(manifest)
    parts = (
        read_state(spark, paths, manifest, "segments")
        .where(in_list("batch", new))
        .select("term", "df", "cf", F.lit(1).cast("long").alias("merge_fan_in"))
    )
    if folded:
        parts = read_state(spark, paths, manifest, "term_stats").unionByName(parts)
    ts = parts.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf"), F.sum("merge_fan_in").alias("merge_fan_in")
    )
    tomb = _tombstones(paths, manifest)
    stray = tomb[np.isin(tomb // (config.shard_size * spb), new)]
    n_del = dl_del = 0
    if stray.size:
        ts, _, n_del, dl_del = _subtract_deleted(spark, paths, manifest, ts, stray)
    fan = Observation("term_stats_fan_in")
    ts_dir = storage.join(paths.root, bump_dir(manifest, "term_stats"))
    ts.observe(
        fan, F.avg("merge_fan_in").alias("avg"), F.max("merge_fan_in").alias("max")
    ).write.mode("overwrite").parquet(ts_dir)

    added = [batches[str(b)] for b in new]
    n_docs = (manifest["n_docs"] if folded else 0) - n_del + sum(
        b["n_docs_tokenized"] for b in added
    )
    sum_dl = (manifest["sum_dl"] if folded else 0) - dl_del + sum(b["sum_dl"] for b in added)
    manifest.update(
        {
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
            "n_postings": sum(b["n_postings"] for b in batches.values()),
            "bytes": sum(b["bytes"] for b in batches.values()),
            "merge_fan_in_avg": float(fan.get["avg"] or 0.0),
            "merge_fan_in_max": int(fan.get["max"] or 0),
            "folded": sorted(int(k) for k in batches),
            "finalize_sec": round(time.time() - t0, 3),
            "finalized": True,
            "lineage": manifest.get("lineage", []),
        }
    )
    save_manifest(paths, manifest)  # atomic commit incl. the dir flips
    gc_stale_versions(paths, manifest)
    return manifest


def _commit_batches(spark: SparkSession, paths: IndexPaths, manifest: dict) -> dict:
    """Build every staged batch the manifest has not committed, each
    followed by its own durable manifest commit, then finalize. The one
    commit path for a build, a resumed build, an add and a resumed add;
    it reads the geometry from the manifest."""
    require_format(paths, manifest)
    config, spb = _geometry(manifest)
    for batch in range(manifest["n_batches"]):
        key = str(batch)
        if manifest["batches"].get(key, {}).get("status") == "committed":
            continue
        manifest["batches"][key] = _build_one_batch(spark, paths, config, batch, spb, manifest)
        save_manifest(paths, manifest)  # per-batch durable commit point
    return _finalize(spark, paths, manifest)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    shards_per_batch: int = 64,
    key_col: str = "url",
    text_col: str = "text",
    resume: bool = False,
) -> dict:
    """Build (or resume building) the inverted index at ``index_dir``.

    Returns the final manifest. Idempotent per batch: a killed build
    rerun with ``resume=True`` skips committed batches (the kill/rerun
    test mirrors the reference's resume discipline,
    ``collection_indexer.py:64-71``). ``config`` and ``shards_per_batch``
    set the geometry of a fresh build; once staging has committed it to
    the manifest, a resume uses the persisted values and ignores them.
    """
    paths = IndexPaths(index_dir)
    manifest = load_manifest(paths) if resume else {}
    if manifest.get("finalized"):
        return manifest
    if not resume:
        storage.rmtree(paths.root)
    storage.makedirs(paths.root)

    if not manifest.get("staged"):
        config = config or IndexConfig()
        staging_dir = active_dir(paths, manifest, "staging")
        storage.rmtree(staging_dir)  # killed mid-staging → redo atomically
        t0 = time.time()
        staged = _stage_corpus(
            spark, pages, config, shards_per_batch, key_col, text_col, staging_dir=staging_dir
        )
        manifest = {
            "staged": True,
            "format": FORMAT,
            "n_batches": max(staged, default=0) + 1,
            "config": config.to_dict(),
            # the batch geometry is part of the physical plan: docid →
            # batch mapping must stay stable across incremental adds
            # (every later step reads it back via _geometry)
            "shards_per_batch": int(shards_per_batch),
            # the staged key column's type, for the declared schemas
            "key_type": pages.schema[key_col].dataType.simpleString(),
            "batches": _staged_entries(staged),
            "lineage": [{"stage": "staging", "at": _now(), "source": "caller DataFrame",
                         "stage_sec": round(time.time() - t0, 3)}],
        }
        save_manifest(paths, manifest)

    return _commit_batches(spark, paths, manifest)
