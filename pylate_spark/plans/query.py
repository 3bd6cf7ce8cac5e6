"""Query planning: the scatter-gather BM25 top-k job.

Entry points:

- :class:`InvertedIndex` — search a built on-disk index. The plan is
  the Spark translation of the reference's retrieval lifecycle
  (``/root/reference/pylate/retrieve/colbert.py:91-120`` and SURVEY
  §3.1-3.2): queries are normalized and batched driver-side (the
  reference batches 50/probe, ``retrieve/base.py:98-105``), the
  segment scan is pruned to the query terms' hash buckets (partition
  pruning — the analog of probing only ``ncells`` IVF cells), matched
  rows are grouped per shard for the block-max cascade kernel, and
  per-shard top-k heaps are merged by a global window — the analog of
  the reference's final descending sort + truncate
  (``index_storage.py:121-127``).

- :func:`bm25_scan_topk` — index-free BM25 over any (id, text)
  DataFrame, expressed purely in native DataFrame ops (tokenize UDF
  excepted). Used as the SQL-comparable correctness surface and as the
  "cold query" path.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pylate_spark.config import BM25Params
from pylate_spark.functions.bm25 import bm25_score_col, idf_np
from pylate_spark.functions.predicates import in_list
from pylate_spark.functions.tokenize import (
    TOKEN_PATTERN,
    make_tokenize_udf,
    terms_long,
    tokenize_py,
)
from pylate_spark.plans.build import (
    IndexPaths,
    _geometry,
    _tombstones,
    load_manifest,
    read_state,
    require_format,
)
from pylate_spark.plans.wand import score_shard
from pylate_spark.worker import forget_archive_importers

def _result_schema(round_to: int | None) -> T.StructType:
    """Kernel output schema: float32 scores by default; float64 when
    ``round_to`` is set (rounded-double emit for exact cross-engine
    value-hash comparison — see plans/wand.score_shard)."""
    score_t = T.DoubleType() if round_to is not None else T.FloatType()
    return T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("docid", T.LongType(), False),
            T.StructField("score", score_t, False),
        ]
    )


def _ranked_schema(round_to: int | None) -> str:
    st = "double" if round_to is not None else "float"
    return f"query_id long, rank int, docid long, score {st}"

#: number of live tombstones past which search() advises compaction —
#: the broadcast stays cheap, but query-time filtering and stats drift
#: make a physical rewrite worthwhile (reference analog: the chunk
#: rewrite in index_updater.py:414-460)
TOMBSTONE_COMPACT_ADVICE = 1_000_000

#: subset allow-lists above this size are shipped to executors via a
#: broadcast instead of riding the task closure (see search())
SUBSET_BROADCAST_THRESHOLD = 4096

#: query batches whose planning payload (total (query, term) pairs +
#: idf entries) exceeds this ride a broadcast instead of the kernel
#: closure — the closure is re-pickled into EVERY task, so a 10^5-term
#: batch in the closure multiplies driver→task traffic by the task
#: count; a broadcast ships it to each executor once (same treatment
#: the subset allow-list got)
QUERYSET_BROADCAST_THRESHOLD = 4096


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k merge: score desc, docid asc tie-break.

    Single window ON PURPOSE — the bounded-merge work is Catalyst's:
    for a row_number window filtered by ``rank <= k``, Spark inserts
    ``WindowGroupLimit [Partial]`` BELOW the final exchange (plan
    evidence in PLANS.md §1), so each map partition forwards at most k
    rows per query and the per-query reducer sees partitions·k rows —
    never shards·k (the 10^6-shard stopword hazard) nor the full
    candidate set on the scan path. Round 3 tried two hand-rolled
    pre-reductions (a windowed (query, docid mod g) level and a
    mapInPandas partition-local top-k); both measured as pure overhead
    over the built-in partial (+2–5.5 s and +1 s per 2000-query batch
    at 3.2M docs, measured by ``scripts/profile_query.py``, now in git
    history) and were removed. A plan-shape test pins the
    WindowGroupLimit so a regression is caught."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "docid", "score")
    )


class InvertedIndex:
    """Handle to a built index directory (see plans/build.py layout)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.manifest = load_manifest(self.paths)
        if not self.manifest.get("finalized"):
            raise ValueError(f"index at {index_dir} is not finalized")
        require_format(self.paths, self.manifest)
        self.config, spb = _geometry(self.manifest)
        self.n_docs = int(self.manifest["n_docs"])
        self.avgdl = float(self.manifest["avgdl"])
        # driver-side caches for repeated searches on one handle; a
        # mutated index (add/delete/compact) needs a fresh InvertedIndex
        # (the reference reloads its searcher after IndexUpdater runs)
        # state dirs resolve through the manifest (versioned rewrites
        # flip these pointers atomically; see plans/build.active_dir)
        self._seg = read_state(self.spark, self.paths, self.manifest, "segments")
        # search()'s scan projection, analyzed once per handle. The
        # kernel stage routes rows by `ordinal`, a dense shard number:
        # a build's shards 0..spb-1 and an add's batch-aligned shards
        # 0, spb, 2·spb, … both map to consecutive values, so the
        # id-passthrough exchange spreads them round-robin over the
        # kernel tasks (hash or `shard % n` routing piles them onto one
        # task). Grouping still keys on `shard`; the ordinal only places.
        self._seg_scan = self._seg.select(
            "shard", "term", "df", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off", "payload",
            F.expr(f"CAST(shard DIV {spb} + shard % {spb} AS INT)").alias("ordinal"),
        )
        ssz = self.config.shard_size
        n_shards = sum(-(-int(b["n_docs"]) // ssz) for b in self.manifest["batches"].values())
        #: kernel-stage width: one task per core, never more than shards
        self._kernel_tasks = max(1, min(self.spark.sparkContext.defaultParallelism, n_shards))
        self._df_cache: dict[str, int | None] = {}
        # tombstones are loaded ONCE per handle and broadcast: they are
        # re-used by every search/doc_vectors call, and a broadcast ships
        # them to executors once instead of pickling them into every
        # task closure (driver→task serialization grows with churn)
        tomb = _tombstones(self.paths, self.manifest)
        self._tomb_bc = self.spark.sparkContext.broadcast(tomb) if tomb.size else None
        #: one live large-subset broadcast per handle (see search())
        self._subset_bc = None
        #: one live large-query-batch broadcast per handle (see search())
        self._qset_bc = None
        #: last search()'s kernel, for lazy closure-size observability
        self._last_kernel = None
        if tomb.size >= TOMBSTONE_COMPACT_ADVICE:
            import warnings

            warnings.warn(
                f"index has {tomb.size} tombstones; run "
                "pylate_spark.plans.maintenance.compact() to rewrite segments",
                stacklevel=2,
            )

    # -- id resolution (the reference's id<->docid pickles,
    #    fast_plaid.py:136-174) ------------------------------------
    def docmap(self) -> DataFrame:
        """``(url, docid, shard, dl)`` of every document in this
        handle's snapshot: staging projected, read only in the batches
        its manifest committed (a later add appends to the same staging
        dir). Deleted documents stay until a compact purges them."""
        return (
            read_state(self.spark, self.paths, self.manifest, "staging")
            .where(in_list("batch", [int(b) for b in self.manifest["batches"]]))
            .select("url", "docid", "shard", "dl")
        )

    def resolve_urls(self, results: DataFrame) -> DataFrame:
        """Join ranked results back to urls (broadcast the small side)."""
        return results.join(self.docmap().select("docid", "url"), "docid", "left")

    def doc_vectors(self, docids: list[int]) -> DataFrame:
        """Reconstruct documents' indexed representations
        ``(docid, term, tf, dl)`` from the segments — the analog of
        ``index.get_documents_embeddings``
        (``/root/reference/pylate/indexes/voyager.py:324-361``).
        Scans only the requested docids' shards and keeps the blocks
        whose docid ranges hold a requested id. Caller-supplied ids are
        deduplicated (``np.isin(assume_unique=True)`` below requires
        it) and tombstoned (deleted) docids are excluded."""
        ids = np.unique(np.asarray(docids, dtype=np.int64))
        if self._tomb_bc is not None:
            ids = ids[~np.isin(ids, self._tomb_bc.value)]
        shards = sorted({int(d) // self.config.shard_size for d in ids})

        def gen(batches):
            from pylate_spark.functions.codec import decode_postings
            from pylate_spark.plans.segments import blocks_from_row

            forget_archive_importers()
            cols = ("term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")
            for pdf in batches:
                out_d, out_t, out_tf, out_dl = [], [], [], []
                # column-array extraction, not iterrows (same pattern as
                # plans/wand.ShardTerms): pandas builds a Series per row
                # under iterrows, which dominated decode time
                arrs = {c: pdf[c].to_numpy(object) for c in cols}
                for i in range(len(pdf)):
                    row = {c: arrs[c][i] for c in cols}
                    b = blocks_from_row(row)
                    lo = np.searchsorted(ids, b.first, side="left")
                    hi = np.searchsorted(ids, b.last, side="right")
                    need = np.flatnonzero(hi > lo)
                    if need.size == 0:
                        continue
                    d, tf, dl = decode_postings(row["payload"], b, select=need)
                    keep = np.isin(d, ids, assume_unique=True)
                    if keep.any():
                        out_d.append(d[keep])
                        out_tf.append(tf[keep])
                        out_dl.append(dl[keep])
                        out_t.extend([row["term"]] * int(keep.sum()))
                if out_d:
                    yield pd.DataFrame(
                        {
                            "docid": np.concatenate(out_d),
                            "term": out_t,
                            "tf": np.concatenate(out_tf).astype(np.int32),
                            "dl": np.concatenate(out_dl).astype(np.int32),
                        }
                    )

        seg = self._seg.where(in_list("shard", shards))
        return seg.mapInPandas(gen, schema="docid long, term string, tf int, dl int")

    def search(
        self,
        queries: DataFrame | list[tuple[int, str]],
        k: int = 10,
        mode: str = "auto",
        subset: list[int] | np.ndarray | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """Ranked results ``(query_id, rank, docid, score)``.

        ``mode``: ``"auto"`` (per-query strategy selection by (n_terms,
        k) — the reference's k-banded parameter presets,
        ``searcher.py:60-83``), ``"cascade"`` (block-max pruning) or
        ``"exhaustive"`` (decode everything — the in-engine correctness
        oracle, the analog of exact MaxSim rescoring). ``subset``
        restricts results to the given docids (the reference's
        allow-list filter, ``fast_plaid.py:318-340``). ``round_to``
        emits float64 scores rounded to that many decimals and ranks by
        the rounded value — the cross-engine determinism contract.
        """
        if isinstance(queries, DataFrame):
            qrows = [(r["query_id"], r["text"]) for r in queries.collect()]
        else:
            qrows = list(queries)
        qmap = {
            int(qid): sorted(set(tokenize_py(text, self.config.token_pattern)))
            for qid, text in qrows
        }
        all_terms = sorted({t for ts in qmap.values() for t in ts})
        if not all_terms:
            return self.spark.createDataFrame([], _ranked_schema(round_to))

        buckets = sorted({zlib.crc32(t.encode()) % self.config.term_buckets for t in all_terms})
        missing = [t for t in all_terms if t not in self._df_cache]
        if missing:
            stats = (
                read_state(self.spark, self.paths, self.manifest, "term_stats")
                .where(in_list("term", missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in stats}
            for t in missing:
                self._df_cache[t] = found.get(t)  # None = not in vocabulary
        n, params = self.n_docs, self.config.bm25
        idf = {
            t: float(idf_np(df, n))
            for t in all_terms
            if (df := self._df_cache.get(t)) is not None
        }
        qmap = {qid: [t for t in ts if t in idf] for qid, ts in qmap.items()}
        qmap = {qid: ts for qid, ts in qmap.items() if ts}
        if not qmap:
            return self.spark.createDataFrame([], _ranked_schema(round_to))

        tomb_bc = self._tomb_bc
        allowed = np.sort(np.asarray(subset, dtype=np.int64)) if subset is not None else None
        # large allow-lists ride a broadcast (shipped to each executor
        # once), not the task closure (re-pickled into EVERY task — at
        # 10^8 subset ids that's GBs of repeated driver→task traffic).
        # Small subsets stay in the closure: a per-call broadcast has
        # its own driver round-trip and lingers until unpersisted.
        # The handle keeps ONE live subset broadcast: the previous one
        # is unpersisted (not destroyed — a still-unexecuted DataFrame
        # from an earlier search lazily re-ships it from the driver if
        # run later), so repeated subset searches on a long-lived
        # handle don't accumulate executor broadcast blocks.
        allowed_bc = None
        if allowed is not None and allowed.size > SUBSET_BROADCAST_THRESHOLD:
            if self._subset_bc is not None:
                self._subset_bc.unpersist(blocking=False)
            allowed_bc = self._subset_bc = self.spark.sparkContext.broadcast(allowed)
            allowed = None
        avgdl, kk, md, rt = self.avgdl, k, mode, round_to
        ssz = self.config.shard_size  # dense-accumulator extent per kernel

        # large query batches: ship qmap+idf via ONE broadcast per
        # search instead of the task closure (the closure is re-pickled
        # into every task — at 10^5 query terms × 10^6 shard tasks
        # that's the same repeated-driver-traffic hazard the subset
        # allow-list had). Small batches stay in the closure: a
        # broadcast has its own driver round-trip. The handle keeps ONE
        # live query-set broadcast (previous unpersisted, not
        # destroyed — same lazy-re-ship semantics as _subset_bc).
        vocab_terms = list(idf)  # scan pushdown predicate (plan-side)
        n_payload = sum(len(ts) for ts in qmap.values()) + len(idf)
        qset_bc = None
        if n_payload > QUERYSET_BROADCAST_THRESHOLD:
            if self._qset_bc is not None:
                self._qset_bc.unpersist(blocking=False)
            qset_bc = self._qset_bc = self.spark.sparkContext.broadcast((qmap, idf))
            qmap, idf = None, None  # keep the payload out of the closure

        seg = self._seg_scan.where(in_list("bucket", buckets) & in_list("term", vocab_terms))

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            qm, qidf = qset_bc.value if qset_bc is not None else (qmap, idf)
            return score_shard(
                pdf, qm, qidf, avgdl, kk, params, mode=md,
                tombstones=tomb_bc.value if tomb_bc is not None else None,
                allowed=allowed_bc.value if allowed_bc is not None else allowed,
                round_to=rt, shard_size=ssz,
            )

        # observability: the kernel is kept so _last_closure_bytes can
        # measure what rides every task ON DEMAND (tests pin that a
        # large query batch keeps it small) — no serialization happens
        # in the query hot path itself
        self._last_kernel = kernel
        scored = (
            seg.repartitionById(self._kernel_tasks, "ordinal")
            .groupBy("ordinal", "shard")
            .applyInPandas(kernel, schema=_result_schema(round_to))
        )
        return _rank_topk(scored, k)

    @property
    def _last_closure_bytes(self) -> int | None:
        """Size of the last search()'s task closure, measured lazily
        (pickling is paid only when someone asks — debug/test
        observability, not a per-search cost)."""
        if self._last_kernel is None:
            return None
        from pyspark import cloudpickle

        return len(cloudpickle.dumps(self._last_kernel))

    def search_join(
        self,
        queries: DataFrame,
        k: int = 10,
        round_to: int | None = None,
        subset: list[int] | np.ndarray | None = None,
    ) -> DataFrame:
        """:meth:`search` with ``mode="exhaustive"`` over a queries
        DataFrame ``(query_id, text)``: the batch is collected to the
        driver and scored by the per-shard kernel, so the result is
        rank-identical to ``search(rows, mode="exhaustive")`` by
        construction. ``subset`` restricts candidates (corpus stats
        stay global), as in :meth:`search`.

        Why not a distributed plan: this method used to scatter by
        TERM — a ``postings ⋈ queries ⋈ term_stats`` shuffle join that
        moves Σ_t df(t)·nq(t) rows (a term's posting list once per
        query containing it), rows the kernel never materializes. It
        lost at every measured batch size: 3.1× slower at 100 queries,
        13.5× at 10³ and 23× at 10⁴ on a 30k-page index (PLANS.md
        §15); 36× at 2·10³ on a 3.2M-doc index, where it never
        finished 10⁴ (PLANS.md §11). Routing it through the kernel
        cut the serve benchmark's cycle CPU by 45% in an interleaved
        A/B (PLANS.md §15). The kernel path's driver side
        stays small at 10⁴ queries (≤ 0.8 s planning, < 200 MB RSS):
        large batches ship to executors in one broadcast
        (``QUERYSET_BROADCAST_THRESHOLD``).

        Input contract: ``query_id`` should be unique. Rows that repeat
        a query_id keep one row per id (the last one collected), as in
        :meth:`search`; they are never scored twice. Dedup upstream
        (``dropDuplicates(["query_id"])``) if the source can repeat ids.
        """
        return self.search(queries, k=k, mode="exhaustive", subset=subset, round_to=round_to)


def bm25_scan_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "docid",
    text_col: str = "text",
    params: BM25Params = BM25Params(),
    round_to: int | None = None,
    allowed_filter: Column | None = None,
    conjunctive: bool = False,
    pattern: str = TOKEN_PATTERN,
) -> DataFrame:
    """Index-free BM25 top-k, expressed as a declarative DataFrame plan
    (Catalyst does pushdown/broadcast/partial-agg). Used for the DuckDB
    oracle parity checks; ``round_to`` rounds the emitted double score
    so cross-engine float summation order cannot flip value hashes.

    ``allowed_filter`` restricts *candidates* (corpus stats stay
    global — the reference's subset semantics, fast_plaid.py:318-340);
    ``conjunctive`` keeps only docs matching every query term (AND
    mode; BM25 default is disjunctive).

    Caveat: the query-term postings are pinned with a lazy
    ``localCheckpoint``, whose blocks are NOT recomputable — on a
    non-local master, losing an executor mid-run fails the job with a
    missing-checkpoint-block error instead of recomputing.
    """
    from pylate_spark.functions.tokenize import native_tokens_col

    # corpus stats natively — one pushed-down scan, no UDF, no shuffle
    dl_native = F.size(native_tokens_col(text_col, pattern))
    g = (
        docs.select(dl_native.alias("dl"))
        .where(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    n_docs, avgdl = float(g["n"]), float(g["avgdl"])

    qt = (
        queries.select(
            "query_id",
            F.explode(make_tokenize_udf(pattern)(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    # filter postings to query terms FIRST (broadcast semi-join), so the
    # df aggregation and the scoring join never touch non-query terms.
    # lazy localCheckpoint (r7, guide §1.2): tl_q is referenced TWICE in
    # the final plan — once under the broadcast df-aggregation, once as
    # the candidate stream — and its subtree has no exchange Spark could
    # reuse (mapInPandas + broadcast semi-join), so without the pin the
    # whole corpus was tokenized twice per run. The pinned rows are only
    # the query-term postings (small by construction).
    tl = terms_long(docs, id_col=id_col, text_col=text_col, pattern=pattern)
    tl_q = tl.join(
        F.broadcast(qt.select("term").distinct()), "term", "left_semi"
    ).localCheckpoint(eager=False)
    dfs = tl_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    candidates = tl_q if allowed_filter is None else tl_q.where(allowed_filter)
    scored = (
        candidates.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfs), "term")
        .withColumn(
            "contrib",
            bm25_score_col(F.col("tf"), F.col("dl"), F.col("df"), n_docs, avgdl, params),
        )
        .groupBy("query_id", "docid")
        .agg(F.sum("contrib").alias("score_d"), F.count(F.lit(1)).alias("n_matched"))
    )
    if conjunctive:
        qsizes = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
        scored = scored.join(F.broadcast(qsizes), "query_id").where(
            F.col("n_matched") == F.col("n_terms")
        )
    scored = scored.drop("n_matched", "n_terms")
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score_d"), round_to))
    else:
        scored = scored.withColumn("score", F.col("score_d").cast("float"))
    return _rank_topk(scored.drop("score_d"), k)
