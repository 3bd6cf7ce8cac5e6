"""Deterministic dense docid assignment.

The reference maps user-facing ids to dense internal integer ids
assigned sequentially by insertion order
(``pylate/indexes/fast_plaid.py:194-227``: ``plaid_ids =
range(current_max_id + 1, ...)``) and keeps the two-way mapping
persisted (``fast_plaid.py:136-174``). Our assignment is *rank in the
global url sort order*: deterministic (independent of partitioning and
cluster size — the rank of a unique key in a total order is a pure
function of the data), dense, and range-shardable.

Implementation (round 4 — the bandwidth-lean form): the classic
two-phase zipWithIndex shape, but with the partition geometry fixed as
DRIVER-SIDE LITERALS so the heavy columns cross the memory bus once:

1. **boundaries** — sample ``key_col`` (a pruned, keys-only scan) and
   pick ``partitions-1`` sorted split keys at the driver. The split
   keys are broadcast; bucket-of-key is a vectorized
   ``np.searchsorted`` pandas UDF (binary search — scales to any
   partition count, unlike a ``CASE WHEN`` chain of comparisons).
2. **counts** — exact per-bucket counts from a keys-only scan
   (map-side partial agg; the text column never leaves the parquet
   footer). Cumulative offsets ride a tiny broadcast-joined table.
3. **rank** — ONE wide pass over the full rows: bucket → exchange on
   bucket → per-bucket ``row_number`` ordered by key → ``docid =
   offset[bucket] + rank - 1``.

Because the boundaries are literals (not a sampled-at-execution range
partitioner), the counts pass and the rank pass agree *by
construction* — no persist of the full corpus is needed to pin the
partitioning. The round-3 form persisted the range-partitioned text
``DISK_ONLY`` and re-read it twice; that was ~2 extra full-corpus
passes of pure memory/disk traffic, measured as the worst-scaling
build phase on a bandwidth-capped box (SCALING.md §3). Note the final
docid is independent of the boundary choice entirely: rank-in-bucket +
offset-of-bucket is the global rank for ANY bucketing that respects
the key order.

Contract: ``pages`` must be deterministically re-readable (a table /
file scan — the design-point input), since the counts pass and the
rank pass each read it. ``build_index`` verifies the resulting ids are
dense (max docid == row count - 1) before committing the staged
corpus.

``shard = docid // shard_size`` then gives contiguous docid ranges —
the salting dimension of the build (SURVEY §7.3) and the scatter
dimension of the query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pylate_spark.worker import forget_archive_importers

#: boundary-sample size per target partition (the classic range
#: partitioner's ~20/partition; balance error shrinks as 1/sqrt of it,
#: and imbalance only costs evenness, never correctness)
_SAMPLES_PER_BUCKET = 24


def _sample_boundaries(
    pages: DataFrame, key_col: str, partitions: int, n: int | None = None
) -> list[str]:
    """``partitions - 1`` sorted split keys from a seeded sample of a
    keys-only scan. Empty when the input is tiny (single bucket)."""
    if partitions <= 1:
        return []
    if n is None:
        n = pages.count()
    if n <= 1:
        return []
    target = _SAMPLES_PER_BUCKET * partitions
    frac = min(1.0, target / n)
    keys = sorted(
        r[0]
        for r in pages.select(F.coalesce(F.col(key_col), F.lit("")).alias(key_col))
        .sample(withReplacement=False, fraction=frac, seed=42)
        .collect()
    )
    if len(keys) < 2:
        return []
    step = len(keys) / partitions
    bnd = sorted({keys[int(i * step)] for i in range(1, partitions)})
    return bnd


def assign_docids(
    pages: DataFrame,
    shard_size: int,
    key_col: str = "url",
    partitions: int | None = None,
) -> DataFrame:
    """Return ``pages`` + ``docid`` + ``shard``.

    ``docid`` is the row's rank in the global ``key_col`` sort order
    (nulls first, before empty strings — a null-flag secondary order
    keeps null vs. ``""`` deterministic even though both bucket as
    ``""``); ``shard = docid // shard_size``. ``partitions`` controls
    the bucket count (defaults to max(session shuffle parallelism,
    input splits) — with few shuffle partitions a narrow config would
    otherwise pack the whole corpus into a handful of ~GB sort tasks).

    CONTRACT — ``pages`` must be deterministically re-readable (a
    table/file scan, or a cached/checkpointed DataFrame): this function
    reads its input MULTIPLE times (count, boundary sample, bucket
    counts, rank pass), and a nondeterministic input (``.sample()``
    without a seed, an unordered ``limit()``, a changing view) silently
    corrupts docids — the counts pass and the rank pass would disagree.
    ``build_index`` verifies density (max docid == n-1) after staging;
    direct callers own that check themselves. Rows with EQUAL keys are
    interchangeable: their relative docid order is whatever the
    per-bucket sort produces (keys are unique by design — urls).
    """
    spark = pages.sparkSession
    n = pages.count()
    if partitions is None:
        # 4× the shuffle width, NOT 1×: sampled boundaries carry ~20%
        # size error and bucket→partition hashing collides, so at
        # exactly one task per core the largest bucket gates the whole
        # wide stage (measured: 8 buckets / 8 pinned cores → 2.1× skew
        # → the rank+write pass scaled 1.24×). With ≥4 buckets per
        # core the scheduler packs around the skew — the max task is
        # far below a core's fair share. Capped at ~256 rows/bucket so
        # tiny inputs don't pay hundreds of empty tasks.
        partitions = max(
            4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            pages.rdd.getNumPartitions(),
        )
        partitions = max(1, min(partitions, -(-n // 256)))

    boundaries = _sample_boundaries(pages, key_col, partitions, n=n)
    # broadcast, not closure: at 10^5+ partitions the boundary array is
    # MBs and would be re-pickled into every task otherwise
    bnd_bc = spark.sparkContext.broadcast(np.array(boundaries, dtype=object))

    @F.pandas_udf("int")
    def bucket_of(keys: pd.Series) -> pd.Series:
        forget_archive_importers()
        # vectorized binary search; python str comparison is code-point
        # order == Spark's UTF8 binary order for valid UTF-8, so the
        # bucket boundaries and the per-bucket Spark sort agree
        b = np.searchsorted(bnd_bc.value, keys.to_numpy(dtype=object), side="right")
        return pd.Series(b.astype(np.int32))

    # null keys rank as "" (first, like the nulls-first sort they'd get
    # from a range partitioner) instead of crashing the object-dtype
    # searchsorted with a None-vs-str comparison
    skey = F.coalesce(F.col(key_col), F.lit(""))

    # exact per-bucket counts from a keys-only scan (text pruned away)
    counts = {
        r["_b"]: r["cnt"]
        for r in pages.select(bucket_of(skey).alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_buckets = len(boundaries) + 1
    offs = np.zeros(n_buckets, dtype=np.int64)
    acc = 0
    for b in range(n_buckets):
        offs[b] = acc
        acc += counts.get(b, 0)
    offs_bc = spark.sparkContext.broadcast(offs)

    @F.pandas_udf("long")
    def offset_of(keys: pd.Series) -> pd.Series:
        forget_archive_importers()
        # the UDF emits the bucket's cumulative OFFSET rather than the
        # bucket id: offsets are strictly increasing over non-empty
        # buckets, so _off is an equivalent partition/window key — and
        # skipping the (bucket → offset) join avoids the inner-join
        # isnotnull filter Catalyst pushes below the UDF projection,
        # which forced a SECOND evaluation of the UDF (two stacked
        # ArrowEvalPython nodes, measured in the plan)
        b = np.searchsorted(bnd_bc.value, keys.to_numpy(dtype=object), side="right")
        return pd.Series(offs_bc.value[b])

    # the single full-row pass: offset → exchange → sort → rank. The
    # EXPLICIT repartition sets the exchange width to the bucket count
    # (the window alone would exchange at spark.sql.shuffle.partitions
    # — one task per core on a right-sized cluster, no slack); the
    # window then reuses that partitioning (HashPartitioning(_off, P)
    # satisfies its ClusteredDistribution — no second exchange,
    # plan-pinned in tests) and only adds the per-partition sort.
    # null-flag secondary order: null and "" coalesce to the same bucket
    # key, so without it their relative rank would be partition-order
    # nondeterministic; isNull DESC puts nulls first (the nulls-first
    # position a range partitioner would give them)
    w = Window.partitionBy("_off").orderBy(
        F.col(key_col).isNull().desc(), F.coalesce(F.col(key_col), F.lit(""))
    )
    return (
        pages.withColumn("_off", offset_of(skey))
        .repartition(partitions, F.col("_off"))
        .withColumn("_rank", F.row_number().over(w))
        .withColumn("docid", (F.col("_off") + F.col("_rank") - 1).cast("long"))
        .withColumn("shard", (F.col("docid") / F.lit(shard_size)).cast("long"))
        .drop("_off", "_rank")
    )
