"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram
Jaccard. Built for the 100 TB training-data pipeline case:

- exact: hash-groupBy — one shuffle of (hash, id), no text movement.
- MinHash/LSH: signatures are per-doc aggregations (map-side partial
  agg); candidate pairs come from an equi-join on (band_id, band_hash)
  buckets, so the shuffle carries signatures, never O(n²) pairs.
- SimHash: tf-weighted bit votes as 32 conditional sums per doc —
  whole-stage-codegen'd, no UDF.
- n-gram Jaccard: exact verify step for candidate pairs (scoped; the
  all-pairs form is for tests/small scopes only).

Portability discipline: every hash is md5-hex (identical in Spark,
DuckDB, Python), and MinHash takes the lexicographic MIN of md5 hex
strings — a valid uniform min-hash because equal-length hex strings
order identically to their 128-bit values. This is what lets the
DuckDB oracle reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pylate_spark.functions.tokenize import native_tokens_col


def _spread_to_width(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Round-robin ``df`` up to cluster width when its current plan is
    narrower. Used on the STREAM side of the band self-joins: with a
    broadcast right side, output parallelism is the left side's
    partitioning, and a small single-file corpus scans as ONE partition
    — serializing the (output-dominated) pair generation on one core.
    Spreading also balances mega-bucket skew (each task emits pairs for
    its slice of left rows across ALL buckets). Inputs already ≥
    cluster width keep their layout: at real scale the join is a
    sort-merge on the band keys and AQE skew-split owns the balance.

    ``probe`` (a narrow ancestor of ``df`` with the same scan width,
    e.g. the pre-guard projection plan) is what ``.rdd`` width is read
    from: converting a plan that CONTAINS shuffles (the mega-bucket
    guard's groupBy + semi-join) to an RDD makes AQE eagerly
    materialize those query stages in a throwaway execution the final
    join cannot reuse — the bucket-count aggregation would run twice.
    Projection-only plans convert without running a job."""
    w = df.sparkSession.sparkContext.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() < w:
        return df.repartition(w)
    return df


def _prune_mega_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Window-count skew guard for the shingle pipeline
    (:func:`ngram_jaccard_pairs`; the banded pair pipelines inline the
    same window counts as per-band flags so they can also drive their
    first-collision dedup): drop bucket keys whose member count
    exceeds ``max_bucket_size`` before the self-equi-join — a
    degenerate bucket (boilerplate shared by 10^5 docs at web scale)
    turns the join into bucket² rows on its own. Excluded buckets'
    members are near-identical boilerplate; route them to
    :func:`exact_dedup`, which handles any group size linearly.
    ``None`` = exact semantics (every bucket enumerated — what the
    DuckDB oracles check)."""
    if max_bucket_size is None:
        return banded
    # window count, not agg + semi-join (r7, guide §2.4): the count
    # rides ONE shuffle on the bucket keys — the same partitioning the
    # downstream self-equi-join needs, so the join adds no exchange and
    # no sort of its own (the window already sorted by the keys); the
    # agg + semi-join form re-evaluated ``banded`` for the aggregation
    # AND added a join. Both self-join sides build the identical
    # Window(Exchange(banded)) subtree, so Spark's ReusedExchange
    # shuffles it once.
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("_bucket_n") <= max_bucket_size)
        .drop("_bucket_n")
    )


def _terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(native_tokens_col(text_col))).alias("term"),
    )


def _signature_wide(
    df: DataFrame, n_hashes: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) with ZERO shuffles: the distinct-term set
    stays an array column and signature i is
    ``array_min(transform(terms, t -> md5(t || '#i')))`` — a pure
    projection inside whole-stage codegen. The equivalent
    explode + groupBy(doc_id).min(md5) formulation shuffles every
    (doc_id, term) row AND falls back to Sort+SortAggregate (min over
    StringType has no mutable hash-agg buffer); measured 2x slower end
    to end at sf0.1. Termless docs are dropped, matching the explode
    form (no terms -> no rows -> no signature).

    The per-hash closure MUST be built by a factory returning a
    one-argument lambda: the ``lambda t, _i=i:`` default-arg idiom
    makes PySpark's HOF signature inspection see TWO parameters and
    bind ``_i`` to the array-INDEX lambda variable, silently hashing
    ``term || "#Column<'y_N'>"`` (with a per-call auto-generated
    variable name — nondeterministic output across calls)."""

    def hash_i(i: int):
        suffix = f"#{i}"
        return lambda t: F.md5(F.concat(t, F.lit(suffix)))

    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(native_tokens_col(text_col)).alias("terms"),
        )
        .where(F.size("terms") > 0)
        .select(
            "doc_id",
            *[
                F.array_min(F.transform("terms", hash_i(i))).alias(f"mh{i}")
                for i in range(n_hashes)
            ],
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by md5 of the normalized token stream.
    Returns (doc_id, text_hash, group_size, keep) where keep marks the
    lowest doc_id of each group (the canonical survivor)."""
    norm = F.array_join(native_tokens_col(text_col), " ")
    hashed = df.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    )


def minhash_signatures(
    df: DataFrame, n_hashes: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash over the distinct-term set: signature i =
    min(md5(term || '#' || i)). Long output (doc_id, h, minhash).
    Signatures come from :func:`_signature_wide` (shuffle-free
    projection); only the caller's downstream ops shuffle."""
    wide = _signature_wide(df, n_hashes, id_col, text_col)
    # unpivot to long for stable cross-engine comparison
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("h"), F.col(f"mh{i}").alias("minhash"))
            for i in range(n_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.h").alias("h"), F.col("p.minhash").alias("minhash")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band (band =
    md5 of ``band_size`` concatenated signature values). Returns
    distinct (doc_a, doc_b) with doc_a < doc_b. The pair join is on
    band buckets, so cost scales with bucket collisions, not n².

    ``max_bucket_size`` is the skew guard for web-scale corpora: a
    degenerate band bucket (boilerplate pages sharing a band) turns the
    self-join into bucket² pairs — at 10^12 docs a single million-doc
    bucket is 10^12 pairs on its own. Buckets larger than the cap are
    excluded from the pair join (their members are near-identical
    boilerplate; route them to :func:`exact_dedup`, whose hash-groupBy
    handles any group size linearly). Default None = exact semantics
    (every bucket enumerated), which is what the DuckDB oracle checks.

    Plan shape (r7): signatures and band hashes are pure projections
    off the tokenized-terms array (:func:`_signature_wide` — no
    explode, no aggregation, no shuffle), persisted once and read by
    both sides of a streaming self-equi-join on (band, band_hash).
    The output is distinct BY CONSTRUCTION — each pair is emitted only
    at the smallest band where the two docs share a (surviving)
    bucket, a pure extra join conjunct — so no pair-level shuffle ever
    happens (the round-6 global ``.distinct()`` cost 35 s at the
    1M-doc bench leg to remove a 0.03% duplicate ratio). Rejected
    alternatives kept for the record: (a) explode +
    groupBy(doc_id).min(md5) signatures — Sort+SortAggregate strings
    on a (doc_id, term) shuffle, measured 2× slower; (b)
    collect_list(doc_id)-per-bucket + nested-transform pair explode —
    materializes a C(n,2) struct array per mega-bucket in ONE row.
    The join streams its pairs instead.

    Caveat: the banded signatures are pinned with a lazy
    ``localCheckpoint``, whose blocks are NOT recomputable — on a
    non-local master, losing an executor mid-run fails the job with a
    missing-checkpoint-block error instead of recomputing. Under AQE
    the pin's shuffle stages (the guard's window counts) run when the
    operator is called; the pair join reads their output."""
    wide = _signature_wide(df, n_hashes, id_col=id_col, text_col=text_col)
    n_bands = (n_hashes + band_size - 1) // band_size

    def band_hash(b: int):
        return F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.array(
                        *[
                            F.col(f"mh{i}")
                            for i in range(
                                b * band_size, min((b + 1) * band_size, n_hashes)
                            )
                        ]
                    )
                ),
            )
        )

    guarded = max_bucket_size is not None
    wide = wide.select(
        "doc_id", *[band_hash(b).alias(f"_bh{b}") for b in range(n_bands)]
    )
    if guarded:
        # per-band bucket-size flags computed BEFORE the band explode
        # (one window shuffle of the 1M-row signature table per band):
        # a row's own-band flag is the mega-bucket guard; the OTHER
        # bands' flags feed the first-collision dedup below
        for b in range(n_bands):
            wide = wide.withColumn(
                f"_sv{b}",
                F.count(F.lit(1)).over(Window.partitionBy(f"_bh{b}"))
                <= max_bucket_size,
            )
    carry = [f"_bh{b}" for b in range(n_bands)] + (
        [f"_sv{b}" for b in range(n_bands)] if guarded else []
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"_bh{b}").alias("band_hash"))
            for b in range(n_bands)
        ]
    )
    banded = wide.select("doc_id", *carry, F.explode(band_structs).alias("p")).select(
        "doc_id", *carry, F.col("p.band").alias("band"), F.col("p.band_hash").alias("band_hash")
    )
    # the banded-signature subplan is referenced by BOTH sides of the
    # self-join: pin it so the expensive part — tokenize + n_hashes md5
    # projections over the corpus — runs once per job instead of once
    # per reference (r7, guide §1.2/§2.4: measured 2 signature passes
    # in the round-6 plan). The pinned set is ~100 B/row·n_bands. A lazy
    # localCheckpoint, not a DataFrame persist: the SQL cache manager
    # keeps a persisted plan until an explicit unpersist, which an
    # operator returning a lazy DataFrame cannot call; the
    # ContextCleaner frees the checkpoint once the result is dropped.
    banded = banded.localCheckpoint(eager=False)
    if guarded:
        surv_own = F.lit(False)
        for b in range(n_bands):
            surv_own = F.when(F.col("band") == b, F.col(f"_sv{b}")).otherwise(surv_own)
        banded = banded.where(surv_own)
        a = banded.alias("a")
    else:
        a = _spread_to_width(banded, probe=banded).alias("a")
    b2 = banded.alias("b")
    # FIRST-COLLISION dedup instead of a global .distinct() (r7, guide
    # §2.4): a pair is emitted only at the SMALLEST band where both
    # docs share a surviving bucket — for every earlier band j the
    # condition rejects the copy iff the pair also collided there (and,
    # under the guard, that bucket survived — a pair whose earlier
    # collision was mega-pruned is still emitted here, exactly the old
    # distinct-over-surviving-joins semantics). The output is distinct
    # BY CONSTRUCTION, which removes the full pair-level shuffle:
    # measured at the 1M-doc bench leg, the old distinct cost 35.2 s
    # to remove 29,899 duplicates out of 106.46M join rows
    # (dup ratio 1.0003) vs 3.8 s for the raw join.
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for j in range(n_bands):
        earlier_hit = F.col(f"a._bh{j}") == F.col(f"b._bh{j}")
        if guarded:
            earlier_hit = earlier_hit & F.col(f"a._sv{j}")
        cond = cond & ((F.lit(j) >= F.col("a.band")) | ~earlier_hit)
    return a.join(b2, cond).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over duplicate candidate pairs → duplicate
    clusters: (doc_id, cluster_id, keep) where ``cluster_id`` is the
    minimum doc id reachable through the pair graph and ``keep`` marks
    the canonical survivor (the cluster's own minimum). This is the
    step after :func:`lsh_candidate_pairs`/:func:`ngram_jaccard_pairs`
    in a training-data pipeline: pairs say "these two collide", clusters
    say "keep one of these forty".

    Algorithm: distributed min-label propagation with path compression —
    per iteration every vertex takes the min of (its label, its
    neighbors' labels, its label's label). The extra label-of-label hop
    is pointer doubling, so convergence is O(log diameter) iterations,
    each a pair of shuffles on (vertex) — no per-row Python, no driver
    materialization of the graph (only a per-iteration convergence
    *count* reaches the driver, the standard iterative-algorithm shape).
    ``docs`` (optional) adds isolated vertices as singleton clusters.

    ``max_iter`` counts label-UPDATE rounds; one extra verification
    round runs after them (convergence is only observable as a
    changed == 0 round, so a fixpoint reached exactly on round
    ``max_iter`` must not raise). ``max_iter=0`` is a no-op returning
    identity labels (every vertex its own cluster), unverified.

    Deduplicate the pair list first if it can contain both (a,b) and
    (b,a); edges here are symmetrized internally.
    """
    e = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    # no .distinct() on the symmetrized union (r7, guide §2.4 "a
    # distinct on data that is already unique"): a distinct (doc_a <
    # doc_b) pair list symmetrizes to a distinct edge set by
    # construction (originals have s<t, mirrors s>t — disjoint), so the
    # old global distinct shuffled 2·|pairs| rows to remove nothing.
    # Duplicate edges from a dirty input cannot change any min-label
    # aggregation — they only inflate the per-iteration join
    # proportionally to the dirt, which the docstring's dedup-first
    # note already covers.
    edges = e.unionByName(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    # r7 (guide §2.4): pre-partition + pre-sort the STATIC edge set by
    # the per-iteration join key and persist — persist (unlike
    # localCheckpoint) preserves outputPartitioning/outputOrdering, so
    # every iteration's edges⋈labels sort-merge join does ZERO exchange
    # and ZERO sort on the edge side (the round-6 form re-shuffled all
    # edges every round). The count materializes the cache once.
    edges = (
        edges.repartition("t")
        .sortWithinPartitions("t")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the edge cache is released on EVERY exit — convergence, the
    # non-convergence raise, and a round that throws (executor loss,
    # lost checkpoint block). After an update round labels is
    # checkpointed (lineage-free), so the returned plan no longer reads
    # the cache; with max_iter <= 0 it re-derives from the edge plan.
    try:
        edges.count()
        verts = edges.select(F.col("s").alias("v")).distinct()
        if docs is not None:
            verts = verts.unionByName(docs.select(F.col(id_col).alias("v"))).distinct()
        labels = verts.select("v", F.col("v").alias("lbl"))
        changed = -1
        rounds = 0
        # max_iter update rounds + 1 verification round (see docstring);
        # max_iter <= 0 skips the loop → identity labels, no raise
        for rounds in range(1, max_iter + 2) if max_iter > 0 else ():
            nmin = (
                edges.join(labels.withColumnRenamed("v", "t"), "t")
                .groupBy("s")
                .agg(F.min("lbl").alias("nlbl"))
                .withColumnRenamed("s", "v")
            )
            # pointer doubling: label's current label
            l2 = labels.select(F.col("v").alias("lbl"), F.col("lbl").alias("llbl"))
            # carry the old label through the checkpoint so convergence is a
            # cheap filter+count over the checkpointed rows — the round-6
            # form paid an extra labels join (plus its shuffles) per round
            # just to count changes (r7, guide §2.4)
            new = (
                labels.join(nmin, "v", "left")
                .join(l2, "lbl", "left")
                .select(
                    "v",
                    F.col("lbl").alias("_old"),
                    F.least(
                        F.col("lbl"),
                        F.coalesce(F.col("nlbl"), F.col("lbl")),
                        F.coalesce(F.col("llbl"), F.col("lbl")),
                    ).alias("lbl"),
                )
                .localCheckpoint(eager=True)  # iterative plan would grow unboundedly
            )
            changed = new.where(F.col("lbl") != F.col("_old")).count()
            labels = new.select("v", "lbl")
            if changed == 0:
                break
        else:
            if max_iter > 0:
                # exhausting the budget with labels still moving means split
                # components — silently returning them would hand callers
                # wrong cluster assignments with no signal
                raise RuntimeError(
                    f"dedup_clusters did not converge after {rounds} rounds "
                    f"(max_iter={max_iter} update rounds + 1 verification; "
                    f"{changed} labels still changing on the last round); "
                    "raise max_iter (pointer doubling needs O(log diameter) rounds)"
                )
    finally:
        edges.unpersist(blocking=False)
    return labels.select(
        F.col("v").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("v") == F.col("lbl")).alias("keep"),
    )


def simhash(
    df: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """tf-weighted SimHash. Bit j of md5(term) is taken from hex digit
    j (high bit of the nibble: digit >= '8'), portable across engines.
    Returns (doc_id, simhash long).

    Plan shape (r7, guide §2.3/§2.4): ONE shuffle. The tf-weighted vote
    Σ_terms tf(term)·sign_j(term) equals the per-OCCURRENCE sum
    Σ_tokens sign_j(token) — exact integer arithmetic, identical result
    — so the per-(doc, term) tf aggregation (a full shuffle of
    (doc_id, term) STRING rows that fell back to Sort+SortAggregate) is
    unnecessary: explode → md5 → 32 conditional sums hash-aggregate
    map-side (a doc's tokens never span partitions) and the shuffle
    carries one all-numeric row per doc."""
    occ = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(native_tokens_col(text_col)).alias("term"),
    ).select("doc_id", F.md5(F.col("term")).alias("h"))
    votes = [
        F.sum(
            F.when(F.substring(F.col("h"), j + 1, 1) >= "8", F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = occ.groupBy("doc_id").agg(*votes)
    sh = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = bit if sh is None else sh + bit
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash Hamming distance — all
    (doc_a, doc_b, hamming) with ``hamming(simhash_a, simhash_b) ≤
    max_hamming``, doc_a < doc_b — without an all-pairs comparison.

    Candidate generation is the pigeonhole band trick (the classic
    web-dedup formulation): split the ``bits``-bit simhash into
    ``max_hamming + 1`` bands — a pair within Hamming ≤ r differs in at
    most r bits, so it agrees EXACTLY on at least one band. Candidates
    come from an equi-join on (band index, band value) — cost ∝ band
    collisions, never n² — and the final ``bit_count(xor) ≤ r`` filter
    makes the result exact (recall 1 by pigeonhole, precision 1 by the
    filter). This is the missing half of :func:`simhash`: signatures
    alone say nothing until paired, and pairing them naively is the n²
    trap the banded join avoids.

    ``max_bucket_size`` is the same mega-bucket skew guard as
    :func:`lsh_candidate_pairs` (boilerplate corpora put thousands of
    identical simhashes in one band bucket; route those to
    :func:`exact_dedup`). Default None = exact semantics, what the
    DuckDB all-pairs oracle checks.

    Caveat (same as :func:`lsh_candidate_pairs`): the banded simhashes
    are pinned with a lazy ``localCheckpoint``, whose blocks are NOT
    recomputable on executor loss, and under AQE the simhash
    aggregation below the pin runs when the operator is called."""
    n_bands = max_hamming + 1
    width = (bits + n_bands - 1) // n_bands
    mask = (1 << width) - 1
    guarded = max_bucket_size is not None
    sh = simhash(df, bits=bits, id_col=id_col, text_col=text_col)

    def bv(col, b: int):
        return F.shiftright(col, b * width).bitwiseAND(F.lit(mask))

    if guarded:
        # per-band bucket-size flags before the explode (one window
        # shuffle of the per-doc simhash table per band) — own-band
        # flag is the mega-bucket guard, the others feed the
        # first-collision dedup below (see lsh_candidate_pairs)
        for b in range(n_bands):
            sh = sh.withColumn(
                f"_sv{b}",
                F.count(F.lit(1)).over(Window.partitionBy(bv(F.col("simhash"), b)))
                <= max_bucket_size,
            )
    carry = [f"_sv{b}" for b in range(n_bands)] if guarded else []
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bv(F.col("simhash"), b).alias("band_val"))
            for b in range(n_bands)
        ]
    )
    banded = sh.select("doc_id", "simhash", *carry, F.explode(bands).alias("p")).select(
        "doc_id",
        "simhash",
        *carry,
        F.col("p.band").alias("band"),
        F.col("p.band_val").alias("band_val"),
    )
    # pin: the simhash aggregation under ``banded`` is referenced by
    # both self-join sides (same reasoning and the same lazy
    # localCheckpoint lifetime as lsh_candidate_pairs — r7, guide
    # §1.2/§2.4); the pinned set is n_bands rows/doc of numeric
    # columns, tiny next to the token stream it derives from
    banded = banded.localCheckpoint(eager=False)
    if guarded:
        surv_own = F.lit(False)
        for b in range(n_bands):
            surv_own = F.when(F.col("band") == b, F.col(f"_sv{b}")).otherwise(surv_own)
        banded = banded.where(surv_own)
        a = banded.alias("a")
    else:
        # probe the INPUT's scan width, not banded: banded contains the
        # simhash groupBy, so .rdd on it would eagerly run those agg
        # stages in a throwaway execution (see _spread_to_width)
        a = _spread_to_width(banded, probe=df.select(F.col(id_col))).alias("a")
    b2 = banded.alias("b")
    # first-collision dedup instead of a global .distinct() — emit each
    # pair only at the smallest band where both docs share a (surviving)
    # bucket; earlier-band values come straight from the simhash columns
    # already on both sides (pure bit arithmetic, no extra state). Same
    # reasoning and measured motivation as lsh_candidate_pairs.
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for j in range(n_bands):
        earlier_hit = bv(F.col("a.simhash"), j) == bv(F.col("b.simhash"), j)
        if guarded:
            earlier_hit = earlier_hit & F.col(f"a._sv{j}")
        cond = cond & ((F.lit(j) >= F.col("a.band")) | ~earlier_hit)
    return (
        a.join(b2, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all doc pairs sharing >= 1 shingle
    (use on LSH candidates or scoped subsets; the shingle equi-join is
    the candidate generator). Returns (doc_a, doc_b, jaccard).

    ``max_bucket_size`` is the same mega-bucket guard as the sibling
    pair pipelines (:func:`_prune_mega_buckets`): a boilerplate shingle
    shared by 10^5 docs is 10^10 join rows on its own. With the guard
    set, over-shared shingles are excluded from BOTH the intersection
    count and the per-doc set sizes, so ``jaccard`` is the exact
    Jaccard over the *filtered* shingle space — the idf-style reading
    (a shingle in everything carries no similarity evidence). Default
    ``None`` = exact full-space semantics (the oracle-checked mode)."""
    toks = native_tokens_col(text_col)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    shingles = df.select(
        F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle")
    ).where(F.col("shingle") != "")
    shingles = _prune_mega_buckets(shingles, ["shingle"], max_bucket_size)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )
