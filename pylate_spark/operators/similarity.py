"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — exact brute-force cosine top-k, the baseline:
  broadcast the (small) query side, native ``zip_with``/``aggregate``
  arithmetic in float64 (JVM, no UDF), window top-k per query. This is
  the BM25-engine-shaped plan applied to dense vectors: broadcast
  probe → scatter scoring → global merge (SURVEY §3.1).
- :func:`ivf_topk` — the scale path: LSH-bucketed candidate
  generation (sign bits of H seeded hyperplane projections — the
  analog of the reference's IVF centroid probe,
  ``pylate/indexes/stanford_nlp/search/candidate_generation.py:10-39``)
  followed by exact cosine over the probed buckets only. Approximate
  (recall < 1 possible), like the reference's ``n_ivf_probe`` knob.
- :func:`write_bucketed_embeddings` / :func:`ivf_topk_bucketed` — the
  persisted form of the same probe: bucket as a PARTITION COLUMN,
  probe as a PartitionFilters-pruned scan (results identical to
  :func:`ivf_topk`; PLANS.md §8).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pylate_spark.functions.predicates import in_list


def _dot(a, b):
    # NOTE (r7, measured): an unrolled fixed-dim ``a[0]*b[0] + …`` chain
    # was tried here (guide §4.1, "prefer codegen") and measured 2×
    # SLOWER than this fold in steady state at dim=64 (0.45 s vs
    # 0.25 s per 50k-row projection pass) — the 100s-of-nodes GetArrayItem
    # chain loses to the fold's tight loop over the array's primitive
    # storage. Keep the fold; its left-to-right float64 accumulation is
    # also the cross-engine determinism contract.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _score_rank(joined: DataFrame, k: int, round_to: int = 4) -> DataFrame:
    """Shared scoring/ranking tail of every cosine top-k path: exact
    rounded cosine over (vec, nv) × (qvec, nq) pairs, self-match
    exclusion, WindowGroupLimit-bounded top-k with the deterministic
    (cos desc, vec_id asc) tie-break. Returns (qid, rank, vec_id,
    cos_sim)."""
    scored = joined.where(F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(
            _dot(F.col("vec"), F.col("qvec")) / (F.col("nv") * F.col("nq")), round_to
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "cos_sim")
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k of ``emb`` rows per query row.

    Excludes self-matches when ids coincide. Returns
    (qid, rank, vec_id, cos_sim)."""
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nv"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        _norm(F.col(qvec_col)).alias("nq"),
    )
    return _score_rank(e.crossJoin(F.broadcast(q)), k, round_to)


#: probes beyond this are effectively exhaustive search done the
#: expensive way (one exploded candidate row per probe mask per query)
#: — at n_planes=24 the full 2^24 mask set would be 16M array literals
#: in the plan. Use cosine_topk for (near-)full coverage instead.
MAX_N_PROBE = 4096


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.Generator(np.random.Philox(key=seed, counter=0))
    return rng.normal(size=(n_planes, dim)).astype(np.float64).tolist()


def _probe_masks(n_planes: int, n_probe: int) -> list[int]:
    """XOR masks in increasing Hamming weight: 0, then single-bit
    flips, then double-bit flips ... truncated at ``n_probe`` masks.
    Within a weight the order is bit-position lexicographic (the
    combinations() order) — any deterministic order is valid; it only
    matters for n_probe values that truncate mid-weight. Generated
    lazily by weight — enumerating all 2^n_planes ids would hang at
    realistic plane counts (n_planes=24 → 16M ids for a handful of
    probes). Shared by :func:`ivf_topk`, :func:`ivf_topk_bucketed` and
    the DuckDB oracle so the probe sets can never desynchronize."""
    from itertools import combinations

    masks: list[int] = []
    for w in range(n_planes + 1):
        for bits in combinations(range(n_planes), w):
            masks.append(sum(1 << b for b in bits))
            if len(masks) >= n_probe:
                break
        if len(masks) >= n_probe:
            break
    return masks


def bucket_col(vec_col, planes: list[list[float]]):
    """LSH bucket id = packed sign bits of hyperplane projections.

    The ``aggregate(zip_with(...))`` fold is kept on purpose: an
    unrolled per-element chain was measured 2× slower (see _dot), and
    the fold's left-to-right float64 order is what the persisted-layout
    and DuckDB-oracle twins replicate."""
    b = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(x) for x in p]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        b = b + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return b


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    seed: int = 42,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: equi-join on LSH bucket, exact cosine
    within the probed buckets. This form computes the bucket on the fly
    (a full-corpus projection) — right for ad-hoc/in-memory inputs and
    calibration; the SCALE path is :func:`write_bucketed_embeddings` +
    :func:`ivf_topk_bucketed`, where the bucket is a partition column
    and the probe is a partition-pruned scan (PLANS.md §8).

    ``n_probe`` is capped at :data:`MAX_N_PROBE` (values that large
    mean the caller wants (near-)exhaustive search — use
    :func:`cosine_topk`, which does it without materializing one
    exploded row per probe mask). It is the recall knob — the analog of
    the reference's ``n_ivf_probe``
    (``pylate/indexes/stanford_nlp/plaid.py:126-132``):
    each query probes its own bucket plus the nearest neighboring
    buckets (Hamming distance 1 = one hyperplane sign flipped, then 2,
    ...) until ``n_probe`` buckets are covered. ``n_probe=1`` probes
    only the query's bucket; ``n_probe=n_planes+1`` covers all single
    flips, etc. More probes → higher recall, more scanned partitions.
    """
    n_probe = min(n_probe, 2**n_planes)
    if n_probe > MAX_N_PROBE:
        raise ValueError(
            f"n_probe={n_probe} explodes one candidate row per probe mask "
            f"(cap {MAX_N_PROBE}); for (near-)exhaustive search use cosine_topk"
        )
    planes = _hyperplanes(dim, n_planes, seed=seed)
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nv"),
        bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        _norm(F.col(qvec_col)).alias("nq"),
        bucket_col(F.col(qvec_col), planes).alias("bucket"),
    )
    if n_probe > 1:
        masks = _probe_masks(n_planes, n_probe)
        q = q.withColumn(
            "bucket",
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])),
        )
    return _score_rank(e.join(F.broadcast(q), "bucket"), k)


#: manifest filename inside a bucketed-embeddings directory. The
#: leading underscore makes Spark/Hadoop readers skip it (same
#: convention as _SUCCESS/_metadata), so the directory stays a plain
#: ``spark.read.parquet`` target.
BUCKET_MANIFEST = "_lsh_buckets.json"


def write_bucketed_embeddings(
    emb: DataFrame,
    path: str,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist an embedding corpus PARTITIONED BY its LSH bucket — the
    write-time half of the scale ANN path. The bucket (and the vector
    norm) are pure functions of the vector, so they are computed once
    here; :func:`ivf_topk_bucketed` then probes with a literal bucket
    IN-list that Catalyst turns into ``PartitionFilters`` — only the
    probed buckets' directories are ever listed or read, the analog of
    the reference probing only ``ncells`` IVF cells via its centroid
    index lookup instead of scanning the corpus
    (``/root/reference/pylate/indexes/stanford_nlp/search/candidate_generation.py:22-39``).

    A JSON manifest (``n_planes``/``dim``/``seed``) is written next to
    the data so the probe path can never hash queries with different
    hyperplanes than the layout was written with."""
    import json

    from pylate_spark import storage

    planes = _hyperplanes(dim, n_planes, seed=seed)
    out = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nv"),
        bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    meta = {"n_planes": n_planes, "dim": dim, "seed": seed, "version": 1}
    storage.write_text(storage.join(path, BUCKET_MANIFEST), json.dumps(meta))
    return meta


def load_bucket_manifest(path: str) -> dict:
    import json

    from pylate_spark import storage

    return json.loads(storage.read_text(storage.join(path, BUCKET_MANIFEST)))


def append_bucketed_embeddings(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental add for a persisted bucketed layout — the ANN-side
    analog of the inverted index's ``add_documents``
    (``/root/reference/pylate/indexes/stanford_nlp/index_updater.py:142-163``):
    new vectors are hashed with the LAYOUT'S OWN hyperplanes (planes /
    dim / seed come from the manifest, never from caller arguments, so
    an append can never mix bucket geometries) and appended into the
    existing ``bucket=`` partition directories. A subsequent
    :func:`ivf_topk_bucketed` probe is identical to one over a full
    rewrite of the combined corpus — the probe replays the manifest
    geometry either way (parity pinned by
    ``tests/test_similarity_recall.py``).

    Contract: single writer (parquet append is per-file atomic but not
    transactional across partitions — same discipline as any parquet
    append); vec ids are the caller's to keep unique, exactly as the
    reference's ``IndexUpdater.add`` trusts its caller. Appends only
    CREATE new files, so a crash mid-append leaves whole files at
    worst duplicated on retry — re-run with the same batch only after
    deduplicating ids upstream."""
    meta = load_bucket_manifest(path)
    dim = int(meta["dim"])
    # guard (round-6 advice): a wrong-dimension vector would bucket to
    # NULL and land in __HIVE_DEFAULT_PARTITION__, unreachable by any
    # probe and poisoning full-corpus reads — fail the append instead
    n_bad = emb.where(F.size(F.col(vec_col)) != dim).limit(1).count()
    if n_bad:
        raise ValueError(
            f"append_bucketed_embeddings: input contains vectors whose "
            f"length != manifest dim {dim}; refusing to append"
        )
    planes = _hyperplanes(dim, int(meta["n_planes"]), seed=int(meta["seed"]))
    out = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nv"),
        bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    out.write.mode("append").partitionBy("bucket").parquet(path)
    return meta


def ivf_topk_bucketed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """:func:`ivf_topk` over a layout persisted by
    :func:`write_bucketed_embeddings`: identical results (same planes,
    same Hamming-ordered probe masks, same rounded-cosine ranking), but
    the corpus scan is a PARTITION-PRUNED read of the probed buckets
    only — no bucket recompute, no norm recompute, no full-corpus pass.
    At 100 TB this is the difference between reading ``n_probe/2^planes``
    of the corpus and reading all of it per query batch.

    The query buckets are computed by the SAME Spark expression the
    write path used (``bucket_col``'s left-to-right float64 fold — a
    numpy dot's pairwise summation could flip a sign bit on a
    projection near 0) and collected: the query side is small by
    design, and the literal bucket list is exactly what makes the scan
    partition-prunable. Plan-shape is pinned by
    ``tests/test_similarity_recall.py`` (PartitionFilters on bucket)."""
    meta = load_bucket_manifest(path)
    n_planes = int(meta["n_planes"])
    n_probe = min(n_probe, 2**n_planes)
    if n_probe > MAX_N_PROBE:
        raise ValueError(
            f"n_probe={n_probe} explodes one candidate row per probe mask "
            f"(cap {MAX_N_PROBE}); for (near-)exhaustive search use cosine_topk"
        )
    planes = _hyperplanes(int(meta["dim"]), n_planes, seed=int(meta["seed"]))
    masks = _probe_masks(n_planes, n_probe)
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        _norm(F.col(qvec_col)).alias("nq"),
        bucket_col(F.col(qvec_col), planes).alias("bucket"),
    )
    qb = [int(r["bucket"]) for r in q.select("bucket").distinct().collect()]
    probe_buckets = sorted({b ^ m for b in qb for m in masks})
    e = spark.read.parquet(path).where(in_list("bucket", probe_buckets))
    if n_probe > 1:
        q = q.withColumn(
            "bucket",
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])),
        )
    return _score_rank(e.join(F.broadcast(q), "bucket"), k)


def probe_recall_curve(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    probes: list[int] | None = None,
    exact: DataFrame | None = None,
    **cols,
) -> list[dict]:
    """Measure the accuracy/probe trade of :func:`ivf_topk` on a query
    sample: mean recall@k vs ``n_probe``. This is the *persistable
    calibration curve* (JSON-serializable list of
    ``{"n_probe": p, "recall": r}``) that :func:`ivf_topk`'s
    ``target_recall`` consults — the reference's k-banded parameter
    presets (``searcher.py:60-83``) applied to its ``n_ivf_probe`` knob
    (``plaid.py:126-132``). Cost: ONE exact brute-force pass over
    ``emb`` for the sample queries plus one bucket-pruned pass per
    probe point — calibrate on a small query sample, persist, reuse.

    Default probe points are powers of two up to
    ``min(2**n_planes, MAX_N_PROBE)``; at plane counts where the cap
    binds (``n_planes > 12``) the curve tops out below full coverage,
    and :func:`choose_n_probe` falls back to the largest *measured*
    point. At smaller plane counts the last point IS full coverage
    (recall 1.0 by construction — every bucket probed), so the curve
    reaches any feasible target.

    ``exact`` lets callers pass an already-computed/cached
    :func:`cosine_topk` result for the same queries instead of paying
    the brute-force pass twice."""
    ceiling = min(2**n_planes, MAX_N_PROBE)
    if probes is None:
        probes, p = [], 1
        while p < ceiling:
            probes.append(p)
            p *= 2
        probes.append(ceiling)
    if not probes:
        return []  # no points to measure (and an empty pool cannot start)
    own_exact = exact is None
    if own_exact:
        exact = cosine_topk(emb, queries, k=k, **cols).cache()
        exact.count()  # materialize once before concurrent readers
    try:
        # the probe points are independent tiny jobs dominated by
        # job/planning overhead, not compute — submit them from a small
        # thread pool so they overlap (r7, guide §2.6); results keep
        # the deterministic probe order via pool.map
        from concurrent.futures import ThreadPoolExecutor

        pts = sorted(set(probes))

        def eval_point(p: int) -> dict:
            approx = ivf_topk(
                emb, queries, k=k, n_planes=n_planes, dim=dim, seed=seed, n_probe=p, **cols
            )
            rows = recall_at_k(exact, approx, k=k).collect()
            r = sum(x["recall"] for x in rows) / max(len(rows), 1)
            return {"n_probe": int(p), "recall": round(float(r), 4)}

        with ThreadPoolExecutor(max_workers=min(4, len(pts))) as pool:
            curve = list(pool.map(eval_point, pts))
    finally:
        if own_exact:
            exact.unpersist(blocking=False)
    return curve


def choose_n_probe(curve: list[dict], target_recall: float, n_planes: int = 6) -> int:
    """Smallest measured ``n_probe`` whose recall meets
    ``target_recall``; falls back to the largest point actually ON the
    curve (never an unmeasured ``2**n_planes`` — at realistic plane
    counts that is millions of probes, i.e. a hang dressed up as a
    fallback) when no point reaches the target."""
    pts = sorted(curve, key=lambda d: d["n_probe"])
    for pt in pts:
        if pt["recall"] >= target_recall:
            return int(pt["n_probe"])
    return int(pts[-1]["n_probe"]) if pts else min(2**n_planes, MAX_N_PROBE)


def ivf_topk_auto(
    emb: DataFrame,
    queries: DataFrame,
    target_recall: float,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    curve: list[dict] | None = None,
    calibration_queries: int = 32,
    qid_col: str = "qid",
    **cols,
) -> tuple[DataFrame, int]:
    """:func:`ivf_topk` with the probe count chosen FOR a recall
    target instead of handed in — the auto-parameter shape of the
    reference's searcher presets (``searcher.py:60-83``). Pass a
    persisted ``curve`` from :func:`probe_recall_curve`; without one, a
    curve is calibrated on the first ``calibration_queries`` queries
    (deterministic ``qid`` order) — one brute-force sample pass, so at
    scale calibrate once and persist. Returns ``(results, n_probe)``
    so callers can log/persist the chosen operating point."""
    if curve is None:
        sample = queries.orderBy(qid_col).limit(calibration_queries)
        curve = probe_recall_curve(
            emb, sample, k=k, n_planes=n_planes, dim=dim, seed=seed,
            qid_col=qid_col, **cols,
        )
    n_probe = choose_n_probe(curve, target_recall, n_planes=n_planes)
    out = ivf_topk(
        emb, queries, k=k, n_planes=n_planes, dim=dim, seed=seed,
        n_probe=n_probe, qid_col=qid_col, **cols,
    )
    return out, n_probe


def ivf_topk_auto_bucketed(
    spark,
    path: str,
    queries: DataFrame,
    target_recall: float,
    k: int = 10,
    curve: list[dict] | None = None,
    calibration_queries: int = 32,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> tuple[DataFrame, int]:
    """:func:`ivf_topk_auto` for a PERSISTED bucketed layout: the
    calibrated probe count drives :func:`ivf_topk_bucketed`'s
    partition-pruned scan, not a full-corpus recompute. Calibration
    (when no ``curve`` is passed) measures recall of the PRUNED probe
    itself at each probe point against one exact brute-force pass over
    the persisted corpus for a small query sample — so the curve
    describes exactly the path that will serve the traffic. At scale:
    calibrate once on a sample, persist the curve, pass it in."""
    meta = load_bucket_manifest(path)
    n_planes = int(meta["n_planes"])
    if curve is None:
        sample = queries.orderBy(qid_col).limit(calibration_queries)
        corpus = spark.read.parquet(path).select(
            "vec_id", F.col("vec").alias("embedding")
        )
        exact = cosine_topk(
            corpus, sample, k=k, qid_col=qid_col, qvec_col=qvec_col
        )
        exact = exact.localCheckpoint(eager=False)  # one brute-force pass, reused per point
        probes = [p for p in (1, 2, 4, 8, 16, 32) if p <= 2**n_planes]
        curve = []
        for p in probes:
            approx = ivf_topk_bucketed(
                spark, path, sample, k=k, n_probe=p,
                qid_col=qid_col, qvec_col=qvec_col,
            )
            rows = recall_at_k(exact, approx, k=k).collect()
            r = sum(x["recall"] for x in rows) / max(len(rows), 1)
            curve.append({"n_probe": p, "recall": float(r)})
            if r >= target_recall:
                break  # larger probe counts cost scan I/O for nothing
    n_probe = choose_n_probe(curve, target_recall, n_planes=n_planes)
    out = ivf_topk_bucketed(
        spark, path, queries, k=k, n_probe=n_probe,
        qid_col=qid_col, qvec_col=qvec_col,
    )
    return out, n_probe


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int = 10) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one (both in (qid, rank, vec_id, ...) shape) — the measured
    accuracy/probe trade the reference exposes via ``n_ivf_probe`` and
    BEIR metrics (``plaid.py:40-64``, ``evaluation/beir.py:143-207``).
    Returns (qid, recall double)."""
    e = exact.where(F.col("rank") <= k).select("qid", "vec_id")
    a = approx.where(F.col("rank") <= k).select("qid", "vec_id")
    hits = (
        e.join(a, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    tot = e.groupBy("qid").agg(F.count(F.lit(1)).alias("n"))
    return tot.join(hits, "qid", "left").select(
        "qid",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n")).alias("recall"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    min_cos: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate candidate pairs via LSH bucket
    self-join + exact cosine filter. Returns (vec_a, vec_b, cos_sim).

    ``max_bucket_size`` is the same skew guard as
    :func:`pylate_spark.operators.dedup.lsh_candidate_pairs`: a
    degenerate LSH bucket (e.g. a near-zero boilerplate embedding
    cluster at web scale) turns the self-join into bucket² pairs.
    Buckets larger than the cap are excluded from the pair join — their
    members are near-identical by construction; route them to
    :func:`pylate_spark.operators.dedup.exact_dedup` on a vector hash,
    which handles any group size linearly. Default None = exact
    semantics (every bucket joined), which the DuckDB oracle checks."""
    planes = _hyperplanes(dim, n_planes, seed=seed)
    e = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nv"),
        bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    if max_bucket_size is not None:
        # window, not agg+semi-join: the count rides the same shuffle
        # that groups buckets, so the projection/normalization of e is
        # not computed a third time just to size the buckets
        wb = Window.partitionBy("bucket")
        e = (
            e.withColumn("_bn", F.count(F.lit(1)).over(wb))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nv") * F.col("b.nv")), 4
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min_cos)
    )
