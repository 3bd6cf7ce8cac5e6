"""ANN quality gate: the LSH/IVF path must have a *measured* recall
and a working accuracy/probe knob (the reference's ``n_ivf_probe``
trade, ``plaid.py:40-64,126-132``) — an approximate operator without a
recall number is unusable at scale.

Clustered synthetic embeddings (deterministic) stand in for real text
embeddings; everything here is seeded, so the asserted floors are
stable, not flaky.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pylate_spark.operators.similarity import cosine_topk, ivf_topk, recall_at_k
from pylate_spark.sources.synth import synth_embeddings

K = 10
N_PLANES = 6


@pytest.fixture(scope="module")
def emb(spark):
    return synth_embeddings(spark, 2000).cache()


@pytest.fixture(scope="module")
def queries(spark, emb):
    return emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).cache()


@pytest.fixture(scope="module")
def exact(spark, emb, queries):
    return cosine_topk(emb, queries, k=K).cache()


def _mean_recall(exact_df, approx_df):
    rows = recall_at_k(exact_df, approx_df, k=K).collect()
    assert len(rows) == 20
    return sum(r["recall"] for r in rows) / len(rows)


def test_multiprobe_recall_floor(spark, emb, queries, exact):
    approx = ivf_topk(emb, queries, k=K, n_planes=N_PLANES, n_probe=22)
    assert _mean_recall(exact, approx) >= 0.90


def test_probe_knob_is_monotone(spark, emb, queries, exact):
    r = {
        p: _mean_recall(exact, ivf_topk(emb, queries, k=K, n_planes=N_PLANES, n_probe=p))
        for p in (1, 7, 22)
    }
    assert r[1] <= r[7] <= r[22], r
    assert r[1] >= 0.3  # single-bucket probe is not vacuous either


def test_probe_recall_curve_empty_probe_list(spark, emb, queries):
    """An explicit empty probe list measures nothing and returns an
    empty curve — no error from sizing a worker pool to zero."""
    from pylate_spark.operators.similarity import probe_recall_curve

    assert probe_recall_curve(emb, queries, k=K, n_planes=N_PLANES, probes=[]) == []


def test_target_recall_auto_probe(spark, emb, queries, exact):
    """target_recall picks n_probe from the measured curve: asking for
    0.9 must ACHIEVE >= 0.9 (on the calibration distribution), and the
    curve's full-coverage anchor (2^n_planes probes = every bucket =
    exact) guarantees any feasible target is reachable."""
    from pylate_spark.operators.similarity import (
        choose_n_probe,
        ivf_topk_auto,
        probe_recall_curve,
    )

    curve = probe_recall_curve(emb, queries, k=K, n_planes=N_PLANES)
    # monotone-ish and anchored: full coverage is exact by construction
    assert curve[-1]["n_probe"] == 2**N_PLANES and curve[-1]["recall"] == 1.0, curve

    approx, n_probe = ivf_topk_auto(
        emb, queries, target_recall=0.90, k=K, n_planes=N_PLANES, curve=curve
    )
    assert n_probe == choose_n_probe(curve, 0.90, n_planes=N_PLANES)
    assert n_probe < 2**N_PLANES  # 0.9 is reachable without a full scan here
    assert _mean_recall(exact, approx) >= 0.90

    # self-calibrating path (no persisted curve): calibrates on a query
    # sample, then returns the chosen operating point
    approx2, p2 = ivf_topk_auto(
        emb, queries, target_recall=0.90, k=K, n_planes=N_PLANES, calibration_queries=20
    )
    assert _mean_recall(exact, approx2) >= 0.90
    assert 1 <= p2 <= 2**N_PLANES


@pytest.fixture(scope="module")
def bucketed_path(spark, emb, tmp_path_factory):
    from pylate_spark.operators.similarity import write_bucketed_embeddings

    path = str(tmp_path_factory.mktemp("bucketed") / "emb")
    meta = write_bucketed_embeddings(emb, path, n_planes=N_PLANES, dim=64)
    assert meta["n_planes"] == N_PLANES
    return path


@pytest.mark.parametrize("n_probe", [1, 7, 22])
def test_bucketed_probe_identical_to_fullscan(spark, emb, queries, bucketed_path, n_probe):
    """The persisted-layout probe must return EXACTLY what the
    full-scan ivf_topk returns for the same (planes, seed, n_probe) —
    the layout changes where the bytes live, never the result."""
    from pylate_spark.operators.similarity import ivf_topk_bucketed

    got = sorted(map(tuple, ivf_topk_bucketed(
        spark, bucketed_path, queries, k=K, n_probe=n_probe).collect()))
    want = sorted(map(tuple, ivf_topk(
        emb, queries, k=K, n_planes=N_PLANES, n_probe=n_probe).collect()))
    assert got == want


def test_bucketed_probe_plan_is_partition_pruned(spark, queries, bucketed_path):
    """The scale claim itself, pinned in the plan: the probed-bucket
    IN-list must land in the scan's PartitionFilters (only probed
    buckets' directories listed/read — the reference's probe-only-
    ncells-cells shape, candidate_generation.py:22-39), and the probe
    must touch strictly fewer partition directories than exist."""
    import contextlib
    import io
    import re

    from pylate_spark import storage
    from pylate_spark.operators.similarity import ivf_topk_bucketed

    few = queries.where("qid < 3")  # 3 queries x 2 probes <= 6 buckets
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_topk_bucketed(spark, bucketed_path, few, k=K, n_probe=2).explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert m, plan  # the bucket predicate reached the partition filter
    lst = re.search(r"(?:INSET |IN \()([\d,\s]+)", m.group(1))
    assert lst, m.group(1)
    # pruning is real: probed buckets << written bucket directories
    n_dirs = sum(1 for d in storage.listdir(bucketed_path) if "bucket=" in d)
    probed = len(re.findall(r"\d+", lst.group(1)))
    assert 0 < probed <= 6 < n_dirs, (probed, n_dirs, m.group(1))
    # and nothing recomputes the bucket on the corpus side: the scan
    # projects the persisted columns, no hyperplane arithmetic below it
    scan_leaf = plan.split("Scan parquet", 1)[1].split("\n\n")[0]
    assert "aggregate(" not in scan_leaf.lower()


def test_append_bucketed_then_probe_matches_full_rewrite(spark, tmp_path_factory):
    """Incremental add parity: writing corpus A then appending corpus B
    must probe identically to one full write of A ∪ B — and the append
    must hash with the MANIFEST's hyperplanes, not the caller's."""
    from pylate_spark.operators.similarity import (
        append_bucketed_embeddings,
        ivf_topk_bucketed,
        load_bucket_manifest,
        write_bucketed_embeddings,
    )

    all_emb = synth_embeddings(spark, 1200).cache()
    first = all_emb.where(F.col("vec_id") < 800)
    extra = all_emb.where(F.col("vec_id") >= 800)
    qs = all_emb.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    inc = str(tmp_path_factory.mktemp("inc") / "emb")
    write_bucketed_embeddings(first, inc, n_planes=N_PLANES, dim=64)
    meta = append_bucketed_embeddings(extra, inc)
    assert meta == load_bucket_manifest(inc)  # geometry unchanged

    full = str(tmp_path_factory.mktemp("full") / "emb")
    write_bucketed_embeddings(all_emb, full, n_planes=N_PLANES, dim=64)

    for n_probe in (1, 7):
        got = sorted(map(tuple, ivf_topk_bucketed(
            spark, inc, qs, k=K, n_probe=n_probe).collect()))
        want = sorted(map(tuple, ivf_topk_bucketed(
            spark, full, qs, k=K, n_probe=n_probe).collect()))
        assert got == want
    # appended rows are really in the partition layout (not a side file)
    n_rows = spark.read.parquet(inc).count()
    assert n_rows == 1200
    all_emb.unpersist(blocking=False)


def test_ivf_topk_auto_bucketed_hits_target_on_pruned_path(
    spark, emb, queries, exact, bucketed_path
):
    """The calibrated probe count must drive the PRUNED layout (the
    round-5 gap: auto only drove the full-scan path) and still achieve
    the recall target end to end."""
    from pylate_spark.operators.similarity import ivf_topk_auto_bucketed

    approx, n_probe = ivf_topk_auto_bucketed(
        spark, bucketed_path, queries, target_recall=0.90, k=K,
        calibration_queries=20,
    )
    assert 1 <= n_probe <= 2**N_PLANES
    assert _mean_recall(exact, approx) >= 0.90
