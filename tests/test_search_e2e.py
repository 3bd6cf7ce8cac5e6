"""End-to-end rank-identity: build index → search (both modes) →
compare against the pure-python oracle — the analog of the reference's
end-to-end retrieval tests (``tests/test_retriever.py:6-80``) plus its
legacy-equivalence pattern (``tests/test_colbert_scores.py:53-84``)."""

from __future__ import annotations

import numpy as np
import pytest

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.oracle import OracleIndex
from pylate_spark.plans.build import build_index
from pylate_spark.plans.query import InvertedIndex, bm25_scan_topk

K = 10


def _oracle_results(pages_pdf, queries_pdf, k=K, allowed=None):
    docs = list(zip(range(len(pages_pdf)), pages_pdf["text"]))  # docid == url rank == index
    oracle = OracleIndex(docs)
    qs = list(zip(queries_pdf["query_id"], queries_pdf["text"]))
    return oracle.search_all(qs, k=k, allowed=allowed), oracle


def _collect_ranked(df):
    return [
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]


def assert_rank_identical(got, want, score_tol=1e-5):
    got_ids = [(q, r, d) for q, r, d, _ in got]
    want_ids = [(q, r, d) for q, r, d, _ in want]
    assert got_ids == want_ids
    gs = np.array([s for *_, s in got])
    ws = np.array([s for *_, s in want])
    np.testing.assert_allclose(gs, ws, rtol=score_tol)


@pytest.fixture(scope="module")
def built_index(spark, pages_t2, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "t2")
    cfg = IndexConfig(shard_size=256, block_size=64, term_buckets=16, bm25=BM25Params())
    manifest = build_index(spark, pages_t2, d, config=cfg, shards_per_batch=4)
    return d, manifest


def test_manifest_stats_match_oracle(built_index, pages_t2_pdf):
    d, manifest = built_index
    docs = list(zip(range(len(pages_t2_pdf)), pages_t2_pdf["text"]))
    oracle = OracleIndex(docs)
    assert manifest["n_docs"] == oracle.n_docs
    assert manifest["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert manifest["finalized"]
    assert manifest["n_postings"] == sum(len(p) for p in oracle.postings.values())


@pytest.mark.parametrize("mode", ["exhaustive", "cascade"])
def test_search_rank_identical_to_oracle(spark, built_index, pages_t2_pdf, queries_pdf, mode):
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qs = list(zip(queries_pdf["query_id"].tolist(), queries_pdf["text"].tolist()))
    got = _collect_ranked(idx.search(qs, k=K, mode=mode))
    want, _ = _oracle_results(pages_t2_pdf, queries_pdf, k=K)
    assert_rank_identical(got, want)


def test_cascade_equals_exhaustive(spark, built_index, queries_pdf):
    """WAND-family pruning must be invisible in results (the reference's
    equivalence discipline)."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qs = list(zip(queries_pdf["query_id"].tolist(), queries_pdf["text"].tolist()))
    a = _collect_ranked(idx.search(qs, k=K, mode="cascade"))
    b = _collect_ranked(idx.search(qs, k=K, mode="exhaustive"))
    assert a == b


def test_subset_filter(spark, built_index, pages_t2_pdf, queries_pdf):
    """Allow-list restriction (reference: fast_plaid.py:318-340)."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    allowed = list(range(0, len(pages_t2_pdf), 3))
    qs = list(zip(queries_pdf["query_id"].tolist()[:10], queries_pdf["text"].tolist()[:10]))
    got = _collect_ranked(idx.search(qs, k=K, subset=allowed))
    want, _ = _oracle_results(pages_t2_pdf, queries_pdf.iloc[:10], k=K, allowed=set(allowed))
    assert_rank_identical(got, want)


def test_final_merge_has_partial_window_group_limit(spark, built_index, queries_pdf):
    """The global top-k merge deliberately relies on Catalyst's
    WindowGroupLimit: a partial limit below the final exchange forwards
    at most k rows per query per map partition, which is what bounds
    the per-query reducer at the 10^6-shard design point (PLANS.md §1).
    Round 3 measured two hand-rolled pre-reductions as strictly worse
    and removed them — this pins the built-in so a plan regression
    (e.g. a window rewrite that defeats the optimization) is caught."""
    import contextlib
    import io

    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qs = list(zip(queries_pdf["query_id"].tolist()[:5], queries_pdf["text"].tolist()[:5]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.search(qs, k=K).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final
    assert "MapInPandas" not in plan, plan  # no redundant python hop


def test_kernel_stage_single_id_passthrough_exchange(spark, built_index, queries_pdf):
    """Segment rows reach the shard kernel through exactly ONE exchange,
    the id-passthrough one of ``repartitionById`` (AQE never coalesces
    it, so the kernel stage keeps one task per core). A hash exchange
    on ``shard`` under the kernel would be the old plan, whose single
    coalesced partition scored every shard in one task."""
    import contextlib
    import io
    import re

    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qs = list(zip(queries_pdf["query_id"].tolist()[:8], queries_pdf["text"].tolist()[:8]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.search(qs, k=K).explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    below_kernel = tree.split("FlatMapGroupsInPandas", 1)[1]
    exchanges = re.findall(r"Exchange \((\d+)\)", below_kernel)
    assert len(exchanges) == 1, tree
    node = re.search(rf"\({exchanges[0]}\) Exchange\n(.*?)\n\n", plan, re.S).group(1)
    assert "shufflepartitionidpassthrough" in node, node
    assert "hashpartitioning(shard" not in plan, plan


def test_search_planning_py4j_calls_independent_of_term_count(spark, built_index, monkeypatch):
    """Planning a batch costs the same driver→JVM round trips for 5
    query terms as for 500: the segment scan filter is one parsed
    IN-list, not one ``lit`` per term, and the term_stats lookup runs
    on the driver (``build.term_dfs``), with no round trip at all."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    from pylate_spark.plans.build import active_dir

    d, _ = built_index
    probe = InvertedIndex(spark, d)
    ts = spark.read.parquet(active_dir(probe.paths, probe.manifest, "term_stats"))
    terms = sorted(r["term"] for r in ts.select("term").collect())[:500]
    assert len(terms) == 500

    client = spark.sparkContext._gateway._gateway_client
    real, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        # proxy releases are py4j bookkeeping sent whenever Python
        # frees a JavaObject, not planning round trips
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def planning_calls(n_terms):
        idx = InvertedIndex(spark, d)  # fresh handle: every term misses the df cache
        words = terms[:n_terms]
        qs = [(i, " ".join(words[j : j + 10])) for i, j in enumerate(range(0, n_terms, 10))]
        before = len(calls)
        idx.search(qs, k=K)
        n = len(calls) - before
        assert len(idx._df_cache) == n_terms
        return n

    planning_calls(5)  # first-use lookups (classes, confs) are paid once per session
    assert planning_calls(5) == planning_calls(500)


_KERNEL_STAGE_PROBE = r"""
import json, sys

from pylate_spark.config import IndexConfig
from pylate_spark.plans.build import build_index
from pylate_spark.plans.maintenance import add_documents
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.session import get_spark
from pylate_spark.sources.synth import synth_pages_pandas, synth_queries_pandas

root = sys.argv[1]
spark = get_spark(app_name="kernel_stage_probe", master="local[2]", shuffle_partitions=4)
sc = spark.sparkContext
cfg = IndexConfig(shard_size=128, block_size=64, term_buckets=8)
pages = synth_pages_pandas(600)
# one build batch of shards 0-3 (the serve layout)
build_index(spark, spark.createDataFrame(pages.iloc[:512]), f"{root}/build", config=cfg, shards_per_batch=4)
# a one-shard base and two adds, each opening a batch: shards 0, 4, 8
build_index(spark, spark.createDataFrame(pages.iloc[:100]), f"{root}/adds", config=cfg, shards_per_batch=4)
for lo in (100, 300):
    add_documents(spark, spark.createDataFrame(pages.iloc[lo : lo + 100]), f"{root}/adds")
q = synth_queries_pandas(20)
qs = list(zip(q["query_id"].tolist(), q["text"].tolist()))
store = sc._jsc.sc().statusStore()
out = {}
for name in ("build", "adds"):
    idx = InvertedIndex(spark, f"{root}/{name}")
    sc.setJobGroup(name, name)
    idx.search(qs, k=5).collect()
    kernel_stages = []  # the one stage that both reads and writes a shuffle
    for jid in sc.statusTracker().getJobIdsForGroup(name):
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.shuffleReadRecords() and sd.shuffleWriteRecords():
                tasks = store.taskList(sid, sd.attemptId(), 1000)
                kernel_stages.append(sorted(
                    int(tasks.apply(i).taskMetrics().get().shuffleReadMetrics().recordsRead())
                    for i in range(tasks.size())
                ))
    shards = sorted(r["shard"] for r in idx._seg.select("shard").distinct().collect())
    out[name] = {"shards": shards, "kernel_stages": kernel_stages}
print("RESULT " + json.dumps(out))
"""


def test_kernel_stage_runs_on_every_core(tmp_path):
    """Under ``local[2]`` the kernel stage runs 2 tasks that both score
    shards, for the build layout (shards 0-3 in one batch) and for the
    add layout (one shard per batch: 0, spb, 2·spb), where hash routing
    or ``shard % 2`` would leave one task idle. Read from the driver's
    status store in a separate ``local[2]`` process."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    repo = str(pathlib.Path(__file__).resolve().parents[1])
    env = {**os.environ, "PYLATE_SPARK_DRIVER_MEM": "1g"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (repo, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", _KERNEL_STAGE_PROBE, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=900,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and line, proc.stderr[-4000:]
    out = json.loads(line[-1][len("RESULT "):])
    assert out["build"]["shards"] == [0, 1, 2, 3]
    assert out["adds"]["shards"] == [0, 4, 8]
    for layout in out.values():
        (per_task,) = layout["kernel_stages"]  # one kernel stage
        assert len(per_task) == 2 and min(per_task) > 0, layout


def test_subset_filter_large_broadcast(spark, built_index, pages_t2_pdf, queries_pdf):
    """A large allow-list (> SUBSET_BROADCAST_THRESHOLD) takes the
    broadcast path instead of riding every task closure; results must be
    rank-identical to the small-list closure path. The list is padded
    with nonexistent docids so its *semantics* equal the small list."""
    from pylate_spark.plans.query import SUBSET_BROADCAST_THRESHOLD

    d, _ = built_index
    idx = InvertedIndex(spark, d)
    allowed = list(range(0, len(pages_t2_pdf), 3))
    pad_base = 10_000_000  # far past any real docid
    big = allowed + list(range(pad_base, pad_base + SUBSET_BROADCAST_THRESHOLD + 5000))
    qs = list(zip(queries_pdf["query_id"].tolist()[:10], queries_pdf["text"].tolist()[:10]))
    got = _collect_ranked(idx.search(qs, k=K, subset=big))
    want, _ = _oracle_results(pages_t2_pdf, queries_pdf.iloc[:10], k=K, allowed=set(allowed))
    assert_rank_identical(got, want)


def test_scan_topk_matches_oracle(spark, pages_t2, pages_t2_pdf, queries_pdf):
    """Index-free declarative path (pure DataFrame ops)."""
    from pylate_spark.operators.docids import assign_docids

    with_ids = assign_docids(pages_t2, shard_size=256)
    docs = with_ids.select("docid", "text")
    queries = pages_t2.sparkSession.createDataFrame(queries_pdf.iloc[:15])
    got = _collect_ranked(bm25_scan_topk(docs, queries, k=K))
    want, _ = _oracle_results(pages_t2_pdf, queries_pdf.iloc[:15], k=K)
    assert_rank_identical(got, want)


def test_doc_vectors_roundtrip(spark, built_index, pages_t2_pdf):
    """Reconstructing a document's indexed representation must equal
    re-tokenizing its text (the get_documents_embeddings analog)."""
    from collections import Counter

    from pylate_spark.functions.tokenize import tokenize_py
    from pylate_spark.plans.query import InvertedIndex

    d, _ = built_index
    idx = InvertedIndex(spark, d)
    target = [5, 123, 1999]
    rows = idx.doc_vectors(target).collect()
    got = {}
    for r in rows:
        got.setdefault(r["docid"], {})[r["term"]] = (r["tf"], r["dl"])
    assert set(got) == set(target)
    for docid in target:
        toks = tokenize_py(pages_t2_pdf["text"].iloc[docid])
        want = Counter(toks)
        assert {t: tf for t, (tf, _) in got[docid].items()} == dict(want)
        assert all(dl == len(toks) for _, dl in got[docid].values())


def test_large_query_batch_broadcast(spark, tmp_path, monkeypatch):
    """A query batch whose planning payload (query-term pairs + idf)
    exceeds QUERYSET_BROADCAST_THRESHOLD must ride ONE broadcast per
    search, keeping the per-task closure small — the same treatment the
    subset allow-list gets. Built here: a ~10^5-distinct-term corpus
    where query i's terms are exactly doc i's terms (df=1 each), so
    rank 1 for query i must be docid i — a structural oracle that needs
    no python rescoring at this vocabulary size."""
    import pandas as pd

    import pylate_spark.plans.query as Q

    n_docs, tpd = 850, 120  # 102,000 distinct terms / query-term pairs
    pdf = pd.DataFrame(
        {
            "url": [f"https://bigq.example/{i:06d}" for i in range(n_docs)],
            "text": [" ".join(f"t{i:04d}x{j:03d}" for j in range(tpd)) for i in range(n_docs)],
        }
    )
    d = str(tmp_path / "bigq_idx")
    build_index(
        spark,
        spark.createDataFrame(pdf),
        d,
        config=IndexConfig(shard_size=128, block_size=32, term_buckets=8),
        shards_per_batch=4,
    )
    idx = InvertedIndex(spark, d)
    qs = [(i, pdf["text"].iloc[i]) for i in range(n_docs)]

    res = idx.search(qs, k=3).where("rank = 1").collect()
    assert idx._qset_bc is not None  # broadcast path engaged at default threshold
    # the closure shipped to every task must NOT contain the 10^5-term
    # payload (that's what the broadcast is for)
    assert idx._last_closure_bytes < 100_000, idx._last_closure_bytes
    assert {(r["query_id"], r["docid"]) for r in res} == {(i, i) for i in range(n_docs)}

    # identity between the broadcast path and the closure path
    sub = qs[:40]
    monkeypatch.setattr(Q, "QUERYSET_BROADCAST_THRESHOLD", 1)
    got_bc = _collect_ranked(idx.search(sub, k=5))
    small_closure = idx._last_closure_bytes
    monkeypatch.setattr(Q, "QUERYSET_BROADCAST_THRESHOLD", 1 << 40)
    got_closure = _collect_ranked(idx.search(sub, k=5))
    assert got_bc == got_closure
    assert idx._last_closure_bytes > small_closure  # payload moved back into the closure


def test_search_join_rank_identical(spark, built_index, queries_pdf):
    """The fully distributed (scatter-by-term) path must be
    rank-identical to the driver-planned kernel path on the same
    index — including after a delete (tombstones flow through the
    anti-join instead of the kernel mask)."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qdf = spark.createDataFrame(queries_pdf)
    qs = list(zip(queries_pdf["query_id"].tolist(), queries_pdf["text"].tolist()))
    got = _collect_ranked(idx.search_join(qdf, k=K, round_to=4))
    want = _collect_ranked(idx.search(qs, k=K, mode="exhaustive", round_to=4))
    assert got == want


def test_search_join_after_delete(spark, built_index, queries_pdf, tmp_path):
    import shutil

    from pylate_spark.plans.maintenance import delete_documents

    d, _ = built_index
    d2 = str(tmp_path / "join_del")
    shutil.copytree(d, d2)
    # delete the top doc of the first query, then both paths must agree
    idx = InvertedIndex(spark, d2)
    qdf = spark.createDataFrame(queries_pdf.iloc[:5])
    qs = list(zip(queries_pdf["query_id"].tolist()[:5], queries_pdf["text"].tolist()[:5]))
    top = idx.search(qs[:1], k=1).collect()[0]["docid"]
    delete_documents(spark, d2, [int(top)])
    idx = InvertedIndex(spark, d2)
    got = _collect_ranked(idx.search_join(qdf, k=K, round_to=4))
    want = _collect_ranked(idx.search(qs, k=K, mode="exhaustive", round_to=4))
    assert got == want
    assert not any(r[2] == top for r in got if r[0] == qs[0][0])


@pytest.mark.parametrize("legacy_bar", [None, 12_500_000])
def test_search_join_opens_manifest_with_legacy_join_key(
    spark, built_index, queries_pdf, tmp_path, legacy_bar
):
    """Indexes built while search_join carried a two-phase plan persist
    ``join_machinery_rows_per_core`` in their manifest config (null or
    an int). They must still open, and search_join on them must equal
    the exhaustive kernel path."""
    import shutil

    from pylate_spark.plans.build import IndexPaths, load_manifest, save_manifest

    d, _ = built_index
    d2 = str(tmp_path / "legacy")
    shutil.copytree(d, d2)
    paths = IndexPaths(d2)
    manifest = load_manifest(paths)
    manifest["config"]["join_machinery_rows_per_core"] = legacy_bar
    save_manifest(paths, manifest)
    assert "join_machinery_rows_per_core" in load_manifest(paths)["config"]

    idx = InvertedIndex(spark, d2)
    qdf = spark.createDataFrame(queries_pdf.iloc[:8])
    qs = list(zip(queries_pdf["query_id"].tolist()[:8], queries_pdf["text"].tolist()[:8]))
    got = _collect_ranked(idx.search_join(qdf, k=K, round_to=4))
    want = _collect_ranked(idx.search(qs, k=K, mode="exhaustive", round_to=4))
    assert got and got == want


def test_search_join_segment_scan_is_bucket_pruned(spark, built_index, queries_pdf):
    """The query terms' hash buckets must land as a literal IN-list in
    the segment scan's PartitionFilters (segments are written
    partitionBy(batch, bucket)) — the same directory-level pruning
    search() gets, proven here for the distributed path where DPP
    would decline (the terms side has no selective predicate)."""
    import contextlib
    import io
    import re

    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qdf = spark.createDataFrame(queries_pdf.iloc[:4])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.search_join(qdf, k=K).explain("formatted")
    plan = buf.getvalue()
    hits = re.findall(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
    assert hits, plan  # bucket IN-list reached the scan
    # every segment scan leg in the plan is pruned, none full-scan
    seg_scans = [
        s for s in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "batch" in s or "bucket" in s
    ]
    assert seg_scans and all("bucket" in s for s in seg_scans), plan
    assert all(re.search(r"bucket.* (IN |INSET )", s) for s in hits), hits


def test_search_join_subset_parity(spark, built_index, pages_t2_pdf, queries_pdf):
    """search_join(subset=) must equal search(subset=) — the kernel
    path's allow-list (fast_plaid.py:318-340) on the distributed path."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    allowed = list(range(0, len(pages_t2_pdf), 3))
    qdf = spark.createDataFrame(queries_pdf.iloc[:10])
    qs = list(zip(queries_pdf["query_id"].tolist()[:10], queries_pdf["text"].tolist()[:10]))
    got = _collect_ranked(idx.search_join(qdf, k=K, round_to=4, subset=allowed))
    want = _collect_ranked(idx.search(qs, k=K, mode="exhaustive", round_to=4, subset=allowed))
    assert got == want


#: search_join's result columns, without and with ``round_to``
RANKED_DTYPES = {
    None: [("query_id", "bigint"), ("rank", "int"), ("docid", "bigint"), ("score", "float")],
    4: [("query_id", "bigint"), ("rank", "int"), ("docid", "bigint"), ("score", "double")],
}


@pytest.mark.parametrize("round_to", [None, 4])
@pytest.mark.parametrize("case", ["empty_batch", "all_terms_absent", "empty_subset"])
def test_search_join_degenerate_inputs_return_no_rows(
    spark, built_index, queries_pdf, case, round_to
):
    """An empty queries DataFrame, a batch whose every term is absent
    from the index, and ``subset=[]`` each return 0 rows with the
    ranked-result schema of a non-empty call."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    subset = None
    if case == "empty_batch":
        qdf = spark.createDataFrame([], "query_id long, text string")
    elif case == "all_terms_absent":
        qdf = spark.createDataFrame(
            [(0, "zzzznotaword"), (1, "qqqqnotaword zzzznotaword"), (2, "")],
            "query_id long, text string",
        )
    else:
        qdf = spark.createDataFrame(queries_pdf.iloc[:4])
        subset = []
    res = idx.search_join(qdf, k=K, round_to=round_to, subset=subset)
    assert res.dtypes == RANKED_DTYPES[round_to]
    assert res.collect() == []
    live = idx.search_join(spark.createDataFrame(queries_pdf.iloc[:2]), k=K, round_to=round_to)
    assert live.dtypes == RANKED_DTYPES[round_to]


def test_search_join_duplicate_query_ids_keep_one_row_per_id(spark, built_index, queries_pdf):
    """Input contract: rows repeating a query_id are never scored twice.
    One row per id is kept (the last one collected), as in search(); an
    exact duplicate row therefore changes nothing."""
    d, _ = built_index
    idx = InvertedIndex(spark, d)
    qs = list(zip(queries_pdf["query_id"].tolist()[:3], queries_pdf["text"].tolist()[:3]))
    (q0, t0), (q1, t1), (q2, t2) = qs
    dup = spark.createDataFrame(
        [(q0, t0), (q1, t1), (q0, t0), (q2, t2), (q2, t1)], "query_id long, text string"
    )
    got = _collect_ranked(idx.search_join(dup, k=K, round_to=4))
    want = _collect_ranked(
        idx.search([(q0, t0), (q1, t1), (q2, t1)], k=K, mode="exhaustive", round_to=4)
    )
    assert got == want
    assert len(got) == len({(q, r) for q, r, _, _ in got})  # one ranking per id


def test_staging_plan_single_exchange_single_udf(spark, pages_t2):
    """The docid-assignment wide pass must keep exactly ONE shuffle
    exchange (width = bucket count, reused by the window — no second
    exchange at spark.sql.shuffle.partitions) and ONE evaluation of the
    bucket UDF (an offset-join formulation made Catalyst push an
    isnotnull filter below the UDF projection and evaluate it twice).
    Pins the staging bandwidth shape of SCALING.md round 4."""
    import contextlib
    import io

    from pylate_spark.operators.docids import assign_docids

    out = assign_docids(pages_t2.select("url", "text"), 256)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1, tree
    assert tree.count("Exchange") == 1, tree


def test_assign_docids_unicode_collation(spark):
    """The staging design depends on python str comparison (used by the
    boundary searchsorted UDF) agreeing with Spark's UTF8 binary sort
    (used inside each bucket): code-point order == UTF-8 byte order for
    valid UTF-8. Exercise it with multi-byte keys — accents, CJK,
    emoji (4-byte), key-prefix ties, digits-vs-letters — across enough
    rows to force many buckets, and require docid == python sorted
    rank exactly."""
    import pandas as pd

    from pylate_spark.operators.docids import assign_docids

    base = [
        "https://a.example/ü-umlaut", "https://a.example/u-plain",
        "https://a.example/日本語/ページ", "https://a.example/中文/页面",
        "https://a.example/🎉emoji", "https://a.example/🎈balloon",
        "https://a.example/", "https://a.example/0", "https://a.example/Z",
        "https://a.example/z", "https://a.example/~tilde",
        "https://café.example/é", "https://cafe.example/e",
    ]
    keys = list({f"{b}/{i:04d}" for b in base for i in range(40)}) + [""]
    pdf = pd.DataFrame({"url": keys + [None], "text": ["x"] * (len(keys) + 1)})
    out = assign_docids(
        spark.createDataFrame(pdf, "url string, text string"), 64, partitions=16
    )
    got = {r["url"]: r["docid"] for r in out.collect()}
    # a null key must not crash the searchsorted UDF; it ranks first —
    # strictly BEFORE a genuine empty-string key (the null-flag
    # secondary order; both bucket as "" but must stay deterministic)
    want = {u: i + 1 for i, u in enumerate(sorted(keys))}
    want[None] = 0
    assert want[""] == 1
    assert got == want
