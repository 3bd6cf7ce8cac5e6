"""Layer probes that only the traced run makes.

- kernel: ``wand.score_shard``, ``codec.decode_postings`` and
  ``segments.encode_group_arrow`` called in-process on segment rows
  read with pyarrow from the workload's index, outside Spark;
- tokenize: one Spark job per tokenizer engine over one corpus slice;
- index-free passes: ``bm25_scan_topk`` and the three dedup stages, each
  on a corpus slice no earlier call has seen (``lsh_candidate_pairs``
  keeps its input persisted, so a repeated input would be cached).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from pylate_spark.config import IndexConfig
from pylate_spark.functions.bm25 import idf_np
from pylate_spark.functions.codec import decode_postings
from pylate_spark.functions.tokenize import native_tokens_col, terms_long
from pylate_spark.operators.dedup import dedup_clusters, lsh_candidate_pairs, simhash, simhash_near_dup_pairs
from pylate_spark.plans.build import IndexPaths, active_dir
from pylate_spark.plans.query import bm25_scan_topk
from pylate_spark.plans.segments import blocks_from_row, encode_group_arrow
from pylate_spark.plans.wand import score_shard

_SEG_COLS = ("term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")


def _repeat(fn, min_s: float = 0.3, min_n: int = 5) -> float:
    """Median seconds of one ``fn()`` over at least ``min_n`` calls and ``min_s`` seconds."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < min_n or time.perf_counter() - start < min_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel(index_dir: str, qmap: dict[int, list[str]]) -> dict[str, tuple[float, str]]:
    paths = IndexPaths(index_dir)
    from pylate_spark.plans.build import load_manifest

    manifest = load_manifest(paths)
    cfg = IndexConfig.from_dict(manifest["config"])
    seg = ds.dataset(active_dir(paths, manifest, "segments"), format="parquet", partitioning="hive")
    terms = sorted({t for ts in qmap.values() for t in ts})
    stats = ds.dataset(active_dir(paths, manifest, "term_stats"), format="parquet").to_table(
        columns=["term", "df"], filter=ds.field("term").isin(terms)
    )
    idf = {
        t: float(idf_np(int(d), manifest["n_docs"]))
        for t, d in zip(stats.column("term").to_pylist(), stats.column("df").to_pylist())
    }
    qm = {q: [t for t in ts if t in idf] for q, ts in qmap.items()}
    qm = {q: ts for q, ts in qm.items() if ts}
    shard_rows = seg.to_table(
        filter=(ds.field("shard") == 0) & ds.field("term").isin(list(idf))
    ).to_pandas()
    score_s = _repeat(
        lambda: score_shard(
            shard_rows, qm, idf, manifest["avgdl"], 10, cfg.bm25, shard_size=cfg.shard_size
        )
    )

    # decode then re-encode every run of one term bucket
    rows = seg.to_table(columns=["shard", "bucket", *_SEG_COLS], filter=ds.field("bucket") == 0).to_pylist()
    blocks = [blocks_from_row(r) for r in rows]

    def decode_all():
        return [decode_postings(r["payload"], b) for r, b in zip(rows, blocks)]

    decoded = decode_all()
    n_post = sum(d[0].size for d in decoded)
    decode_s = _repeat(decode_all)
    order = sorted(range(len(rows)), key=lambda i: (rows[i]["shard"], rows[i]["term"]))
    lens = [decoded[i][0].size for i in order]
    cols = [
        np.repeat(np.array([rows[i][c] for i in order], dtype=dt), lens)
        for c, dt in (("shard", np.int64), ("bucket", np.int32), ("term", object))
    ]
    docid, tf, dl = (np.concatenate([decoded[i][j] for i in order]) for j in range(3))
    encode_s = _repeat(lambda: encode_group_arrow(*cols, docid, tf, dl, cfg.block_size))
    return {
        "wand.score_shard_ms": (score_s * 1e3, "ms"),
        "codec.decode_mpostings_per_s": (n_post / decode_s / 1e6, "Mpostings/s"),
        "segments.encode_mpostings_per_s": (n_post / encode_s / 1e6, "Mpostings/s"),
    }


def tokenize(slice_df) -> dict[str, tuple[float, str]]:
    """One job per tokenizer engine over the same ``(docid, text)`` slice."""
    t0 = time.perf_counter()
    terms_long(slice_df).count()
    t1 = time.perf_counter()
    slice_df.select(F.size(native_tokens_col("text")).alias("n")).agg(F.sum("n")).collect()
    t2 = time.perf_counter()
    return {
        "tokenize.terms_long_s": (t1 - t0, "s"),
        "tokenize.native_tokens_s": (t2 - t1, "s"),
    }


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def simhash_pairs_brute(ids: np.ndarray, sig: np.ndarray, max_hamming: int) -> set[tuple[int, int]]:
    """All (a, b), a < b, with Hamming(sig_a, sig_b) <= max_hamming."""
    order = np.argsort(ids)
    ids, sig = ids[order], sig[order].astype(np.uint32)
    out: set[tuple[int, int]] = set()
    for i in range(ids.size - 1):
        x = (sig[i + 1:] ^ sig[i]).view(np.uint8).reshape(-1, 4)
        ham = _POPCOUNT8[x].sum(axis=1)
        for j in np.flatnonzero(ham <= max_hamming):
            out.add((int(ids[i]), int(ids[i + 1 + j])))
    return out


def components(pairs: set[tuple[int, int]]) -> int:
    """Connected components (clusters) of the pair graph, by union-find."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(x) for x in parent})


def index_free_pass(run, docs, queries_df, lsh_kw: dict, simhash_kw: dict) -> tuple[list, dict]:
    """One repetition on one ``(docid, text)`` slice. Returns the scan
    rows and the dedup counts; problems go to ``run.check``."""
    dd = docs.select(F.col("docid").alias("doc_id"), "text")
    scan = run.op(
        "query.bm25_scan_topk", lambda: bm25_scan_topk(docs, queries_df, k=10).collect()
    )
    n_lsh = run.op("dedup.lsh_candidate_pairs", lambda: lsh_candidate_pairs(dd, **lsh_kw).count())
    pairs_df = simhash_near_dup_pairs(dd, **simhash_kw)
    n_sim = run.op("dedup.simhash_near_dup_pairs", lambda: pairs_df.count())
    n_cl = run.op("dedup.dedup_clusters", lambda: dedup_clusters(pairs_df).where("keep").count())
    # checks (untimed): the banded pair join against brute force over
    # the same signatures, and the clusters against union-find
    sig = simhash(dd).toPandas()
    want = simhash_pairs_brute(
        sig["doc_id"].to_numpy(np.int64), sig["simhash"].to_numpy(np.int64), simhash_kw["max_hamming"]
    )
    got = {(int(r["doc_a"]), int(r["doc_b"])) for r in pairs_df.select("doc_a", "doc_b").collect()}
    run.check(got == want, f"simhash pairs differ from brute force ({len(got)} vs {len(want)})")
    run.check(n_sim == len(want), "simhash pair count differs from brute force")
    run.check(n_cl == components(want), "dedup_clusters differs from union-find")
    return scan, {"lsh": n_lsh, "simhash": n_sim, "clusters": n_cl}
