"""One benchmark run, in its own process: the ``serve`` or ``ingest`` workload.

run.py starts this with the environment already pointing every scratch
path into the run's work directory, and reads the result from the last
stdout line (prefixed with ``RESULT_TAG``). Progress goes to stderr.

Closed loop, one client: an op starts only when the previous one has
returned. Cycles start until ``--seconds`` have passed and a workload's
minimum number of cycles is done, so a slow host still yields as many
samples. The inputs come from ``--seed`` only.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import pickle
import statistics
import sys
import time
import traceback
import weakref
import zlib

import numpy as np

RESULT_TAG = "PERFBENCH_RESULT "
MASTER = "local[2]"
CORES = 2
SHUFFLE_PARTITIONS = 4
K = 10
BATCH = 100  # queries per batch
CHECK_QUERIES = 10  # queries of a checked batch compared with the oracle
SPB = 4  # shards per build batch

# serve: one warm handle on one prepared index
SERVE_DOCS = 30_000
SERVE_CORPUS_SEED = 0  # the corpus is fixed; --seed drives the queries
SERVE_CONFIG = dict(shard_size=8192, block_size=128, term_buckets=16)
SERVE_CYCLE = ("search", "search", "search", "join")
SERVE_WARM_CYCLES = 1
SERVE_WARM_SEARCHES = 6
SERVE_MIN_CYCLES = 3

# ingest: a base index, then add / delete cycles, each read on a new handle
INGEST_BASE_DOCS = 4_000
INGEST_CONFIG = dict(shard_size=4096, block_size=128, term_buckets=16)
INGEST_ADD_DOCS = 500
INGEST_MIN_CYCLES = 2
INGEST_DELETE_DOCS = 40

# index-free passes of the traced serve run
SCAN_SLICE_DOCS = 2_000
SCAN_REPS = 1
LSH_KW = dict(n_hashes=8, band_size=4, max_bucket_size=2000)
SIMHASH_KW = dict(max_hamming=2, max_bucket_size=2000)

QUERY_SCHEMA = "query_id long, text string"


_STARTED = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _STARTED:.1f}s] {msg}", file=sys.stderr, flush=True)


def head_queries(n: int, seed: int) -> list[tuple[int, str]]:
    """The library's reference query generator: head terms plus the
    top-200 body terms, so a warm handle's term cache holds them all."""
    from pylate_spark.sources.synth import synth_queries_pandas

    q = synth_queries_pandas(n, seed=seed)
    return list(zip(q["query_id"].tolist(), q["text"].tolist()))


def vocab_queries(n: int, seed: int) -> list[tuple[int, str]]:
    """Queries over the whole synthetic vocabulary (head, all body and
    rare terms), so a handle's term cache cannot hold them."""
    from pylate_spark.sources.synth import BODY_TERMS, HEAD_TERMS, RARE_TERMS

    rng = np.random.default_rng([seed, 7])
    out = []
    for qid in range(n):
        terms = []
        for _ in range(int(rng.integers(1, 6))):
            u = rng.random()
            pool = HEAD_TERMS if u < 0.3 else RARE_TERMS if u > 0.95 else BODY_TERMS
            terms.append(pool[int(rng.integers(0, len(pool)))])
        out.append((qid, " ".join(terms)))
    return out


def ranked(rows) -> list[tuple[int, int, int, float]]:
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["docid"]), float(r["score"])) for r in rows
    )


def dir_stats(path: str) -> tuple[int, float]:
    """(file count, MB) under ``path``."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size / 1e6


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every descendant: the driver, the JVM, the Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[1]: ppid; fields[11:15]: utime, stime, cutime, cstime
            procs[int(p)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """Counters, latencies and checks of one run."""

    def __init__(self, spark, trace: bool):
        from tracing import Tracer

        self.spark = spark
        self.tracer = Tracer(spark, trace, CORES)
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.first_op_at: float | None = None
        #: op kind → wall seconds of each op that returned
        self.lat: dict[str, list[float]] = {}
        #: op kind → CPU seconds of the process tree during each such op
        self.cpu: dict[str, list[float]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.last_wall = self.last_cpu = 0.0
        #: per handle: terms it has already looked up (its term-df cache)
        self.seen_terms: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        self.qstats: list[dict] = []
        self._dfs: dict[str, dict[str, int]] = {}

    def op(self, call: str, fn):
        """One timed op. An op that raises counts as failed and returns
        None; the run goes on."""
        self.attempted += 1
        if self.first_op_at is None:
            self.first_op_at = time.time()
        cpu0 = tree_cpu_s()
        try:
            out, wall = self.tracer.call(call, fn)
        except Exception:  # noqa: BLE001 — every failure is counted, the loop continues
            self.failed += 1
            log(f"op {call} failed:\n{traceback.format_exc()}")
            return None
        self.last_wall, self.last_cpu = wall, tree_cpu_s() - cpu0
        self.lat.setdefault(call, []).append(wall)
        self.cpu.setdefault(call, []).append(self.last_cpu)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.check_failures.append(what)
            log(f"CHECK FAILED: {what}")

    def planned(self, call: str, plan):
        """An op whose planning (``plan()`` returns a DataFrame) and
        execution (its ``collect()``) are timed apart."""
        parts = {}

        def go():
            t0 = time.perf_counter()
            df = plan()
            t1 = time.perf_counter()
            rows = df.collect()
            parts["plan"], parts["exec"] = t1 - t0, time.perf_counter() - t1
            return rows

        rows = self.op(call, go)
        if rows is not None:
            self.lat.setdefault(f"{call}.plan", []).append(parts["plan"])
            self.lat.setdefault(f"{call}.exec", []).append(parts["exec"])
        return rows

    def search(self, handle, queries):
        """One batch through ``search(k=10)`` up to and including ``collect()``."""
        rows = self.planned("query.search", lambda: handle.search(queries, k=K))
        if rows is not None:
            self._query_stats(handle, queries, len(rows))
        return rows

    def _query_stats(self, handle, queries, n_rows: int) -> None:
        import pyarrow.parquet as pq

        from pylate_spark.functions.tokenize import tokenize_py
        from pylate_spark.plans.build import active_dir

        terms = {t for _, text in queries for t in tokenize_py(text, handle.config.token_pattern)}
        seen = self.seen_terms.setdefault(handle, set())
        hits = len(terms & seen)
        seen |= terms
        if not self.tracer.enabled:
            return
        path = active_dir(handle.paths, handle.manifest, "term_stats")
        if path not in self._dfs:
            t = pq.read_table(path, columns=["term", "df"])
            self._dfs[path] = dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))
        df = self._dfs[path]
        nb = handle.config.term_buckets
        self.qstats.append(
            {
                "terms": len(terms),
                "hits": hits,
                "touched": sum(df.get(t, 0) for t in terms),
                "buckets": len({zlib.crc32(t.encode()) % nb for t in terms}),
                "rows": n_rows,
            }
        )

    def median(self, key: str) -> float:
        v = self.lat.get(key)
        return statistics.median(v) if v else 0.0

    @contextlib.contextmanager
    def quiet(self):
        """Warm-up: ops neither counted nor traced."""
        saved = (self.attempted, self.failed, self.first_op_at, self.lat, self.cpu, self.tracer.enabled)
        self.lat, self.cpu, self.tracer.enabled = {}, {}, False
        try:
            yield
        finally:
            (self.attempted, self.failed, self.first_op_at, self.lat, self.cpu,
             self.tracer.enabled) = saved


def oracle_check(run: Run, oracle, queries, rows, what: str) -> None:
    """Rank identity with ``oracle.OracleIndex`` on a sample of the batch."""
    if rows is None:
        return
    rng = np.random.default_rng(len(rows))
    pick = sorted(int(i) for i in rng.choice(len(queries), CHECK_QUERIES, replace=False))
    sample = [queries[i] for i in pick]
    qids = {q for q, _ in sample}
    got = [r for r in ranked(rows) if r[0] in qids]
    want = sorted(oracle.search_all(sample, k=K))
    ok = [g[:3] for g in got] == [w[:3] for w in want] and np.allclose(
        [g[3] for g in got], [w[3] for w in want], rtol=1e-5, atol=0
    )
    run.check(ok, f"{what}: results differ from the oracle")


def build_layer(run: Run, manifest: dict, wall: float, index_mb: float) -> None:
    """build.* from the manifest's per-batch ``build_sec``: Spark stage
    call sites cannot tell build phases apart."""
    batches_s = sum(b["build_sec"] for b in manifest["batches"].values())
    run.layer.update(
        {
            "build.batches_s": (batches_s, "s"),
            "build.other_s": (wall - batches_s, "s"),
            "build.n_batches": (float(manifest["n_batches"]), "count"),
            "build.n_postings": (float(manifest["n_postings"]), "count"),
            "build.index_mb": (index_mb, "MB"),
            "build.docs_per_s": (manifest["n_docs"] / wall, "docs/s"),
        }
    )


def kernel_qmap(queries) -> dict[int, list[str]]:
    from pylate_spark.functions.tokenize import tokenize_py

    return {q: sorted(set(tokenize_py(t))) for q, t in queries}


# --- serve -----------------------------------------------------------------


def prepare_serve(spark, prepared: str) -> None:
    """Build the serve index, and the oracle over the same corpus that
    checks it. run.py calls this once per checkout and program version,
    in a process of its own, and keeps ``prepared``."""
    from pylate_spark.config import IndexConfig
    from pylate_spark.oracle import OracleIndex
    from pylate_spark.plans.build import build_index
    from pylate_spark.sources.synth import synth_pages, synth_pages_pandas

    build_index(
        spark, synth_pages(spark, SERVE_DOCS, seed=SERVE_CORPUS_SEED), os.path.join(prepared, "index"),
        config=IndexConfig(**SERVE_CONFIG), shards_per_batch=SPB,
    )
    # docid == url rank == doc index
    texts = synth_pages_pandas(SERVE_DOCS, seed=SERVE_CORPUS_SEED)["text"].tolist()
    with open(os.path.join(prepared, "oracle.pickle"), "wb") as f:
        pickle.dump((texts, OracleIndex(list(enumerate(texts)))), f)


def serve(run: Run, seed: int, seconds: float, prepared: str) -> dict:
    """One prepared index, one warm handle; cycles of three ``search``
    batches and one ``search_join`` batch, each with its own query seed."""
    from pylate_spark.plans.build import IndexPaths, load_manifest
    from pylate_spark.plans.query import InvertedIndex

    spark = run.spark
    index_dir = os.path.join(prepared, "index")
    manifest = load_manifest(IndexPaths(index_dir))
    t0 = time.perf_counter()
    handle = InvertedIndex(spark, index_dir)
    run.lat["query.open"] = [time.perf_counter() - t0]
    qseed = iter(range(seed * 100_000, (seed + 1) * 100_000))

    def join(qs):
        return run.planned(
            "query.search_join",
            lambda: handle.search_join(spark.createDataFrame(qs, QUERY_SCHEMA), k=K, round_to=4),
        )

    def cycle(checked: dict) -> tuple[float, float] | None:
        """(wall, CPU) seconds of one cycle; None if an op failed."""
        spent = []
        for kind in SERVE_CYCLE:
            qs = head_queries(BATCH, next(qseed))
            rows = run.search(handle, qs) if kind == "search" else join(qs)
            if rows is not None:
                spent.append((run.last_wall, run.last_cpu))
                checked[kind] = (qs, rows)
        return tuple(map(sum, zip(*spent))) if len(spent) == len(SERVE_CYCLE) else None

    # warm-up: a fixed amount, so every run measures from the same JIT
    # state (batch latency keeps falling over a JVM's first ~14 batches)
    with run.quiet():
        for _ in range(SERVE_WARM_CYCLES):
            cycle({})
        for _ in range(SERVE_WARM_SEARCHES):
            run.search(handle, head_queries(BATCH, next(qseed)))
        log(f"serve: warm-up { {k: [round(x, 2) for x in v] for k, v in run.lat.items()} }")

    cycles, checked = [], {}
    deadline = time.perf_counter() + seconds
    for started in itertools.count():
        if time.perf_counter() >= deadline and started >= SERVE_MIN_CYCLES:
            break
        c = cycle(checked)
        if c is not None:
            cycles.append(c)
    log(f"serve: {len(cycles)} cycles, latencies { {k: [round(x, 3) for x in v] for k, v in run.lat.items()} }")

    # checks, outside the timed region
    with open(os.path.join(prepared, "oracle.pickle"), "rb") as f:
        texts, oracle = pickle.load(f)
    if "search" in checked:
        oracle_check(run, oracle, *checked["search"], "serve search batch")
    if "join" in checked:
        qs, rows = checked["join"]
        want = handle.search(qs, k=K, mode="exhaustive", round_to=4).collect()
        run.check(ranked(rows) == ranked(want), "search_join differs from search(mode='exhaustive')")

    if run.tracer.enabled:
        _serve_probes(run, index_dir, manifest, qseed, texts)
    return {
        "query": run.lat.get("query.search", []),
        "query_cpu": run.cpu.get("query.search", []),
        "cycles": cycles,
        "bytes_per_posting": manifest["bytes"] / manifest["n_postings"],
    }


def _serve_probes(run: Run, idx_dir: str, manifest: dict, qseed, texts: list[str]) -> None:
    """Kernel, tokenize and index-free probes of the traced serve run,
    each index-free repetition on its own slice of the corpus."""
    import probes
    from pyspark.sql import functions as F

    from pylate_spark.oracle import OracleIndex
    from pylate_spark.plans.build import IndexPaths, active_dir

    spark = run.spark
    staged = spark.read.parquet(active_dir(IndexPaths(idx_dir), manifest, "staging"))
    run.layer.update(probes.kernel(idx_dir, kernel_qmap(head_queries(BATCH, next(qseed)))))
    first = staged.where(F.col("docid") < SCAN_SLICE_DOCS).select("docid", "text")
    run.layer.update(probes.tokenize(first))
    counts = []
    for rep in range(1, SCAN_REPS + 1):
        lo, hi = rep * SCAN_SLICE_DOCS, (rep + 1) * SCAN_SLICE_DOCS
        sl = staged.where((F.col("docid") >= lo) & (F.col("docid") < hi)).select("docid", "text")
        qs = head_queries(BATCH, next(qseed))
        rows, c = probes.index_free_pass(run, sl, spark.createDataFrame(qs, QUERY_SCHEMA), LSH_KW, SIMHASH_KW)
        slice_docs = list(enumerate(texts))[lo:hi]
        oracle_check(run, OracleIndex(slice_docs), qs, rows, f"bm25_scan_topk slice {rep}")
        counts.append(c)
    for key, name in (("lsh", "lsh_pairs"), ("simhash", "simhash_pairs"), ("clusters", "clusters")):
        run.layer[f"dedup.{name}"] = (float(statistics.median(c[key] or 0 for c in counts)), "count")


# --- ingest ----------------------------------------------------------------


def ingest(run: Run, seed: int, seconds: float, work: str) -> dict:
    """A base build, then cycles of add → fresh batch → delete → fresh
    batch; every fresh batch opens a new handle, so each misses the
    term cache. The traced run ends with one ``compact()``."""
    from pylate_spark.config import IndexConfig
    from pylate_spark.oracle import OracleIndex
    from pylate_spark.plans.build import IndexPaths, active_dir, build_index, load_manifest
    from pylate_spark.plans.maintenance import add_documents, compact, delete_documents
    from pylate_spark.plans.query import InvertedIndex
    from pylate_spark.sources.synth import synth_pages, synth_pages_pandas

    spark = run.spark
    idx_dir = os.path.join(work, "ingest_idx")
    paths = IndexPaths(idx_dir)
    rng = np.random.default_rng([seed, 11])
    base_manifest, build_wall = run.tracer.call("build.build_index", lambda: build_index(
        spark, synth_pages(spark, INGEST_BASE_DOCS, seed=seed), idx_dir,
        config=IndexConfig(**INGEST_CONFIG), shards_per_batch=SPB,
    ))
    base_manifest = json.loads(json.dumps(base_manifest))
    base_mb = dir_stats(idx_dir)[1]
    log(f"ingest: base build {build_wall:.1f}s")
    # live docid → text, the oracle's corpus; docid == url rank == doc index
    texts = dict(enumerate(synth_pages_pandas(INGEST_BASE_DOCS, seed=seed)["text"].tolist()))
    universe = INGEST_BASE_DOCS + 1000 * INGEST_ADD_DOCS  # slice urls stay distinct
    next_doc = iter(range(INGEST_BASE_DOCS, universe))
    qseed = iter(range(seed * 100_000, (seed + 1) * 100_000))
    batches_built, files = [], []
    last = {}

    def add(n: int) -> tuple[float, float] | None:
        ids = np.fromiter((next(next_doc) for _ in range(n)), dtype=np.int64)
        pdf = synth_pages_pandas(universe, seed=seed, indices=ids)
        df = spark.createDataFrame(pdf)
        before = len(load_manifest(paths)["batches"])
        m = run.op("maintenance.add_documents", lambda: add_documents(spark, df, idx_dir))
        if m is None:
            return None
        spent = (run.last_wall, run.last_cpu)
        batches_built.append(len(m["batches"]) - before)
        base = int(m["lineage"][-1]["docid_base"])
        # zero-padded urls: url rank within the slice == doc index order
        texts.update((base + j, t) for j, t in enumerate(pdf["text"].tolist()))
        files.append(dir_stats(idx_dir)[0])
        return spent

    def delete(n: int) -> tuple[float, float] | None:
        ids = sorted(int(d) for d in rng.choice(np.fromiter(texts, dtype=np.int64), n, replace=False))
        if run.op("maintenance.delete_documents", lambda: delete_documents(spark, idx_dir, ids)) is None:
            return None
        spent = (run.last_wall, run.last_cpu)
        for d in ids:
            del texts[d]
        files.append(dir_stats(idx_dir)[0])
        return spent

    def fresh(kind: str = "fresh") -> tuple[float, float] | None:
        """Open a new handle after a mutation, then one batch: read-after-write."""
        qs = vocab_queries(BATCH, next(qseed))
        handle = run.op("query.open", lambda: InvertedIndex(spark, idx_dir))
        if handle is None:
            return None
        opened = (run.last_wall, run.last_cpu)
        rows = run.search(handle, qs)
        if rows is None:
            return None
        last["fresh"] = (qs, rows, dict(texts))
        wall, cpu = opened[0] + run.last_wall, opened[1] + run.last_cpu
        run.lat.setdefault(kind, []).append(wall)
        run.cpu.setdefault(kind, []).append(cpu)
        return wall, cpu

    def cycle() -> tuple[float, float] | None:
        """(wall, CPU) seconds of one cycle; None if an op failed."""
        spent = [add(INGEST_ADD_DOCS), fresh(), delete(INGEST_DELETE_DOCS), fresh()]
        return None if None in spent else tuple(map(sum, zip(*spent)))

    # warm-up: the base build already ran the add path's staging, batch
    # build and finalize; delete and the read path run here first
    with run.quiet():
        delete(INGEST_DELETE_DOCS)
        fresh()
    cycles = []
    deadline = time.perf_counter() + seconds
    for started in itertools.count():
        if time.perf_counter() >= deadline and started >= INGEST_MIN_CYCLES:
            break
        c = cycle()
        if c is not None:
            cycles.append(c)
    manifest = load_manifest(paths)
    log(f"ingest: {len(cycles)} cycles, latencies { {k: [round(x, 3) for x in v] for k, v in run.lat.items()} }")

    if run.tracer.enabled:
        tomb = active_dir(paths, manifest, "tombstones")
        run.layer["storage.tombstones"] = (
            float(spark.read.parquet(tomb).count()) if os.path.isdir(tomb) else 0.0, "count"
        )
        if run.op("maintenance.compact", lambda: compact(spark, idx_dir)) is not None:
            manifest = load_manifest(paths)
            run.layer["maintenance.compact.rewritten_mb"] = (
                dir_stats(active_dir(paths, manifest, "segments"))[1], "MB"
            )
            files.append(dir_stats(idx_dir)[0])
            fresh("fresh.after_compact")
        build_layer(run, base_manifest, build_wall, base_mb)
        run.layer["maintenance.add_documents.batches_built"] = (
            float(statistics.median(batches_built)) if batches_built else 0.0, "count"
        )
        run.layer["storage.index_files"] = (float(files[-1]) if files else 0.0, "count")
        import probes

        run.layer.update(probes.kernel(idx_dir, kernel_qmap(vocab_queries(BATCH, next(qseed)))))

    # check the last fresh batch against an oracle in step with every add / delete
    if "fresh" in last:
        qs, rows, live = last["fresh"]
        oracle_check(run, OracleIndex(sorted(live.items())), qs, rows, "ingest fresh batch")
    return {
        "query": run.lat.get("fresh", []),
        "query_cpu": run.cpu.get("fresh", []),
        "cycles": cycles,
        "bytes_per_posting": manifest["bytes"] / manifest["n_postings"],
    }


WORKLOADS = {"serve": serve, "ingest": ingest}
#: workloads whose index (and oracle) is built once per checkout and program version
PREPARED = {"serve": prepare_serve}
#: what a prepared index depends on besides the program's source
PREPARED_PARAMS = {"serve": (SERVE_DOCS, SERVE_CORPUS_SEED, sorted(SERVE_CONFIG.items()), SPB)}


# --- result ------------------------------------------------------------------

#: per-layer metrics besides the per-call Spark figures of tracing.CALLS;
#: a workload that does not exercise one reports 0
LAYER_UNITS = {
    "query.open_s": "s",
    "query.search.plan_s": "s",
    "query.search.exec_s": "s",
    "query.search_join.plan_s": "s",
    "query.search_join.exec_s": "s",
    "query.search.term_cache_hit_ratio": "ratio",
    "query.search.postings_touched": "count",
    "query.search.buckets_scanned": "count",
    "query.search.results_per_posting": "ratio",
    "wand.score_shard_ms": "ms",
    "codec.decode_mpostings_per_s": "Mpostings/s",
    "segments.encode_mpostings_per_s": "Mpostings/s",
    "build.batches_s": "s",
    "build.other_s": "s",
    "build.n_batches": "count",
    "build.n_postings": "count",
    "build.index_mb": "MB",
    "build.docs_per_s": "docs/s",
    "maintenance.add_documents.batches_built": "count",
    "maintenance.compact.rewritten_mb": "MB",
    "storage.index_files": "count",
    "storage.tombstones": "count",
    "tokenize.terms_long_s": "s",
    "tokenize.native_tokens_s": "s",
    "dedup.lsh_pairs": "count",
    "dedup.simhash_pairs": "count",
    "dedup.clusters": "count",
    "dedup.persisted_rdds": "count",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_hwm_mb": "MB",
    "proc.workers_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    from tracing import CALLS, FIELDS

    units = {f"{c}.{f}": u for c in CALLS for f, u in FIELDS.items()}
    units["trace.overhead_s"] = "s"
    return {**units, **LAYER_UNITS}


def _proc_tree() -> dict[str, float]:
    """VmHWM / VmRSS (MB) of this process, its JVM and its Python workers."""
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    stack = [me]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        hwm = int(st.get("VmHWM", "0 kB").split()[0]) / 1024
        rss = int(st.get("VmRSS", "0 kB").split()[0]) / 1024
        if pid == me:
            out["driver"] = hwm
        elif st.get("Name", "").strip() == "java":
            out["jvm"] = max(out["jvm"], hwm)
        elif st.get("Name", "").strip().startswith("python"):
            out["workers"] += rss
    return out


def summarize(run: Run, res: dict, spark) -> dict:
    query, query_cpu, cycles = res["query"], res["query_cpu"], res["cycles"]
    failed = run.failed + len(run.check_failures)

    def p50(v):
        return statistics.median(v) if v else 0.0

    e2e = {
        "success_rate": (1.0 - failed / max(run.attempted, 1), "ratio"),
        "query_p50_s": (p50(query), "s"),
        "query_cpu_s": (p50(query_cpu), "s"),
        "cycle_cpu_s": (p50([c[1] for c in cycles]), "s"),
        "bytes_per_posting": (res["bytes_per_posting"], "B/posting"),
    }
    samples = {"query": len(query), "cycles": len(cycles)}
    layer = dict(run.tracer.layer_metrics()) if run.tracer.enabled else {}
    if run.tracer.enabled:
        qs = run.qstats
        hit_terms, terms = sum(q["hits"] for q in qs), sum(q["terms"] for q in qs)
        touched = sum(q["touched"] for q in qs)
        layer.update(
            {
                "query.open_s": (run.median("query.open"), "s"),
                "query.search.plan_s": (run.median("query.search.plan"), "s"),
                "query.search.exec_s": (run.median("query.search.exec"), "s"),
                "query.search_join.plan_s": (run.median("query.search_join.plan"), "s"),
                "query.search_join.exec_s": (run.median("query.search_join.exec"), "s"),
                "query.search.term_cache_hit_ratio": (hit_terms / terms if terms else 0.0, "ratio"),
                "query.search.postings_touched": (touched / len(qs) if qs else 0.0, "count"),
                "query.search.buckets_scanned": (
                    statistics.mean(q["buckets"] for q in qs) if qs else 0.0, "count"
                ),
                "query.search.results_per_posting": (
                    sum(q["rows"] for q in qs) / touched if touched else 0.0, "ratio"
                ),
                "dedup.persisted_rdds": (
                    float(len(spark.sparkContext._jsc.getPersistentRDDs())), "count"
                ),
            }
        )
        layer.update(run.layer)
        proc = _proc_tree()
        layer.update(
            {
                "proc.driver_rss_mb": (proc["driver"], "MB"),
                "proc.jvm_hwm_mb": (proc["jvm"], "MB"),
                "proc.workers_rss_mb": (proc["workers"], "MB"),
            }
        )
        layer = {k: layer.get(k, (0.0, u)) for k, u in per_layer_units().items()}
    return {
        "attempted": run.attempted,
        "failed": failed,
        "correct": not run.check_failures,
        "check_failures": run.check_failures,
        "first_op_at": run.first_op_at,
        "samples": samples,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="this run's scratch directory")
    ap.add_argument("--prepared", help="the prepared inputs of a workload in PREPARED")
    ap.add_argument("--prepare", action="store_true", help="only build the prepared inputs at --prepared")
    args = ap.parse_args()

    from pylate_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    log("session up")
    try:
        if args.prepare:
            PREPARED[args.workload](spark, args.prepared)
            return 0
        run = Run(spark, bool(args.trace))
        where = args.prepared if args.workload in PREPARED else args.work
        res = WORKLOADS[args.workload](run, args.seed, args.seconds, where)
        result = summarize(run, res, spark)
        log("checks done")
    finally:
        spark.stop()
    print(RESULT_TAG + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
