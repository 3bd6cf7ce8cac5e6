"""SparkSession factory tuned for the engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalescing + skew mitigation),
Arrow enabled for the pandas-UDF hot path, UTC session timezone so
results compare bit-identically against DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pylate_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); on a real cluster pass nothing and submit via
    ``spark-submit --py-files`` — everything here is plain conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # local-cluster[W,C,M]: W separate executor JVMs × C cores, M MB
    # worker memory each — the in-sandbox stand-in for a real
    # multi-executor cluster (own BlockManager/shuffle/python workers
    # per executor), used by the N-vs-4N scaling evidence
    cluster_conf: dict[str, str] = {}
    if master.startswith("local-cluster["):
        w, c, m = (int(x) for x in master[14:-1].split(","))
        if shuffle_partitions is None:
            shuffle_partitions = max(w * c, 4)
        cluster_conf["spark.executor.memory"] = f"{m}m"
        cluster_conf["spark.executor.cores"] = str(c)
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("PYLATE_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # local mode: shuffle spill to tmpfs — a single shared NVMe serializes
    # shuffle I/O across all executor threads; on a real cluster each
    # executor has its own local disks, so this only corrects a
    # single-box artifact (not applied when a cluster manager is used).
    # CAVEAT (measured, PLANS.md §11): tmpfs spill is RAM — a job whose
    # shuffle spill approaches machine memory gets the JVM
    # OS-OOM-killed instead of degrading to disk (history: the retired
    # term-scatter search_join plan did so at 10^4 queries, ~60 GB of
    # blocks). Point PYLATE_SPARK_LOCAL_DIR at a real disk for
    # spill-heavy jobs; "" keeps Spark's default.
    local_dir = os.environ.get("PYLATE_SPARK_LOCAL_DIR")
    if local_dir is None and master.startswith("local") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/pylate-spark-tmp"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # GC regime (r7, measured): plain local[N] batch work is
    # allocation-heavy (regex tokenize, md5 signatures) and the
    # throughput collector beat the G1 default in paired A/B bench
    # runs (suite 124.5/141.4 s vs 136.7/175.2 s; the md5-heavy
    # 1M-doc LSH leg 29-41 s vs 41-56 s). Local mode only — a real
    # cluster sizes executor JVMs differently; use the env knobs
    # there. PYLATE_SPARK_DRIVER_JAVA_OPTS overrides ("" disables).
    java_opts = os.environ.get("PYLATE_SPARK_DRIVER_JAVA_OPTS")
    if java_opts is None and master.startswith("local["):
        java_opts = "-XX:+UseParallelGC"
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    # sort page size (local mode only, measured, PLANS.md §16): Spark
    # sizes a page as heap / cores / 16 (32 MB at local[2] with a 2 g
    # heap) and every sorter takes a whole page, even for a few hundred
    # rows. search()'s kernel stage runs two sorters per task on every
    # core; at the default the young generation tripled and the JVM's
    # PSS grew by ~450 MB (serve index, 4-vCPU VM). At 4 MB it stays
    # near the one-task level; a large sort only takes more pages.
    if master.startswith("local["):
        builder = builder.config("spark.buffer.pageSize", "4m")
    exec_opts = os.environ.get("PYLATE_SPARK_EXECUTOR_JAVA_OPTS")
    if exec_opts:
        builder = builder.config("spark.executor.extraJavaOptions", exec_opts)
    for k, v in {**cluster_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
