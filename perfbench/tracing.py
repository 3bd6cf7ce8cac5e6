"""Per-call Spark metrics, read from outside the program.

A :class:`Tracer` wraps each timed call into a layer's public function.
Untraced, it only times the call. Traced, it tags the call's Spark jobs
with their own job group, then reads back, right after the call (Spark
keeps only the last ~1000 jobs and stages):

- the stages of those jobs from the driver's status store: task count,
  summed executor run time, shuffle read + write bytes, spilled bytes;
- the JVM's garbage-collection time, from its GarbageCollectorMXBeans.

Nothing inside ``pylate_spark`` is instrumented.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: the timed calls, by layer module and public function
CALLS = (
    "query.search",
    "query.search_join",
    "query.bm25_scan_topk",
    "build.build_index",
    "maintenance.add_documents",
    "maintenance.delete_documents",
    "maintenance.compact",
    "dedup.lsh_candidate_pairs",
    "dedup.simhash_near_dup_pairs",
    "dedup.dedup_clusters",
)
#: per-call figures, reported as ``<call>.<field>``
FIELDS = {
    "wall_s": "s",
    "tasks": "count",
    "busy_s": "s",
    "core_util": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.cores = cores
        self.records: dict[str, list[dict]] = defaultdict(list)
        #: time spent reading metrics, i.e. what tracing itself costs
        self.overhead_s = 0.0
        self._n = 0

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans)

    def _stage_totals(self, group: str) -> dict:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        tot = {"tasks": 0, "busy_ms": 0, "shuffle_b": 0, "spill_b": 0}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted or already evicted
                    continue
                tot["tasks"] += int(sd.numCompleteTasks())
                tot["busy_ms"] += int(sd.executorRunTime())
                tot["shuffle_b"] += int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
                tot["spill_b"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        return tot

    def call(self, name: str, fn):
        """Run ``fn()``; return ``(result, wall seconds)``."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        a = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        gc0 = self._gc_ms()
        b = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - b
        gc1 = self._gc_ms()
        tot = self._stage_totals(group)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        busy = tot["busy_ms"] / 1e3
        self.records[name].append(
            {
                "wall_s": wall,
                "tasks": tot["tasks"],
                "busy_s": busy,
                "core_util": busy / (wall * self.cores) if wall > 0 else 0.0,
                "shuffle_mb": tot["shuffle_b"] / 1e6,
                "spill_mb": tot["spill_b"] / 1e6,
                "gc_s": (gc1 - gc0) / 1e3,
            }
        )
        self.overhead_s += (time.perf_counter() - a) - wall
        return out, wall

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Median of each field over each call's records (0 for a call
        the workload never made)."""
        out = {}
        for name in CALLS:
            recs = self.records.get(name, [])
            for field, unit in FIELDS.items():
                vals = [r[field] for r in recs]
                out[f"{name}.{field}"] = (statistics.median(vals) if vals else 0.0, unit)
        out["trace.overhead_s"] = (self.overhead_s, "s")
        return out
