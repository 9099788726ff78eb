"""Spans and counters recorded from the benchmark's side of each call.

``Tracer`` keeps spans in memory (name, start, end, parent, operation id)
and derives self time: a span's duration minus the part of it its children
cover. ``SparkCounters`` reads what Spark already counts, over py4j, around
one operation: the jobs of a job group and their stages and tasks from the
status store, the SQL metrics of the final adaptive plan, and the JVM's GC
and heap MXBeans. Nothing here changes what the engine executes.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# SQL metric name -> exec.op_time_s bucket
OP_TIME_BUCKETS = {
    "scanTime": "scan",
    "pipelineTime": "codegen_pipeline",
    "aggTime": "aggregate",
    "sortTime": "sort",
    "shuffleWriteTime": "shuffle_write",
    "fetchWaitTime": "shuffle_fetch_wait",
    "collectTime": "broadcast",
    "buildTime": "broadcast",
    "broadcastTime": "broadcast",
}
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
_STAGE_WRAPPERS = (
    "ResultQueryStage",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
)
_UNIT_S = {"timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """In-memory spans; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for a, b in sorted(kids.get(i, ())):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.append((s["end"] - s["start"]) - covered)
        return out

    def dump(self, path: str, summary: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        selfs = self.self_times()
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": st}
            for s, st in zip(self.spans, selfs)
        ]
        by_name: dict[str, dict[str, float]] = defaultdict(lambda: {"n": 0, "total": 0.0, "self": 0.0})
        for s in spans:
            agg = by_name[s["name"]]
            agg["n"] += 1
            agg["total"] += s["end"] - s["start"]
            agg["self"] += s["self"]
        with open(path, "w") as f:
            json.dump({"summary": summary, "by_name": by_name, "spans": spans}, f, indent=1, default=str)


class SparkCounters:
    """py4j readers for the counters Spark keeps about an operation."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def job_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_job_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def group_counts(self, group: str) -> dict[str, float]:
        """Jobs, executed stages and tasks of one job group, with shuffle
        write, spill and peak execution memory from the status store."""
        st = self.sc.statusTracker()
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes"), 0
        )
        c["peak_memory_bytes"] = 0
        for jid in st.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                attempts = self._store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled()
                    c["peak_memory_bytes"] = max(c["peak_memory_bytes"], sd.peakExecutionMemory())
        return c

    def plan_metrics(self, df) -> dict:
        """Walk the final adaptive plan of an executed DataFrame: per-bucket
        operator time, Python-worker node metrics, scan bytes and the three
        most expensive nodes."""
        op_time: dict[str, float] = defaultdict(float)
        py: dict[str, float] = defaultdict(float)
        node_time: dict[str, float] = defaultdict(float)
        scan_bytes = 0

        def walk(p) -> None:
            nonlocal scan_bytes
            name = p.nodeName()
            if name in _STAGE_WRAPPERS:
                return walk(p.plan())
            if name == "AdaptiveSparkPlan":
                return walk(p.executedPlan())
            if name == "ReusedExchange":
                return None
            it = p.metrics().iterator()
            is_py = any(name.startswith(n) for n in PYTHON_NODES)
            while it.hasNext():
                kv = it.next()
                key, m = kv._1(), kv._2()
                unit = _UNIT_S.get(m.metricType())
                val = m.value()
                if key in OP_TIME_BUCKETS and unit:
                    op_time[OP_TIME_BUCKETS[key]] += val * unit
                    if key != "pipelineTime":
                        node_time[name] += val * unit
                if key == "filesSize":
                    scan_bytes += val
                if is_py:
                    if key == "pythonDataSent":
                        py["data_sent_bytes"] += val
                    elif key == "pythonDataReceived":
                        py["data_received_bytes"] += val
                    elif key == "pythonNumRowsReceived":
                        py["rows"] += val
                    elif unit:
                        py["time_s"] += val * unit
            ch = p.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
            return None

        walk(df._jdf.queryExecution().executedPlan())
        top = sorted(node_time.items(), key=lambda kv: -kv[1])[:3]
        return {"op_time_s": dict(op_time), "python_worker": dict(py), "scan_bytes": scan_bytes, "top_ops": top}

    def jvm(self) -> tuple[float, float]:
        """(cumulative GC seconds, sum of heap pools' peak used MiB)."""
        gc = sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()) / 1e3
        peak = sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        )
        return gc, peak / 2**20

    def reset_heap_peak(self) -> None:
        for p in self._mf.getMemoryPoolMXBeans():
            p.resetPeakUsage()
