"""Tracing for the traced run: spans, job groups and Spark's status store.

The benchmark measures each layer from outside: it wraps its own calls
into the engine's public functions in spans, tags the Spark jobs each
phase starts with a job group, and after every op reads those jobs'
stage metrics from the status store (before its retention limit can
drop them). Spans stay in memory and are written once at the end.

With tracing off every method is a cheap no-op, so the timed runs pay
nothing for it.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Layer of each span name; self time is reported per layer.
LAYERS = {
    "op": "bench",
    "queries.construct": "queries",
    "spark.execute": "spark_driver",
    "spark.job": "spark_jobs",
    "operators.util.release_persisted": "operators",
}

STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "stages",
    "tasks",
)


def layer_of(name: str) -> str:
    return LAYERS.get(name, name.split(".")[0])


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: dict[int, list[tuple[str, int]]] = defaultdict(list)
        # per-op facts keyed by op id
        self.ops: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, op_id: int, job_group: bool = False):
        """Time ``name``; with ``job_group`` tag the Spark jobs it starts."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent, "op": op_id}
        )
        self._stack.append(idx)
        if job_group:
            group = f"perfbench:{op_id}:{name}"
            self._groups[op_id].append((group, idx))
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans[idx]["end"] = time.time()
            self._stack.pop()

    def note(self, op_id: int, **facts: float) -> None:
        if self.enabled:
            rec = self.ops.setdefault(op_id, {})
            for k, v in facts.items():
                rec[k] = rec.get(k, 0) + v

    def storage_bytes(self) -> int:
        """Bytes of cached RDD blocks, memory plus disk."""
        if not self.enabled:
            return 0
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def collect_jobs(self, op_id: int) -> None:
        """Read the status store for the op's job groups; add job spans."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        rec = self.ops.setdefault(op_id, {})
        for k in STAGE_FIELDS + ("jobs", "construct_jobs"):
            rec.setdefault(k, 0)
        for group, parent in self._groups.pop(op_id, []):
            for jid in sc.statusTracker().getJobIdsForGroup(group):
                jd = store.job(jid)
                rec["jobs"] += 1
                if group.endswith(":queries.construct"):
                    rec["construct_jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    self.spans.append(
                        {
                            "name": "spark.job",
                            "start": sub.get().getTime() / 1000.0,
                            "end": done.get().getTime() / 1000.0,
                            "parent": parent,
                            "op": op_id,
                        }
                    )
                ids = jd.stageIds()
                for i in range(ids.size()):
                    sd = store.lastStageAttempt(ids.apply(i))
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
                    rec["executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                    rec["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                    rec["spill_bytes"] += int(sd.diskBytesSpilled()) + int(
                        sd.memoryBytesSpilled()
                    )

    def job_busy_s(self, op_id: int) -> float:
        """Wall time during which at least one of the op's jobs ran."""
        return union_length(
            (s["start"], s["end"])
            for s in self.spans
            if s["op"] == op_id and s["name"] == "spark.job"
        )

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Total self time per layer over ``op_ids``: a span's duration
        minus the part of it its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["op"] in op_ids:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for idx, s in enumerate(self.spans):
            if s["op"] not in op_ids or s["end"] is None:
                continue
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(idx, [])
            )
            out[layer_of(s["name"])] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals; empty ones count 0."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM child, from /proc (VmHWM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
