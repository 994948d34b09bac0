"""Per-layer attribution from outside the engine.

``Tracer`` records a span (name, start, end, parent, operation id)
around every call the benchmark makes into the engine. A span with a
``layer`` also sets its own Spark job group, so every job the call runs
can be counted afterwards from Spark's status tracker, and, in a traced
run, summed from Spark's event log.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: Job-group layers summed from the event log in a traced run.
EVENTLOG_LAYERS = ["io", "operators.build", "operators.execute", "copy", "jdbc"]
EVENTLOG_FIELDS = [
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "python_worker_s",
]
_PYTHON_TIME = "time to run Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, op: int | None = None):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer, "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{layer}#{len(self.spans)}" if layer else None,
        }
        if rec["op"] is None and rec["parent"] is not None:
            rec["op"] = self.spans[rec["parent"]]["op"]
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if layer:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if layer:
                self.sc.setJobGroup("perfbench", "untagged")

    def layer_spans(self, layer: str, since: int = 0) -> list[dict]:
        return [r for r in self.spans[since:] if r["layer"] == layer]

    def seconds(self, layer: str, since: int = 0) -> float:
        return sum(r["s"] for r in self.layer_spans(layer, since))

    def job_counts(self, since: int = 0) -> dict[str, dict[str, int]]:
        """Jobs and completed tasks per layer, read from the status
        tracker. A stage reused by a later job counts once, for the
        group that ran it first."""
        self._drain_listener_bus()
        st = self.sc.statusTracker()
        seen: set[int] = set()
        out: dict[str, dict[str, int]] = {}
        for rec in self.spans[since:]:
            if not rec["group"]:
                continue
            agg = out.setdefault(rec["layer"], {"jobs": 0, "tasks": 0})
            for jid in st.getJobIdsForGroup(rec["group"]):
                agg["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = st.getStageInfo(sid)
                    agg["tasks"] += stage.numCompletedTasks if stage else 0
        return out

    def _drain_listener_bus(self) -> None:
        # job and stage events reach the status store asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def ckpt_blocks(sc) -> int:
    """Cached partitions held by locally-checkpointed RDDs right now."""
    jsc = sc._jsc
    cached = {i.id(): i.numCachedPartitions() for i in jsc.sc().getRDDStorageInfo()}
    rdds = jsc.getPersistentRDDs()
    return sum(
        cached.get(int(k), 0)
        for k in rdds.keySet().toArray()
        if rdds.get(k).rdd().isLocallyCheckpointed()
    )


def summarize_eventlog(path: str, spans: list[dict]) -> tuple[dict, float]:
    """Sum task metrics per job-group layer from an uncompressed event
    log, and the driver-only time of the build spans: each build span's
    duration minus the part of it that its own jobs cover."""
    group_layer = {r["group"]: r["layer"] for r in spans if r["group"]}
    job_group: dict[int, str] = {}
    job_span: dict[int, tuple[float, float]] = {}
    stage_job: dict[int, int] = {}
    per_stage: dict[int, dict[str, float]] = {}

    def stage(sid: int) -> dict[str, float]:
        return per_stage.setdefault(sid, dict.fromkeys(EVENTLOG_FIELDS, 0.0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_span[jid] = (ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                job_span[jid] = (job_span[jid][0], ev["Completion Time"] / 1e3)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stage(ev["Stage ID"])
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _PYTHON_TIME:
                        stage(info["Stage ID"])["python_worker_s"] += float(acc["Value"]) / 1e3

    layers = {layer: dict.fromkeys(EVENTLOG_FIELDS, 0.0) for layer in EVENTLOG_LAYERS}
    for sid, vals in per_stage.items():
        layer = _eventlog_layer(group_layer.get(job_group.get(stage_job.get(sid))))
        if layer:
            for k, v in vals.items():
                layers[layer][k] += v

    group_jobs: dict[str, list[tuple[float, float]]] = {}
    for jid, g in job_group.items():
        group_jobs.setdefault(g, []).append(job_span[jid])
    driver_s = 0.0
    for r in spans:
        if r["layer"] == "operators.build":
            driver_s += r["s"] - _covered(r["start"], r["end"], group_jobs.get(r["group"], []))
    return layers, driver_s


def _eventlog_layer(span_layer: str | None) -> str | None:
    """``copy.table`` and ``copy.cdc`` sum into ``copy``, and so on."""
    for layer in EVENTLOG_LAYERS:
        if span_layer == layer or (span_layer or "").startswith(layer + "."):
            return layer
    return None


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def eventlog_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
