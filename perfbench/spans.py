"""Spans around the program's public layer entry points.

The program is not instrumented: ``Tracer.install`` replaces the public
functions named in ``LAYER_TARGETS`` with wrappers, from the
benchmark's side, and ``uninstall`` puts the originals back. A span
records (name, layer, start, end, parent, op). Each span runs under its
own Spark job group, so a lazily built plan's jobs are charged to the
span that launched them; at span exit the job group's jobs, stages and
tasks are read from ``statusTracker``. Task time, GC, shuffle, spill and
input bytes come later, offline, from the Spark event log
(``event_log_metrics``), matched to spans by job group.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Any, Callable, Optional

# (module, attribute, span name). Each is patched where the pipeline
# looks it up: ``drune_spark.pipeline`` imports them by name.
LAYER_TARGETS = [
    ("drune_spark.pipeline", "Project.load_pipeline_model", "config.load_pipeline_model"),
    ("drune_spark.pipeline", "read_source", "sources.read_source"),
    ("drune_spark.pipeline", "apply_schema", "plans.apply_schema"),
    ("drune_spark.pipeline", "add_hash_key", "plans.add_hash_key"),
    ("drune_spark.pipeline", "apply_constraints", "quality.apply_constraints"),
    ("drune_spark.pipeline", "write_validation_log", "quality.write_validation_log"),
    ("drune_spark.pipeline", "StepRunner.run", "operators.step_runner"),
    ("drune_spark.pipeline", "write_target", "sinks.write_target"),
]


class Tracer:
    """Span recorder. ``enabled`` can be flipped between operations, so
    one traced run also times untraced operations for the overhead."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self.enabled = True
        self.op: Optional[int] = None
        self._stack: list[dict[str, Any]] = []
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "layer": name.split(".")[0],
            "parent": parent["id"] if parent else None, "op": self.op,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._job_counts(rec["group"]))
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _job_counts(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # -- wrapping ------------------------------------------------------------
    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and hasattr(out, "failed_total"):
                    rec["rows_failed"] = out.failed_total()
                return out
        return traced

    def install(self) -> None:
        import importlib

        from drune_spark.operators.registry import StepRegistry

        for module, attr, name in LAYER_TARGETS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            self._patch(owner, leaf, name)
        for step_type, klass in StepRegistry._steps.items():
            self._patch(klass, "execute", f"operators.step.{step_type}")

    def _patch(self, owner: Any, leaf: str, name: str) -> None:
        original = owner.__dict__.get(leaf)
        if original is None:    # a step class that inherits execute
            return
        self._patched.append((owner, leaf, original))
        setattr(owner, leaf, self.wrap(original, name))

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._patched):
            setattr(owner, leaf, original)
        self._patched = []

    # -- output --------------------------------------------------------------
    def self_times(self) -> None:
        """Self time = duration minus the time covered by child spans
        (children of one span run one after another)."""
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["dur_s"]

    def dump(self, path: str, events: dict[str, dict[str, float]]) -> None:
        """Every span, with the event-log counters of its job group."""
        with open(path, "w") as fh:
            json.dump([{**s, "spark": events.get(s["group"], {})}
                       for s in self.spans], fh, indent=1)


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run / CPU / GC seconds, shuffle, spill
    and input bytes, plus stage-level (wall, longest task) pairs.
    Parses the finished event log of the single application in
    ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    stage_group: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    stage_max_task: dict[int, float] = defaultdict(float)
    per_stage: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]) / 1e3
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tinfo, m = ev["Task Info"], ev.get("Task Metrics") or {}
                stage_max_task[sid] = max(
                    stage_max_task[sid],
                    (tinfo["Finish Time"] - tinfo["Launch Time"]) / 1e3)
                acc = per_stage[sid]
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, acc in per_stage.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        for k, v in acc.items():
            out[group][k] += v
        out[group]["stage_wall_s"] += stage_wall.get(sid, 0.0)
        out[group]["stage_max_task_s"] += stage_max_task[sid]
    return out


STEP_TYPES = ("redact", "quality_filter", "dedup", "chunk", "join", "sql")


def per_layer_metrics(spans: list[dict], events: dict[str, dict[str, float]],
                      samples: list[dict], session_s: float) -> dict[str, float]:
    """Per-layer metrics, per traced timed operation (mean over those
    operations). Layer times are self times, so the layers of one
    operation add up to its wall; job counts are the layer's own jobs.
    A layer a workload does not use reads 0."""
    traced = [i for i, s in enumerate(samples) if s["traced"]]
    n = len(traced)
    ops = set(traced)
    sp = [s for s in spans if s["op"] in ops]

    def per_op(key: str, match) -> float:
        return sum(s[key] for s in sp if match(s)) / n

    def layer(name: str):
        return lambda s: s["layer"] == name

    def named(*names: str):
        return lambda s: s["name"] in names

    def spark_sum(key: str) -> float:
        return sum(events.get(s["group"], {}).get(key, 0.0) for s in sp)

    walls = [samples[i]["wall_s"] for i in traced]
    untraced = [s["wall_s"] for s in samples if not s["traced"]]
    config = [s["dur_s"] for s in spans if s["layer"] == "config"]
    m = {
        "session.start_s": session_s,
        "config.load_ms": 1e3 * statistics.median(config),
        "sources.read_ms": 1e3 * per_op("self_s", layer("sources")),
        "sources.jobs": per_op("jobs", layer("sources")),
        "plans.apply_schema_ms": 1e3 * per_op("self_s", named("plans.apply_schema")),
        "plans.hash_key_ms": 1e3 * per_op("self_s", named("plans.add_hash_key")),
        "quality.constraints_s": per_op("self_s", named("quality.apply_constraints")),
        "quality.jobs": per_op("jobs", layer("quality")),
        "quality.rows_failed": sum(s.get("rows_failed", 0) for s in sp) / n,
        "quality.failure_log_s": per_op("self_s", named("quality.write_validation_log")),
        "operators.build_s": per_op("self_s", layer("operators")),
        "operators.build_jobs": per_op("jobs", layer("operators")),
        "sinks.write_s": per_op("self_s", layer("sinks")),
        "sinks.jobs": per_op("jobs", layer("sinks")),
        "sinks.bytes_written": sum(samples[i]["written"] for i in traced) / n,
        "sinks.files_written": sum(samples[i]["files"] for i in traced) / n,
        "sinks.state_bytes": sum(samples[i]["state_bytes"] for i in traced) / n,
        "spark.jobs": per_op("jobs", lambda s: True),
        "spark.stages": per_op("stages", lambda s: True),
        "spark.tasks": per_op("tasks", lambda s: True),
        "spark.task_run_s": spark_sum("task_run_s") / n,
        "spark.task_cpu_s": spark_sum("task_cpu_s") / n,
        "spark.gc_s": spark_sum("gc_s") / n,
        "spark.busy_cores": spark_sum("task_run_s") / sum(walls),
        "spark.max_task_share": (spark_sum("stage_max_task_s")
                                 / max(spark_sum("stage_wall_s"), 1e-9)),
        "spark.shuffle_write_bytes": spark_sum("shuffle_write_bytes") / n,
        "spark.shuffle_read_bytes": spark_sum("shuffle_read_bytes") / n,
        "spark.spill_bytes": spark_sum("spill_bytes") / n,
        "spark.input_bytes": spark_sum("input_bytes") / n,
        "mem.jvm_peak_rss_mb": max(samples[i]["jvm_peak_mb"] for i in traced),
        "mem.py_peak_rss_mb": max(samples[i]["py_peak_mb"] for i in traced),
        "trace.op_s_p50": statistics.median(walls),
        "trace.overhead_s": statistics.median(walls) - statistics.median(untraced),
    }
    for t in STEP_TYPES:
        m[f"operators.step.{t}.build_ms"] = 1e3 * per_op(
            "dur_s", named(f"operators.step.{t}"))
    return m
