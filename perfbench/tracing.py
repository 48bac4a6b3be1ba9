"""Traced run: spans around each layer's public call, Spark jobs tagged
by execution and layer, and the event-log reader that attributes
executor work to executions.

Spans are kept in memory and written to JSON when the run ends. A
span records name, start, end, parent and execution id; a thread with
no open span parents its first span to the execution's root span, so
the API server's handler threads nest under the client's request.
Inside a layer's span the wrappers set two Spark local properties
(``perfbench.exec``, ``perfbench.layer``), which the event log records
on every job the thread submits.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time

EXEC_PROP = "perfbench.exec"
LAYER_PROP = "perfbench.layer"


class Tracer:
    """Span recorder. A disabled tracer records nothing, so untraced
    runs pay one no-op context manager per execution."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._exec: str | None = None
        self._root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span_id = next(self._ids)
        tagged = layer is not None and self.sc is not None
        if tagged:
            prev_layer = self.sc.getLocalProperty(LAYER_PROP)
            self.sc.setLocalProperty(EXEC_PROP, self._exec or "")
            self.sc.setLocalProperty(LAYER_PROP, layer)
        stack.append(span_id)
        start = time.time()
        try:
            yield span_id
        finally:
            end = time.time()
            stack.pop()
            if tagged:
                self.sc.setLocalProperty(LAYER_PROP, prev_layer)
            with self._lock:
                self.spans.append(
                    {"id": span_id, "name": name, "start": start, "end": end,
                     "parent": parent, "exec": self._exec}
                )

    @contextlib.contextmanager
    def execution(self, exec_id: str, name: str = "exec"):
        """Root span of one triggered execution (closed loop: one at a
        time, so the root is process-wide)."""
        self._exec = exec_id
        try:
            with self.span(name) as root:
                self._root = root
                yield root
        finally:
            self._root = None
            self._exec = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry point in a span. Patches the
    classes and the builder module in place; call once per process."""
    from etl_core_spark import api
    from etl_core_spark.plans import builder, config, runner, store

    def wrap(fn, name, layer=None):
        def wrapped(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    from_dict = config.JobConfig.from_dict.__func__
    config.JobConfig.from_dict = classmethod(wrap(from_dict, "config.parse"))
    # start_execution imports build_job from the module at call time
    builder.build_job = wrap(builder.build_job, "builder.build", "builder")
    runner.JobRunner.run = wrap(runner.JobRunner.run, "runner.run", "runner")
    store.JobStore.start_execution = wrap(
        store.JobStore.start_execution, "store.start_execution", "store"
    )
    store.JobStore.list_executions = wrap(
        store.JobStore.list_executions, "store.read", "store"
    )
    api.ApiServer.dispatch = wrap(api.ApiServer.dispatch, "api.dispatch", "api")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their exec/layer tags), executed stages and task
    metrics from the application's event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "exec": props.get(EXEC_PROP) or None,
                    "layer": props.get(LAYER_PROP) or None,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, {"tasks": [], "failed_tasks": 0})
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"].append(sid)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], {"tasks": [], "failed_tasks": 0})
                info = ev["Task Info"]
                if info.get("Failed") or ev["Task End Reason"].get("Reason") != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["tasks"].append(
                    {
                        "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    }
                )
    return {"jobs": jobs, "stages": stages}


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


_MB = 1024.0 * 1024.0


def execution_layers(spans: list[dict], log: dict, exec_ids: list[str],
                     attempts: dict[str, int]) -> list[dict]:
    """Per-execution layer figures: self times from the span tree,
    Spark work from the event log."""
    by_exec: dict[str, list[dict]] = {}
    for s in spans:
        if s["exec"] is not None:
            by_exec.setdefault(s["exec"], []).append(s)
    jobs_by_exec: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        if j["exec"] and j["end"] is not None:
            jobs_by_exec.setdefault(j["exec"], []).append(j)
    out = []
    for eid in exec_ids:
        ss = by_exec.get(eid, [])
        dur = {}
        for s in ss:
            dur[s["name"]] = dur.get(s["name"], 0.0) + (s["end"] - s["start"])
        root = next(s for s in ss if s["parent"] is None)
        root_s = root["end"] - root["start"]
        children = sum(s["end"] - s["start"] for s in ss if s["parent"] == root["id"])
        runner_span = next((s for s in ss if s["name"] == "runner.run"), None)
        jobs = jobs_by_exec.get(eid, [])
        b_jobs = [j for j in jobs if j["layer"] == "builder"]
        r_jobs = [j for j in jobs if j["layer"] == "runner"]
        r_iv = [(j["start"], j["end"]) for j in r_jobs]
        if runner_span is not None:
            r_iv = _clip(r_iv, runner_span["start"], runner_span["end"])
        r_stages = [sid for j in r_jobs for sid in j["stages"]]
        tasks = [t for j in jobs for sid in j["stages"] for t in log["stages"][sid]["tasks"]]
        ratio = 1.0
        for j in jobs:
            for sid in j["stages"]:
                durs = [t["duration"] for t in log["stages"][sid]["tasks"]]
                if len(durs) >= 2 and statistics.median(durs) > 0:
                    ratio = max(ratio, max(durs) / statistics.median(durs))
        failed_tasks = sum(log["stages"][sid]["failed_tasks"] for j in jobs for sid in j["stages"])
        start_exec = dur.get("store.start_execution", 0.0)
        build = dur.get("builder.build", 0.0)
        run = dur.get("runner.run", 0.0)
        # the API path's root is the HTTP request; the direct path's
        # root wraps start_execution itself
        api_overhead = root_s - start_exec if "api.dispatch" in dur else 0.0
        out.append(
            {
                "exec_s": root_s,
                "trace.unattributed_s": root_s - children,
                "config.parse_s": dur.get("config.parse", 0.0),
                "builder.build_s": build - dur.get("config.parse", 0.0),
                "builder.spark_jobs": len(b_jobs),
                "builder.in_job_s": _union_seconds([(j["start"], j["end"]) for j in b_jobs]),
                "runner.run_s": run,
                "runner.spark_jobs": len(r_jobs),
                "runner.stages": len(r_stages),
                "runner.tasks": sum(len(log["stages"][sid]["tasks"]) for sid in r_stages),
                "runner.retries": attempts.get(eid, 1) - 1 + failed_tasks,
                "runner.gap_s": run - _union_seconds(r_iv),
                "store.record_s": start_exec - build - run,
                "api.overhead_s": api_overhead,
                "executor.run_s": sum(t["run"] for t in tasks),
                "executor.cpu_s": sum(t["cpu"] for t in tasks),
                "executor.gc_s": sum(t["gc"] for t in tasks),
                "executor.input_mb": sum(t["input"] for t in tasks) / _MB,
                "executor.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / _MB,
                "executor.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / _MB,
                "executor.spill_mb": sum(t["spill"] for t in tasks) / _MB,
                "executor.output_mb": sum(t["output"] for t in tasks) / _MB,
                "executor.max_task_ratio": ratio,
            }
        )
    return out
