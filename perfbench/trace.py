"""Tracing for the benchmark's traced run, entirely from outside the engine.

- ``Tracer.span`` records a span (name, start, end, parent, request id)
  around a call into an engine module and sets the Spark job group to the
  span's id, so jobs in the event log can be attributed to it.
- ``Tracer.attach`` wraps the py4j gateway client's ``send_command`` with a
  counter; each command is billed to the innermost open span.
- ``Tracer.action`` runs a DataFrame action and keeps the
  ``QueryPlanningTracker`` phases of that DataFrame.
- ``layer_table`` joins the spans with the uncompressed event log and splits
  the traced wall into each layer's self time, the Spark jobs (``execute``),
  the planning phases (``plan``), the tracer's own bookkeeping and the
  ``untraced_s`` remainder.

``NullTracer`` has the same interface and records nothing; the untraced run
uses it, so both runs execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

#: Span name -> per-layer metric that receives the span's self time.
SPAN_METRIC = {
    "bench.setup": "untraced_s",
    "bench.op": "untraced_s",
    "session.get_spark": "session.get_spark_s",
    "session.warmup": "session.warmup_s",
    "sources.read_partitioned": "sources.read_partitioned_s",
    "catalog.register": "catalog.register_s",
    "resample.construct": "resample.construct_s",
    "sinks.write": "sinks.write_s",
    "pipeline.run": "pipeline.run_s",
    "pipeline.job": "pipeline.job_s",
    "pipeline.bypass": "pipeline.bypass_s",
    "query.construct": "query.construct_s",
    "deliver.collect": "deliver.s",
    "deliver.toPandas": "deliver.s",
}
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: str
    name: str
    request: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    py4j: int = 0  # commands sent while this was the innermost span
    overhead: float = 0.0  # tracer bookkeeping while innermost
    children: list[str] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Records nothing; the untraced run's stand-in for ``Tracer``."""

    def attach(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str, request: str = ""):
        yield

    def action(self, df, how: str):
        return getattr(df, how)()


class Tracer(NullTracer):
    def __init__(self, event_log_dir: str) -> None:
        self.event_log_dir = event_log_dir
        self.spans: dict[str, Span] = {}
        self.stack: list[Span] = []
        self.phases: dict[str, dict[str, tuple[float, float]]] = {}
        self._sc = None
        self._paused = False
        self._n = 0

    def conf(self) -> dict[str, str]:
        """Session conf that turns on the uncompressed event log."""
        os.makedirs(self.event_log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.event_log_dir,
            "spark.eventLog.compress": "false",
        }

    def attach(self, spark) -> None:
        """Count py4j commands of this session's gateway client."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = type(client).send_command.__get__(client)

        def counting_send(*args, **kwargs):
            if not self._paused and self.stack:
                self.stack[-1].py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextlib.contextmanager
    def _bookkeeping(self):
        t0 = time.time()
        self._paused = True
        try:
            yield
        finally:
            self._paused = False
            if self.stack:
                self.stack[-1].overhead += time.time() - t0

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None or self._sc._jsc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str, request: str = ""):
        parent = self.stack[-1] if self.stack else None
        self._n += 1
        s = Span(f"s{self._n}", name, request or (parent.request if parent else ""),
                 parent.id if parent else None, 0.0)
        # Group switches are billed to the parent's overhead and fall
        # outside [start, end] of the span itself.
        with self._bookkeeping():
            self.spans[s.id] = s
            if parent:
                parent.children.append(s.id)
            self._set_group(s)
        self.stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            with self._bookkeeping():
                self.stack.pop()
                self._set_group(self.stack[-1] if self.stack else None)

    def action(self, df, how: str):
        with self.span(f"deliver.{how}") as s:
            out = getattr(df, how)()
        with self._bookkeeping():
            tracker = df._jdf.queryExecution().tracker().phases()
            got = {}
            for p in PHASES:
                opt = tracker.get(p)
                if opt.isDefined():
                    ph = opt.get()
                    got[p] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
            self.phases[s.id] = got
        return out

    # ---------------------------------------------------------------- report

    def layer_table(self) -> dict:
        """Per-layer metrics of every span recorded so far. Call after the
        last session has stopped, so the event log is complete."""
        jobs, stages, sql = read_event_log(self.event_log_dir)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j["group"], []).append(j)

        m: dict[str, float] = {k: 0.0 for k in set(SPAN_METRIC.values())}
        m.update({f"plan.{p}_s": 0.0 for p in PHASES})
        m["execute.job_wall_s"] = 0.0
        m["trace.plan_in_spans_s"] = 0.0
        m["trace.self_s"] = 0.0
        py4j: dict[str, int] = {}
        for s in self.spans.values():
            kids = sum(self.spans[c].dur for c in s.children)
            own_jobs = by_group.get(s.id, [])
            job_wall = _union_within([(j["start"], j["end"]) for j in own_jobs], s.start, s.end)
            # plan.*_s are whole phase durations (analysis may have run in an
            # earlier span); only the part inside the action's span is carved
            # out of its self time.
            plan = 0.0
            for p, (a, b) in self.phases.get(s.id, {}).items():
                m[f"plan.{p}_s"] += b - a
                plan += _union_within([(a, b)], s.start, s.end)
            m[SPAN_METRIC[s.name]] += s.dur - kids - job_wall - plan - s.overhead
            m["execute.job_wall_s"] += job_wall
            m["trace.plan_in_spans_s"] += plan
            m["trace.self_s"] += s.overhead
            layer = s.name.split(".")[0]
            py4j[layer] = py4j.get(layer, 0) + s.py4j
        wall = sum(s.dur for s in self.spans.values() if s.parent is None)
        m["trace.wall_s"] = wall
        m["sources.py4j_calls"] = py4j.get("sources", 0)
        m["resample.py4j_calls"] = py4j.get("resample", 0)
        m["trace.py4j_calls"] = sum(py4j.values())

        traced_groups = set(self.spans)
        mine = [j for j in jobs if j["group"] in traced_groups]
        m.update(execute_metrics(mine, stages))
        # Spark's task input metric misses vectored parquet reads; the scan's
        # own count of the files it opened (after partition pruning) does not.
        scans = [(self.spans[g].request, n, v) for g, n, v in sql if g in traced_groups]
        m["sources.bytes_read"] = sum(v for _, n, v in scans if n == "size of files read")
        m["sources.files_read"] = sum(v for _, n, v in scans if n == "number of files read")
        m["sources.op_bytes_read"] = sum(
            v for r, n, v in scans if n == "size of files read" and r.startswith(("op", "warm")))
        m["pipeline.spark_jobs"] = sum(
            1 for j in mine if self._has_ancestor(j["group"], "pipeline.job")
        )
        m["trace.unattributed_jobs"] = len(jobs) - len(mine)
        # wall = self times + carved job wall + carved plan + tracer time
        accounted = sum(m[k] for k in set(SPAN_METRIC.values()))
        accounted += m["execute.job_wall_s"] + m["trace.plan_in_spans_s"] + m["trace.self_s"]
        m["trace.unaccounted_s"] = wall - accounted
        return m

    def _has_ancestor(self, sid: str, name: str) -> bool:
        while sid is not None:
            s = self.spans[sid]
            if s.name == name:
                return True
            sid = s.parent
        return False

    def dump(self, path: str) -> None:
        """Write every span as JSON (the in-memory record, kept to the end)."""
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans.values()], fh)


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _plan_metric_names(info: dict, names: dict) -> None:
    for mt in info.get("metrics", []):
        names[mt["accumulatorId"]] = mt["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, names)


def read_event_log(root: str) -> tuple[list[dict], dict, list[tuple]]:
    """From every uncompressed event log under ``root``: jobs (group, start,
    end, stage ids, succeeded), per-stage task metrics, and the driver-side
    SQL metrics of each execution as (group, metric name, value)."""
    jobs: list[dict] = []
    stages: dict = {}
    sql: list[tuple] = []
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isdir(path) or name.startswith("appstatus"):
            continue
        app_jobs: dict[int, dict] = {}
        exec_group: dict[int, str] = {}
        names: dict[int, str] = {}
        updates: list = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    exec_group[ev["executionId"]] = ev.get("jobGroupId")
                    _plan_metric_names(ev["sparkPlanInfo"], names)
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    _plan_metric_names(ev["sparkPlanInfo"], names)
                elif kind == "SparkListenerDriverAccumUpdates":
                    updates.append(ev)
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    app_jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "stages": [(path, sid) for sid in ev["Stage IDs"]],
                        "ok": False,
                    }
                elif kind == "SparkListenerJobEnd":
                    j = app_jobs[ev["Job ID"]]
                    j["end"] = ev["Completion Time"] / 1000.0
                    j["ok"] = ev["Job Result"]["Result"] == "JobSucceeded"
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((path, ev["Stage ID"]), _empty_stage())
                    _add_task(st, ev)
        jobs.extend(app_jobs.values())
        for ev in updates:
            group = exec_group.get(ev["executionId"])
            sql += [(group, names.get(acc, ""), v) for acc, v in ev["accumUpdates"]]
    return jobs, stages, sql


def _empty_stage() -> dict:
    return {k: 0 for k in (
        "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
        "shuffle_write", "shuffle_read", "fetch_wait_ms", "spill", "result_bytes")}


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        st["failed_tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    if not tm:
        return
    sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
    st["run_ms"] += tm["Executor Run Time"]
    st["cpu_ns"] += tm["Executor CPU Time"]
    st["gc_ms"] += tm["JVM GC Time"]
    st["deser_ms"] += tm["Executor Deserialize Time"]
    st["shuffle_write"] += sw["Shuffle Bytes Written"]
    st["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    st["fetch_wait_ms"] += sr["Fetch Wait Time"]
    st["spill"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    st["result_bytes"] += tm["Result Size"]


def execute_metrics(jobs: list[dict], stages: dict) -> dict:
    """execute.* metrics over ``jobs``; a stage shared by two jobs counts once."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    seen = {k for j in jobs for k in j["stages"] if k in stages}
    tot = _empty_stage()
    for k in seen:
        for f, v in stages[k].items():
            tot[f] += v
    wall = sum(j["end"] - j["start"] for j in jobs)
    run_s = tot["run_ms"] / 1000.0
    return {
        "execute.jobs": len(jobs),
        "execute.stages": len(seen),
        "execute.tasks": tot["tasks"],
        "execute.failed": tot["failed_tasks"] + sum(1 for j in jobs if not j["ok"]),
        "execute.task_run_s": run_s,
        "execute.task_cpu_s": tot["cpu_ns"] / 1e9,
        "execute.gc_s": tot["gc_ms"] / 1000.0,
        "execute.deserialize_s": tot["deser_ms"] / 1000.0,
        "execute.shuffle_write_bytes": tot["shuffle_write"],
        "execute.shuffle_read_bytes": tot["shuffle_read"],
        "execute.shuffle_fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "execute.spill_bytes": tot["spill"],
        "execute.slot_idle_share": (1.0 - run_s / (wall * cores)) if wall > 0 else 0.0,
        "deliver.result_bytes": tot["result_bytes"],
    }
