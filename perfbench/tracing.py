"""Spans recorded from the benchmark's own files, Spark event-log
parsing, and the per-layer metrics derived from both.

A span is (name, start, end, parent, trace id) plus a few counts taken
from the wrapped call's return value. Spans are kept in memory and
written out when the run ends. Every span sets a Spark job group, so
the event log (enabled only in the traced run) attributes each job, its
tasks and their executor time to the span that launched it."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from stats import uncovered

# stage RDD scopes of the Arrow Python boundary, and of row-at-a-time
# Python evaluation (expected never to run on the CDC path)
ARROW_SCOPES = {
    "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas",
}
ROW_SCOPES = {"BatchEvalPython"}

TABLE_METHODS = ("merge", "compact", "vacuum", "read", "lookup_keys",
                 "scan_range", "changes")
# counts taken from the public return value of the write-side calls
RESULT_COUNTS = {
    "merge": ("files_written", "rows_written", "bytes_written"),
    "compact": ("files",),
    "vacuum": ("deleted_data_files", "expired_manifests"),
}

PYTHON_STAGE_LAYERS = (
    "streaming.replay", "streaming.replicate", "streaming.dedup_stream",
    "lake.merge", "lake.compact", "lake.read", "lake.lookup_keys",
    "lake.scan_range", "lake.changes",
)

# per-layer metrics the workloads measure outside the spans (manifest,
# directory listing, inputFiles(), their own counts); 0 where a workload
# does not exercise them
OUTSIDE = (
    "streaming.dedup_stream.docs_in", "streaming.dedup_stream.docs_kept",
    "streaming.dedup_stream.kept_ratio", "lake.txn.records",
    "lake.live_files", "lake.delta_depth_max", "lake.manifest_versions",
    "lake.meta_files", "lake.data_mb", "lake.lookup_keys.files_read",
    "lake.lookup_keys.prune_ratio", "lake.scan_range.files_read",
    "lake.scan_range.prune_ratio", "lake.changes.rows",
)

# every per-layer metric, in output order, with its unit
PER_LAYER = [
    ("streaming.replay.self_s", "s"),
    ("streaming.replicate.s", "s"),
    ("streaming.replicate.spark_jobs", "count"),
    ("streaming.replicate.no_job_s", "s"),
    ("streaming.dedup_stream.self_s", "s"),
    ("streaming.dedup_stream.docs_in", "count"),
    ("streaming.dedup_stream.docs_kept", "count"),
    ("streaming.dedup_stream.kept_ratio", "ratio"),
    ("lake.merge.calls", "count"),
    ("lake.merge.busy_s", "s"),
    ("lake.merge.p50_s", "s"),
    ("lake.merge.no_job_s", "s"),
    ("lake.merge.spark_jobs", "count"),
    ("lake.merge.spark_tasks", "count"),
    ("lake.merge.executor_s", "s"),
    ("lake.merge.gc_s", "s"),
    ("lake.merge.shuffle_write_mb", "MB"),
    ("lake.merge.files_written", "count"),
    ("lake.merge.rows_written", "count"),
    ("lake.merge.bytes_written", "bytes"),
    ("lake.compact.calls", "count"),
    ("lake.compact.busy_s", "s"),
    ("lake.compact.no_job_s", "s"),
    ("lake.compact.executor_s", "s"),
    ("lake.compact.files", "count"),
    ("lake.vacuum.calls", "count"),
    ("lake.vacuum.busy_s", "s"),
    ("lake.vacuum.deleted_data_files", "count"),
    ("lake.vacuum.expired_manifests", "count"),
    ("lake.txn.records", "count"),
    ("lake.live_files", "count"),
    ("lake.delta_depth_max", "count"),
    ("lake.manifest_versions", "count"),
    ("lake.meta_files", "count"),
    ("lake.data_mb", "MB"),
    ("lake.write_amp", "ratio"),
    ("lake.lookup_keys.plan_ms", "ms"),
    ("lake.lookup_keys.exec_ms", "ms"),
    ("lake.lookup_keys.files_read", "count"),
    ("lake.lookup_keys.prune_ratio", "ratio"),
    ("lake.scan_range.plan_ms", "ms"),
    ("lake.scan_range.exec_ms", "ms"),
    ("lake.scan_range.files_read", "count"),
    ("lake.scan_range.prune_ratio", "ratio"),
    ("lake.read.plan_ms", "ms"),
    ("lake.read.exec_s", "s"),
    ("lake.read.executor_s", "s"),
    ("lake.read.shuffle_write_mb", "MB"),
    ("lake.changes.plan_ms", "ms"),
    ("lake.changes.exec_s", "s"),
    ("lake.changes.rows", "count"),
    *[(f"{layer}.python_stage_executor_s", "s")
      for layer in PYTHON_STAGE_LAYERS],
    ("spark.row_python_stages", "count"),
    ("spark.jobs", "count"),
    ("spark.unattributed_jobs", "count"),
    ("trace.spans", "count"),
    ("trace.root_cover_ratio", "ratio"),
]


@dataclass(slots=True)
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: "str | None"
    trace: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so the untraced
    run executes the same workload code without wrappers or job groups.

    One closed-loop client drives the engine, so a single span stack is
    shared across threads: a streaming ``foreachBatch`` callback runs on
    another thread while the caller blocks inside the enclosing span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self.aliases: "dict[str, str]" = {}  # foreign job group → span id
        self._stack: "list[Span]" = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb{self._n}", name, time.time(), 0.0,
                  parent.id if parent else None,
                  parent.trace if parent else f"pb{self._n}", dict(attrs))
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(sp.id, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)

    def alias(self, query, sp: "Span | None") -> None:
        """Attribute a streaming query's jobs (Spark tags them with the
        query's run id as job group) to the span that ran it."""
        if sp is not None and query is not None:
            self.aliases[str(query.runId)] = sp.id

    def wrap_table(self, table, label: str, qualify: bool = False) -> None:
        """Replace the public methods on this handle with span-recording
        wrappers (instance attributes: only this handle is traced).
        ``qualify`` names the spans ``lake.<method>.<label>``, so the
        streaming dedup's own docs and index tables stay out of the
        ``lake.<method>`` metrics of the workload's main table."""
        if not self.enabled:
            return
        for meth in TABLE_METHODS:
            name = f"lake.{meth}.{label}" if qualify else f"lake.{meth}"
            setattr(table, meth,
                    self._wrapped(meth, name, getattr(table, meth), label))

    def _wrapped(self, meth: str, name: str, fn, label: str):
        keys = RESULT_COUNTS.get(meth, ())

        def call(*args, **kwargs):
            with self.span(name, table=label) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and keys and isinstance(out, dict):
                    sp.attrs.update({k: out[k] for k in keys if k in out})
                return out
        return call

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [
                {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace": s.trace, "attrs": s.attrs}
                for s in self.spans], "aliases": self.aliases}, f)


# --------------------------------------------------------------- event log

def parse_event_log(lines) -> "tuple[dict, dict]":
    """Jobs and stages from Spark event-log JSON lines.

    jobs: id → {group, t0, t1, stages}; stages: id → {tasks, exec_s,
    gc_s, shuffle_mb, out_bytes, scopes}. Times are epoch seconds."""
    jobs: dict = {}
    stages: dict = {}

    def stage(sid):
        return stages.setdefault(sid, {"tasks": 0, "exec_s": 0.0,
                                       "gc_s": 0.0, "shuffle_mb": 0.0,
                                       "out_bytes": 0, "scopes": set()})

    def scopes_of(info):
        for rdd in info.get("RDD Info", []):
            raw = rdd.get("Scope")
            if raw:
                stage(info["Stage ID"])["scopes"].add(json.loads(raw)["name"])

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "t0": ev["Submission Time"] / 1000.0, "t1": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            for info in ev.get("Stage Infos", []):
                scopes_of(info)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            scopes_of(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["exec_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            st["out_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return jobs, stages


def read_event_logs(directory: str) -> "tuple[dict, dict]":
    """Parse every event-log file under ``directory`` (Spark 4 writes a
    rolling log: a directory of ``events_<n>_<app>`` files)."""
    lines: list = []
    paths = glob.glob(os.path.join(directory, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            lines.extend(ln for ln in f if ln.strip())
    return parse_event_log(lines)


# ------------------------------------------------------- per-layer metrics

def _job_totals(job_ids, jobs, stages, owner) -> dict:
    """Sum task accounting over jobs; each stage counts once, for the
    first job that lists it (later jobs that list it skipped it)."""
    t = {"jobs": 0, "tasks": 0, "exec_s": 0.0, "gc_s": 0.0,
         "shuffle_mb": 0.0, "out_bytes": 0, "py_exec_s": 0.0}
    for j in job_ids:
        t["jobs"] += 1
        for sid in jobs[j]["stages"]:
            if owner.get(sid) != j or sid not in stages:
                continue
            st = stages[sid]
            t["tasks"] += st["tasks"]
            t["exec_s"] += st["exec_s"]
            t["gc_s"] += st["gc_s"]
            t["shuffle_mb"] += st["shuffle_mb"]
            t["out_bytes"] += st["out_bytes"]
            if st["scopes"] & ARROW_SCOPES:
                t["py_exec_s"] += st["exec_s"]
    return t


def layer_metrics(spans: "list[Span]", aliases: dict, jobs: dict,
                  stages: dict, *, timed_window: "tuple[float, float]",
                  extra: dict) -> dict:
    """Every PER_LAYER metric from the spans and the parsed event log.

    Sums (calls, busy seconds, jobs, tasks, executor/GC seconds, bytes)
    run over the timed phase; ``*_ms``, ``exec_s`` and ``p50_s`` are
    medians per call. ``extra`` supplies the OUTSIDE metrics and the
    bytes of input consumed (the write-amplification base)."""
    lo, hi = timed_window
    by_id = {s.id: s for s in spans}
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    owner: dict = {}
    for j in sorted(jobs):
        for sid in jobs[j]["stages"]:
            owner.setdefault(sid, j)
    timed_jobs = [j for j, r in jobs.items() if lo <= r["t0"] <= hi]
    own: dict = {}
    unattributed = 0
    for j in timed_jobs:
        g = jobs[j]["group"]
        sid = g if g in by_id else aliases.get(g)
        if sid is None:
            unattributed += 1
        else:
            own.setdefault(sid, []).append(j)

    def subtree_jobs(s: Span) -> list:
        out = list(own.get(s.id, []))
        for c in children.get(s.id, []):
            out.extend(subtree_jobs(c))
        return out

    def named(name):
        return [s for s in spans if s.name == name]

    def totals(name):
        ids = [j for s in named(name) for j in subtree_jobs(s)]
        return _job_totals(ids, jobs, stages, owner)

    def no_job_s(name):
        total = 0.0
        for s in named(name):
            iv = [(jobs[j]["t0"], jobs[j]["t1"] or s.end)
                  for j in subtree_jobs(s)]
            total += uncovered(s.start, s.end, iv)
        return total

    def self_s(name, child_prefix):
        return sum(
            uncovered(s.start, s.end,
                      [(c.start, c.end) for c in children.get(s.id, [])
                       if c.name.startswith(child_prefix)])
            for s in named(name))

    def busy(name):
        return sum(s.end - s.start for s in named(name))

    def med(name, scale=1.0):
        d = [s.end - s.start for s in named(name)]
        return statistics.median(d) * scale if d else 0.0

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    m: dict = {}
    m["streaming.replay.self_s"] = self_s("streaming.replay", "lake.")
    rep = totals("streaming.replicate")
    m["streaming.replicate.s"] = busy("streaming.replicate")
    m["streaming.replicate.spark_jobs"] = rep["jobs"]
    m["streaming.replicate.no_job_s"] = no_job_s("streaming.replicate")
    m["streaming.dedup_stream.self_s"] = self_s(
        "streaming.dedup_stream", "lake.merge")

    mt = totals("lake.merge")
    m["lake.merge.calls"] = len(named("lake.merge"))
    m["lake.merge.busy_s"] = busy("lake.merge")
    m["lake.merge.p50_s"] = med("lake.merge")
    m["lake.merge.no_job_s"] = no_job_s("lake.merge")
    m["lake.merge.spark_jobs"] = mt["jobs"]
    m["lake.merge.spark_tasks"] = mt["tasks"]
    m["lake.merge.executor_s"] = mt["exec_s"]
    m["lake.merge.gc_s"] = mt["gc_s"]
    m["lake.merge.shuffle_write_mb"] = mt["shuffle_mb"]
    for k in RESULT_COUNTS["merge"]:
        m[f"lake.merge.{k}"] = attr_sum("lake.merge", k)

    ct = totals("lake.compact")
    m["lake.compact.calls"] = len(named("lake.compact"))
    m["lake.compact.busy_s"] = busy("lake.compact")
    m["lake.compact.no_job_s"] = no_job_s("lake.compact")
    m["lake.compact.executor_s"] = ct["exec_s"]
    m["lake.compact.files"] = attr_sum("lake.compact", "files")
    m["lake.vacuum.calls"] = len(named("lake.vacuum"))
    m["lake.vacuum.busy_s"] = busy("lake.vacuum")
    for k in RESULT_COUNTS["vacuum"]:
        m[f"lake.vacuum.{k}"] = attr_sum("lake.vacuum", k)

    consumed = extra.get("input_bytes_consumed", 0)
    written = mt["out_bytes"] + ct["out_bytes"]
    m["lake.write_amp"] = written / consumed if consumed else 0.0

    for op in ("lookup_keys", "scan_range"):
        m[f"lake.{op}.plan_ms"] = med(f"lake.{op}", 1e3)
        m[f"lake.{op}.exec_ms"] = med(f"lake.{op}.exec", 1e3)
    rt = totals("lake.read.exec")
    m["lake.read.plan_ms"] = med("lake.read", 1e3)
    m["lake.read.exec_s"] = med("lake.read.exec")
    m["lake.read.executor_s"] = rt["exec_s"]
    m["lake.read.shuffle_write_mb"] = rt["shuffle_mb"]
    m["lake.changes.plan_ms"] = med("lake.changes", 1e3)
    m["lake.changes.exec_s"] = med("lake.changes.exec")

    for layer in PYTHON_STAGE_LAYERS:
        names = [layer]
        if layer.startswith("lake.") and layer not in ("lake.merge",
                                                       "lake.compact"):
            names.append(layer + ".exec")  # read side: plan + collect
        m[f"{layer}.python_stage_executor_s"] = sum(
            totals(n)["py_exec_s"] for n in names)
    m["spark.row_python_stages"] = sum(
        1 for sid, st in stages.items()
        if st["scopes"] & ROW_SCOPES and owner.get(sid) in timed_jobs)
    m["spark.jobs"] = len(timed_jobs)
    m["spark.unattributed_jobs"] = unattributed
    m["trace.spans"] = len(spans)
    roots = [s for s in spans if s.parent is None]
    m["trace.root_cover_ratio"] = (
        (hi - lo - uncovered(lo, hi, [(s.start, s.end) for s in roots]))
        / (hi - lo) if hi > lo else 0.0)

    m.update({n: extra.get(n, 0) for n in OUTSIDE})
    missing = [n for n, _ in PER_LAYER if n not in m]
    if missing:
        raise KeyError(f"per-layer metrics not derived: {missing}")
    return {n: m[n] for n, _ in PER_LAYER}
