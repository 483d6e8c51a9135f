"""Spans recorded by the traced run, and the Spark event-log parser.

A span is one timed interval: an op, a layer call inside it (the query
function, the noop write, or a wrapped pipeline callable), a Spark job, or a
stage. Each carries the id of the span that caused it. The benchmark records
op and layer spans itself and tags every layer span with a Spark job group,
so the job and stage spans parsed from Spark's event log hang under the layer
call that issued them. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

MB = 1024 * 1024

# Public PySpark calls that run Spark jobs, by the class that defines them.
ACTIONS = {
    "pyspark.sql.classic.dataframe.DataFrame": (
        "collect", "toPandas", "toArrow", "count", "take", "tail", "head", "first",
        "toLocalIterator", "localCheckpoint", "checkpoint", "approxQuantile", "isEmpty",
        "show", "foreach", "foreachPartition", "corr", "cov",
    ),
    "pyspark.sql.readwriter.DataFrameWriter": (
        "save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto",
    ),
    "pyspark.sql.readwriter.DataFrameReader": ("parquet", "load", "json", "csv", "orc", "table"),
    "pyspark.core.rdd.RDD": ("collect",),
    "pyspark.core.context.SparkContext": ("runJob",),
}


class Tracer:
    """Op and layer spans, each layer span tagged with its own job group."""

    def __init__(self, sc, root: str):
        self.sc = sc
        self.root = root + os.sep
        self.spans: list[dict] = []
        self._group: str | None = None

    @contextlib.contextmanager
    def span(self, kind: str, name: str, parent: dict | None = None):
        """Record a span; its Spark jobs run in a job group named by its id.

        On exit the span gets ``jobs``, the number of jobs Spark's status
        tracker lists for that group.
        """
        sp = {
            "id": f"s{len(self.spans)}",
            "parent": parent["id"] if parent else None,
            "kind": kind,
            "name": name,
            "start": time.time(),
        }
        self.spans.append(sp)
        outer = self._group
        self._set_group(sp["id"], f"{kind}:{name}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            sp["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(sp["id"]))
            self._set_group(outer, None)

    def _set_group(self, group: str | None, description: str | None) -> None:
        self._group = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    def wrap(self, owner, attr: str, kind: str, op_of, on_result=None) -> tuple:
        """Replace ``owner.attr`` by a wrapper that records a layer span.

        ``op_of()`` returns the op span the call belongs to, or None outside
        a timed op (the call then runs unrecorded). ``on_result`` receives
        each recorded call's return value. Returns what restores the
        original: ``(owner, attr, original)``.
        """
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = op_of()
            if op is None:
                return fn(*args, **kwargs)
            with self.span(kind, op["name"], parent=op):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)
        return owner, attr, fn


    def label_call_sites(self) -> list[tuple]:
        """Make Spark record the engine's ``file:line`` as each job's call site.

        PySpark labels only a few actions, with the Python frame that called
        them, and leaves the JVM's own frame on the rest. This wraps every
        public call in ``ACTIONS`` so that it sets the call site to the
        innermost frame under the repository root (the engine, else the
        benchmark), and marks PySpark's call-site depth so that the labels
        PySpark sets itself do not replace it. Returns the restore tuples.
        """
        import importlib

        from pyspark.traceback_utils import SCCallSiteSync

        jsc = self.sc._jsc
        here = os.path.abspath(__file__)
        root = self.root

        def site(attr: str) -> str:
            f = sys._getframe(2)
            while f is not None:
                path = f.f_code.co_filename
                if path.startswith(root) and path != here:
                    return f"{attr} at {path[len(root):]}:{f.f_lineno}"
                f = f.f_back
            return f"{attr} at <outside the repository>"

        def labelled(attr: str, fn):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                if SCCallSiteSync._spark_stack_depth:
                    return fn(*args, **kwargs)
                jsc.setCallSite(site(attr))
                SCCallSiteSync._spark_stack_depth += 1
                try:
                    return fn(*args, **kwargs)
                finally:
                    SCCallSiteSync._spark_stack_depth -= 1
                    jsc.clearCallSite()

            return call

        restore = []
        for qualname, attrs in ACTIONS.items():
            module, cls_name = qualname.rsplit(".", 1)
            owner = getattr(importlib.import_module(module), cls_name)
            for attr in attrs:
                fn = owner.__dict__.get(attr)
                if fn is not None:
                    setattr(owner, attr, labelled(attr, fn))
                    restore.append((owner, attr, fn))
        return restore


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
        "shuffle_read_mb": (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": wr.get("Shuffle Bytes Written", 0) / MB,
    }


def parse_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """Job and stage spans from an uncompressed Spark event log.

    Jobs carry their job group (the layer span id) and call site; stages
    carry task count, summed task metrics, their task run times and the
    call site Spark records in the stage name.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": f"j{jid}",
                    "parent": props.get("spark.jobGroup.id"),
                    "kind": "job",
                    "name": props.get("callSite.short", ""),
                    "start": ev["Submission Time"] / 1e3,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(_task_metrics(ev))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stages[sid] = {
                    "id": f"t{sid}.{info.get('Stage Attempt ID', 0)}",
                    "parent": f"j{stage_job[sid]}" if sid in stage_job else None,
                    "kind": "stage",
                    "name": info.get("Stage Name", ""),
                    "start": info.get("Submission Time", 0) / 1e3,
                    "end": info.get("Completion Time", 0) / 1e3,
                    "sid": sid,
                }
    for sid, st in stages.items():
        ts = tasks.get(sid, [])
        st["tasks"] = len(ts)
        for key in ("run_s", "cpu_s", "gc_s", "spill_mb", "shuffle_read_mb", "shuffle_write_mb"):
            st[key] = sum(t[key] for t in ts)
        runs = sorted(t["run_s"] for t in ts)
        st["task_skew"] = (
            runs[-1] / statistics.median(runs)
            if len(runs) >= 2 and runs[-1] >= 0.05 and statistics.median(runs) > 0
            else 1.0
        )
    return list(jobs.values()), list(stages.values())


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


SPARK_SUMS = ("tasks", "run_s", "cpu_s", "gc_s", "spill_mb", "shuffle_read_mb", "shuffle_write_mb")


def spark_totals(stages: list[dict]) -> dict:
    """Summed stage metrics plus the worst stage's task skew."""
    out = {k: sum(s[k] for s in stages) for k in SPARK_SUMS}
    out["stages"] = len(stages)
    out["task_skew"] = max((s["task_skew"] for s in stages), default=1.0)
    return out


def attribute(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict:
    """Stage totals per op name, per layer kind and per call site.

    Each job hangs under the layer span whose id is its job group; each
    stage under the job that first listed it.
    """
    by_id = {s["id"]: s for s in spans}
    job_span = {j["id"]: by_id.get(j["parent"]) for j in jobs}
    groups: dict[str, dict[str, list[dict]]] = {"op": {}, "layer": {}, "call_site": {}}
    for st in stages:
        layer = job_span.get(st["parent"])
        if layer is None:
            continue
        op = by_id.get(layer["parent"], layer)
        groups["op"].setdefault(op["name"], []).append(st)
        groups["layer"].setdefault(layer["kind"], []).append(st)
        groups["call_site"].setdefault(st["name"], []).append(st)
    return {g: {k: spark_totals(v) for k, v in d.items()} for g, d in groups.items()}
