"""Spans around the benchmark's calls into each layer, and the per-layer
metrics derived from them plus Spark's own reports.

The traced run records, in memory, a span (name, layer, start, end,
parent, operation id) around every call the benchmark makes into the
package, and wraps a few public functions and methods at runtime so that
calls made from inside the package (``VersionedTable`` methods called by
the streaming folds) get spans too. Nothing in the package is edited.

The Spark engine itself (``exec``) is read from its event log, which the
traced run enables through ``get_spark(extra_conf=...)``. Each job is
attributed to the operation whose job group it carries, or else to the
operation whose wall-clock window contains its submission (operations
run one at a time, so the windows do not overlap).
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

# VersionedTable methods that write a commit, and those that read.
LAKE_WRITES = (
    "create", "append", "idempotent_append", "merge", "merge_upsert",
    "update", "delete", "optimize",
)
LAKE_READS = ("read", "read_where", "changes", "history")
PYTHON_EVAL_SCOPES = ("Python", "Pandas", "Arrow")


class Tracer:
    """Span recorder. Disabled, every hook is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.phases: list[dict] = []
        self.progress: list[dict] = []
        self._stack: list[int] = []
        self.current_op: str | None = None
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, layer, attrs)

    @contextmanager
    def _span(self, name: str, layer: str, attrs: dict):
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "op": self.current_op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(), "end": None, **attrs,
            })
            self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            with self._lock:
                self.spans[sid]["end"] = time.time()
                self._stack.remove(sid)

    @contextmanager
    def op(self, spark, op_id: str, name: str, kind: str, pass_no: int):
        """One benchmark operation; the root span of everything it calls."""
        rec = {"op": op_id, "name": name, "kind": kind, "pass": pass_no,
               "start": time.time(), "end": None}
        if self.enabled:
            spark.sparkContext.setJobGroup(op_id, name)
        self.current_op = op_id
        try:
            with self.span(name, "op", kind=kind):
                yield rec
        finally:
            rec["end"] = time.time()
            self.current_op = None
            if self.enabled:
                self.ops.append(rec)
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(attr, layer):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def record_phases(self, df) -> None:
        """Plan ``df`` now and keep the analysis/optimization/planning
        phase times from its QueryExecution tracker."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        with self.span("planning", "plans"):
            qe.executedPlan()
        jvm = df.sparkSession._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        out = {str(k): (ph.endTimeMs() - ph.startTimeMs()) / 1000 for k, ph in phases.items()}
        self.phases.append({"op": self.current_op, "phases": out})


def self_time(spans: list[dict], sid: int) -> float:
    """Span duration minus the part of it its children cover."""
    s = spans[sid]
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == sid)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        a, b = max(a, s["start"]), min(b, s["end"])
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, s["end"] - s["start"] - covered)


# ---------------------------------------------------------------- event log

def _plan_counts(info: dict) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in a sparkPlanInfo tree."""
    name = info.get("nodeName", "")
    ex = int(name == "Exchange")
    bc = int(name == "BroadcastExchange")
    for child in info.get("children", []):
        e, b = _plan_counts(child)
        ex, bc = ex + e, bc + b
    return ex, bc


def parse_event_log(path: Path) -> dict:
    """Jobs, stages, tasks and SQL executions from one event log file."""
    jobs, stages, tasks, sql = {}, {}, [], {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000,
                    "end": ev["Submission Time"] / 1000,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                    "out_bytes": 0,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {"python": False})
                if si.get("Submission Time"):
                    st["submit"] = si["Submission Time"] / 1000
                for rdd in si.get("RDD Info", []):
                    scope = rdd.get("Scope") or ""
                    if any(p in scope for p in PYTHON_EVAL_SCOPES):
                        st["python"] = True
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                om = tm.get("Output Metrics") or {}
                scan_ms = sum(
                    int(a.get("Update") or 0) for a in ti.get("Accumulables", [])
                    if a.get("Name") == "scan time"
                )
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": ti["Launch Time"] / 1000,
                    "failed": bool(ti.get("Failed")),
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000,
                    "peak_mem": tm.get("Peak Execution Memory", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000,
                    "sh_write": sw.get("Shuffle Bytes Written", 0),
                    "in_bytes": im.get("Bytes Read", 0),
                    "in_rows": im.get("Records Read", 0),
                    "out_bytes": om.get("Bytes Written", 0),
                    "scan_s": scan_ms / 1000,
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {"time": ev["time"] / 1000,
                                          "plan": ev.get("sparkPlanInfo") or {}}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["plan"] = ev.get("sparkPlanInfo") or {}
    job_of_stage = {sid: jid for jid, j in jobs.items() for sid in j["stages"]}
    for t in tasks:
        jid = job_of_stage.get(t["stage"])
        if jid is not None:
            jobs[jid]["out_bytes"] += t["out_bytes"]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sql": sql}


def attribute(log: dict, ops: list[dict]) -> dict[str, dict]:
    """Per-operation engine totals: jobs by group or time window, then
    their stages and tasks; SQL executions by time window."""
    ids = {o["op"] for o in ops}

    def op_at(t: float) -> str | None:
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["op"]
        return None

    stage_op: dict[int, str] = {}
    per: dict[str, dict] = {o["op"]: _empty_exec() for o in ops}
    for job in log["jobs"].values():
        oid = job["group"] if job["group"] in ids else op_at(job["submit"])
        job["op"] = oid
        if oid is None:
            continue
        per[oid]["jobs"] += 1
        for sid in job["stages"]:
            stage_op[sid] = oid
    first_launch: dict[int, float] = {}
    for t in log["tasks"]:
        oid = stage_op.get(t["stage"])
        if oid is None:
            continue
        e = per[oid]
        e["tasks"] += 1
        e["failed_tasks"] += t["failed"]
        for k in ("run_s", "cpu_s", "gc_s", "spill", "sh_read", "fetch_wait_s",
                  "sh_write", "in_bytes", "in_rows", "out_bytes", "scan_s"):
            e[k] += t[k]
        e["peak_mem"] = max(e["peak_mem"], t["peak_mem"])
        if log["stages"].get(t["stage"], {}).get("python"):
            e["python_worker_s"] += max(0.0, t["run_s"] - t["cpu_s"])
        first_launch[t["stage"]] = min(first_launch.get(t["stage"], t["launch"]), t["launch"])
    for sid, launch in first_launch.items():
        submit = log["stages"].get(sid, {}).get("submit")
        if submit is not None:
            per[stage_op[sid]]["stages"] += 1
            per[stage_op[sid]]["task_wait_s"] += max(0.0, launch - submit)
    for ex in log["sql"].values():
        oid = op_at(ex["time"])
        if oid is not None:
            e, b = _plan_counts(ex["plan"])
            per[oid]["exchanges"] += e
            per[oid]["broadcasts"] += b
    return per


def _empty_exec() -> dict:
    return dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
         "peak_mem", "spill", "sh_read", "fetch_wait_s", "sh_write", "in_bytes",
         "in_rows", "out_bytes", "scan_s", "python_worker_s", "task_wait_s",
         "exchanges", "broadcasts"), 0)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- per layer

MB = 2**20

# Every per-layer metric with its unit; a workload that does not use a
# layer reports its metrics as measured, i.e. 0.
UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.planning_s": "s",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.scan_s": "s",
    "sources.write_mb": "MB",
    "operators.exchanges": "count", "operators.broadcasts": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.slot_busy_ratio": "ratio", "exec.task_wait_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "exec.peak_exec_mem_mb": "MB", "exec.failed_tasks": "count", "exec.peak_rss_mb": "MB",
    "llm.python_udf_s": "s", "llm.python_worker_s": "s",
    "llm.lsh_candidates": "count", "llm.lsh_precision": "ratio",
    "llm.recall_at_10": "ratio",
    "lake.commit_s": "s", "lake.commit_jobs": "count", "lake.snapshot_s": "s",
    "lake.log_bytes_per_commit": "bytes", "lake.files_per_commit": "count",
    "lake.commit_growth": "ratio", "lake.optimize_s": "s", "lake.rewritten_mb": "MB",
    "lake.stored_bytes_per_user_byte": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.offset_s": "s", "streaming.fold_s": "s", "streaming.ledger_rows": "count",
    "trace.pass_s": "s", "ops_failed_ratio": "ratio",
}
STREAM_PHASES = {
    "streaming.trigger_s": ("triggerExecution",),
    "streaming.add_batch_s": ("addBatch",),
    "streaming.planning_s": ("queryPlanning",),
    "streaming.wal_commit_s": ("walCommit",),
    "streaming.offset_s": ("latestOffset", "getBatch"),
}


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_layer(tracer: Tracer, log: dict, cores: int, start_s: float, warmup_s: float,
              udf_s: float, pass_times) -> dict:
    """Per-layer metrics: sums over one pass, median over the passes."""
    ops = tracer.ops
    passes = sorted({o["pass"] for o in ops})
    pass_of = {o["op"]: o["pass"] for o in ops}
    per_op = attribute(log, ops)
    spans = [s for s in tracer.spans if s["op"] in pass_of and s["end"] is not None]
    jobs = [j for j in log["jobs"].values() if j.get("op") in pass_of]

    def jobs_in(sp):
        return [j for j in jobs if sp["start"] <= j["submit"] <= sp["end"]]

    def lake_top(sp):
        parent = tracer.spans[sp["parent"]] if sp["parent"] is not None else None
        return sp["layer"] == "lake" and not (parent and parent["layer"] == "lake")

    acc: dict[str, list[float]] = {}
    for p in passes:
        ex = _empty_exec()
        for oid, e in per_op.items():
            if pass_of[oid] == p:
                for k, v in e.items():
                    ex[k] = max(ex[k], v) if k == "peak_mem" else ex[k] + v
        sp = [s for s in spans if pass_of[s["op"]] == p]
        wall = _union((j["submit"], j["end"]) for j in jobs if pass_of[j["op"]] == p)
        commits = [s for s in sp if s["name"] in LAKE_WRITES and lake_top(s)]
        optimizes = [s for s in sp if s["name"] == "optimize"]
        prog = [g for g in tracer.progress if pass_of.get(g["op"]) == p]
        vals = {
            "plans.build_s": sum(s["end"] - s["start"] for s in sp if s["name"] == "build"),
            "plans.build_jobs": sum(len(jobs_in(s)) for s in sp if s["name"] == "build"),
            "plans.planning_s": sum(
                sum(ph["phases"].values()) for ph in tracer.phases if pass_of.get(ph["op"]) == p),
            "sources.input_mb": ex["in_bytes"] / MB,
            "sources.input_rows": ex["in_rows"],
            "sources.scan_s": ex["scan_s"],
            "sources.write_mb": ex["out_bytes"] / MB,
            "operators.exchanges": ex["exchanges"],
            "operators.broadcasts": ex["broadcasts"],
            "exec.wall_s": wall,
            "exec.jobs": ex["jobs"], "exec.stages": ex["stages"], "exec.tasks": ex["tasks"],
            "exec.task_run_s": ex["run_s"], "exec.task_cpu_s": ex["cpu_s"],
            "exec.slot_busy_ratio": ex["run_s"] / (cores * wall) if wall else 0.0,
            "exec.task_wait_s": ex["task_wait_s"],
            "exec.shuffle_write_mb": ex["sh_write"] / MB,
            "exec.shuffle_read_mb": ex["sh_read"] / MB,
            "exec.shuffle_fetch_wait_s": ex["fetch_wait_s"],
            "exec.spill_mb": ex["spill"] / MB, "exec.gc_s": ex["gc_s"],
            "exec.peak_exec_mem_mb": ex["peak_mem"] / MB,
            "exec.failed_tasks": ex["failed_tasks"],
            "llm.python_worker_s": ex["python_worker_s"],
            "lake.commit_s": sum(s["end"] - s["start"] for s in commits),
            "lake.commit_jobs": (sum(len(jobs_in(s)) for s in commits) / len(commits)
                                 if commits else 0.0),
            "lake.snapshot_s": sum(s["end"] - s["start"] for s in sp
                                   if s["name"] in LAKE_READS and lake_top(s)),
            "lake.commit_growth": _growth([s["end"] - s["start"] for s in commits]),
            "lake.optimize_s": sum(s["end"] - s["start"] for s in optimizes),
            "lake.rewritten_mb": sum(j["out_bytes"] for s in optimizes for j in jobs_in(s)) / MB,
            "streaming.fold_s": sum(self_time(tracer.spans, s["id"]) for s in sp
                                    if s["name"].startswith("fold_")),
        }
        for name, keys in STREAM_PHASES.items():
            vals[name] = sum(g.get(k, 0) for g in prog for k in keys) / 1000
        for k, v in vals.items():
            acc.setdefault(k, []).append(float(v))
    out = {k: median(v) for k, v in acc.items()}
    out.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "llm.python_udf_s": udf_s,
        "trace.pass_s": median(pass_times),
    })
    return out


def _growth(durations: list[float]) -> float:
    """Median of the last tenth over median of the first tenth."""
    if len(durations) < 2:
        return 0.0
    n = max(1, len(durations) // 10)
    first = median(durations[:n])
    return median(durations[-n:]) / first if first else 0.0


def per_op_records(tracer: Tracer, log: dict) -> list[dict]:
    """One record per operation: its spans with self times and its
    engine totals, keyed so that two runs can be diffed op by op."""
    per_op = attribute(log, tracer.ops)
    out = []
    for o in tracer.ops:
        sp = [s for s in tracer.spans if s["op"] == o["op"] and s["end"] is not None]
        out.append({
            "op": o["op"], "name": o["name"], "kind": o["kind"], "pass": o["pass"],
            "wall_s": o["end"] - o["start"],
            "spans": [{"name": s["name"], "layer": s["layer"],
                       "start": s["start"] - o["start"], "dur_s": s["end"] - s["start"],
                       "self_s": self_time(tracer.spans, s["id"]), "parent": s["parent"],
                       "id": s["id"]} for s in sp],
            "phases": [ph["phases"] for ph in tracer.phases if ph["op"] == o["op"]],
            "exec": per_op[o["op"]],
        })
    return out
