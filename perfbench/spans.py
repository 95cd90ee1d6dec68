"""Spans recorded around the benchmark's calls into the engine, and the
Spark event log that attributes jobs and tasks to them.

A span has a name, start, end, parent and, for an operation, an op id.
The op id is also set as the Spark job group, so the event log ties
each job to the op that launched it. Jobs started from a thread the
engine creates (the build's stats thread) carry no group; they go to
the innermost op span open when they were submitted. Each job is also
attributed to an engine module, and the function in it, by its
``callSite.short`` (``collect at .../plans/engine.py:449``).
"""

from __future__ import annotations

import ast
import contextlib
import json
import os
import re
import time

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Span recorder. Disabled, ``span`` records nothing and sets no job
    group, so untraced runs do the same calls with no tracing work."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op_id = f"op{sid}" if op else None
        rec = {"id": sid, "name": name, "parent": parent, "op": op_id,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        outer_group = None
        if op_id:
            outer_group = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, op_id)
        try:
            yield rec
        finally:
            if op_id:
                self.sc.setLocalProperty(GROUP_KEY, outer_group)
            rec["t1"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["t1"] - s["t0"]) - covered_s(
        [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])], s["t0"], s["t1"])
        for s in spans}


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# --- event log -------------------------------------------------------------

def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from the (finished) event log in ``log_dir``: id -> record
    with submit/end (epoch s), group, call site, SQL output path and the
    summed task metrics of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql_paths: dict[str, str] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "submit": ev["Submission Time"] / 1e3,
                        "end": None, "group": props.get(GROUP_KEY),
                        "callsite": props.get("callSite.short", ""),
                        "sql": props.get("spark.sql.execution.id"),
                        "tasks": 0, "deser_s": 0.0, "run_s": 0.0,
                        "sched_s": 0.0, "result_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    run_ms = m.get("Executor Run Time", 0)
                    deser_ms = m.get("Executor Deserialize Time", 0)
                    ser_ms = m.get("Result Serialization Time", 0)
                    get_ms = info.get("Getting Result Time", 0)
                    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    job["tasks"] += 1
                    job["run_s"] += run_ms / 1e3
                    job["deser_s"] += deser_ms / 1e3
                    # the Spark UI's scheduler delay
                    job["sched_s"] += max(0, wall_ms - run_ms - deser_ms - ser_ms
                                          - get_ms) / 1e3
                    job["result_bytes"] += m.get("Result Size", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan = ev.get("physicalPlanDescription", "")
                    path = _write_path(plan)
                    if path:
                        sql_paths[str(ev.get("executionId"))] = path
    for job in jobs.values():
        job["writes"] = sql_paths.get(str(job["sql"]))
        if job["end"] is None:
            job["end"] = job["submit"]
    return jobs


_WRITE_ARGS = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


def _write_path(plan: str) -> "str | None":
    """Output path of a write plan (InsertIntoHadoopFsRelationCommand)."""
    m = _WRITE_ARGS.search(plan)
    return m.group(1) if m else None


class CallSites:
    """``callSite.short`` -> (module, function) for engine code, by the
    innermost function definition that contains the call's line."""

    def __init__(self, root: str):
        self.pkg = os.path.join(root, "codebased_spark") + os.sep
        self._defs: dict[str, list] = {}

    def _functions(self, path: str) -> list:
        if path not in self._defs:
            try:
                with open(path) as fh:
                    tree = ast.parse(fh.read())
            except (OSError, SyntaxError):
                tree = None
            self._defs[path] = [] if tree is None else sorted(
                (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)))
        return self._defs[path]

    def __call__(self, callsite: str) -> tuple[str, str]:
        where = callsite.rsplit(" at ", 1)[-1]
        path, _, line = where.rpartition(":")
        if not path.startswith(self.pkg) or not line.isdigit():
            return "other", ""
        module = path[len(self.pkg):-3].replace(os.sep, ".")
        name = ""
        for lo, hi, fn in self._functions(path):
            if lo <= int(line) <= hi:
                name = fn  # later (inner) definitions override
        return module, name


def attribute(jobs: dict[int, dict], spans: list[dict]) -> dict[str, list[dict]]:
    """op id -> jobs it launched: by job group, else (threads the engine
    starts) the innermost op span open at the job's submission."""
    ops = [s for s in spans if s["op"]]
    by_op: dict[str, list[dict]] = {s["op"]: [] for s in ops}
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        op = job["group"] if job["group"] in by_op else None
        if op is None:
            open_ops = [s for s in ops if s["t0"] <= job["submit"] <= s["t1"]]
            if open_ops:
                op = max(open_ops, key=lambda s: s["t0"])["op"]
        if op is not None:
            by_op[op].append(job)
    return by_op
