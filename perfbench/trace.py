"""Spans, py4j round-trip counting and Spark event-log roll-ups.

Tracing is on only in ``--trace 1`` runs.  Spans are taken in the
benchmark's own files around calls into the engine's public functions
(and around the ``FsClient`` methods and the ``write_partitioned`` sink
the verbs and the curate pipeline call); nothing inside the package is
changed.  Spans live in memory and are written out once, at the end.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span is ``name`` (``<layer>.<what>``),
    ``start``/``end`` (``perf_counter`` seconds), ``parent`` (span id or
    None), ``run`` (the run id) and ``py4j`` (gateway round-trips made
    while it was open).

    ``installed`` says whether the wrappers were put in place at all (only
    in traced runs); ``enabled`` switches recording on and off between
    passes, so one traced run can time untraced passes for the overhead.
    While disabled, spans and wrappers pass straight through."""

    def __init__(self, installed: bool, run_id: str):
        self.installed = installed
        self.enabled = installed
        self.run_id = run_id
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        calls0 = self.py4j_calls
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["py4j"] = self.py4j_calls - calls0
            self.spans.append(rec)

    def count_py4j(self, gateway_client) -> None:
        """Count every command the Python side sends over the gateway."""
        if not self.installed:
            return
        send = gateway_client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if self.enabled:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        gateway_client.send_command = counted

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        ``name``; ``after(span, args)`` may annotate the span once the
        call returned."""
        if not self.installed:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args)
                return result

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as handle:
            json.dump(self.spans, handle)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file:{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _codegen_stages(plan_info: dict) -> int:
    count = 0
    todo = [plan_info]
    while todo:
        node = todo.pop()
        if node.get("nodeName", "").startswith("WholeStageCodegen"):
            count += 1
        todo.extend(node.get("children", []))
    return count


def read_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Roll the application's event log up per job group.

    Returns ``{group: {jobs, stages, tasks, executor_run_s,
    executor_cpu_s, gc_s, shuffle_write_bytes, spill_bytes, bytes_read,
    rows_read, codegen_stages}}``; ``codegen_stages`` counts
    WholeStageCodegen nodes in the final (post-AQE) plan of every SQL
    execution the group ran."""
    paths = glob.glob(f"{log_dir}/{app_id}*")
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "bytes_read": 0, "rows_read": 0,
            "codegen_stages": 0,
        })

    with open(paths[0]) as handle:
        for line in handle:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                bucket(group)["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    stage_group[st["Stage ID"]] = group
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_group.setdefault(int(exec_id), group)
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    bucket(group)["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if group is None or not metrics:
                    continue
                b = bucket(group)
                b["tasks"] += 1
                b["executor_run_s"] += metrics["Executor Run Time"] / 1e3
                b["executor_cpu_s"] += metrics["Executor CPU Time"] / 1e9
                b["gc_s"] += metrics["JVM GC Time"] / 1e3
                b["shuffle_write_bytes"] += metrics[
                    "Shuffle Write Metrics"]["Shuffle Bytes Written"]
                b["spill_bytes"] += (metrics["Memory Bytes Spilled"]
                                     + metrics["Disk Bytes Spilled"])
                b["bytes_read"] += metrics["Input Metrics"]["Bytes Read"]
                b["rows_read"] += metrics["Input Metrics"]["Records Read"]
            elif kind in (_SQL_START, _SQL_ADAPTIVE):
                # the last plan seen for an execution is its final one
                final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for exec_id, group in exec_group.items():
        if exec_id in final_plan:
            bucket(group)["codegen_stages"] += _codegen_stages(
                final_plan[exec_id]
            )
    return out
