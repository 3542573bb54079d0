"""Traced-run instrumentation: driver-side span wrappers around the
package's layers, and the Spark event-log parser that turns stage, task
and SQL-node metrics into per-operation records.

Wrappers must be installed BEFORE ``data_integration_project_spark.plans``
is imported: the plan modules bind operator functions by name at import
time, so a wrapper installed later never sees their calls.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import time
from collections import defaultdict

OPERATOR_MODULES = [
    "dedup", "similarity", "multimodal", "bpe", "quality", "entity_rules", "dwh", "sketch",
]
EAGER_METHODS = {
    "localCheckpoint": "local_checkpoint",
    "persist": "persist",
    "cache": "persist",
    "collect": "collect",
}
#: a plan node is a Python/Arrow stage iff it carries this SQL metric
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span totals, recorded only while ``active`` (the timed
    section), so warm-up and output checks leave no trace."""

    def __init__(self) -> None:
        self.active = False
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)

    def _wrap(self, key: str, fn):
        """Count ``fn`` under ``key``; only the outermost call of a key
        counts, so an operator calling its own module is not doubled."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or self._depth[key]:
                return fn(*args, **kwargs)
            self._depth[key] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[key] += time.perf_counter() - t0
                self.calls[key] += 1
                self._depth[key] -= 1

        return wrapper

    def install(self) -> None:
        try:  # the concrete class of a classic (non-Connect) session
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        import data_integration_project_spark.sources as sources
        import data_integration_project_spark.sources.registry as registry

        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"data_integration_project_spark.operators.{short}")
            key = f"operators.{short}"
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    setattr(mod, name, self._wrap(key, obj))
                elif inspect.isclass(obj):  # e.g. quality.RuleSet.validate
                    for meth, fn in list(vars(obj).items()):
                        if not meth.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, meth, self._wrap(key, fn))
        load = self._wrap("sources.load_table", registry.load_table)
        registry.load_table = load
        sources.load_table = load
        for meth, key in EAGER_METHODS.items():
            setattr(DataFrame, meth, self._wrap(f"eager.{key}", getattr(DataFrame, meth)))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _rows_in(node: dict) -> list[int]:
    """Accumulator ids counting the rows a Python node consumes: the
    first row counter down its first-child chain (a Filter's or scan's
    output rows, or an Exchange's records read)."""
    for child in node.get("children", [])[:1]:
        for m in child["metrics"]:
            if m["name"] in ("number of output rows", "records read"):
                return [m["accumulatorId"]]
        return _rows_in(child)
    return []


def _python_accumulators(plan: dict, acc: dict[str, set]) -> None:
    for node in _walk(plan):
        names = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
        if PY_SENT in names:
            acc["mb_to"].add(names[PY_SENT])
            acc["mb_from"].add(names.get(PY_RECV))
            acc["rows_to"].update(_rows_in(node))


def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def op_records(events: list[dict], ops: list[dict], group_prefix: str) -> list[dict]:
    """One record per timed operation. A job belongs to the op whose job
    group it carries; jobs of streaming queries run under the stream's
    own group, so they go to the op whose wall window holds their
    submission time (one client, so windows do not overlap)."""
    by_group = {op["group"]: i for i, op in enumerate(ops)}

    def owner(job: dict) -> int | None:
        g = (job.get("Properties") or {}).get("spark.jobGroup.id", "")
        if g.startswith(group_prefix):
            return by_group.get(g)
        t = job["Submission Time"]
        for i, op in enumerate(ops):
            if op["start_ms"] <= t <= op["end_ms"]:
                return i
        return None

    stage_op: dict[int, int] = {}
    recs = [defaultdict(float) for _ in ops]
    py_acc = [{"mb_to": set(), "mb_from": set(), "rows_to": set()} for _ in ops]
    exec_op: dict[int, int] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            i = owner(ev)
            if i is None:
                continue
            recs[i]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_op[sid] = i
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_op[int(eid)] = i
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]].append(ev["sparkPlanInfo"])
        elif kind == "SparkListenerStageCompleted":
            i = stage_op.get(ev["Stage Info"]["Stage ID"])
            if i is not None:
                recs[i]["stages"] += 1
        elif kind.endswith("QueryProgressEvent"):
            t = ev["progress"]["timestamp"]
            i = _op_at(ops, t)
            if i is not None:
                d = ev["progress"]["durationMs"]
                recs[i]["streaming.batches"] += 1
                recs[i]["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                recs[i]["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                recs[i]["streaming.commit_s"] += (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)
                ) / 1e3
    for eid, i in exec_op.items():
        for plan in plans.get(eid, ()):
            _python_accumulators(plan, py_acc[i])
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        i = stage_op.get(ev["Stage ID"])
        if i is None:
            continue
        r, tm = recs[i], ev.get("Task Metrics") or {}
        r["tasks"] += 1
        r["failed_tasks"] += bool(ev["Task Info"].get("Failed"))
        r["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        r["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        r["scan_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        r["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        r["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB
        r["peak_exec_mem_mb"] = max(
            r["peak_exec_mem_mb"], tm.get("Peak Execution Memory", 0) / MB
        )
        acc = py_acc[i]
        for a in ev["Task Info"].get("Accumulables", ()):
            aid = a.get("ID")
            if aid in acc["rows_to"]:
                r["python.rows_to_worker"] += float(a.get("Update") or 0)
            elif aid in acc["mb_to"]:
                r["python.mb_to_worker"] += float(a.get("Update") or 0) / MB
            elif aid in acc["mb_from"]:
                r["python.mb_from_worker"] += float(a.get("Update") or 0) / MB
    return [dict(op, **r) for op, r in zip(ops, recs)]


def _op_at(ops: list[dict], iso_ts: str) -> int | None:
    from datetime import datetime

    t = datetime.fromisoformat(iso_ts.replace("Z", "+00:00")).timestamp() * 1e3
    for i, op in enumerate(ops):
        if op["start_ms"] <= t <= op["end_ms"]:
            return i
    return None
