"""Per-operation Spark metrics from an uncompressed Spark event log.

Each measured operation runs under its own job group. Jobs submitted from
threads the program starts itself do not inherit the group, so a job without
one is given to the operation whose wall interval contains its submission.
SQL operator metrics come from the plans the log records for each query
execution and from the accumulator updates of the tasks that ran them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

METRICS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_mb",
    "spill_mb",
    "executor_run_s",
    "stage_wall_s",
    "driver_gap_s",
)


@dataclass(frozen=True)
class Op:
    label: str  # the job group, unique per operation
    kind: str
    start_ms: float  # wall clock, epoch milliseconds
    end_ms: float


def read_events(path: str):
    """The events of one application's log file."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _owner(ops: list[Op], group, submitted) -> str | None:
    """The label of the operation a job belongs to, or None."""
    for op in ops:
        if op.label == group:
            return group
    for op in ops:
        if op.start_ms <= submitted <= op.end_ms:
            return op.label
    return None


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_metrics(events, ops: list[Op]) -> dict[str, dict[str, float]]:
    """kind -> metric -> mean per operation of that kind, for the operations
    in ``ops``. Stage walls are clipped to the operation's interval."""
    job_stages: dict[int, list[int]] = {}
    job_op: dict[int, str] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    stage_run_ms: dict[int, float] = defaultdict(float)
    stage_shuffle: dict[int, float] = defaultdict(float)
    stage_spill: dict[int, float] = defaultdict(float)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = _owner(ops, props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
            if label is not None:
                job_op[ev["Job ID"]] = label
                job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            stage_tasks[sid] += 1
            m = ev.get("Task Metrics") or {}
            stage_run_ms[sid] += m.get("Executor Run Time", 0)
            stage_shuffle[sid] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            stage_spill[sid] += m.get("Disk Bytes Spilled", 0)

    per_op: dict[str, dict[str, float]] = {op.label: dict.fromkeys(METRICS, 0.0) for op in ops}
    op_stages: dict[str, set[int]] = defaultdict(set)
    for job, label in job_op.items():
        per_op[label]["jobs"] += 1
        # a job lists the stages it would skip too; only run stages count
        op_stages[label].update(s for s in job_stages[job] if s in stage_span)
    for op in ops:
        row = per_op[op.label]
        spans = []
        for s in op_stages[op.label]:
            row["stages"] += 1
            row["tasks"] += stage_tasks[s]
            row["executor_run_s"] += stage_run_ms[s] / 1e3
            row["shuffle_write_mb"] += stage_shuffle[s] / 1e6
            row["spill_mb"] += stage_spill[s] / 1e6
            lo, hi = stage_span[s]
            lo, hi = max(lo, op.start_ms), min(hi, op.end_ms)
            if hi > lo:
                spans.append((lo, hi))
        wall = _union_ms(spans)
        row["stage_wall_s"] = wall / 1e3
        row["driver_gap_s"] = (op.end_ms - op.start_ms - wall) / 1e3

    out: dict[str, dict[str, float]] = {}
    for op in ops:
        acc = out.setdefault(op.kind, dict.fromkeys(METRICS, 0.0))
        for m in METRICS:
            acc[m] += per_op[op.label][m]
    n_kind = defaultdict(int)
    for op in ops:
        n_kind[op.kind] += 1
    return {k: {m: v / n_kind[k] for m, v in acc.items()} for k, acc in out.items()}


def _top_generate_rows_id(node) -> int | None:
    """Accumulator id of the output-row count of the Generate node nearest
    the plan's root, or None when the plan has none."""
    level = [node]
    while level:
        for n in level:
            if n.get("nodeName") == "Generate":
                for m in n.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        return m["accumulatorId"]
        level = [c for n in level for c in n.get("children", [])]
    return None


def expanded_rows(events, ops: list[Op]) -> dict[str, float]:
    """kind -> mean per operation of that kind of the rows emitted by the
    Generate node nearest the root of its SQL plans: for a pair expansion
    written as explodes, the candidate pairs it generated. Adaptive
    re-plans are followed; kinds without such a node are left out."""
    exec_op: dict[int, str] = {}
    exec_ids: dict[int, set[int]] = defaultdict(set)
    watched: set[int] = set()
    rows: dict[int, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            label = _owner(ops, props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
            if ex is not None and label is not None:
                exec_op[int(ex)] = label
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            acc = _top_generate_rows_id(ev["sparkPlanInfo"])
            if acc is not None:
                exec_ids[ev["executionId"]].add(acc)
                watched.add(acc)
        elif kind == "SparkListenerTaskEnd":
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a["ID"] in watched:
                    rows[a["ID"]] += int(a["Update"])
    per_op: dict[str, int] = defaultdict(int)
    for ex, label in exec_op.items():
        if ex in exec_ids:
            per_op[label] += sum(rows[i] for i in exec_ids[ex])
    out: dict[str, list[int]] = defaultdict(list)
    for op in ops:
        if op.label in per_op:
            out[op.kind].append(per_op[op.label])
    return {k: sum(v) / len(v) for k, v in out.items()}
