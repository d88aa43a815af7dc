"""Per-layer metrics of a traced run, and per-operation summaries.

Per-layer values are per traced cycle (totals divided by the number of
traced cycles). A layer that a workload does not touch reports 0.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

from perfbench import eventlog, stats
from perfbench.trace import layer_of, self_times

LAYERS = ("tables.metadata", "tables.table", "tables.catalog", "sql.facade", "operators")

PER_LAYER = {
    "session.start_s": "s",
    "tables.metadata.commit_s": "s",
    "tables.metadata.commit_bytes": "bytes",
    "tables.metadata.file_entries": "count",
    "tables.metadata.load_s": "s",
    "tables.metadata.loads": "count",
    "tables.metadata.commit_conflicts": "count",
    "tables.table.append.self_s": "s",
    "tables.table.df.build_s": "s",
    "tables.table.files_scanned": "count",
    "tables.table.files_live": "count",
    "tables.table.rows_rewritten_per_row_changed": "ratio",
    "tables.table.files_rewritten": "count",
    "tables.table.delete_files_live": "count",
    "sql.facade.sql_s": "s",
    "sql.facade.plan_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.job_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.task_tail_over_p50": "ratio",
    "driver.gap_s": "s",
    "driver.cpu_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

_SPARK_SUMS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
)


def op_summaries(ops) -> dict:
    """Latency summary per op kind: median, tail and sample count."""
    by_kind = defaultdict(list)
    for op in ops:
        by_kind[op.kind].append(op.wall_s)
    return {kind: stats.summary(walls) for kind, walls in by_kind.items()}


def _read_eventlog(directory: str) -> eventlog.EventLog:
    lines: list[str] = []
    for path in sorted(glob.glob(f"{directory}/*")):
        if os.path.isfile(path):
            with open(path) as fh:
                lines.extend(fh)
    return eventlog.parse(lines)


def per_layer(run, tracer, traced_cycles: range, counts: list[dict], session_s: float,
              overhead_s: float, eventlog_dir: str) -> dict:
    ops = [op for op in run.ops if op.cycle in traced_cycles]
    cycles = len(traced_cycles)
    spans = tracer.spans
    selfs = self_times(spans)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["trace.overhead_s"] = overhead_s
    m["trace.spans"] = len(spans) / cycles

    def dur(sp) -> float:
        return sp.end - sp.start

    for sp, own in zip(spans, selfs):
        name = sp.name
        if name == "tables.metadata.commit_metadata":
            m["tables.metadata.commit_s"] += dur(sp)
            m["tables.metadata.commit_bytes"] += sp.attrs.get("bytes", 0)
            m["tables.metadata.file_entries"] = max(
                m["tables.metadata.file_entries"], sp.attrs.get("file_entries", 0))
            m["tables.metadata.commit_conflicts"] += sp.attrs.get("error") == "CommitConflict"
        elif name == "tables.metadata.load_metadata":
            m["tables.metadata.load_s"] += dur(sp)
            m["tables.metadata.loads"] += 1
        elif name == "tables.table.append":
            m["tables.table.append.self_s"] += own
        elif name == "tables.table.df":
            m["tables.table.df.build_s"] += dur(sp)
        elif name == "sql.facade.sql":
            key = "sql.facade.plan_s" if sp.attrs.get("kind") == "select" else "sql.facade.sql_s"
            m[key] += dur(sp)
        elif name in ("operators.build", "operators.exec"):
            m[f"{name}_s"] += dur(sp)
        layer = layer_of(name)
        if layer in LAYERS:
            m[f"{layer}.self_s"] += own

    log = _read_eventlog(eventlog_dir)
    windows = [(op.op_id, op.start * 1e3, op.end * 1e3) for op in ops]
    per_op = eventlog.per_op(log, windows)
    tasks: list[float] = []
    for rec in per_op.values():
        for key in _SPARK_SUMS:
            m[f"spark.{key}"] += rec[key]
        tasks.extend(rec["task_s"])
    t = stats.tail(tasks)
    if t is not None and statistics.median(tasks) > 0:
        m["spark.task_tail_over_p50"] = t[1] / statistics.median(tasks)
    builds = [(str(i), sp.start * 1e3, sp.end * 1e3)
              for i, sp in enumerate(spans) if sp.name == "operators.build"]
    m["operators.eager_jobs"] = len(eventlog.attribute(log.jobs.values(), builds))
    m["driver.gap_s"] = sum(op.wall_s for op in ops) - m["spark.job_s"]
    m["driver.cpu_s"] = sum(op.cpu_s for op in ops)

    per_cycle = {k: v / cycles for k, v in m.items()
                 if k not in ("session.start_s", "trace.overhead_s", "trace.spans",
                              "tables.metadata.file_entries", "spark.task_tail_over_p50")}
    m.update(per_cycle)
    for key in counts[0] if counts else ():
        m[key] = statistics.mean(c[key] for c in counts)
    return m
