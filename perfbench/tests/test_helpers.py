"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, layers, stats
from perfbench.trace import Span, Tracer, layer_of, self_times

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------ percentiles


def test_nearest_rank():
    assert stats.nearest_rank([5, 1, 3], 0.5) == 3
    assert stats.nearest_rank(list(range(1, 101)), 0.9) == 90
    assert stats.nearest_rank([7], 0.99) == 7


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(99))) is None  # p90 leaves 9 beyond
    q, v = stats.tail(list(range(1, 101)))
    assert (q, v) == (0.9, 90)
    q, v = stats.tail(list(range(1, 1001)))  # p99 leaves exactly 10
    assert (q, v) == (0.99, 990)
    assert stats.tail(list(range(1, 10001)))[0] == 0.999


def test_summary_reports_median_count_and_only_a_supported_tail():
    s = stats.summary([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5
    assert not any(k.startswith("p9") for k in s)
    s = stats.summary([float(i) for i in range(100)])
    assert s["p90"] == 89.0


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10


# -------------------------------------------------------- job attribution


def test_attribute_by_submission_time_window():
    jobs = [eventlog.Job(i, t, []) for i, t in enumerate((50, 100, 150, 250, 300))]
    windows = [("a", 100, 200), ("b", 300, 400)]
    assert eventlog.attribute(jobs, windows) == {1: "a", 2: "a", 4: "b"}


def test_attribute_ignores_window_order():
    jobs = [eventlog.Job(0, 350, []), eventlog.Job(1, 150, [])]
    assert eventlog.attribute(jobs, [("b", 300, 400), ("a", 100, 200)]) == {0: "b", 1: "a"}


# ----------------------------------------------------- event-log parsing


def _fixture() -> eventlog.EventLog:
    with open(FIXTURE) as fh:
        return eventlog.parse(fh)


def test_parse_fixture():
    log = _fixture()
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[2].succeeded is False and log.jobs[1].end_ms == 2600
    assert log.stage_job[2] == 1  # job 3 lists stage 2 again but reuses it
    assert len(log.tasks) == 5 and sum(t.failed for t in log.tasks) == 1


def test_per_op_on_fixture():
    # op "x" owns job 0; op "y" owns jobs 1 and 2 (overlapping, as from a
    # pool thread); job 3 is submitted between ops and belongs to none
    per = eventlog.per_op(_fixture(), [("x", 1400, 1800), ("y", 2000, 2650)])
    x, y = per["x"], per["y"]
    assert (x["jobs"], x["stages"], x["tasks"]) == (1, 1, 1)
    assert x["job_s"] == pytest.approx(0.2)
    assert (y["jobs"], y["stages"], y["tasks"], y["failed_tasks"], y["failed_jobs"]) == (2, 3, 3, 1, 1)
    assert y["job_s"] == pytest.approx(0.5)  # union of [2100,2600] and [2200,2400]
    assert y["executor_cpu_s"] == pytest.approx(0.15)
    assert y["gc_s"] == pytest.approx(0.015)
    assert (y["shuffle_write_bytes"], y["shuffle_read_bytes"]) == (4096, 4096)
    assert (y["spill_bytes"], y["output_bytes"]) == (512, 2048)
    assert sorted(y["task_s"]) == pytest.approx([0.04, 0.19, 0.19])


# ------------------------------------------------------------------ spans


def test_self_time_subtracts_covered_children():
    spans = [
        Span("sql.facade.sql", 0.0, 10.0, None, "op"),
        Span("tables.table.merge", 1.0, 6.0, 0, "op"),
        Span("tables.table.df", 4.0, 8.0, 0, "op"),  # overlaps its sibling
        Span("tables.metadata.commit_metadata", 2.0, 3.0, 1, "op"),
    ]
    assert self_times(spans) == pytest.approx([3.0, 4.0, 4.0, 1.0])


def test_layer_of():
    assert layer_of("tables.metadata.commit_metadata") == "tables.metadata"
    assert layer_of("sql.facade.sql") == "sql.facade"
    assert layer_of("operators.build") == "operators"


def test_tracer_wraps_nests_and_restores():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = Tracer()
    original = Box.outer
    tracer.wrap(Box, "outer", "x.outer")
    tracer.wrap(Box, "inner", "x.inner")
    tracer.op_id = "op1"
    assert Box().outer() == 2
    tracer.uninstall()
    assert Box.outer is original
    outer, inner = tracer.spans
    assert (outer.name, outer.parent, inner.parent) == ("x.outer", None, 0)
    assert inner.op_id == "op1"


def test_tracer_runs_result_hooks_outside_the_span():
    class Box:
        def f(self):
            return 1

    tracer = Tracer()
    seen = []
    tracer.wrap(Box, "f", "x.f", lambda sp, *_: seen.append(sp.end))
    Box().f()
    tracer.uninstall()
    assert seen == [tracer.spans[0].end] and seen[0] > 0


def test_benchmark_json_lists_the_metrics_the_runner_emits():
    from perfbench.run import END_TO_END

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
