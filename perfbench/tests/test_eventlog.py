"""The event-log parser on a small log recorded from a real Spark run:
one traced op with a ``scan`` span (one stage of two tasks) and an
``agg`` span (a shuffle map stage and a result stage), then one job
outside any span. The log is trimmed to the fields the parser reads."""

from pathlib import Path

import pytest

from perfbench.spans import GroupStats, Span, Tracer, parse_event_log, span_stats

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def groups():
    with open(FIXTURE) as f:
        return parse_event_log(f)


def test_tasks_are_summed_per_job_group(groups):
    assert set(groups) == {"span-1", "span-2", ""}
    scan = groups["span-1"].metrics()
    assert scan["tasks"] == 2
    assert scan["executor_run_s"] == pytest.approx(0.232)
    assert scan["executor_cpu_s"] == pytest.approx(0.090301613)
    assert scan["shuffle_write_bytes"] == 0
    assert 0 < scan["cpu_busy_ratio"] < 1


def test_shuffle_counters_and_stage_split(groups):
    agg = groups["span-2"]
    m = agg.metrics()
    assert m["tasks"] == 3
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 563
    assert m["gc_s"] == pytest.approx(0.146)
    assert sorted(len(r) for r in agg.stage_runs.values()) == [1, 2]
    # one two-task stage: the slowest task over the median task
    assert m["task_skew"] >= 1.0


def test_jobs_outside_spans_are_kept_apart(groups):
    assert groups[""].metrics()["tasks"] == 5


def test_span_stats_sum_the_subtree(groups):
    tr = Tracer()
    tr.spans = [Span(0, "op", 0.0, 3.0, None, 0),
                Span(1, "scan", 0.0, 1.0, 0, 0),
                Span(2, "agg", 1.0, 3.0, 0, 0)]
    root = span_stats(tr, groups, tr.spans[0]).metrics()
    assert root["tasks"] == 5
    assert root["executor_run_s"] == pytest.approx(
        groups["span-1"].counters["executor_run_s"]
        + groups["span-2"].counters["executor_run_s"])
    assert span_stats(tr, groups, tr.spans[1]).metrics()["tasks"] == 2


def test_blank_lines_and_unknown_events_are_skipped():
    lines = ["", '{"Event": "SparkListenerLogStart"}',
             '{"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": null}']
    assert parse_event_log(lines) == {}


def test_first_stage_wall_spans_its_task_launches_and_finishes(groups):
    # span-2 ran a two-task map stage, then a one-task result stage
    agg = groups["span-2"]
    assert sorted(agg.stage_bounds) == [1, 3]
    lo, hi = agg.stage_bounds[1]
    assert agg.first_stage_wall() == pytest.approx((hi - lo) / 1e3)
    assert 0 < agg.first_stage_wall() < sum(agg.stage_runs[1]) + 1
    assert GroupStats().first_stage_wall() == 0.0
