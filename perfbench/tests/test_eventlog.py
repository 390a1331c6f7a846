"""The event-log parser and span attribution, on a checked-in fixture.

The fixture holds one span's job (two tasks), a child span's job (one
task with a spill and an output), a job outside any span, and a job that
never finished.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.jsonl")


class _NoSpark:
    sparkContext = None


def _tracer() -> tracing.Tracer:
    """Span 0 over [100, 110] s with one child, span 1 over [102, 106] s."""
    tr = tracing.Tracer(_NoSpark())
    tr.spans = [
        tracing.Span(0, "day", None, 100.0, 110.0, jobs=1, stages=1, tasks=2,
                     children=[1]),
        tracing.Span(1, "storage.write_day", 0, 102.0, 106.0, jobs=1, stages=1,
                     tasks=1),
    ]
    return tr


def test_parse_groups_tasks_by_job_group():
    log = tracing.parse_event_log(FIXTURE)
    assert log["jobs"] == {
        0: ("perfbench-0", 100.5, 101.7),
        1: ("perfbench-1", 103.0, 105.5),
        2: (None, 120.0, 120.2),
    }
    g0 = log["groups"]["perfbench-0"]
    assert g0["tasks"] == 2
    assert g0["task_s"] == pytest.approx(2.0)
    assert g0["cpu_s"] == pytest.approx(0.75)
    assert g0["input_bytes"] == 3000
    assert g0["shuffle_write_bytes"] == 500
    g1 = log["groups"]["perfbench-1"]
    assert (g1["output_bytes"], g1["spill_bytes"]) == (4096, 96)
    assert log["groups"][None]["tasks"] == 1


def test_parse_reads_a_rolling_log_directory(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    lines = open(FIXTURE, encoding="utf-8").read().splitlines(keepends=True)
    (roll / "events_2_local-1").write_text("".join(lines[8:]))
    (roll / "events_1_local-1").write_text("".join(lines[:8]))
    (roll / "appstatus_local-1").write_text("")
    (roll / ".events_1_local-1.crc").write_bytes(b"\x00\x01")
    assert tracing.parse_event_log(str(tmp_path)) == tracing.parse_event_log(FIXTURE)


def test_span_stats_include_children_and_split_driver_time():
    tr = _tracer()
    log = tracing.parse_event_log(FIXTURE)
    day = tracing.span_stats(tr, log, 0)
    assert day["s"] == pytest.approx(10.0)
    assert day["self_s"] == pytest.approx(6.0)  # 10 s minus the child's 4 s
    assert (day["jobs"], day["stages"], day["tasks"]) == (2, 2, 3)
    assert day["task_s"] == pytest.approx(4.0)
    # jobs cover [100.5, 101.7] and [103.0, 105.5]: 3.7 of the 10 s
    assert day["driver_only_s"] == pytest.approx(6.3)
    assert day["parallelism"] == pytest.approx(0.4)
    child = tracing.span_stats(tr, log, 1)
    assert (child["jobs"], child["task_s"], child["spill_bytes"]) == (1, 2.0, 96)
    assert child["driver_only_s"] == pytest.approx(1.5)


def test_named_stats_sums_spans_of_one_name():
    tr = _tracer()
    log = tracing.parse_event_log(FIXTURE)
    assert tracing.named_stats(tr, log, 0, "storage.write_day")["output_bytes"] == 4096
    assert tracing.named_stats(tr, log, 0, "storage.load") == {}


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 9)], 0, 6) == pytest.approx(4.0)
    assert tracing.covered([], 0, 1) == 0.0
