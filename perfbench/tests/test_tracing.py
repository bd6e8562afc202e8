"""Span recording and the event-log parser."""

import os

import pytest

from tracing import Tracer, _union_ms, parse_event_log
from workloads import high_percentile

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_spans_nest_and_record_parents():
    tr = Tracer()
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
        with tr.span("inner"):
            pass
    assert i["parent"] == o["id"] and o["parent"] is None
    assert o["start"] <= i["start"] <= i["end"] <= o["end"]
    assert [s["name"] for s in tr.spans] == ["outer", "inner", "inner"]


def test_union_of_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert _union_ms([]) == 0


def test_high_percentile_needs_ten_samples_beyond():
    assert high_percentile([1.0, 2.0, 3.0])[0] == 50.0
    pct, v = high_percentile([float(i) for i in range(100)])
    assert pct == 90.0 and v == 89.0


def test_parser_counts_a_captured_log():
    """A log captured from a two-job run on local[4] (AQE off, one shuffle
    partition), trimmed to the fields the parser reads: job 0 (group
    span-0) writes ``range(4000, 4 partitions)`` to the noop sink, one
    stage of 4 tasks; job 1 (group span-1) counts it grouped by ``id % 3``,
    a 4-task map stage and a 1-task reduce stage."""
    log = parse_event_log(LOG)
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs_where({"span-0"}) == [0]
    assert log.jobs_where({"span-0", "span-1"}) == [0, 1]
    c0 = log.counters([0])
    assert (c0["jobs"], c0["stages"], c0["tasks"]) == (1, 1, 4)
    c1 = log.counters([1])
    assert (c1["jobs"], c1["stages"], c1["tasks"]) == (1, 2, 5)
    assert c0["run_s"] == pytest.approx(0.367)
    assert c0["cpu_s"] == pytest.approx(0.145061435)
    assert c1["run_s"] == pytest.approx(1.769)
    assert c1["shuffle_write_mb"] * 1024 * 1024 == pytest.approx(335)
    assert c1["shuffle_read_mb"] == pytest.approx(c1["shuffle_write_mb"])
    both = log.counters([0, 1])
    for k in ("tasks", "run_s", "cpu_s", "deserialize_s"):
        assert both[k] == pytest.approx(c0[k] + c1[k])
    assert 0 < both["cpu_s"] and 0 < both["run_s"]
    jobs_ms, stages_ms = log.busy_ms([0, 1])
    assert 0 < stages_ms <= jobs_ms
