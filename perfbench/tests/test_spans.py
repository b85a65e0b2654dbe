"""Span self time, ``driver_s`` and the event-log join to job groups."""

import json

import pytest

from perfbench import spans
from perfbench.spans import Span


def _span(name, sid, parent, start, end, trace_id=None):
    return Span(name, sid, parent, trace_id or parent or sid, start, end)


def _event_log(jobs, tasks):
    """JSON lines in the shape Spark's event log writes them."""
    lines = []
    for jid, group, start, end, stages in jobs:
        props = {"spark.jobGroup.id": group} if group else {}
        lines.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                      "Submission Time": int(start * 1000), "Stage IDs": stages,
                      "Properties": props})
        lines.append({"Event": "SparkListenerJobEnd", "Job ID": jid,
                      "Completion Time": int(end * 1000)})
    for stage, run_ms, shuffle, spill in tasks:
        lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                      "Task Metrics": {
                          "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                          "Output Metrics": {"Bytes Written": 7},
                          "Input Metrics": {"Records Read": 3}}})
    lines.append({"Event": "SparkListenerApplicationEnd", "Timestamp": 0})
    return [json.dumps(x) for x in lines]


def test_self_time_subtracts_children_once():
    parent = _span("query.map_agg", "s1", None, 100.0, 110.0)
    kids = [_span("query.plan", "s2", "s1", 100.0, 103.0),
            _span("query.optimize", "s3", "s1", 102.0, 104.0),   # overlaps s2
            _span("other", "s4", None, 105.0, 200.0)]            # not a child
    assert spans.self_time(parent, [parent] + kids) == pytest.approx(6.0)
    assert spans.self_time(kids[0], [parent] + kids) == pytest.approx(3.0)


def test_coverage_counts_top_level_spans_only():
    ss = [_span("a", "s1", None, 0.0, 4.0), _span("b", "s2", "s1", 1.0, 2.0),
          _span("c", "s3", None, 6.0, 8.0)]
    assert spans.coverage(ss, 0.0, 10.0) == pytest.approx(0.6)


def test_event_log_joins_jobs_to_span_subtrees():
    g = spans.GROUP_PREFIX
    ss = [_span("query.disagg", "s1", None, 100.0, 110.0),
          _span("query.plan", "s2", "s1", 100.0, 102.0),
          _span("query.disagg", "s3", None, 120.0, 121.0)]
    jobs, tasks = spans.read_event_log(_event_log(
        jobs=[(0, g + "s2", 100.5, 101.5, [0]),          # under the child
              (1, g + "s1", 103.0, 108.0, [1, 2]),
              (2, g + "s1", 107.0, 109.0, [2, 3]),       # stage 2 reused: skipped
              (3, "someone-else", 104.0, 105.0, [4]),    # not ours
              (4, None, 111.0, 112.0, [5])],
        tasks=[(0, 100, 10, 0),
               (1, 1000, 1, 0), (1, 1000, 1, 0), (1, 4000, 1, 5),
               (2, 500, 0, 0), (3, 200, 0, 0), (4, 9999, 9, 9), (5, 1, 1, 1)]))
    assert jobs[0].group == g + "s2" and jobs[1].stages == [1, 2]
    m = spans.layer_metrics(ss, jobs, tasks)
    d = m["query.disagg"]
    assert d["jobs"] == 3                     # its own two plus the child's
    assert d["wall_s"] == pytest.approx(11.0)
    # s1 is covered by jobs over [100.5, 101.5] and [103, 109]; s3 by none
    assert d["driver_s"] == pytest.approx((10.0 - 7.0) + 1.0)
    assert d["exec_run_s"] == pytest.approx(0.1 + 6.0 + 0.5 + 0.2)
    assert d["shuffle_write_bytes"] == 13 and d["spill_bytes"] == 5
    assert d["bytes_written"] == 7 * 6 and d["records_read"] == 3 * 6
    # costliest stage is 1: max 4 s over median 1 s
    assert d["task_skew"] == pytest.approx(4.0)
    p = m["query.plan"]
    assert (p["jobs"], p["driver_s"]) == (1, pytest.approx(1.0))
    assert p["exec_run_s"] == pytest.approx(0.1)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("index.search") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nests_and_shares_trace_ids():
    t = spans.Tracer(enabled=True)
    with t.span("query.combine") as top:
        with t.span("query.plan") as child:
            pass
    with t.span("index.search") as other:
        pass
    assert child.parent == top.id and child.trace_id == top.id
    assert other.parent is None and other.trace_id == other.id != top.id
    assert [s.name for s in t.spans] == ["query.plan", "query.combine", "index.search"]
    assert top.start <= child.start <= child.end <= top.end
