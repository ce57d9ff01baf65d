"""Span bookkeeping: self time, nesting, and job-group labelling."""

import json

import pytest

from perfbench.trace import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(4, 4)]) == 0


def test_self_time_is_duration_minus_children():
    spans = [
        Span(1, None, "op.x", 0, 0.0, 10.0),
        Span(2, 1, "a.f", 0, 1.0, 4.0),
        Span(3, 1, "b.g", 0, 5.0, 9.0),
        Span(4, 3, "b.h", 0, 6.0, 7.0),
    ]
    assert self_times(spans) == pytest.approx({1: 3.0, 2: 3.0, 3: 3.0, 4: 1.0})


class FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.history.append(gid)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_innermost_span_owns_the_job_group_and_parent_is_restored(tmp_path):
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("op.w", op=3) as outer:
        with tr.span("layer.call") as inner:
            assert sc.props["spark.jobGroup.id"] == str(inner.id)
        assert sc.props["spark.jobGroup.id"] == str(outer.id)
    assert sc.props["spark.jobGroup.id"] is None
    assert inner.parent == outer.id and inner.op == 3
    assert tr.descendants(outer.id) == {outer.id, inner.id}
    assert [s.name for s in tr.named("layer.")] == ["layer.call"]
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["id"] for r in recs] == [1, 2]
    assert recs[0]["self"] == pytest.approx(recs[0]["duration"] - recs[1]["duration"])


def test_untraced_tracer_still_times():
    tr = Tracer()
    with tr.span("x.y") as s:
        pass
    assert s.end >= s.start and tr.spans == [s]
