"""The benchmark's own arithmetic: the tail percentile rule, the failure
share, span self time and the attribution of Spark jobs to spans.

    python3 -m pytest perfbench/tests -q
"""

import math

import pytest

from perfbench import stats
from perfbench.tracing import Tracer, self_times, subtree


@pytest.mark.parametrize("n", range(11, 301))
def test_tail_percentile_is_highest_with_ten_beyond(n):
    values = [float(i) for i in range(n)]
    p = stats.tail_percentile(n)
    tail = stats.nearest_rank(values, p)
    assert sum(v > tail for v in values) >= stats.TAIL_MIN_BEYOND
    if p < 100:
        nxt = stats.nearest_rank(values, p + 1)
        assert sum(v > nxt for v in values) < stats.TAIL_MIN_BEYOND


def test_tail_percentile_known_values():
    assert stats.tail_percentile(11) == 9
    assert stats.tail_percentile(16) == 37
    assert stats.tail_percentile(37) == 72
    assert stats.tail_percentile(110) == 90
    assert stats.tail_percentile(1000) == 99


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(10)


def test_nearest_rank_and_median():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(v, 50) == 3.0
    assert stats.nearest_rank(v, 100) == 5.0
    assert stats.nearest_rank(v, 1) == 1.0
    assert stats.median(v) == 3.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_failure_share():
    assert stats.failure_share(40, 0) == 0.0
    assert stats.failure_share(40, 10) == 0.25
    assert stats.failure_share(3, 3) == 1.0
    for attempted, failed in ((0, 0), (5, 6), (5, -1)):
        with pytest.raises(ValueError):
            stats.failure_share(attempted, failed)


def test_self_time_subtracts_covered_part_once():
    # children overlap each other and one runs past the parent's end
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    assert stats.self_time(0.0, 10.0, [(8.0, 12.0), (-1.0, 1.0)]) == 7.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0
    assert math.isclose(stats.self_time(0.0, 1.0, [(0.25, 0.5), (0.75, 0.8)]), 0.7)


class _Info:
    stageIds = ()


class _FakeSpark:
    """The slice of SparkContext the tracer uses: local properties per
    thread, job ids per job group, and a status store that is always settled."""

    def __init__(self):
        self.props = {}
        self.by_group = {}
        self.next_job = 0

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def run_job(self):
        group = self.props.get("spark.jobGroup.id")
        self.by_group.setdefault(group, []).append(self.next_job)
        self.next_job += 1

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.by_group.get(group, []))

    def getJobInfo(self, job):
        return _Info()

    @property
    def _jsc(self):
        return self

    def sc(self):
        return self

    def listenerBus(self):
        return self

    def waitUntilEmpty(self):
        pass


def _tracer() -> Tracer:
    t = Tracer()
    t.sc = _FakeSpark()
    return t


def test_jobs_are_attributed_to_the_innermost_span():
    t = _tracer()
    sc = t.sc
    sc.setLocalProperty("spark.jobGroup.id", "outer-group")
    with t.op(7):
        sc.run_job()  # root's own job
        with t.span("sources.read"):
            sc.run_job()
            sc.run_job()
            with t.span("plans.build"):
                sc.run_job()
            sc.run_job()
        with t.span("sinks.write"):
            pass
    # the caller's job group is restored after the op
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    sc.run_job()
    spans = {s.name: s for s in t.op_spans[7]}
    assert len(spans["op"].jobs) == 1
    assert len(spans["sources.read"].jobs) == 3
    assert len(spans["plans.build"].jobs) == 1
    assert spans["sinks.write"].jobs == []
    assert sc.getJobIdsForGroup("outer-group") == [5]
    read = spans["sources.read"]
    assert [s.name for s in subtree(t.op_spans[7], read)] == [
        "sources.read", "plans.build"]


def test_spans_outside_an_op_record_nothing():
    t = _tracer()
    with t.span("sources.read") as s:
        t.sc.run_job()
    assert s is None
    assert not t.op_spans
    assert t.sc.getJobIdsForGroup(None) == [0]


def test_self_times_of_an_op():
    t = _tracer()
    with t.op(1):
        with t.span("sources.read"):
            with t.span("plans.build"):
                pass
    spans = t.op_spans[1]
    own = self_times(spans)
    by = {s.name: s for s in spans}
    for s in spans:
        kids = [c for c in spans if c.parent is s]
        assert math.isclose(
            own[id(s)],
            (s.end - s.start) - sum(c.end - c.start for c in kids),
            abs_tol=1e-12,
        )
    assert by["plans.build"].parent is by["sources.read"]
    assert by["sources.read"].parent is by["op"]
