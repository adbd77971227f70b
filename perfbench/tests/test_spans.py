import pytest

from perfbench.spans import Span, Tracer, covered, self_time


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_covered_child_time():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 8.0, 12.0, 0)]
    # children cover [1, 6] and [8, 10] of the root
    assert self_time(root, kids) == pytest.approx(3.0)
    assert self_time(root, []) == pytest.approx(10.0)


def test_nested_self_times_sum_to_the_root_wall():
    root = _span(0, 0.0, 10.0)
    a = _span(1, 1.0, 6.0, 0)
    a1 = _span(2, 2.0, 3.0, 1)
    a2 = _span(3, 4.0, 5.5, 1)
    b = _span(4, 7.0, 9.0, 0)
    spans = [root, a, a1, a2, b]

    def kids(s):
        return [c for c in spans if c.parent == s.id]

    selfs = {s.id: self_time(s, kids(s)) for s in spans}
    assert selfs == pytest.approx({0: 3.0, 1: 2.5, 2: 1.0, 3: 1.5, 4: 2.0})
    assert sum(selfs.values()) == pytest.approx(root.dur)


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_tracer_nests_spans_and_tags_jobs_per_span():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("op", op=7) as root:
        with tr.span("child", staged=True) as child:
            pass
        with tr.span("other"):
            pass
    assert child.parent == root.id and child.op == 7 and child.attrs["staged"]
    assert [s.name for s in tr.children(root)] == ["child", "other"]
    # each span's jobs carry its group; leaving restores the parent's
    assert sc.groups == ["span-0", "span-1", "span-0", "span-2", "span-0", None]
    total = sum(tr.self_time(s) for s in tr.spans)
    assert total == pytest.approx(root.dur)
