from spans import Span, Tracer, covered, self_times, skew, subtree


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 2), (8, 12)], 0, 10) == 4
    assert covered([], 0, 10) == 0
    assert covered([(3, 3)], 0, 10) == 0


def test_self_time_is_duration_minus_children():
    spans = [
        Span(0, "op", 0, None, 0.0, 10.0),
        Span(1, "a", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 3.0, 7.0),     # overlaps a: union is 1..7
        Span(3, "c", 0, 2, 3.5, 4.5),
    ]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 3.0, 2: 3.0, 3: 1.0}
    # nested spans: self times of a subtree add up to the root's wall
    # time whenever siblings do not overlap
    disjoint = spans[:1] + [Span(1, "a", 0, 0, 1.0, 3.0),
                            Span(2, "b", 0, 0, 3.0, 7.0), spans[3]]
    st = self_times(disjoint)
    assert abs(sum(st.values()) - disjoint[0].dur) < 1e-12


def test_tracer_nesting_and_disabled():
    tr = Tracer()
    tr.op = 3
    with tr.span("op"):
        with tr.span("inner"):
            pass
    root, inner = tr.spans
    assert inner.parent == root.sid and inner.op == root.op == 3
    assert root.start <= inner.start <= inner.end <= root.end
    assert [s.sid for s in subtree(tr.spans, root)] == [0, 1]
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_skew():
    assert skew([1.0, 1.0, 1.0]) == 1.0
    assert skew([1.0, 2.0, 4.0]) == 2.0
    assert skew([0.0, 0.0]) == 1.0
