from perfbench.spans import Span, Tracer, covered


def test_covered_counts_overlapping_children_once_and_clips():
    parent = Span(0, "op", "bench", 0.0, 10.0)
    kids = [Span(1, "a", "spark", 1.0, 4.0), Span(2, "b", "spark", 3.0, 5.0),
            Span(3, "c", "spark", 9.0, 12.0)]
    assert covered(parent, kids) == 4.0 + 1.0


def test_self_time_plus_children_accounts_for_parent():
    tr = Tracer(True)
    with tr.span("op", "bench") as op:
        with tr.span("build", "plans"):
            pass
    tr.add("stage 0", "spark", op.start, op.end, op.id)
    selfs = tr.self_times()
    kids = tr.children()
    for s in tr.spans:
        assert abs(selfs[s.id] + covered(s, kids.get(s.id, ())) - s.duration) < 1e-12
    assert selfs[op.id] == 0.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", "bench") as s:
        assert s is None
    assert tr.spans == []
