from perfbench.trace import Span, Tracer


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(name, a, b, parent, "op") for name, a, b, parent in spans]
    return t


def test_self_time_subtracts_children():
    t = _tracer([
        ("rep", 0.0, 10.0, None),
        ("build", 1.0, 4.0, 0),
        ("exec", 5.0, 9.0, 0),
        ("inner", 2.0, 3.0, 1),
    ])
    assert t.self_times() == [3.0, 2.0, 4.0, 1.0]


def test_self_time_counts_overlapping_children_once():
    t = _tracer([
        ("parent", 0.0, 10.0, None),
        ("a", 1.0, 6.0, 0),
        ("b", 4.0, 8.0, 0),
    ])
    assert t.self_times()[0] == 3.0


def test_self_time_clips_children_to_parent():
    t = _tracer([("parent", 0.0, 5.0, None), ("late", 4.0, 9.0, 0)])
    assert t.self_times()[0] == 4.0


def test_spans_nest_and_share_the_operation_id():
    t = Tracer()
    with t.operation("q1@1"):
        with t.span("outer"):
            with t.span("inner"):
                pass
    outer, inner = t.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.op == inner.op == "q1@1"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_wrap_records_a_span_per_call():
    t = Tracer()
    f = t.wrap("layer.call", lambda x: x + 1)
    assert f(1) == 2 and f(2) == 3
    assert len(t.durations("layer.call")) == 2


def test_parse_size():
    from perfbench.trace import parse_size

    assert parse_size("10.3 MiB") == 10.3 * 2**20
    assert parse_size("1,024 B") == 1024
    assert parse_size("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert parse_size("") == 0.0
