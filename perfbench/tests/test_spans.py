import time

from spans import TimedSink, Tracer


def test_self_time_subtracts_direct_children():
    tr = Tracer(True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    st = tr.self_times()
    assert abs(st["outer"] + st["inner"] - (outer["end"] - outer["start"])) < 1e-9
    assert st["inner"] >= 0.03 and st["outer"] >= 0.02


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_timed_sink_records_every_call():
    seen = []
    sink = TimedSink(lambda df, b: seen.append(b), Tracer(False))
    sink("df", 0)
    sink("df", 1)
    assert seen == [0, 1]
    assert [c["batch_id"] for c in sink.calls] == [0, 1]
    assert all(c["end"] >= c["start"] for c in sink.calls)
