"""Span bookkeeping and self-time arithmetic."""

import threading

import pytest

from tracer import Span, Tracer, covered, self_times


def test_covered_unions_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4  # clipped to the parent
    assert covered([(1, 9), (2, 3), (4, 5)], 0, 10) == 8  # nested


def test_self_time_subtracts_children():
    spans = [
        Span(1, None, "op", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 4.0),
        Span(3, 1, "b", 3.0, 6.0),  # overlaps a: concurrent children
        Span(4, 2, "c", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_tracer_parents_and_totals():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("op") as op:
        clock.t = 1
        with tr.span("storage.write") as w:
            clock.t = 3
        clock.t = 4
    assert w.parent == op.id and op.parent is None
    assert tr.total("storage.write") == 2
    assert self_times(tr.spans)[op.id] == 2


def test_explicit_parent_across_threads():
    tr = Tracer()
    with tr.span("plans.refresh") as refresh:
        parent = tr.current()

        def work():
            with tr.span("models.silver.v", parent=parent):
                with tr.span("storage.write"):
                    pass

        th = threading.Thread(target=work)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    view = next(s for s in tr.spans if s.name == "models.silver.v")
    write = next(s for s in tr.spans if s.name == "storage.write")
    assert view.parent == refresh.id
    assert write.parent == view.id


def test_wrap_records_and_unwrap_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    original = Mod.f
    tr.wrap(Mod, "f", "layer.f")
    assert Mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["layer.f"]
    tr.unwrap_all()
    assert Mod.f is original
