"""Span self-time arithmetic and the percentile rule."""

import pytest

from spans import Span, Tracer, latency_summary, nearest_rank, self_times, tail_percentile


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 5.0, 6.0, parent=0),
        Span("a.inner", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_merges_overlapping_children_and_clips():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 5.0, parent=0),
        Span("b", 3.0, 7.0, parent=0),  # overlaps a: covered is 1..7
        Span("c", 9.0, 12.0, parent=0),  # runs past the parent: clipped at 10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_never_negative():
    spans = [Span("op", 0.0, 1.0), Span("a", 0.0, 1.0, parent=0), Span("b", 0.0, 1.0, parent=0)]
    assert self_times(spans) == pytest.approx([0.0, 1.0, 1.0])


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_latency_summary_reports_p90_only_from_100_samples():
    assert "p90_ms" not in latency_summary([float(i) for i in range(99)])
    s = latency_summary([float(i) for i in range(1, 101)])
    assert s["count"] == 100 and s["p90_ms"] == 90.0 and s["p50_ms"] == 50.5


def test_nearest_rank():
    assert nearest_rank([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert nearest_rank([1.0, 2.0], 100) == 2.0


def test_tracer_records_parents_and_op_ids():
    tr = Tracer(enabled=True)
    with tr.span("op", op=4):
        with tr.span("layer"):
            pass
    with tr.span("after"):
        pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 4), ("layer", 0, 4), ("after", None, None)]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", op=1) as sp:
        assert sp is None
    assert tr.spans == []
