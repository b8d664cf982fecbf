"""Self-time arithmetic on synthetic spans."""

import threading

import pytest

from layertrace import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_of_nested_spans():
    spans = [
        Span(1, "flow", "api", 0.0, 10.0),
        Span(2, "render", "project", 1.0, 3.0, parent=1),
        Span(3, "swap", "materialize", 4.0, 9.0, parent=1),
        Span(4, "write", "materialize", 5.0, 6.0, parent=3),
    ]
    st = self_times(spans)
    assert st == {1: pytest.approx(3.0), 2: pytest.approx(2.0), 3: pytest.approx(4.0), 4: pytest.approx(1.0)}


def test_overlapping_children_from_executor_threads_count_once():
    # four model tasks on four executor threads under one executor span
    spans = [Span(1, "plans.executor", "plans", 0.0, 10.0)]
    spans += [Span(i + 2, "api.model", "api", a, b, parent=1)
              for i, (a, b) in enumerate([(0.5, 4.0), (1.0, 6.0), (2.0, 3.0), (7.0, 9.5)])]
    st = self_times(spans)
    # children cover [0.5, 6.0] and [7.0, 9.5]: 8.0 of the 10.0 s
    assert st[1] == pytest.approx(2.0)
    assert all(st[i] == pytest.approx(spans[i - 1].duration) for i in range(2, 6))


def test_tracer_parents_worker_spans_to_the_open_main_span():
    tracer = Tracer()
    outer = tracer.open("plans.executor", "plans")

    def work():
        tracer.close(tracer.open("api.model", "api"))

    threads = [threading.Thread(target=work) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    inner = tracer.open("project.render", "project")
    tracer.close(inner)
    tracer.close(outer)
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    assert all(s.parent == outer.id for s in by_name["api.model"])
    assert inner.parent == outer.id
    assert outer.parent is None
    assert self_times(tracer.spans)[outer.id] <= outer.duration
