"""Tests of the benchmark's own arithmetic: span self time, the event-log
parser, and the answer check. Run with `python3 -m pytest perfbench`."""

from __future__ import annotations

import os

import pytest

from perfbench import run, workloads
from perfbench.tracing import Span, Tracer, phase_metrics, read_events, self_time

HERE = os.path.dirname(os.path.abspath(__file__))


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("rep") as root:
        clock.now = 1.0
        with tr.span("a") as a:
            clock.now = 2.0
            with tr.span("a.inner"):
                clock.now = 2.5
            clock.now = 4.0
        clock.now = 5.0
        with tr.span("b"):
            clock.now = 7.0
        clock.now = 10.0
    assert root.duration == 10.0
    assert tr.self_time(root.span_id) == pytest.approx(10.0 - 3.0 - 2.0)
    assert tr.self_time(a.span_id) == pytest.approx(3.0 - 0.5)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    assert tr.total("a.inner") == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "x", 0, 1.0, 4.0), Span(2, "y", 0, 3.0, 6.0), Span(3, "z", 0, 9.0, 12.0)]
    # union of [1,6] and [9,10] (clipped to the parent) covers 6 s
    assert self_time(parent, kids) == pytest.approx(4.0)


def test_event_log_parser_on_recorded_log():
    # recorded from a local[2] session: phase p1 reads a 2-file Parquet
    # table with a noop write; p2 reads it again through mapInPandas and
    # a grouped sum
    events = read_events(os.path.join(HERE, "testdata", "small_eventlog.jsonl"))
    p1 = phase_metrics(events, "p1")
    assert (p1["jobs"], p1["tasks"], p1["input_rows"], p1["files_bytes"]) == (2, 3, 2000, 17488)
    assert p1["shuffle_write_bytes"] == 0 and p1["python_s"] == 0.0
    p2 = phase_metrics(events, "p2")
    assert (p2["jobs"], p2["tasks"], p2["shuffle_write_bytes"]) == (2, 3, 461)
    assert p2["python_s"] == pytest.approx(3.25)
    assert p2["gc_s"] == pytest.approx(0.024)
    assert p2["task_skew"] >= 1.0
    assert phase_metrics(events, "absent")["jobs"] == 0


@pytest.mark.parametrize(
    "reference, perturbed",
    [
        ((136_119, 454_691), (136_119, 454_692)),
        ((25_000, 2_472_013_789), (24_999, 2_472_013_789)),
        (((12, 123, 4_724_235), (11, 72, 2_335_189)), ((12, 123, 4_724_235), (11, 73, 2_335_189))),
    ],
)
def test_answer_check_fails_on_perturbed_count(reference, perturbed):
    assert run.check_answer(reference, reference)
    assert not run.check_answer(perturbed, reference)
    assert not run.check_answer(None, reference)


def test_timed_reps_count_wrong_answers_as_failed():
    reference = (136_119, 454_691)
    answers = iter([reference, (136_119, 454_690), None, reference])

    def fake_rep(kind):
        return 1.0, next(answers)

    times, failed = run.timed_reps(fake_rep, reference, 0.0, min_reps=4)
    assert times == [1.0, 1.0]
    assert failed == 2


@pytest.mark.parametrize("seed", [0, 1, 199, 200, 81_920, 2**31, 2**63 - 1, -1])
@pytest.mark.parametrize("n, limit", [(1 << 17, workloads.ID_LIMIT), (15, workloads.ID_LIMIT),
                                      (5_000, workloads.SITE_ID_LIMIT)])
def test_every_seed_gives_ids_below_the_fixture_limit(seed, n, limit):
    start = workloads.id_start(seed, n, limit)
    assert 0 <= start and start + n <= limit
    assert start % n == 0
    if 0 <= seed * n and seed * n + n <= limit:
        assert start == seed * n


def test_every_layer_metric_has_a_unit():
    assert set(run.layer_defaults({"spatial_join.pairs": 3})) == set(run.UNITS)
    with pytest.raises(KeyError):
        run.layer_defaults({"no.such_metric": 1})
