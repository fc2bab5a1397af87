"""tools/measure.best_of's rep rule, in pure Python: a scripted clock
stands in for Spark, so each run "takes" a chosen duration."""

from __future__ import annotations

import types

import pytest

from tools import measure


@pytest.mark.parametrize(
    "reps, durations, calls, best",
    [
        # slow and flat: exactly reps runs
        (3, [2.0, 2.0, 2.0, 2.0], 3, 2.0),
        # sub-second: keeps going up to FAST_REPS
        (3, [0.5] * 9, 5, 0.5),
        # run 3 beat the best by >5%, so a 4th; run 4 did not: stop
        (3, [3.0, 2.9, 2.0, 1.95, 9.0], 4, 1.95),
        # still improving at FAST_REPS: capped there
        (2, [10.0, 8.0, 6.0, 4.0, 2.0, 1.5], 5, 2.0),
        # the best is not the last run
        (3, [2.0, 1.2, 1.5, 9.0], 3, 1.2),
        # reps=1: one slow run is enough (a first run never counts
        # as improved) ...
        (1, [2.0, 1.0, 1.0], 1, 2.0),
        # ... but a sub-second one still repeats
        (1, [0.5] * 9, 5, 0.5),
    ],
)
def test_best_of_rep_rule(monkeypatch, reps, durations, calls, best):
    clock = types.SimpleNamespace(now=0.0, calls=0)

    def run():
        clock.now += durations[clock.calls]
        clock.calls += 1
        return clock.calls

    monkeypatch.setattr(measure, "FAST_REPS", 5)
    monkeypatch.setattr(
        measure, "time", types.SimpleNamespace(perf_counter=lambda: clock.now)
    )
    best_s, last = measure.best_of(run, reps)
    assert best_s == pytest.approx(best)
    assert last == calls == clock.calls
