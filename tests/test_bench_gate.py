"""The one bench regression gate, ``bench.gate_verdicts``, on synthetic
timings (no Spark): the share gate catches a per-query regression, a
uniform host slowdown passes when the canary sees it, and the absolute
backstop catches a uniform slowdown the canary does not explain."""

from __future__ import annotations

import bench

BASE = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}


def test_uniform_slowdown_seen_by_the_canary_passes():
    now = {n: 2.0 * t for n, t in BASE.items()}
    assert bench.gate_verdicts(now, BASE, canary_ratio=2.0) == dict.fromkeys(
        BASE, True
    )


def test_doubled_share_over_half_a_second_is_flagged():
    # a: share 10% -> 25% (budget 20%), 2 s over baseline, yet inside
    # its absolute backstop of 4 s: only the share gate catches it
    now = dict(BASE, a=3.0)
    assert bench.gate_verdicts(now, BASE, canary_ratio=1.0) == {
        "a": False,
        "b": True,
        "c": True,
        "d": True,
    }


def test_sub_half_second_wobble_is_not_flagged():
    # e: share 1% -> 4.8%, past its 3% budget, but only 0.4 s over
    base = dict(BASE, e=0.1)
    now = dict(base, e=0.5)
    assert bench.gate_verdicts(now, base, canary_ratio=1.0) == dict.fromkeys(
        base, True
    )


def test_uniform_slowdown_unseen_by_the_canary_trips_the_backstop():
    now = {n: 5.0 * t for n, t in BASE.items()}
    assert bench.gate_verdicts(now, BASE, canary_ratio=1.0) == dict.fromkeys(
        BASE, False
    )


def test_ids_without_a_baseline_are_not_gated():
    now = dict(BASE, new_query=100.0)
    assert set(bench.gate_verdicts(now, BASE, canary_ratio=1.0)) == set(BASE)
