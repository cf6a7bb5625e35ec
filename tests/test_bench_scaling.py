"""bench.py's scaling headline rule: superlinear attempts are disclosed
but never headlined while a plausible attempt exists."""

from __future__ import annotations

from bench import scaling_headline


def _attempts(*effs):
    return [{"efficiency": e} for e in effs]


def test_superlinear_attempt_is_not_the_headline():
    # the round-6 record: 1.373 was the median of all three attempts
    headline, best = scaling_headline(_attempts(1.373, 0.93, 0.91))
    assert headline["efficiency"] == 0.93  # upper middle of (0.91, 0.93)
    assert best == 0.93


def test_headline_is_the_median_attempt():
    assert scaling_headline(_attempts(0.80, 0.95, 0.70))[0]["efficiency"] == 0.80
    assert scaling_headline(_attempts(0.97))[0]["efficiency"] == 0.97
    assert scaling_headline(_attempts(1.0, 0.84))[0]["efficiency"] == 1.0


def test_all_superlinear_falls_back_to_every_attempt():
    headline, best = scaling_headline(_attempts(1.2, 1.4, 1.1))
    assert headline["efficiency"] == 1.2
    assert best == 1.4
