"""The driver sweeps queries() in registry order and caps the sweep
(observed r3/r4: first 50) — insertion order decides which entries get a
correctness row.  The policy is AUTOMATIC rotation: least-recently
externally verified first, from the driver's own CORRECTNESS_r*.json
records, so no query can go two consecutive capped rounds unchecked and
the policy survives cap changes without hand-edits.  Pin it here."""

from __future__ import annotations

import glob
import json
import os

from pdf_craft_spark.queries import (
    ORACLES,
    QUERIES,
    _LAST_VERIFIED,
    _last_verified_rounds,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OBSERVED_CAP = 50  # driver sweep size observed in r3 and r4


def test_order_is_least_recently_verified_first():
    rounds = [_LAST_VERIFIED.get(q, -1) for q in QUERIES]
    assert rounds == sorted(rounds), "registry must be ordered oldest-verified first"


def test_ties_break_on_the_query_name():
    """Within one last-verified round the order is alphabetical, so which
    never-verified queries a capped sweep reaches depends on the names
    alone, never on which module holds a query or the import order."""
    by_round: dict[int, list[str]] = {}
    for q in QUERIES:
        by_round.setdefault(_LAST_VERIFIED.get(q, -1), []).append(q)
    for rnd, names in by_round.items():
        assert names == sorted(names), f"round {rnd} is not in name order"


def test_rotation_skips_only_the_most_recently_verified():
    """Cap-agnostic rotation invariant: every query a sweep skips must be
    at least as recently verified as every query it checks — i.e. the
    order is monotone in last-verified round, so staleness is bounded by
    ceil(|registry| / cap) rounds and nothing can starve.  (The registry
    has outgrown 2x the observed cap, so the stronger within-two-rounds
    claim no longer holds by arithmetic — full coverage now takes
    ceil(105/50) = 3 rounds, which the oldest-first order achieves.)"""
    keys = list(QUERIES)
    skipped = keys[OBSERVED_CAP:]
    if not skipped:
        return
    newest_swept = max(
        _LAST_VERIFIED.get(q, -1) for q in keys[:OBSERVED_CAP]
    )
    for q in skipped:
        assert _LAST_VERIFIED.get(q, -1) >= newest_swept, (
            f"{q} would be skipped this round but is staler than a swept "
            f"query — rotation is broken"
        )


def test_last_verified_matches_records():
    """The computed history must reflect the actual driver records."""
    records = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    assert records, "driver correctness records expected at repo root"
    last = _last_verified_rounds()
    assert last == _LAST_VERIFIED
    # spot-check against the newest record file (errored rows — err set —
    # are deliberately NOT counted as verified)
    newest = max(records)
    with open(newest) as f:
        rows = json.load(f)
    for name, row in rows.items():
        if isinstance(row, dict) and row.get("err") is not None:
            continue
        assert name in last


def test_every_query_has_an_oracle_or_is_known_exception():
    # the full registry is oracle-backed today; if a genuinely
    # non-SQL-expressible op is ever added, list it here explicitly
    known_rows_only: set[str] = set()
    missing = set(QUERIES) - set(ORACLES) - known_rows_only
    assert not missing, sorted(missing)


def test_oracles_follow_registry_order():
    assert list(ORACLES) == [k for k in QUERIES if k in ORACLES]
