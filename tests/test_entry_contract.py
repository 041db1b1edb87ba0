"""Verify-order hygiene: a CORRECTNESS_r*.json file records exactly the
first 50 of ``queries()``, so the order must cover the registry once,
lead with ``CHANGED`` and then re-verify the stalest evidence first."""

import __spark_entry__ as entry


def test_verify_first_is_consistent_with_registry():
    order = list(entry._ordered())
    reg = entry.registry()
    assert sorted(order) == sorted(reg), "every query exactly once"
    assert len(order) == len(set(order))
    changed = entry.CHANGED
    assert len(changed) == len(set(changed)), "duplicate names in CHANGED"
    assert set(changed) <= set(reg)
    assert order[: len(changed)] == changed
    last = entry._last_green()
    rounds = [last.get(n, 0) for n in order[len(changed):]]
    assert rounds == sorted(rounds), "last-green round decreases"


def test_no_latest_correctness_row_is_red():
    latest = {}
    for _, rows in entry._rounds():
        latest.update(rows)
    red = sorted(n for n, row in latest.items() if not entry._green(row))
    assert not red, f"latest CORRECTNESS row is red: {red}"


def test_queries_and_oracles_align():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    order = list(entry._ordered())
    assert list(qs) == order
    # every query carries an oracle (incl. the accuracy-gate booleans
    # for sketch paths), in the same order
    assert list(os_) == [n for n in order if n in os_]
    assert set(os_) <= set(qs)
    # oracles are non-vacuous strings
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())
