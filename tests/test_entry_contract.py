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


def test_changed_is_the_digest_difference_in_registry_order():
    snapshot = {
        "a": {"plan": "p1", "schema": "struct<x:int>"},
        "b": {"plan": "p2", "schema": "struct<x:int>"},
        "c": {"plan": "p3", "n": 4, "hash": "h3", "cut": True},
        "d": {"plan": "p4"},
        "f": {"plan": "p6", "plan_chars": 10, "shape": {"Exchange": 1}},
    }
    current = {
        "a": {"plan": "p1", "schema": "struct<x:int>"},
        "b": {"plan": "p2", "schema": "struct<x:bigint>"},
        "c": {"plan": "p3", "n": 4, "hash": "h3-new", "cut": True},
        "d": {"error": "AnalysisException: boom"},
        "e": {"plan": "p5"},
        # size and shape fields alone move no query into CHANGED
        "f": {"plan": "p6", "plan_chars": 99, "shape": {"Exchange": 2}},
    }
    names = ["f", "e", "d", "c", "b", "a"]
    assert entry.changed_between(snapshot, current, names) == ["e", "d", "c", "b"]
    assert entry.changed_between(current, current, names) == []
    # a query the current digest lacks (added without a new capture)
    assert entry.changed_between(snapshot, {}, ["a"]) == ["a"]


def test_changed_queries_keep_their_oracle_test_in_the_default_run():
    from tests.conftest import SLOW_TESTS, slow_tests

    node = "test_catalog.py::test_query_matches_oracle[account_creation_dist]"
    assert node in SLOW_TESTS
    assert node not in slow_tests(["account_creation_dist"])
    assert slow_tests([]) == SLOW_TESTS
