"""The driver-window ordering rule, as a spec.

Pure logic over __spark_entry__._ordered_names — no SparkSession. The
driver records the FIRST 50 queries() entries each round, so ordering IS
the verification schedule. One rule over the green rows on disk
(``_green_rounds``):

1. ``_PRIORITY`` names with no green row, in ``_PRIORITY`` order;
2. other oracle-paired names with no green row;
3. green names;
4. rows-only names (no oracle; the driver can never hash-match them).

Synthetic histories are fed by monkeypatching ``_green_rounds``.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as E
from osmgraft import contract as C

ROWS_ONLY = [n for n in C.QUERIES if n not in C.ORACLES]
# _PRIORITY opens with the round-5 names still lacking a green row; the
# round-6 window follows
ROUND5_NAMES = E._PRIORITY[:2]
ROUND6_NAMES = E._PRIORITY[2:]


def _order(monkeypatch, green):
    """_ordered_names under a synthetic {name: first green round} history."""
    monkeypatch.setattr(E, "_green_rounds", lambda: dict(green))
    return E._ordered_names()


def test_ordered_names_is_registry_permutation():
    names = E._ordered_names()
    assert sorted(names) == sorted(C.QUERIES)
    assert list(E.queries()) == names


def test_priority_names_are_registered_oracle_paired_and_distinct():
    for n in E._PRIORITY:
        assert n in C.QUERIES, n
        assert n in C.ORACLES, n
    assert len(set(E._PRIORITY)) == len(E._PRIORITY)


def test_priority_fronts_an_empty_history(monkeypatch):
    out = _order(monkeypatch, {})
    assert out[: len(E._PRIORITY)] == list(E._PRIORITY)


def test_terminal_no_oracle_names_sort_last(monkeypatch):
    assert ROWS_ONLY
    # even a green row does not lift a rows-only name out of the tail
    out = _order(monkeypatch, {ROWS_ONLY[0]: 1})
    assert out[-len(ROWS_ONLY):] == ROWS_ONLY


def test_window_retires_on_green(monkeypatch):
    first, second = E._PRIORITY[:2]
    out = _order(monkeypatch, {first: 7})
    assert out[0] == second
    assert first not in out[: len(E._PRIORITY)]


def test_missed_window_row_requeues(monkeypatch):
    missed = E._PRIORITY[5]
    greens = {n: 7 for n in E._PRIORITY if n != missed}
    out = _order(monkeypatch, greens)
    assert out[0] == missed
    # the remaining unverified oracle-paired names follow in registry order
    unverified = [
        n for n in C.QUERIES
        if n in C.ORACLES and n not in greens and n != missed
    ]
    assert out[1 : 1 + len(unverified)] == unverified


def test_r05_window_names_are_registered_and_unverified_today():
    """The round-5 names in _PRIORITY are registered, oracle-paired and
    carry no green row from before round 5 in the files on disk."""
    green = E._green_rounds()
    for n in ROUND5_NAMES:
        assert n in C.QUERIES, n
        assert n in C.ORACLES, n
        assert green.get(n, 5) >= 5, f"{n} green before r05 — drop from _PRIORITY"


def test_r06_window_names_are_registered_and_need_evidence():
    """The round-6 names in _PRIORITY are registered, oracle-paired,
    distinct from the round-5 names, and either unverified or green no
    earlier than round 5 (their first green retires them)."""
    green = E._green_rounds()
    for n in ROUND6_NAMES:
        assert n in C.QUERIES, n
        assert n in C.ORACLES, n
        assert green.get(n, 5) >= 5, f"{n} green before r05 — drop from _PRIORITY"
    assert len(set(ROUND6_NAMES)) == len(ROUND6_NAMES) == 52
    assert not set(ROUND6_NAMES) & set(ROUND5_NAMES)


def test_r06_window_queues_behind_unretired_r05_names(monkeypatch):
    """All round-5 names green -> the round-6 names front; one round-5
    name missed -> it leads and the round-6 names follow."""
    out = _order(monkeypatch, {n: 5 for n in ROUND5_NAMES})
    assert out[: len(ROUND6_NAMES)] == list(ROUND6_NAMES)
    missed = ROUND5_NAMES[-1]
    out = _order(monkeypatch, {n: 5 for n in ROUND5_NAMES if n != missed})
    assert out[0] == missed
    assert out[1 : 1 + len(ROUND6_NAMES)] == list(ROUND6_NAMES)


def test_green_names_follow_unverified_in_registry_order(monkeypatch):
    paired = [n for n in C.QUERIES if n in C.ORACLES]
    greens = {n: 1 for n in paired[::2]}
    out = _order(monkeypatch, greens)
    body = out[: len(out) - len(ROWS_ONLY)]
    assert body[-len(greens):] == [n for n in paired if n in greens]


def test_green_rounds_takes_first_green_round_and_skips_bad_files(
    monkeypatch, tmp_path
):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        '{"a": {"rows_match": true, "hash_match": false},'
        ' "b": {"rows_match": true}, "c": "junk"}'
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text("not json")
    (tmp_path / "CORRECTNESS_r03.json").write_text("[1, 2]")
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        '{"a": {"hash_match": true}, "b": {"hash_match": true}}'
    )
    monkeypatch.setattr(E, "__file__", str(tmp_path / "__spark_entry__.py"))
    assert E._green_rounds() == {"a": 4, "b": 1}


def test_todays_front_window_is_useful():
    """Whatever CORRECTNESS files exist on disk, every slot the driver
    will record (first 50) can produce a useful row: no rows-only name
    and, while unverified names remain, no green name."""
    names = E._ordered_names()
    green = E._green_rounds()
    unverified = [n for n in names if n in C.ORACLES and n not in green]
    front = names[: min(50, len(unverified))]
    assert not set(front) & set(ROWS_ONLY)
    assert not set(front) & set(green)
