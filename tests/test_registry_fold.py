"""Driver-window order guards.

``__spark_entry__`` folds the committed CORRECTNESS_r*.json files into
one sort key per registered query: ``(oracle is None, effective_round,
DRIVER_REPROOF rank, name)``. The fold takes its directory as an
argument, so these tests write synthetic round files into ``tmp_path``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as E
from team_02_spark.queries import QUERIES

REPO = Path(__file__).resolve().parents[1]
ORACLED = [n for n, q in QUERIES.items() if q.oracle is not None]
GREEN = {"hash_match": True, "err": None, "spark_rows": 1}
RED = {"hash_match": False, "err": None, "spark_rows": 1}


def _write_round(root: Path, rnd: int, rows: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _all_green(root: Path, rnd: int) -> None:
    _write_round(root, rnd, {n: GREEN for n in QUERIES})


def _pins_after(rnd: int) -> set[str]:
    """Oracled keys a pin fronts when every key's latest row is ``rnd``."""
    return {n for n, pin in E.DRIVER_RECHECK.items()
            if pin > rnd and QUERIES[n].oracle is not None}


def test_bookkeeping_keys_are_registered():
    declared = set(QUERIES)
    assert set(E.DRIVER_RECHECK) <= declared
    assert set(E.DRIVER_REPROOF) <= declared


def test_no_duplicate_pins():
    # a repeated key would silently take its later (lower-risk) rank
    assert len(E.DRIVER_REPROOF) == len(set(E.DRIVER_REPROOF))


def test_latest_round_wins_red_then_green(tmp_path):
    """A key red in round N and green in round N+1 is green; the
    reverse is red."""
    _write_round(tmp_path, 1, {"q_a": RED, "q_b": GREEN})
    _write_round(tmp_path, 2, {"q_a": GREEN, "q_b": RED})
    assert E._latest_rows(tmp_path) == {"q_a": (2, True), "q_b": (2, False)}


def test_rows_only_ran_clean_counts_green(tmp_path):
    _write_round(tmp_path, 1, {
        "q_ro": {"hash_match": None, "err": "no_oracle", "spark_rows": 3},
        "q_err": {"hash_match": None, "err": "boom", "spark_rows": None},
    })
    assert E._latest_rows(tmp_path) == {"q_ro": (1, True), "q_err": (1, False)}


def test_malformed_correctness_file_is_ignored(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r03.json").write_text("[1, 2]")
    _write_round(tmp_path, 2, {"q_ok": GREEN, "q_junk": "not a row"})
    assert E._latest_rows(tmp_path) == {"q_ok": (2, True)}


def test_latest_round_loader(tmp_path):
    _write_round(tmp_path, 2, {"q_a": GREEN, "q_b": GREEN})
    _write_round(tmp_path, 7, {"q_b": RED})
    (tmp_path / "CORRECTNESS_rbad.json").write_text(json.dumps({"q_a": RED}))
    assert E._latest_rows(tmp_path) == {"q_a": (2, True), "q_b": (7, False)}


def test_red_latest_row_fronts_its_key(tmp_path):
    """A key whose latest row is red sorts with the unchecked keys, in
    front of every green oracled key, until a green row lands."""
    victim = [n for n in ORACLED if n not in E.DRIVER_RECHECK][-1]
    _all_green(tmp_path, 5)
    _write_round(tmp_path, 6, {victim: RED})
    order = E._window_order(tmp_path)
    front = [n for n in order if n not in E.DRIVER_RECHECK][0]
    assert front == victim
    _write_round(tmp_path, 7, {victim: GREEN})
    assert E._window_order(tmp_path).index(victim) == len(ORACLED) - 1


def test_synthetic_green_keys_sort_to_back_without_hand_edit(tmp_path):
    """Green keys from a NEW CORRECTNESS file move behind every staler
    oracled key, and keys with no row at all front the window."""
    unpinned = [n for n in ORACLED if n not in E.DRIVER_RECHECK]
    victims, unchecked = unpinned[:2], unpinned[2:5]
    _write_round(tmp_path, 5, {
        n: GREEN for n in QUERIES if n not in unchecked})
    _write_round(tmp_path, 99, {v: GREEN for v in victims})
    order = E._window_order(tmp_path)
    front = set(unchecked) | _pins_after(5)
    assert set(order[:len(front)]) == front
    oracled_order = [n for n in order if QUERIES[n].oracle is not None]
    assert set(oracled_order[-len(victims):]) == set(victims)


def test_recheck_pins_are_registered_and_fronted(tmp_path):
    """A pin newer than its key's latest row fronts the key, whatever
    that row says; pins sort among themselves by DRIVER_REPROOF rank."""
    assert set(E.DRIVER_RECHECK) <= set(QUERIES)
    _all_green(tmp_path, 5)
    pinned = _pins_after(5)
    assert set(E._window_order(tmp_path)[:len(pinned)]) == pinned


def test_recheck_pins_self_prune(tmp_path):
    """Once a driver row from the pin's round lands, the pin stops
    consuming a front-of-window slot — no hand edit."""
    pinned = _pins_after(1)
    if not pinned:
        pytest.skip("no oracled DRIVER_RECHECK pin to exercise")
    pin = min(pinned)
    _all_green(tmp_path, 1)
    assert E._window_order(tmp_path).index(pin) < len(pinned)
    _write_round(tmp_path, E.DRIVER_RECHECK[pin], {pin: GREEN})
    assert E._window_order(tmp_path).index(pin) == len(ORACLED) - 1


def test_verified_fallthrough_is_staleness_ordered():
    """Spare window slots retire the STALEST rows first: over the
    committed CORRECTNESS files, the oracled order is non-decreasing in
    effective round, so the first 50 are at least as stale as the rest."""
    latest = E._latest_rows(E.ROOT)

    def effective(n):
        rnd, green = latest.get(n, (0, False))
        return 0 if not green or E.DRIVER_RECHECK.get(n, 0) > rnd else rnd

    rounds = [effective(n) for n in E.queries() if n in ORACLED]
    assert rounds == sorted(rounds), "fall-through not staleness-ordered"
    if len(rounds) > 50:
        assert max(rounds[:50]) <= min(rounds[50:])


def test_rotation_never_emits_rows_only_before_oracled():
    """oracle=None keys can never yield a hash-green driver row, so they
    sort after EVERY oracled key and never take a window slot."""
    names = list(E.queries())
    assert names[:len(ORACLED)] == [n for n in names if n in ORACLED]
    assert not any(QUERIES[n].oracle is None for n in names[:50])
    assert list(E.oracle_sql()) == names[:len(ORACLED)]


def test_importing_queries_opens_no_correctness_file():
    """The library and the entry module read round artifacts only when
    the driver asks for the order, never at import."""
    code = (
        "import sys\n"
        "seen = []\n"
        "sys.addaudithook(lambda ev, a: ev == 'open' and "
        "'CORRECTNESS_r' in str(a[0]) and seen.append(a[0]))\n"
        "import team_02_spark.queries, __spark_entry__\n"
        "assert not seen, seen\n"
        "__spark_entry__.queries()\n"
        "assert seen, 'audit hook saw no CORRECTNESS read at all'\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_readme_counts_match_registry():
    """The README's hardcoded registry counts must not drift from the
    registry when a key is added or an oracle flips."""
    import re

    text = (REPO / "README.md").read_text()
    m = re.search(r"(\d+) queries, (\d+) with a", text)
    assert m, "README registry-count sentence missing"
    total, oracled = int(m.group(1)), int(m.group(2))
    assert total == len(QUERIES)
    assert oracled == len(ORACLED)
    m = re.search(r"The (\d+) rows-only queries", text)
    assert m, "README rows-only sentence missing"
    assert int(m.group(1)) == len(QUERIES) - oracled
    from bench import HEADLINE

    m = re.search(r"(\d+) headline queries", text)
    assert m, "README headline-count sentence missing"
    assert int(m.group(1)) == len(HEADLINE)


def test_driver_recheck_has_no_duplicate_literal_keys():
    """A duplicate literal key in the DRIVER_RECHECK dict silently
    shadows the earlier entry. Parse the source dict literal and reject
    duplicates loudly."""
    import ast

    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    for node in ast.walk(tree):
        if (isinstance(node, ast.AnnAssign)
                and isinstance(node.target, ast.Name)
                and node.target.id == "DRIVER_RECHECK"
                and isinstance(node.value, ast.Dict)):
            keys = [k.value for k in node.value.keys
                    if isinstance(k, ast.Constant)]
            assert len(keys) == len(set(keys)), (
                "duplicate DRIVER_RECHECK keys: "
                f"{sorted(k for k in keys if keys.count(k) > 1)}")
            break
    else:
        raise AssertionError("DRIVER_RECHECK dict literal not found")
