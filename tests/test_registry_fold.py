"""Registry rotation bookkeeping guards (ADVICE r5).

Two failure modes bit rounds 4 and 5: (a) a stale hand-maintained
DRIVER_VERIFIED made the driver window re-prove old keys, and (b) a
typo'd key would be silently filtered by _ordered_names() instead of
failing loudly. The fold is now derived from CORRECTNESS_r*.json at
import time; these tests pin that behavior.
"""

from __future__ import annotations

import json
from pathlib import Path

from team_02_spark.queries import registry as R

REPO = Path(__file__).resolve().parents[1]


def test_bookkeeping_keys_are_registered():
    declared = set(R.QUERIES)
    # Only guard keys that are registered in THIS tree; CORRECTNESS
    # files may mention keys from experiments since deleted, which
    # _ordered_names() ignores by design — but the hand-written seed
    # and priority/retry tuples must never drift from the registry.
    assert set(R._STATIC_VERIFIED) <= declared
    assert set(R.DRIVER_PRIORITY) <= declared
    assert set(R.DRIVER_RETRY) <= declared | set(R._DRIVER_ROWS)


def test_no_duplicate_pins():
    assert len(R.DRIVER_PRIORITY) == len(set(R.DRIVER_PRIORITY))
    assert len(R.DRIVER_RETRY) == len(set(R.DRIVER_RETRY))


def test_every_dynamic_verified_key_has_green_row():
    """Each key folded in beyond the static seed traces to a green row
    in a committed CORRECTNESS file (hash-match, or rows-only ran
    clean), with the latest round winning."""
    dynamic = R.DRIVER_VERIFIED - R._STATIC_VERIFIED
    latest: dict[str, dict] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        for key, row in json.loads(path.read_text()).items():
            latest[key] = row
    for key in dynamic:
        row = latest[key]
        green = row.get("hash_match") is True or (
            row.get("err") == "no_oracle"
            and row.get("spark_rows") is not None
        )
        assert green, f"{key} folded without a green driver row: {row}"


def test_latest_round_wins_red_then_green(tmp_path):
    """A key red in round N and green in round N+1 is verified; the
    reverse goes to retry."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_a": {"hash_match": False, "err": None, "spark_rows": 5},
        "q_b": {"hash_match": True, "err": None, "spark_rows": 5},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_a": {"hash_match": True, "err": None, "spark_rows": 5},
        "q_b": {"hash_match": False, "err": None, "spark_rows": 5},
    }))
    rows = R._load_driver_rows(tmp_path)
    assert rows == {"q_a": True, "q_b": False}


def test_rows_only_ran_clean_counts_green(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_ro": {"hash_match": None, "err": "no_oracle", "spark_rows": 3},
        "q_err": {"hash_match": None, "err": "boom", "spark_rows": None},
    }))
    rows = R._load_driver_rows(tmp_path)
    assert rows == {"q_ro": True, "q_err": False}


def test_synthetic_green_keys_sort_to_back_without_hand_edit(
        tmp_path, monkeypatch):
    """VERDICT r5 item #2's done-criterion: green keys from a NEW
    CORRECTNESS file move behind all unchecked keys with no edit to
    the static sets."""
    # Pick two currently-unchecked (or any registered) keys and mark
    # them green in a synthetic round file — skipping retry/recheck
    # pins, which front the window by design regardless of greenness.
    names_before = R._ordered_names()
    pinned = set(R.DRIVER_RETRY) | set(R.DRIVER_RECHECK)
    victims = [n for n in names_before if n not in pinned][:2]
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps({
        v: {"hash_match": True, "err": None, "spark_rows": 1}
        for v in victims
    }))
    rows = R._load_driver_rows(tmp_path)
    monkeypatch.setattr(
        R, "DRIVER_VERIFIED",
        R.DRIVER_VERIFIED | {k for k, g in rows.items() if g})
    # the staleness map is what actually orders the verified block —
    # without this the r99 greens would keep their old (stale) rank
    # (r14: the test was vacuous while every key happened to be
    # verified, because the unchecked-count it asserted against was 0)
    monkeypatch.setattr(
        R, "_DRIVER_LATEST_ROUND",
        {**R._DRIVER_LATEST_ROUND, **{v: 99 for v in victims}})
    names_after = R._ordered_names()
    # rows-only keys tail-sort unconditionally (r9 verdict #2), so the
    # unchecked keys that front the window are the ORACLED ones only
    unchecked_oracled = [
        n for n in names_after
        if n not in R.DRIVER_VERIFIED and n not in pinned
        and R.QUERIES[n].oracle is not None]
    for v in victims:
        for u in unchecked_oracled:
            assert names_after.index(v) > names_after.index(u), (
                f"{v} (freshly green) sorts before unchecked {u}")
        # and the freshest round sorts behind every staler verified key
        assert names_after.index(v) >= len(names_after) - len(
            [n for n in names_after if R.QUERIES[n].oracle is None]) - 2, (
            f"{v} did not move to the back of the staleness order")


def test_malformed_correctness_file_is_ignored(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"q_ok": {"hash_match": True, "err": None, "spark_rows": 1}}))
    assert R._load_driver_rows(tmp_path) == {"q_ok": True}


def test_recheck_pins_are_registered_and_fronted():
    declared = set(R.QUERIES)
    assert set(R.DRIVER_RECHECK) <= declared
    names = R._ordered_names()
    n_retry = len([n for n in R.DRIVER_RETRY if n in R.QUERIES])
    pending = [n for n, rnd in R.DRIVER_RECHECK.items()
               if R._DRIVER_LATEST_ROUND.get(n, 0) < rnd]
    for pin in pending:
        assert names.index(pin) < n_retry + len(pending)


def test_recheck_pins_self_prune(monkeypatch):
    """Once a driver row from the flip round (or later) lands, the pin
    must stop consuming a front-of-window slot — no hand edit."""
    if not R.DRIVER_RECHECK:
        return
    # only a pin whose round has not landed yet is fronted (an
    # already-satisfied pin has nothing left to prune); rows-only keys
    # sort to the tail regardless, so the fronted block is oracled keys
    def oracled(n):
        return n in R.QUERIES and R.QUERIES[n].oracle is not None

    retry = [n for n in R.DRIVER_RETRY if oracled(n)]
    active = [n for n, rnd in R.DRIVER_RECHECK.items()
              if oracled(n) and n not in R.DRIVER_RETRY
              and R._DRIVER_LATEST_ROUND.get(n, 0) < rnd]
    if not active:
        return
    pin = active[0]
    n_front = len(retry) + len(active)
    assert R._ordered_names().index(pin) < n_front
    pruned = dict(R._DRIVER_LATEST_ROUND)
    pruned[pin] = R.DRIVER_RECHECK[pin]  # the CORRECTNESS_r{rnd} row lands
    monkeypatch.setattr(R, "_DRIVER_LATEST_ROUND", pruned)
    assert R._ordered_names().index(pin) >= n_front - 1


def test_verified_fallthrough_is_staleness_ordered():
    """r8 verdict #1: spare driver-window slots must retire the
    STALEST green rows first — the verified fall-through is sorted by
    oldest latest-green CORRECTNESS round, non-decreasing (checked
    within the oracled partition, since rows-only keys sort to the
    absolute tail regardless of staleness per r9 verdict #2)."""
    names = R._ordered_names()
    fronted = set(R.DRIVER_RETRY) | set(R.DRIVER_RECHECK)
    verified_tail = [n for n in names
                     if n in R.DRIVER_VERIFIED and n not in fronted
                     and R.QUERIES[n].oracle is not None]
    rounds = [R._DRIVER_LATEST_ROUND.get(n, 0) for n in verified_tail]
    assert rounds == sorted(rounds), "fall-through not staleness-ordered"
    # and the window front must keep landing on the stalest oracled
    # keys: every key in the first 50 is at least as stale as every
    # verified oracled key behind it (modulo the fronted pins and
    # unchecked keys, which outrank staleness by design)
    window = names[:50]
    skip = fronted | {n for n in names if n not in R.DRIVER_VERIFIED}
    window_rounds = [R._DRIVER_LATEST_ROUND.get(n, 0)
                     for n in window if n not in skip]
    tail_rounds = [R._DRIVER_LATEST_ROUND.get(n, 0)
                   for n in names[50:]
                   if n not in skip and R.QUERIES[n].oracle is not None]
    if window_rounds and tail_rounds:
        assert max(window_rounds) <= min(tail_rounds)


def test_rotation_never_emits_rows_only_before_oracled():
    """r9 verdict #2/#7: oracle=None keys can never yield a hash-green
    driver row, so they must sort after EVERY oracled key — the
    driver's bounded window (~50 of 300+) then never wastes a slot on
    them. Unconditional: applies even to retry/recheck/priority tiers."""
    names = R._ordered_names()
    flags = [R.QUERIES[n].oracle is None for n in names]
    first_rows_only = flags.index(True) if True in flags else len(flags)
    assert not any(not f for f in flags[first_rows_only:]), (
        "an oracled key sorts after a rows-only key")
    # the window itself is pure oracle rows
    assert not any(flags[:50]), "rows-only key inside the 50-key window"


def test_latest_round_loader(tmp_path):
    import json

    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_a": {"hash_match": True}, "q_b": {"hash_match": True}}))
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({
        "q_b": {"hash_match": False}}))
    (tmp_path / "CORRECTNESS_rbad.json").write_text("{not json")
    got = R._load_driver_latest_round(tmp_path)
    assert got == {"q_a": 2, "q_b": 7}


def test_readme_counts_match_registry():
    """r8 verdict #7: the README's hardcoded registry counts must not
    drift from the registry when a key is added or an oracle flips."""
    import re

    text = (REPO / "README.md").read_text()
    m = re.search(r"(\d+) queries, (\d+) with a", text)
    assert m, "README registry-count sentence missing"
    total, oracled = int(m.group(1)), int(m.group(2))
    assert total == len(R.QUERIES)
    assert oracled == sum(
        1 for q in R.QUERIES.values() if q.oracle is not None)
    m = re.search(r"The (\d+) rows-only queries", text)
    assert m, "README rows-only sentence missing"
    assert int(m.group(1)) == len(R.QUERIES) - oracled
    # r13 verdict #5: the bench-sentence count drifted (said 40 while
    # HEADLINE had 50) because nothing asserted it — now it is pinned
    # the same way as the registry sentence above.
    from bench import HEADLINE

    m = re.search(r"(\d+) headline queries", text)
    assert m, "README headline-count sentence missing"
    assert int(m.group(1)) == len(HEADLINE)


def test_driver_recheck_has_no_duplicate_literal_keys():
    """r13 advisor low: a duplicate literal key in the DRIVER_RECHECK
    dict silently shadows the earlier entry (q_crossmodal_knn carried
    both a round-9 and a round-13 pin; deleting the r13 line would
    have silently reverted to the already-satisfied r9 pin). Parse
    the source dict literal and reject duplicates loudly."""
    import ast

    src = (REPO / "team_02_spark" / "queries" / "registry.py").read_text()
    tree = ast.parse(src)
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
