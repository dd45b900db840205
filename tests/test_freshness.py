"""Gate-window freshness invariants (r7 verdict item 4).

The driver re-proves a 50-query prefix of the registry per round. These
tests make the window compose itself — a repeat of the round-6
32-query never-checked backlog, or the round-7/8 discovery that
hand-tracking missed rewritten paths, becomes a red test instead of a
judge finding:

1. every never-driver-checked query must hold a window slot;
2. every query whose function-granular reference closure changed since
   its verdict-round commit (scripts/freshness.py) must hold one, or —
   when the must-haves outnumber the slots — a place in the explicit
   overflow queue (``registry._REPROOF_QUEUE``), and window plus queue
   list the must-haves oldest verdict first;
3. the remaining rotation slots must take the OLDEST verdicts — a
   query may be left outside only if it ties the oldest round inside
   (window capacity), never skipped past.

``python scripts/freshness.py --write`` regenerates both lists.

The analysis shells out to git and parses every package module at HEAD
plus one tree per verdict round, so it is session-scoped and shared.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

import freshness  # noqa: E402

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry  # noqa: E402

WINDOW_SIZE = 50


@pytest.fixture(scope="session")
def ledger():
    registry.load_all()
    names = list(registry.QUERIES)
    verdicts = freshness.latest_verdicts()
    changed = freshness.changed_queries(verdicts=verdicts)
    return names, verdicts, changed


def test_registry_window_is_full_and_unique(ledger):
    names, _, _ = ledger
    window = names[:WINDOW_SIZE]
    assert len(window) == WINDOW_SIZE
    assert len(set(window)) == WINDOW_SIZE


def test_never_checked_queries_hold_window_slots(ledger):
    names, verdicts, _ = ledger
    window = set(names[:WINDOW_SIZE])
    never = [n for n in names if n not in verdicts]
    missing = [n for n in never if n not in window]
    assert not missing, (
        f"{len(missing)} never-driver-checked queries are outside the "
        f"gate window — move them into registry._CHECK_FIRST: {missing}"
    )


def _must_haves(names, verdicts, changed):
    return {n for n in names if n not in verdicts} | set(changed)


def test_changed_paths_hold_window_slots(ledger):
    """A query rewritten after its latest verdict must be re-proven: it
    holds a window slot, or a place in the explicit overflow queue that
    later windows drain (the r6/r7 stale-path failure mode is a
    must-have in neither)."""
    names, verdicts, changed = ledger
    placed = set(names[:WINDOW_SIZE]) | set(registry._REPROOF_QUEUE)
    missing = sorted(
        n for n in _must_haves(names, verdicts, changed) if n not in placed
    )
    assert not missing, (
        f"{len(missing)} queries changed since their latest driver "
        f"verdict but are neither in the gate window nor in the "
        f"re-proof queue — run `python scripts/freshness.py --write`: "
        f"{missing}"
    )


def test_window_fits_all_must_haves(ledger):
    """More must-haves than window slots are split across rounds
    explicitly: the overflow sits in registry._REPROOF_QUEUE, which may
    be non-empty only while every window slot holds a must-have (no
    rotation slot may displace a queued re-proof)."""
    names, verdicts, changed = ledger
    must = _must_haves(names, verdicts, changed)
    queue = registry._REPROOF_QUEUE
    assert set(queue) <= must, sorted(set(queue) - must)
    if queue:
        rotation = [n for n in names[:WINDOW_SIZE] if n not in must]
        assert not rotation, (
            f"{len(queue)} must-haves are queued while rotation slots "
            f"{rotation} hold the window — run "
            f"`python scripts/freshness.py --write`"
        )


def test_window_and_queue_take_must_haves_oldest_first(ledger):
    """The window's must-haves followed by the queue list every
    must-have once: oldest verdict first (never-checked before all),
    ties in registration order."""
    names, verdicts, changed = ledger
    must = _must_haves(names, verdicts, changed)
    rank = {n: i for i, n in enumerate(registry.REGISTRATION_ORDER)}
    expected = sorted(must, key=lambda n: (verdicts.get(n, (-1,))[0], rank[n]))
    window_must = [n for n in names[:WINDOW_SIZE] if n in must]
    assert window_must + list(registry._REPROOF_QUEUE) == expected, (
        "window/queue out of re-proof order — run "
        "`python scripts/freshness.py --write`"
    )


def test_rotation_slots_take_oldest_verdicts(ledger):
    """Non-must-have window slots rotate the stalest verdicts: no query
    outside the window may be strictly older than a rotation slot
    inside it (ties — window capacity — are the only allowed reason to
    stay out). With ~240 queries and 50 slots this bounds verdict age at
    ~5 rounds in steady state and makes the next window composition
    mechanical."""
    names, verdicts, changed = ledger
    window = names[:WINDOW_SIZE]
    must = {n for n in names if n not in verdicts} | set(changed)
    rotation_rounds = [verdicts[n][0] for n in window if n not in must]
    if not rotation_rounds:
        return  # window fully consumed by must-haves
    newest_inside = max(rotation_rounds)
    outside = [n for n in names[WINDOW_SIZE:] if n not in must]
    skipped = sorted(
        n for n in outside if verdicts[n][0] < newest_inside
    )
    assert not skipped, (
        f"rotation skipped older verdicts: {skipped} are older than a "
        f"rotation slot inside the window (r{newest_inside}); reorder "
        f"registry._CHECK_FIRST oldest-first"
    )


def test_verdict_is_dated_by_the_commit_that_added_its_file(tmp_path):
    """A verdict is dated by the commit that brought its
    CORRECTNESS_rN.json in, whatever that commit's subject says; a
    later commit that touches the file does not move the date."""
    import subprocess

    def git(*args):
        return subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, capture_output=True, text=True, check=True,
        ).stdout.strip()

    git("init", "-q")
    (tmp_path / "README.md").write_text("x\n")
    git("add", "-A")
    git("commit", "-qm", "initial")
    (tmp_path / "CORRECTNESS_r17.json").write_text("{}\n")
    git("add", "-A")
    git("commit", "-qm", "Record the gate's results")
    added = git("rev-parse", "HEAD")
    (tmp_path / "CORRECTNESS_r17.json").write_text('{"q": {}}\n')
    git("commit", "-qam", "Touch the verdict file")
    assert freshness.round_commits(tmp_path) == {17: added}
