"""Function-granular driver-verdict freshness analysis.

The driver's correctness gate re-proves a 50-query window per round, so
a query's green verdict can silently go stale in two ways:

1. **Age** — the verdict is simply old (the registry has ~240 queries,
   the window holds 50, so a full rotation takes 5 rounds).
2. **Rewrite** — the code a query executes changed AFTER its latest
   verdict (the round-6/7 failure mode: resumable-sink conversions
   rewrote 16 stream paths whose verdicts predated the rewrite).

File-level ``git diff`` is useless for (2): the big query modules
change every round, which would flag everything. This module instead
takes the package's FUNCTION-granular closure walk (plans/closure.py,
the same walk that keys artifacts and stream workdirs) — the
``def q_*`` body, its decorator (the oracle SQL f-string), and every
package function / class / module-level constant it transitively
references — and compares each unit's source text between HEAD and the
commit that added the query's verdict file (``CORRECTNESS_rN.json``).

``tests/test_freshness.py`` turns the result into gate invariants;
``python scripts/freshness.py --write`` regenerates the window
(``registry._CHECK_FIRST``) and its overflow queue
(``registry._REPROOF_QUEUE``) from them, and ``python
scripts/freshness.py`` prints the ledger for humans.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from functools import partial
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "asafaviv_devops_asafaviv_devops_tidb_cdc_spark"
PKG_DIR = REPO / PKG

sys.path.insert(0, str(REPO))

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans.closure import (  # noqa: E402
    SourceTree,
    query_closure,
    read_source,
)


# --------------------------------------------------------------------
# verdict + commit history
# --------------------------------------------------------------------

def latest_verdicts() -> dict[str, tuple[int, str]]:
    """name -> (round, status) from the CORRECTNESS_r*.json files."""
    verdicts: dict[str, tuple[int, str]] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err"):
                status = "err"
            elif row.get("hash_match"):
                status = "hash"
            elif row.get("rows_match"):
                status = "rows"
            else:
                status = "fail"
            verdicts[name] = (rnd, status)
    return verdicts


def round_commits(repo: Path = REPO) -> dict[int, str]:
    """round -> sha of the commit that added ``CORRECTNESS_rN.json``:
    the verdict file is the gate's own output, so the commit that
    brought it in dates the verdict whatever its subject says. A file
    re-added after a delete keeps its FIRST adding commit (git log is
    newest-first, so the last sha seen per round is the oldest): that
    is the tree nearest the one the gate checked, and comparing against
    a later one would hide code that landed in between."""
    commits: dict[int, str] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        shas = subprocess.run(
            ["git", "log", "--diff-filter=A", "--format=%H", "--", path.name],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.split()
        if shas:
            commits[int(m.group(1))] = shas[-1]
    return commits


# --------------------------------------------------------------------
# source trees: the package's closure walk over the worktree or a commit
# --------------------------------------------------------------------

def _git_show(commit: str, relpath: str) -> str | None:
    proc = subprocess.run(
        ["git", "show", f"{commit}:{relpath}"],
        cwd=REPO, capture_output=True, text=True,
    )
    return proc.stdout if proc.returncode == 0 else None


class TreeIndex(SourceTree):
    """Package modules at the worktree (``commit=None``) or at a git
    commit, parsed as the closure walk reaches them."""

    def __init__(self, commit: str | None) -> None:
        super().__init__(
            read_source if commit is None else partial(_git_show, commit)
        )


# --------------------------------------------------------------------
# change detection
# --------------------------------------------------------------------

def registry_query_sites() -> dict[str, tuple[str, str]]:
    """query name -> (module relpath, function name) via the registry."""
    import inspect

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    sites: dict[str, tuple[str, str]] = {}
    for name, fn in registry.QUERIES.items():
        f = inspect.unwrap(fn)
        relpath = str(Path(inspect.getsourcefile(f)).resolve().relative_to(REPO))
        sites[name] = (relpath, f.__name__)
    return sites


def changed_queries(
    head: TreeIndex | None = None,
    verdicts: dict[str, tuple[int, str]] | None = None,
) -> dict[str, list[str]]:
    """Queries whose reference closure changed since their latest
    verdict-round commit -> list of changed units. Queries with no
    verdict are reported with ['never-checked']."""
    head = head or TreeIndex(None)
    verdicts = verdicts or latest_verdicts()
    commits = round_commits()
    sites = registry_query_sites()
    old_trees: dict[int, TreeIndex] = {}
    out: dict[str, list[str]] = {}
    for qname, (relpath, fn_name) in sites.items():
        v = verdicts.get(qname)
        if v is None:
            out[qname] = ["never-checked"]
            continue
        rnd = v[0]
        sha = commits.get(rnd)
        if sha is None:
            # FAIL LOUD, not open: without the commit that added the
            # verdict file the diff cannot be computed, and silently
            # reporting "unchanged" is exactly the stale-path escape
            # this module exists to prevent. Flagging forces the query
            # into the next window until the verdict is committed.
            out[qname] = [f"uncommitted-verdict-r{rnd}"]
            continue
        if rnd not in old_trees:
            old_trees[rnd] = TreeIndex(sha)
        old = old_trees[rnd]
        changed: list[str] = []
        for rel, unit in sorted(query_closure(head, relpath, fn_name)):
            if head.unit_source(rel, unit) != old.unit_source(rel, unit):
                changed.append(f"{rel}::{unit}")
        if changed:
            out[qname] = changed
    return out


# --------------------------------------------------------------------
# gate window composition
# --------------------------------------------------------------------

WINDOW_SIZE = 50
REGISTRY_PY = PKG_DIR / "registry.py"


def compose_window(
    registered: list[str],
    verdicts: dict[str, tuple[int, str]],
    changed: dict[str, list[str]],
) -> tuple[list[str], list[str]]:
    """(window, queue). Must-haves — never checked, or changed since
    their latest verdict — fill the window in re-proof order; those
    that do not fit form the queue, which later windows take from the
    front. Slots left over rotate the oldest remaining verdicts. Both
    go oldest verdict first (never checked before everything), ties in
    registration order."""
    rank = {n: i for i, n in enumerate(registered)}

    def key(n: str) -> tuple[int, int]:
        return verdicts.get(n, (-1, ""))[0], rank[n]

    must = sorted(
        (n for n in registered if n not in verdicts or n in changed), key=key
    )
    rest = sorted(
        (n for n in registered if n in verdicts and n not in changed), key=key
    )
    window = must[:WINDOW_SIZE] + rest[: max(0, WINDOW_SIZE - len(must))]
    return window, must[WINDOW_SIZE:]


def _render_list(
    name: str, names: list[str], verdicts: dict[str, tuple[int, str]]
) -> str:
    lines = [f"{name} = ["]
    last = None
    for n in names:
        rnd = verdicts.get(n, (None, ""))[0]
        if rnd != last:
            label = "never checked" if rnd is None else f"verdict r{rnd}"
            lines.append(f"    # {label}")
            last = rnd
        lines.append(f'    "{n}",')
    return "\n".join(lines + ["]\n"])


def write_registry(
    window: list[str], queue: list[str], verdicts: dict[str, tuple[int, str]]
) -> None:
    """Rewrite ``registry._CHECK_FIRST`` and ``registry._REPROOF_QUEUE``
    in place; everything else in registry.py is left as it is."""
    src = REGISTRY_PY.read_text()
    # the old queue with the comment block above it
    src = re.sub(
        r"\n(?:#[^\n]*\n)*_REPROOF_QUEUE = \[\n.*?^\]\n", "", src, flags=re.S | re.M
    )
    queue_block = (
        "\n# Must-haves that overflow the window, in the same order; later\n"
        "# windows take them from the front. Generated with _CHECK_FIRST by\n"
        "# `python scripts/freshness.py --write`.\n"
        + _render_list("_REPROOF_QUEUE", queue, verdicts)
    )
    new, n = re.subn(
        r"^_CHECK_FIRST = \[\n.*?^\]\n",
        lambda _: _render_list("_CHECK_FIRST", window, verdicts) + queue_block,
        src,
        count=1,
        flags=re.S | re.M,
    )
    if n != 1:
        raise SystemExit(f"no _CHECK_FIRST list found in {REGISTRY_PY}")
    REGISTRY_PY.write_text(new)


def main() -> None:
    verdicts = latest_verdicts()
    changed = changed_queries(verdicts=verdicts)
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    if "--write" in sys.argv[1:]:
        window, queue = compose_window(
            registry.REGISTRATION_ORDER, verdicts, changed
        )
        write_registry(window, queue, verdicts)
        print(
            f"wrote {REGISTRY_PY.relative_to(REPO)}: {len(window)} window "
            f"slots, {len(queue)} queued must-haves"
        )
        return
    window = set(list(registry.QUERIES)[:WINDOW_SIZE])
    queue = set(registry._REPROOF_QUEUE)
    print(f"{len(changed)} queries changed since their latest verdict:")
    for qname, units in sorted(changed.items()):
        if qname in window:
            mark = "in-window"
        elif qname in queue:
            mark = "queued"
        else:
            mark = "!! NOT IN WINDOW OR QUEUE"
        rnd = verdicts.get(qname, (None, None))[0]
        print(f"  {qname} (verdict r{rnd}, {mark})")
        for u in units[:6]:
            print(f"      {u}")
        if len(units) > 6:
            print(f"      ... +{len(units) - 6} more")


if __name__ == "__main__":
    main()
