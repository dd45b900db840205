"""The code key (plans/closure.py) that artifact and stream-workdir
keys are built on: an edit inside a derivation's closure rotates its
key and the artifact fingerprint derived from it, an edit outside the
closure does not, and the walk parses only the modules it reaches.
Edited sources are served through the tree's reader, so no file in
the repository changes.
"""

from __future__ import annotations

import functools

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import closure
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import event_sink
from tests.conftest import SF_SMOKE

PARSE = f"{closure.PKG}/operators/parse.py"
JPEG = f"{closure.PKG}/functions/jpeg.py"


def _edited(relpath: str, unit: str):
    """A reader serving the installed sources, with one statement
    appended to the body of ``unit`` in ``relpath``."""

    def read(rel: str) -> str | None:
        src = closure.read_source(rel)
        if rel != relpath:
            return src
        node = closure.ModuleIndex(rel, src).units[unit]
        lines = src.splitlines()
        lines.insert(node.end_lineno, "    pass")
        return "\n".join(lines) + "\n"

    return read


def _sink_keys(monkeypatch, read) -> tuple[str, str]:
    monkeypatch.setattr(closure, "_TREE", closure.SourceTree(read))
    return (
        closure.code_key(event_sink.normalized_sink),
        event_sink._fingerprint(SF_SMOKE),
    )


def test_edit_inside_the_closure_rotates_key_and_fingerprint(monkeypatch):
    base = _sink_keys(monkeypatch, closure.read_source)
    edited = _sink_keys(monkeypatch, _edited(PARSE, "normalized_events"))
    assert edited[0] != base[0]
    assert edited[1] != base[1]


def test_edit_outside_the_closure_keeps_key_and_fingerprint(monkeypatch):
    base = _sink_keys(monkeypatch, closure.read_source)
    unit = next(iter(closure.ModuleIndex(JPEG, closure.read_source(JPEG)).units))
    assert _sink_keys(monkeypatch, _edited(JPEG, unit)) == base


def test_code_key_parses_only_reached_modules_once(monkeypatch):
    reads: list[str] = []

    def read(rel: str) -> str | None:
        reads.append(rel)
        return closure.read_source(rel)

    monkeypatch.setattr(closure, "_TREE", closure.SourceTree(read))
    key = closure.code_key(event_sink.normalized_sink)
    assert len(reads) <= 6, reads
    assert JPEG not in reads
    cold = len(reads)
    assert closure.code_key(event_sink.normalized_sink) == key
    # a wrapper that keeps the wrapped name keys like the function
    wrapped = functools.wraps(event_sink.normalized_sink)(lambda *a: None)
    assert closure.code_key(wrapped) == key
    assert len(reads) == cold, "a warm code_key must parse nothing"


def test_oracle_functions_are_in_their_query_closure():
    # an edit to a query's oracle SQL must flag the query for re-proof,
    # so the oracle function is called from the query's @register decorator
    corpus_ops = f"{closure.PKG}/queries/corpus_ops.py"
    tree = closure.SourceTree()
    for query, oracle_fn in [
        ("q_canonical_pick", "_canonical_oracle"),
        ("q_dedup_yield_by_source", "_dedup_yield_oracle"),
    ]:
        assert (corpus_ops, oracle_fn) in closure.query_closure(tree, corpus_ops, query)
