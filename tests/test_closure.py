"""The code key (plans/closure.py) that artifact and stream-workdir
keys are built on: an edit inside a derivation's closure rotates its
key and the artifact fingerprint derived from it, an edit outside the
closure does not, and the walk parses only the modules it reaches.
Edited sources are served through the tree's reader, so no file in
the repository changes.
"""

from __future__ import annotations

import ast
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


# (query, the batch query whose oracle text it registers), each in its
# queries/ module: a stream twin is checked against its batch query's SQL
SHARED_ORACLES = [
    (("corpus_ops", "q_stream_scd2"), ("corpus_ops", "q_scd2_history")),
    (("corpus_ops", "q_stream_delta_agg"), ("corpus_ops", "q_delta_agg")),
    (("corpus_ops", "q_compact_partials"), ("corpus_ops", "q_delta_agg")),
    (("corpus_ops", "q_stream_doc_dedup"), ("llm_pipeline", "q_dedup_exact")),
    (("advanced_ops", "q_stream_kmv"), ("advanced_ops", "q_kmv_distinct")),
    (("advanced_ops", "q_stream_gapfill"), ("advanced_ops", "q_gapfill_interpolate")),
    (("advanced_ops", "q_stream_trend"), ("advanced_ops", "q_trend_slope")),
    (("advanced_ops", "q_stream_changepoint"), ("advanced_ops", "q_changepoint")),
    (("streaming_checks", "q_stream_sessions"), ("metrics", "q_session_windows")),
    (("streaming_checks", "q_stream_ingest_counts"), ("cdc", "q_ops_by_table_op")),
    (("streaming_checks", "q_stream_dedupe"), ("cdc", "q_ops_by_table_op")),
    (("streaming_checks", "q_stream_resume"), ("cdc", "q_ops_by_table_op")),
    (("streaming_checks", "q_stream_alerts"), ("streaming_checks", "q_alert_sustained")),
    (("streaming_checks", "q_stream_funnel"), ("metrics", "q_funnel_stages")),
    (("profiling", "q_stream_event_drift"), ("profiling", "q_event_drift")),
    (("profiling", "q_stream_transitions"), ("profiling", "q_event_transitions")),
    (("training_io", "q_stream_sample"), ("training_io", "q_sample_fixed")),
    (("training_io", "q_stream_manifest"), ("training_io", "q_shard_manifest")),
    (("training_io", "q_stream_pii"), ("training_io", "q_pii_census")),
]


def _queries(module: str) -> str:
    return f"{closure.PKG}/queries/{module}.py"


def _oracle_unit(tree, module: str, query: str):
    """The package unit that ``oracle=`` names in ``query``'s
    ``@register`` decorator, or None when it names no unit."""
    mod = tree.module(_queries(module))
    for node in mod.units.values():
        for deco in getattr(node, "decorator_list", []):
            if not (isinstance(deco, ast.Call) and deco.args):
                continue
            if getattr(deco.args[0], "value", None) != query:
                continue
            for kw in deco.keywords:
                if kw.arg == "oracle" and isinstance(kw.value, ast.Name):
                    name = kw.value.id
                    if name in mod.units:
                        return (mod.relpath, name)
                    return mod.from_imports.get(name)
    return None


def test_oracle_functions_are_in_their_query_closure():
    # an edit to a query's oracle SQL must flag the query for re-proof,
    # so the oracle is named from the query's @register decorator
    corpus_ops = _queries("corpus_ops")
    tree = closure.SourceTree()
    for query, oracle_fn in [
        ("q_canonical_pick", "_canonical_oracle"),
        ("q_dedup_yield_by_source", "_dedup_yield_oracle"),
    ]:
        assert (corpus_ops, oracle_fn) in closure.query_closure(tree, corpus_ops, query)
    # a query that shares another query's oracle names the same module
    # constant in its own decorator
    for (mod, query), (owner_mod, owner) in SHARED_ORACLES:
        unit = _oracle_unit(tree, owner_mod, owner)
        assert unit is not None, owner
        assert _oracle_unit(tree, mod, query) == unit, query
        assert unit in closure.query_closure(tree, _queries(mod), query), query
    cdc_replay = _oracle_unit(tree, "streaming_checks", "q_stream_cdc_replay")
    assert cdc_replay is not None
    assert (_queries("cdc"), "TYPED_CTE") in closure.query_closure(
        tree, _queries("streaming_checks"), "q_stream_cdc_replay"
    )


def test_no_module_level_statement_assigns_an_oracle():
    # registry.py is outside every closure, so an oracle set on the
    # registry dict at import is outside the closure of its query
    writes = []
    for path in sorted((closure.ROOT / closure.PKG).rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            targets = []
            if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
            elif isinstance(node, ast.Expr) and isinstance(node.value, ast.Call):
                targets = [node.value.func]
            for t in targets:
                if isinstance(t, (ast.Subscript, ast.Attribute)) and (
                    getattr(t.value, "id", None) == "ORACLES"
                ):
                    writes.append(f"{path.relative_to(closure.ROOT)}:{node.lineno}")
    assert writes == []
