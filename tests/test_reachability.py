"""Every package unit is reached, or is allowlisted with a reason.

A *unit* is a top-level ``def``, ``class`` or assignment of a package
module (``plans/closure.py``). The check walks ``closure.query_closure``
from three kinds of root:

- every registered query (``registry.QUERIES``);
- every module-level statement of a package module that is not a
  ``def``, a ``class``, an import, a docstring or an assignment to a
  bare name: a module-level call or subscript assignment runs at
  import, so what it names is live although no unit references it;
- the entry points ``bench.py``, ``__spark_entry__.py`` and
  ``perfbench/*.py``, walked as whole files. perfbench binds package
  modules as ``merge = engine("streaming.merge")``; an assignment of a
  call whose only argument names a package module binds that module.

Every other unit outside ``registry.py`` (registration plumbing) and
dunders must match an ``ALLOW`` entry, whose reason says what serves it
though no query or entry point does. An entry that matches a reached
unit, or nothing, is stale. The walk is pure AST: it imports the query
modules to list the registry, and starts no SparkSession.

The walk does not see ``getattr``-style lookups; a unit served that way
is allowlisted, with that as its reason.
"""

from __future__ import annotations

import ast
import fnmatch
import inspect
from pathlib import Path

import pytest

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import closure

ROOT = closure.ROOT
PKG = closure.PKG
ENTRY_POINTS = ["bench.py", "__spark_entry__.py", "perfbench/*.py"]

# (units as "module.unit" fnmatch patterns, relative to the package;
#  what serves them)
ALLOW: list[tuple[tuple[str, ...], str]] = [
    (
        ("streaming.ingest.KAFKA_*", "streaming.ingest.kafka_*",
         "streaming.ingest.es_sink_options", "streaming.ingest.read_envelope_stream"),
        "the Kafka source and Elasticsearch sink contract of a cluster "
        "deployment, which this sandbox cannot run; tests/test_kafka_contract.py "
        "pins the options and the envelope projection",
    ),
    (
        ("sources.logs.read_log_stream",),
        "the Filebeat tail as a Structured Streaming source, for a deployment "
        "that tails live log files; tests/test_connectors_lifecycle.py drives it",
    ),
    (
        ("streaming.lifecycle.*",),
        "the reference consumer's /health, /ready, /info and SIGTERM surface "
        "(index.js), for a long-running deployment; "
        "tests/test_connectors_lifecycle.py drives it",
    ),
    (
        ("streaming.metrics.observe_normalized", "streaming.metrics._metric_exprs"),
        "the reference consumer's prom-client counters over a live stream; "
        "tests/test_aux_ops.py drives them",
    ),
    (
        ("plans.scale.GIB", "plans.scale.TIB", "plans.scale.TARGET_SPLIT_BYTES",
         "plans.scale.MAX_SHUFFLE_PARTITIONS", "plans.scale.BROADCAST_THRESHOLD_BYTES",
         "plans.scale.shuffle_partitions", "plans.scale.recommended_conf",
         "plans.scale.max_offsets_per_trigger", "plans.scale.state_buckets",
         "plans.scale.cosine_blocks", "plans.scale.ivf_cells"),
        "the 100 TB cluster-sizing calculators: the conf a deployment sets, "
        "which no local query can exercise; tests/test_plan_shape.py pins "
        "their arithmetic",
    ),
    (
        ("functions.jpeg.decode_jpeg_pixels", "functions.jpeg._idct_plane",
         "functions.jpeg.ZIGZAG", "functions.multimodal.decode_pixels"),
        "the JPEG pixel half: floats are not hash material, so no query "
        "returns pixels, and pytest pins the decoder against reference images",
    ),
    (
        ("functions.similarity.ivf_topk*", "functions.similarity._ivf_probe"),
        "the one-shot IVF probe that "
        "test_ivf_index_probe_matches_oneshot_path compares sources/ann_store.py "
        "against",
    ),
    (
        ("streaming.ingest.write_envelope_files",),
        "the fixture writer that lands envelope files for stream tests",
    ),
    (
        ("plans.checks.*",),
        "plan predicates over explain() output, used by the plan-shape tests",
    ),
    (
        ("functions.html_text.expected_*", "functions.html_text.html_token",
         "functions.html_text.html_page_url", "functions.warc.warc_body_byte",
         "functions.sitemap.sitemap_entries"),
        "formula oracles: closed forms of the synthetic corpus generators, "
        "which the parser tests compare extraction against",
    ),
]


def package_modules() -> list[str]:
    rels = (str(p.relative_to(ROOT)) for p in (ROOT / PKG).rglob("*.py"))
    return sorted(r for r in rels if r not in closure._EXCLUDE_FILES)


def query_roots() -> set[tuple[str, str]]:
    registry.load_all()
    roots = set()
    for fn in registry.QUERIES.values():
        f = inspect.unwrap(fn)
        roots.add((str(Path(inspect.getsourcefile(f)).resolve().relative_to(ROOT)), f.__name__))
    return roots


def _is_unit_or_inert(stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef,
                         ast.Import, ast.ImportFrom)):
        return True
    if isinstance(stmt, ast.Assign):
        return all(isinstance(t, ast.Name) for t in stmt.targets)
    if isinstance(stmt, ast.AnnAssign):
        return isinstance(stmt.target, ast.Name)
    return isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)


def statement_refs(tree: closure.SourceTree, rel: str) -> set[tuple[str, str]]:
    """Units named by the module-level statements of ``rel`` that run at
    import without being units themselves."""
    mod = tree.module(rel)
    refs: set[tuple[str, str]] = set()
    for stmt in ast.parse(tree.read(rel)).body:
        if not _is_unit_or_inert(stmt):
            refs |= closure._unit_refs(mod, stmt)
    return refs


def entry_refs(rel: str) -> set[tuple[str, str]]:
    """Package units named anywhere in the entry-point file ``rel``."""
    src = (ROOT / rel).read_text()
    mod = closure.ModuleIndex(rel, src)
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and len(node.value.args) == 1
            and isinstance(node.value.args[0], ast.Constant)
            and isinstance(node.value.args[0].value, str)
        ):
            target = closure._mod_to_relpath(f"{PKG}.{node.value.args[0].value}")
            for t in node.targets:
                if target and isinstance(t, ast.Name):
                    mod.imports[t.id] = target
    return {r for r in closure._unit_refs(mod, tree) if r[0].startswith(f"{PKG}/")}


def reached(tree: closure.SourceTree) -> set[tuple[str, str]]:
    roots = query_roots()
    for rel in package_modules():
        roots |= statement_refs(tree, rel)
    for pattern in ENTRY_POINTS:
        for path in sorted(ROOT.glob(pattern)):
            roots |= entry_refs(str(path.relative_to(ROOT)))
    return closure.units_closure(tree, roots)


def units(tree: closure.SourceTree) -> dict[str, tuple[str, str]]:
    """'module.unit' (relative to the package) -> (relpath, unit), for
    every unit but dunders."""
    out = {}
    for rel in package_modules():
        dotted = rel[len(PKG) + 1 : -len(".py")].replace("/", ".").removesuffix(".__init__")
        for name in tree.module(rel).units:
            if not (name.startswith("__") and name.endswith("__")):
                out[f"{dotted}.{name}"] = (rel, name)
    return out


def allowed(qualname: str) -> bool:
    return any(fnmatch.fnmatchcase(qualname, p) for patterns, _ in ALLOW for p in patterns)


def unreached(tree: closure.SourceTree, seen: set[tuple[str, str]]) -> list[str]:
    """Units outside ``seen`` that no allowlist entry covers."""
    return sorted(q for q, site in units(tree).items() if site not in seen and not allowed(q))


@pytest.fixture(scope="module")
def installed():
    tree = closure.SourceTree()
    return tree, reached(tree)


def test_every_unit_is_reached_or_allowlisted(installed):
    tree, seen = installed
    orphans = unreached(tree, seen)
    lines = {q: len(tree.unit_source(*units(tree)[q]).splitlines()) for q in orphans}
    assert not orphans, (
        f"{len(orphans)} units ({sum(lines.values())} lines) are reached from no "
        f"query or entry point; delete them, or allowlist them with a reason: {lines}"
    )


def test_allowlist_is_short_and_current(installed):
    tree, seen = installed
    assert len(ALLOW) < 20
    every = units(tree)
    for patterns, reason in ALLOW:
        assert reason.strip(), patterns
        for p in patterns:
            matched = [q for q in every if fnmatch.fnmatchcase(q, p)]
            assert matched, f"allowlist pattern {p!r} matches no unit"
            live = [q for q in matched if every[q] in seen]
            assert not live, f"allowlist pattern {p!r} covers reached units {live}"


def _planted(text: str) -> closure.SourceTree:
    """The installed sources, with ``text`` appended to functions/skew.py."""
    relpath = f"{PKG}/functions/skew.py"

    def read(rel: str) -> str | None:
        src = closure.read_source(rel)
        return src + text if rel == relpath else src

    return closure.SourceTree(read)


def test_check_names_a_planted_orphan():
    tree = _planted("\n\ndef _planted_orphan():\n    return 1\n")
    assert unreached(tree, reached(tree)) == ["functions.skew._planted_orphan"]


def test_module_level_statement_is_a_root():
    tree = _planted(
        "\n\ndef _planted_callee():\n    return 1\n\n\n"
        "TABLE = {}\nTABLE['k'] = _planted_callee()\n"
    )
    assert unreached(tree, reached(tree)) == []
