"""Function-granular code closures, and the code key derived from them.

A *unit* is a top-level ``def``, ``class`` or assignment of a package
module. The closure of a unit is every package unit it references,
transitively: bare names that resolve in its module or through a
``from`` import (package re-exports such as ``from .tables import
load_table`` in ``sources/__init__.py`` are followed to the defining
unit), ``alias.attr`` where ``alias`` is an imported package module,
and the names of function-local imports. A nested function or lambda
is part of the source of the unit that encloses it.

Three consumers share the walk:

- :func:`code_key` hashes the closure source of one function. The
  artifact store (``sources/artifact.py::input_fingerprint``) and the
  resumable stream workdirs (``streaming/ingest.py::resumable_workdir``)
  key derived data with it, so an edit anywhere in a derivation's
  closure rotates its key, and an edit outside it does not.
- ``scripts/freshness.py`` compares each query's closure between the
  worktree and the commit that added its latest gate verdict.
- ``tests/test_reachability.py`` walks from every query and entry
  point, and fails on a unit that nothing reaches.

Units in ``registry.py`` are left out: it holds only registration
plumbing and the generated gate-window lists, which change every round
without changing what any query computes.
"""

from __future__ import annotations

import ast
import hashlib
from collections.abc import Callable, Iterable
from pathlib import Path

PKG = __name__.split(".")[0]
ROOT = Path(__file__).resolve().parents[2]
_EXCLUDE_FILES = {f"{PKG}/registry.py"}


class ModuleIndex:
    """Per-module maps extracted from one parsed source file."""

    def __init__(self, relpath: str, source: str) -> None:
        self.relpath = relpath
        self.lines = source.splitlines()
        self.units: dict[str, ast.AST] = {}      # top-level def/class/assign
        self.imports: dict[str, str] = {}        # alias -> module relpath
        self.from_imports: dict[str, tuple[str, str]] = {}  # alias -> (relpath, name)
        try:
            tree = ast.parse(source)
        except SyntaxError:
            return
        pkg_parts = relpath.split("/")[:-1]  # e.g. [PKG, 'queries']
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.units[node.name] = node
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.units[tgt.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self.units[node.target.id] = node
        # imports, resolving package-relative dots against this module's dir
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(PKG):
                        alias = a.asname or a.name.split(".")[0]
                        self.imports[alias] = _mod_to_relpath(a.name)
            elif isinstance(node, ast.ImportFrom):
                base = _resolve_from(node, pkg_parts)
                if base is None:
                    continue
                for a in node.names:
                    alias = a.asname or a.name
                    sub = _mod_to_relpath(f"{base}.{a.name}")
                    if sub is not None:
                        # `from ..streaming import alerts` -> module alias
                        self.imports[alias] = sub
                    else:
                        # `from ..sources import load_table` -> named unit
                        rel = _mod_to_relpath(base)
                        if rel is not None:
                            self.from_imports[alias] = (rel, a.name)

    def unit_source(self, name: str) -> str | None:
        node = self.units.get(name)
        if node is None:
            return None
        start = node.lineno
        for deco in getattr(node, "decorator_list", []):
            start = min(start, deco.lineno)
        return "\n".join(self.lines[start - 1 : node.end_lineno])


def _mod_to_relpath(dotted: str) -> str | None:
    """'PKG.queries.cdc' -> 'PKG/queries/cdc.py' (or pkg __init__).
    Existence is checked against the installed tree: a module present
    only in an old git tree resolves to None there, which at worst
    over-flags (the from-import falls back to a named-unit lookup)."""
    if not dotted.startswith(PKG):
        return None
    rel = dotted.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        if (ROOT / cand).exists():
            return cand
    return None


def _resolve_from(node: ast.ImportFrom, pkg_parts: list[str]) -> str | None:
    """Resolve an ImportFrom to a dotted package path, or None if external."""
    if node.level == 0:
        return node.module if node.module and node.module.startswith(PKG) else None
    base_parts = pkg_parts[: len(pkg_parts) - (node.level - 1)]
    if not base_parts or base_parts[0] != PKG:
        return None
    dotted = ".".join(base_parts)
    return f"{dotted}.{node.module}" if node.module else dotted


def read_source(relpath: str) -> str | None:
    """A package module's source as installed next to this file."""
    try:
        return (ROOT / relpath).read_text()
    except OSError:
        return None


class SourceTree:
    """Package modules read through ``read`` and parsed on first use, so
    a walk parses only the modules it reaches; ``keys`` memoizes
    :func:`code_key` over this tree."""

    def __init__(self, read: Callable[[str], str | None] = read_source) -> None:
        self.read = read
        self.modules: dict[str, ModuleIndex | None] = {}
        self.keys: dict[tuple[str, str], str] = {}

    def module(self, relpath: str) -> ModuleIndex | None:
        if relpath not in self.modules:
            src = self.read(relpath)
            self.modules[relpath] = None if src is None else ModuleIndex(relpath, src)
        return self.modules[relpath]

    def unit_source(self, relpath: str, name: str) -> str | None:
        mod = self.module(relpath)
        return mod.unit_source(name) if mod else None


def _unit_refs(mod: ModuleIndex, node: ast.AST) -> set[tuple[str, str]]:
    """Package units referenced from one unit's AST: bare names that
    resolve locally or via from-imports, and `alias.attr` where alias is
    an imported package module."""
    refs: set[tuple[str, str]] = set()
    own = getattr(node, "name", None)
    for sub in ast.walk(node):
        if isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
            target = mod.imports.get(sub.value.id)
            if target:
                refs.add((target, sub.attr))
        elif isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
            if sub.id == own:
                continue
            if sub.id in mod.units:
                refs.add((mod.relpath, sub.id))
            elif sub.id in mod.from_imports:
                refs.add(mod.from_imports[sub.id])
        elif isinstance(sub, ast.ImportFrom):
            # function-local imports
            base = _resolve_from(sub, mod.relpath.split("/")[:-1])
            if base is None:
                continue
            rel = _mod_to_relpath(base)
            if rel is not None:
                for a in sub.names:
                    refs.add((rel, a.name))
    return refs


def query_closure(tree: SourceTree, relpath: str, fn_name: str) -> set[tuple[str, str]]:
    """Transitive package-unit closure of one top-level unit."""
    return units_closure(tree, [(relpath, fn_name)])


def units_closure(tree: SourceTree, roots: Iterable[tuple[str, str]]) -> set[tuple[str, str]]:
    """Transitive package-unit closure of ``(relpath, unit)`` roots."""
    seen: set[tuple[str, str]] = set()
    stack = list(roots)
    while stack:
        rel, name = stack.pop()
        if (rel, name) in seen or rel in _EXCLUDE_FILES:
            continue
        mod = tree.module(rel)
        if mod is None:
            continue
        if name not in mod.units:
            # a package re-export: follow it to the defining unit
            if name in mod.from_imports:
                stack.append(mod.from_imports[name])
            continue
        seen.add((rel, name))
        for ref in _unit_refs(mod, mod.units[name]):
            if ref not in seen:
                stack.append(ref)
    return seen


_TREE = SourceTree()


def code_key(fn: Callable) -> str:
    """sha256 over the sorted (package-relative path, unit, unit source)
    triples of ``fn``'s closure. ``fn`` must be a top-level package
    function (a decorated one is looked up by its wrapped name); a
    nested function or lambda is keyed through the function that
    encloses it. Memoized per process: imported code cannot change
    under a running process."""
    name = getattr(fn, "__name__", "")
    if name == "<lambda>" or getattr(fn, "__qualname__", None) != name:
        raise ValueError(
            f"code_key needs a top-level function, not "
            f"{getattr(fn, '__qualname__', fn)!r}: key a nested function "
            f"or lambda by the top-level function that defines it"
        )
    tree = _TREE
    relpath = _mod_to_relpath(getattr(fn, "__module__", None) or "")
    unit = (relpath, name)
    if unit not in tree.keys:
        mod = tree.module(relpath) if relpath else None
        if mod is None or name not in mod.units:
            raise ValueError(
                f"code_key: {fn.__module__}.{name} is not a top-level "
                f"function of the {PKG} package"
            )
        h = hashlib.sha256()
        for rel, u in sorted(query_closure(tree, relpath, name)):
            h.update(f"{rel}\0{u}\0{tree.unit_source(rel, u)}\0".encode())
        tree.keys[unit] = h.hexdigest()
    return tree.keys[unit]
