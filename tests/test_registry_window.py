"""The driver-check window (the first 50 registered queries) IS
coverage policy: the r8 allocation points every slot at a query that
either changed after its latest verdict (scripts/freshness.py), is
brand-new, or holds the oldest (r3) verdict. Pin its structure so a
registry edit cannot silently push a due query back out of the gate;
tests/test_freshness.py enforces the composition policy itself."""

from __future__ import annotations

import pytest

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.registry import _CHECK_FIRST

registry.load_all()


def test_window_is_exactly_the_check_first_list():
    assert len(_CHECK_FIRST) == 50
    assert list(registry.QUERIES)[:50] == _CHECK_FIRST


def test_every_window_name_is_registered():
    missing = [n for n in _CHECK_FIRST if n not in registry.QUERIES]
    assert not missing, missing


def test_window_is_fully_oracle_backed():
    # Every gate-window slot must carry a DuckDB oracle so the driver
    # records a full rows+schema+hash verdict, not the weaker
    # rows-only check. (As of r9 every registered query is
    # oracle-backed — q_hll_distinct's readout became bound
    # predicates over the exact count, so even the sketch path gets
    # a hash verdict.)
    unbacked = [n for n in _CHECK_FIRST if n not in registry.ORACLES]
    assert unbacked == [], unbacked


def test_load_all_raises_on_a_missing_query_module(monkeypatch):
    # a module that fails to import must not silently drop its queries
    bogus = registry.__name__.rsplit(".", 1)[0] + ".queries.no_such_module"
    monkeypatch.setattr(registry, "_QUERY_MODULES", [*registry._QUERY_MODULES, bogus])
    monkeypatch.setattr(registry, "_loaded", False)
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()
