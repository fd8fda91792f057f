"""The driver contract in ``__spark_entry__.py`` is a view of the registry.

``queries()`` and ``oracle_sql()`` must expose exactly the registered
queries — the same names, and each value the registry's own ``fn`` /
``oracle`` object, not a copy or a wrapper — and ``load_all()`` must be
safe to call repeatedly (every contract function calls it).
"""

from __future__ import annotations

import __spark_entry__ as entry
from ifcb_data_pipeline_spark.queries import load_all

N_QUERIES = 216


def test_load_all_is_idempotent():
    first, second = load_all(), load_all()
    assert first == second
    assert list(first) == list(second)
    assert len(first) == N_QUERIES


def test_entry_functions_expose_the_registry_objects():
    reg = load_all()
    qs, osql = entry.queries(), entry.oracle_sql()
    assert list(qs) == list(reg)
    # every registered query carries a DuckDB oracle, so no name is
    # dropped from oracle_sql()
    assert list(osql) == list(reg)
    for name, qdef in reg.items():
        assert qs[name] is qdef.fn, name
        assert osql[name] is qdef.oracle, name
