"""Run every registered suite query against its DuckDB oracle at sf0.001 —
a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare


def _registry():
    from oem_gateway_spark.suite import REGISTRY

    return REGISTRY


@pytest.mark.parametrize("name", sorted(_registry().keys()))
def test_query_matches_oracle(name, runs, duck):
    from oem_gateway_spark.plans.explain import shared_python_tables

    spec = _registry()[name]
    rec = runs(name)
    # Mechanical fresh-load()-per-plan enforcement (r11 VERDICT #2): a
    # registry query whose plan references one Python-source load()
    # twice would return silently wrong rows (measured scan-state
    # cross-contamination, framelog_source.py:57) — fail it loudly here
    # before the value compare can green-wash it.
    dups = shared_python_tables(rec.df)
    assert not dups, (
        f"{name}: plan references a Python DataSource relation more than "
        f"once ({dups}); build a FRESH load() per reference "
        f"(sources/framelog_source.py fresh-load contract)"
    )
    sdf = rec.result
    if spec.oracle is None:
        assert len(sdf) > 0, f"{name}: rows-only query returned empty"
        return
    ddf = duck.sql(spec.oracle).df()
    errs = compare(sdf, ddf, name)
    assert not errs, "\n".join(errs)


def test_no_conf_witness_violations_after_replay():
    """The full build->act replay above must never trip the conf-witness
    guard (q_bloom_prune / q_cbo_join_reorder executed out of order)."""
    from oem_gateway_spark.suite.registry import CONF_WITNESS_VIOLATIONS

    assert CONF_WITNESS_VIOLATIONS == []
