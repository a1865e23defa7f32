"""Differential test: every registered query vs its DuckDB oracle.

This mirrors the driver's correctness gate (CORRECTNESS_r{N}.json) so a
green run here predicts a green driver run.
"""

from __future__ import annotations

import pytest

from tinyerp_etl_spark.plans.registry import all_oracles, all_queries
from tinyerp_etl_spark.testing import assert_driver_hashable, assert_matches_oracle

QUERIES = all_queries()
ORACLES = all_oracles()


def test_scalar_contract_rejects_array_outputs(spark):
    # the exact failure mode of CORRECTNESS_r07: an array<bigint>
    # output column slipping through the local sweep — both the
    # schema-level guard and the cell-level canonicalizer must refuse
    import pandas as pd
    import pytest as _pt

    from tinyerp_etl_spark.testing import canonical_rows

    df = spark.createDataFrame([(1, [1, 2])], "id int, ticks array<bigint>")
    with _pt.raises(AssertionError, match="complex-typed"):
        assert_driver_hashable(df, name="unit")
    with _pt.raises(TypeError, match="complex-typed"):
        canonical_rows(pd.DataFrame({"id": [1], "ticks": [[1, 2]]}))


def test_registry_order_is_pinned():
    # the correctness gate covers the first 50 registry entries:
    # their order (and the full order) must not drift
    import hashlib

    names = list(QUERIES)

    def digest(ns):
        return hashlib.sha256("\n".join(ns).encode()).hexdigest()

    assert len(names) == 202
    assert digest(names[:50]) == (
        "26128dfde54069d11db0ca2151865f63e3e155566d3c016a123b7c00b497f12c"
    )
    assert digest(names) == (
        "e6d0f2c33b04e1fb1a1f5e43279902c1492a495f3d3707048e02eba6602ac9f2"
    )


def test_every_oracle_has_a_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, ORACLES[name], sf_dir, name=name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_without_oracle_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    # rows-only driver check still toPandas()-es the result, so the
    # scalar-output contract binds these queries too
    assert_driver_hashable(df, name=name)
    assert df.count() >= 0
