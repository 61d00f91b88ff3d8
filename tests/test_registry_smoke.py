"""Smoke test: every registered query runs at sf0.001 under a plain
(driver-like) session and yields a stable non-empty schema.

Value-level correctness is the DuckDB oracle gate
(tools/verify_local.py); this guards runnability + schema stability.
"""

from __future__ import annotations

import os

import pytest

from etl_sprint_2_5_spark import plans
from etl_sprint_2_5_spark.plans.legacy_queries import _REF_DB
from tests.conftest import SF_SMOKE

plans.load_all()


@pytest.mark.parametrize("name", sorted(plans.REGISTRY))
def test_query_runs(spark, name):
    # the one query that reads the reference checkout, not the repo
    if name == "legacy_full_load_live" and not os.path.isfile(_REF_DB):
        pytest.skip(f"{name} reads {_REF_DB}, which is absent on this host")
    q = plans.REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) == set(names)
    assert len(names) == len(plans.REGISTRY)
