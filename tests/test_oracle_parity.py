"""Oracle parity: every registered query against its DuckDB twin.

Each ``queries()`` entry runs on the session Spark fixture at sf0.001
and its ``oracle_sql()`` twin runs on DuckDB over the same parquet.
The two results must match under ``tools/selfcheck.compare``: row
count, columns and order-insensitive values, with FP drift below 1e-9
tolerated. A pair that is empty on both sides matches vacuously, so a
query that returns no rows at sf0.001 is rerun at sf0.01 and must
return rows there.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

import __spark_entry__ as entrymod
from tools import selfcheck

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duckdb_for():
    cons: dict = {}

    def con(sf: str):
        if sf not in cons:
            cons[sf] = selfcheck.duckdb_con(sf)
        return cons[sf]

    yield con
    for c in cons.values():
        c.close()


def _matched_rows(spark, con, name: str, sf: str) -> int:
    got = QUERIES[name](spark, sf).toPandas()
    want = con.execute(ORACLE[name]).fetchdf()
    problems = selfcheck.failures(selfcheck.compare(name, got, want))
    assert not problems, f"{name} at {sf}: {problems}"
    return len(got)


def test_queries_have_oracles():
    assert set(ORACLE) == set(QUERIES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity(spark, duckdb_for, sf_dir, sf_wide_dir, name):
    if _matched_rows(spark, duckdb_for(sf_dir), name, sf_dir) == 0:
        rows = _matched_rows(spark, duckdb_for(sf_wide_dir), name, sf_wide_dir)
        assert rows > 0, f"{name} is empty at {sf_dir} and {sf_wide_dir}"


def test_duplicate_registration_is_rejected():
    first = SimpleNamespace(QUERIES={"a": 1, "shared": 2})
    second = SimpleNamespace(QUERIES={"shared": 3})
    with pytest.raises(ValueError, match="shared"):
        entrymod._merged("QUERIES", [first, second])
