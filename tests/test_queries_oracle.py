"""Every registry entry has a DuckDB oracle and must match it on
sf0.01."""

from __future__ import annotations

import pytest

from union_indexer_node_spark import queries as q

from conftest import SF_ORACLE_DIR
from oracle_harness import compare, duckdb_conn

REG = q.registry()


def test_registry_size():
    """Adding or removing an entry is a deliberate change of this pin."""
    assert len(REG) == 202


@pytest.fixture(scope="module")
def duck():
    con = duckdb_conn(SF_ORACLE_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REG))
def test_oracle_match(spark, duck, name):
    qd = REG[name]
    assert qd.oracle is not None
    sdf = qd.fn(spark, SF_ORACLE_DIR).toPandas()
    ddf = duck.execute(qd.oracle).df()
    errs = compare(sdf, ddf, name)
    assert not errs, "\n".join(errs)
