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


def test_q_rejects_duplicate_name_and_missing_oracle():
    """Registering a taken name, or an entry without oracle SQL, raises
    before the registry changes."""
    before = q.registry()

    def fn(spark, sf_dir):
        raise AssertionError("never registered, never run")

    with pytest.raises(ValueError):
        q.q("social_feed_by_app", "SELECT 1")(fn)
    for oracle in (None, ""):
        with pytest.raises(ValueError):
            q.q("q_without_oracle", oracle)(fn)
    after = q.registry()
    assert list(after) == list(before)
    assert all(after[name] is before[name] for name in before)
