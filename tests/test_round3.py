"""Round-3 regression tests: fixpoint lineage truncation, the w1
rounding-order alignment and the f10 point lookup.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from union_indexer_node_spark import queries as q

from conftest import SF_DIR


def test_j9_fixpoint_lineage_truncated(spark):
    """Every fixpoint level is localCheckpoint'd: the returned frame must
    read from in-memory level RDDs, not re-execute the whole iteration
    history (no parquet re-scan in the final plan)."""
    df = q.registry()["j9_reply_closure"].fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "parquet" not in plan.lower()


def test_w1_filters_on_unrounded_score(spark, tmp_path):
    """A score in (0, 0.005) rounds to 0.0 but must SURVIVE the filter in
    both engines (the oracle filters the raw SUM); pre-fix Spark filtered
    the rounded score and dropped the row."""
    import duckdb

    events = spark.createDataFrame(
        [
            (1, 1, "purchase", 10**18, 0.001, "{}"),
            (2, 2, "purchase", 10**18, 5.0, "{}"),
            (3, 3, "purchase", 10**18, -1.0, "{}"),
        ],
        "event_id long, user_id long, event_type string, ts long, value double, props string",
    )
    sf = str(tmp_path)
    events.write.parquet(f"{sf}/events.parquet")

    out = q.registry()["w1_leaderboard_rank"].fn(spark, sf).toPandas()
    assert sorted(out["user_id"].tolist()) == [1, 2], (
        "user 1 (raw score 0.001) must survive the >0 filter"
    )
    assert out.loc[out["user_id"] == 1, "score"].iloc[0] == 0.0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    duck = con.execute(q.registry()["w1_leaderboard_rank"].oracle).df()
    con.close()
    assert sorted(duck["user_id"].tolist()) == [1, 2]


def test_f10_point_lookup_single_stage(spark):
    """F10 must be one declarative plan (filter+limit), not a driver
    .head() pre-query followed by a second job."""
    df = q.registry()["f10_point_lookup"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" in plan or "GlobalLimit" in plan
    assert "Exchange" not in plan
