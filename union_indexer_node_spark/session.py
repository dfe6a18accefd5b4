"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config keys are the ones that matter on a
real cluster too (AQE, shuffle partitions, Arrow). Callers can override
anything via the ``extra`` dict.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime coalescing + skew-join splitting. Hot communities /
    # authors are a real skew source in the domain model (SURVEY §7).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps across engines (DuckDB oracle compares).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Sort-merge fallback shouldn't dominate small dims.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Older driver testdata stored ts as TIMESTAMP(NANOS): read as long
    # and convert in tables.load (matches DuckDB's ns->us truncation).
    # Harmless for the current TIMESTAMP(MICROS) testdata.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Current testdata stores TIMESTAMP(MICROS, isAdjustedToUTC=false),
    # which Spark 4 would infer as TIMESTAMP_NTZ — NTZ can't carry a
    # streaming watermark, so read as plain TIMESTAMP (value-identical
    # under the pinned UTC zone; matches DuckDB's naive read).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
}


def _default_driver_memory() -> str:
    """8g when the host can afford it, else half of MemAvailable
    (floored at 1g — Spark's own default). Keeps the big-heap fix for
    long multi-query sessions without breaking small containers."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(1, min(8, avail_gb // 2))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "union_indexer_node_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism;
    shuffle partitions default to the same so a local run doesn't pay
    200-partition scheduling overhead, while a cluster deploy overrides.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Python workers unpickle our pandas functions by module reference
    # (e.g. pipelines/multimodal.py); make the package importable in
    # workers even when the driver runs from another cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pythonpath}" if pythonpath else repo_root
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local mode puts driver + all 32 executor threads in ONE JVM, and
    # Spark's 1g default heap GC-thrashes long multi-query sessions
    # (measured: the 41-query bench ran 2.3x slower at 1g than 8g —
    # broadcast blocks and shuffle state accumulate across queries). On
    # a real cluster this key only sizes the driver, where 8g is also a
    # reasonable floor for a 1000-executor coordinator. Capped at half
    # of MemAvailable so the JVM still launches on small hosts/CI.
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_DRIVER_MEMORY", _default_driver_memory()
    )
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
