"""SparkSession factory with scale-minded defaults.

The reference pins everything to UTC (``pd.Timestamp.now(tz='UTC')``,
``dags/ FXRate_Reporting_Pipeline.py:52``) and relies on BigQuery's columnar
engine; here Spark is the engine, so the session carries the configuration
that matters at scale: AQE (runtime re-planning + skew-join handling),
Arrow for any pandas interchange, and a shuffle-partition count sized to
the local core count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """The local core budget, ``$SPARK_GRAFT_CPUS`` (default 32), read
    at call time: ``local[N]``, the shuffle-partition default and the
    bench record's file name all agree even when the variable is set
    after this module is imported."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "etl_end_to_end_airflow_bigquery_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with UTC + Arrow + AQE defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe (session-scoped SQL conf only,
    plus local[] fallbacks used when no master is configured).
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Read parquet TIMESTAMP (isAdjustedToUTC=false) as NTZ so values
        # match the DuckDB oracle byte-for-byte regardless of host TZ.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Pinned (Spark 4 default, but relied upon): int64 accumulator
        # overflow in decimal_sum must raise, never wrap silently.
        .config("spark.sql.ansi.enabled", "true")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    elif master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
