"""SparkSession construction tuned for the engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions sized to cores (not the 200 default), AQE
on (runtime coalesce + skew-join splitting — our stand-in for the
reference coordinator's hash-ring rebalancing,
ref: osprey_coordinator/src/hashring/mod.rs), Arrow enabled for every
pandas-UDF boundary, UTC session timezone so results are comparable
with naive-UTC oracles (DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores a local session runs on: ``$SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def build_session(
    app_name: str = "osprey_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    case_sensitive: bool = True,
) -> SparkSession:
    """Build a SparkSession with engine defaults.

    ``master`` defaults to ``local[default_cpus()]``.
    On a real cluster these settings ride along unchanged except
    ``master``/memory, which spark-submit supplies.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # parse local[N] to size shuffles to cores; clusters override.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 1) if n.isdigit() else cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # osprey feature names are case-sensitive (grammar.py:265); the
        # engine ALSO works on default case-insensitive sessions —
        # apply() rejects output frames whose names collide modulo case,
        # and tests/check_parity exercise case_sensitive=False — but
        # case-sensitive is the semantically faithful setting.
        .config("spark.sql.caseSensitive", str(case_sensitive).lower())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
