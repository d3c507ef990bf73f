"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what we would set on a real cluster:
- AQE on (runtime coalescing + skew-join splitting) — the engine's answer to
  head-entity skew at 100 TB, alongside explicit salting
  (operators/canonicalize.salt_keys).
- shuffle.partitions ~ cores locally; on a 1000-executor cluster this is set
  to 2-3x total cores (AQE coalesces down).
- Arrow enabled: every Python-side operator in this engine is vectorized
  (pandas UDF / mapInPandas / applyInPandas); there is no per-row Python.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (duckdb timestamps are UTC-naive).

Tuning note for python-heavy plans: a stage that chains Arrow python
evals (mapInPandas -> pandas UDF -> ...) runs one python worker PER eval
node per task alongside the JVM task thread — one task occupies ~2+
cores. Submit such jobs with ``--conf spark.task.cpus=2`` (pass
``extra_conf={"spark.task.cpus": "2"}`` here); without the reservation
the scheduler oversubscribes physical cores and throughput ANTI-scales
past the physical-core count (measured on this box: local[32] 22.9k
docs/s plain vs 46.9k with the reservation on the KG pipeline).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster this function is a no-op passthrough: spark-submit
    provides master/deploy-mode and this just layers SQL conf.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores. Cluster: overridden via spark-submit --conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if not n or n == "*" else int(n)

    # under spark-submit the JVM gateway already carries --master/--deploy-mode;
    # overriding it from the builder would fight the launcher on a real cluster
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = SparkSession.builder if under_submit else SparkSession.builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # floor on scan parallelism (not a split-size tune): a 100-500 MB
        # local file otherwise yields 1-4 scan tasks; at cluster scale file
        # counts exceed any core count and this is a no-op. Splits still
        # align to parquet row groups — single-row-group files need
        # __spark_entry__._spread instead. Derived from the SAME
        # resolved core count as shuffle_partitions (review r6: the env
        # default would over-split scans on a local[4] test session).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_KG_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
