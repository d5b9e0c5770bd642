"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` (single JVM); the configuration is chosen so
the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` sized to cores locally; AQE coalesces
  down, and on a real cluster this would be ~2-3x total cores.
- Arrow enabled for every pandas interchange (the template-extraction UDF
  is the only Python hot path and it is Arrow-batched).
- Session timezone pinned to UTC so timestamps compare exactly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_package_on_pythonpath() -> None:
    """Make this package importable by executor-side Python workers.

    Driver-side ``sys.path`` edits do not propagate to the Python worker
    processes Spark forks for UDF/mapInPandas execution; they inherit the
    JVM's environment. Exporting the repo root on PYTHONPATH before the
    session is created keeps the template-extraction UDF importable on every
    executor (on a real cluster this is the same as shipping the package via
    --py-files / a wheel)."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )


def get_spark(
    app_name: str = "wcdimportbot_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    _export_package_on_pythonpath()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert at the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs driver+executor in ONE JVM: all N concurrent tasks'
        # shuffle/broadcast/cache memory comes out of this heap. 8g GC-
        # thrashed on long sessions (a 70-query bench degraded pipeline
        # queries 5-8x by the time they ran); on a real cluster this is
        # spark.executor.memory sized per-node instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_late_accumulator_noise(spark)
    return spark


#: logger whose accumulator-update noise is filtered, and the pattern
DAG_SCHEDULER_LOGGER = "org.apache.spark.scheduler.DAGScheduler"
ACCUMULATOR_NOISE = r"Failed to update accumulator .*"


def _silence_late_accumulator_noise(spark) -> None:
    """Raise the log level of DAGScheduler's ``updateAccumulators``
    failure to what it is: noise. When a completed task's metric
    update arrives AFTER its query's SQL-metric accumulators were
    cleaned (AQE cancels obsolete stage jobs mid-query; short fused
    engine jobs finish while cancelled-stage stragglers drain),
    DAGScheduler logs ``Failed to update accumulator ... (Unknown
    class)`` + a stack trace AT ERROR — hundreds of lines per bench on
    a busy host, zero effect on results (the full DuckDB oracle sweep
    and every suite stay green with and without the noise; only the
    already-dead query's UI metrics are lost). Spark has no narrower
    switch, so DENY exactly this message pattern on a dedicated
    DAGScheduler logger config — additive, with no level of its own, so
    it inherits the root appenders and level. Never on the root config:
    there the filter would apply to every logger's events. Idempotent
    across sessions (the log4j configuration outlives a SparkContext):
    a config that already carries the filter is left alone. Every other
    DAGScheduler error still logs."""
    try:
        jvm = spark.sparkContext._jvm
        core = jvm.org.apache.logging.log4j.core
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        config = ctx.getConfiguration()
        logger_cfg = config.getLoggerConfig(DAG_SCHEDULER_LOGGER)
        if logger_cfg.getName() != DAG_SCHEDULER_LOGGER:
            # the lookup fell through to an ancestor (the root): add a
            # dedicated config instead of filtering the ancestor's
            logger_cfg = (
                core.config.LoggerConfig.newBuilder()
                .withLoggerName(DAG_SCHEDULER_LOGGER)
                .withAdditivity(True)
                .withConfig(config)
                .build()
            )
            config.addLogger(DAG_SCHEDULER_LOGGER, logger_cfg)
        elif ACCUMULATOR_NOISE in str(logger_cfg.getFilter()):
            return  # installed by an earlier session
        logger_cfg.addFilter(
            core.filter.RegexFilter.createFilter(
                ACCUMULATOR_NOISE,
                None,
                False,
                core.Filter.Result.DENY,
                core.Filter.Result.NEUTRAL,
            )
        )
        ctx.updateLoggers()
    except Exception:  # noqa: BLE001 - logging cosmetics must never fail a job
        pass
