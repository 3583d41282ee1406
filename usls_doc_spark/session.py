"""The engine's one Spark session builder.

The engine depends on four session settings, so they live here as
constants and no caller restates them:

* ``spark.sql.session.timeZone=UTC`` — timestamp queries match their
  DuckDB oracles only in UTC;
* AQE with partition coalescing — the registry's shuffles stay small on
  small inputs;
* Arrow for pandas conversion.

For a ``local[n]`` master the post-shuffle partition count is ``n``.
Everything else is a deployment setting the caller passes. Library code
leaves the session conf as the caller built it: a job that needs a write
setting passes it as a writer option, and the one run-time write
(``streaming/sink.py::_state_partitions``) restores the old value.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

APP_NAME = "usls_doc_spark"
ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def build_session(
    master: str | None = None,
    driver_memory: str | None = None,
    warehouse_dir: str | None = None,
    ui: bool = True,
    log_level: str = "WARN",
) -> SparkSession:
    """Build (or get) the session with the engine's settings. ``master``
    None leaves the master to spark-submit."""
    builder = SparkSession.builder.appName(APP_NAME)
    if master is not None:
        builder = builder.master(master)
        local = re.fullmatch(r"local\[(\d+)\]", master)
        if local:
            builder = builder.config("spark.sql.shuffle.partitions", local.group(1))
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    if warehouse_dir is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if not ui:
        builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(log_level)
    return spark
