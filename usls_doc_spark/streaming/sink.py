"""The one streaming drain: file source -> foreachBatch parquet sink ->
run to completion -> read back.

Every drained query in this package goes through the same four steps,
the Structured Streaming form of the reference's producer/consumer
DataLoader (src/misc/dataloader.rs:234-331 in the reference):

  * ``file_stream`` reads parquet files under a glob; ``max_files`` caps
    files per trigger, which is how tests and sentinel protocols force a
    fixed micro-batch split (files trigger oldest-mtime first);
  * ``start_sink`` appends every micro-batch to a parquet directory on
    the executors (never a driver memory sink), after stopping any live
    query of the same name;
  * ``drain`` runs one started query to completion against a fresh sink
    directory and raises if the watermark dropped any row — a drained
    stream equals its batch oracle only when no input arrived more than
    the watermark delay out of event-time order;
  * ``read_sink_or_empty`` reads the sink back, or an empty frame of the
    declared schema when no micro-batch ever wrote it.

State partitions. A stateful operator pins ``spark.sql.shuffle.partitions``
at stream start, and every micro-batch pays per-partition state-store
overhead whether or not rows arrived: a zero-row batch of the attribution
join cost 3.4 s at 32 state partitions and 0.7 s at 8. The JVM-state
drains (window aggregation, interval joins, sessionize) therefore pass
``state_input`` and run at ceil(input bytes / 512 KiB) partitions, at
least 2 and at most the session value, which stays the ceiling on a
cluster. The Python-fold dedup drains pass nothing: there the partitions
are the fold's compute parallelism (2.3 s at 32 vs 4.0 s at 2 for exact
dedup, 7.2 s vs 14.0 s for MinHash, sf0.1).
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_STATE_TARGET_BYTES = 512 * 1024  # compressed source parquet per state partition
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def temp_dir(prefix: str) -> str:
    """A fresh local directory removed at interpreter exit, not eagerly:
    the drains return lazy DataFrames over it that the caller may
    re-evaluate later."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def file_stream(spark: SparkSession, schema: str, path: str, glob: str,
                max_files: int | None = None) -> DataFrame:
    """Parquet files under ``path`` matching ``glob`` as a stream."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(path)


def start_sink(df: DataFrame, sink_dir: str, query_name: str,
               output_mode: str = "append",
               per_batch: Callable[[DataFrame], DataFrame] | None = None,
               ) -> StreamingQuery:
    """Start ``df`` as query ``query_name``, appending each micro-batch
    (mapped through ``per_batch`` when given) to parquet ``sink_dir``."""
    for q in df.sparkSession.streams.active:
        if q.name == query_name:
            q.stop()

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        rows = per_batch(batch_df) if per_batch else batch_df
        rows.write.mode("append").parquet(sink_dir)

    return (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(_append)
        .queryName(query_name)
        .start()
    )


def dropped_by_watermark(q: StreamingQuery) -> int:
    """Rows the stateful operators dropped as too late across the query's
    recorded progress."""
    return sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )


@contextmanager
def _state_partitions(spark: SparkSession, state_input: str | None):
    old = spark.conf.get(_SHUFFLE_PARTITIONS)
    # a non-local input (hdfs://, s3a://) keeps the session layout
    if state_input is not None and os.path.isfile(state_input):
        n = math.ceil(os.path.getsize(state_input) / _STATE_TARGET_BYTES)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(max(2, min(int(old), n))))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, old)


def drain(spark: SparkSession, start: Callable[[str], StreamingQuery],
          state_input: str | None = None) -> tuple[StreamingQuery, str]:
    """Run ``start(sink_dir)`` against a fresh sink directory until all
    available input is processed; return (the stopped query, sink_dir).
    ``state_input`` sizes the state partitions to that file (see the
    module docstring). Raises RuntimeError if the watermark dropped a
    row."""
    sink_dir = f"{temp_dir('usls_stream_')}/sink"
    with _state_partitions(spark, state_input):
        q = start(sink_dir)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    dropped = dropped_by_watermark(q)
    if dropped:
        raise RuntimeError(
            f"{dropped} late rows dropped by watermark — input arrived out "
            "of event-time order; the batch oracle no longer applies"
        )
    return q, sink_dir


def read_sink_or_empty(spark: SparkSession, sink_dir: str, schema: str) -> DataFrame:
    """Read a foreachBatch parquet sink, or return an empty DataFrame with
    the declared output ``schema`` when no batch ever wrote it (the sink
    directory is created by the first micro-batch write).

    The zero-batch case is detected by catching the read's
    path-not-found AnalysisException rather than a driver-side
    ``os.path.isdir`` — the local-filesystem check is always false for
    hdfs:// or s3a:// sink URIs, which a multi-executor deployment uses."""
    try:
        return spark.read.schema(schema).parquet(sink_dir)
    except AnalysisException as e:
        # prefer the structured error class (stable across Spark versions;
        # getCondition supersedes getErrorClass in Spark 4) and keep the
        # message-substring check only as a legacy fallback
        err_class = None
        for attr in ("getCondition", "getErrorClass"):
            getter = getattr(e, attr, None)
            if getter is not None:
                err_class = getter()
                if err_class:
                    break
        if (
            err_class == "PATH_NOT_FOUND"
            or (err_class is None
                and ("PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)))
        ):
            return spark.createDataFrame([], schema)
        raise
