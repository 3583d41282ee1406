"""Structured Streaming: stream-static enrichment join — the one join
shape the streaming matrix lacked (stream-stream inner/leftOuter/fullOuter
live in streaming/attribution.py; this is the stateless dimension-lookup
side). Every event micro-batch is LEFT-joined against a STATIC two-table
dimension (customer -> nation, itself a broadcast join) that Spark
re-plans per micro-batch as a BroadcastHashJoin — no watermark, no state
store, no shuffle of the stream side: the canonical "enrich the firehose
with a small dim" pattern a 100 TB event pipeline runs in front of every
aggregation.

The reference has no streaming analogue (its dataloader is a bounded
producer/consumer over files, src/misc/dataloader.rs in the reference);
Spark-first shape: readStream -> join(broadcast(static)) -> per-batch
parquet append sink (streaming/sink.py). The oracle is the identical
batch LEFT JOIN — stateless, so ANY micro-batch split converges to it
(proven across a 2-file split in tests/test_streaming_enrich.py, which
also exercises the unmatched-user NULL branch via a filtered static dim).

Determinism contract: join and projection are stateless row maps; the
props payload parse is pure string algebra identical in both dialects
('{"k": N}' -> N); `value` passes through untouched (no double
arithmetic). Rows carry no order guarantee — the driver compare sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import EVENTS_SCHEMA
from .sink import drain, file_stream, read_sink_or_empty, start_sink

ENRICH_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, value double, "
    "k_val bigint, segment string, nation_name string"
)

_QUERY_NAME = "usls_stream_enrich"


def build_enrich(spark: SparkSession, events: DataFrame,
                 dim_dir: str) -> DataFrame:
    """The enrichment plan over any events source (streaming OR batch —
    the same declarative join; tests assert the batch twin's physical
    plan broadcasts the dim so the events side never shuffles)."""
    customer = spark.read.parquet(f"{dim_dir}/customer.parquet")
    nation = spark.read.parquet(f"{dim_dir}/nation.parquet")
    dim = (
        customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey, "left")
        .select("c_custkey",
                F.col("c_mktsegment").alias("segment"),
                F.col("n_name").alias("nation_name"))
    )
    return (
        events.join(F.broadcast(dim),
                    events.user_id == dim.c_custkey, "left")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.expr("CAST(replace(replace(props, '{\"k\": ', ''), '}', '')"
                   " AS BIGINT)").alias("k_val"),
            "segment", "nation_name",
        )
    )


def run_enrich_to_sink(spark: SparkSession, events_dir: str, dim_dir: str,
                       glob: str = "events.parquet",
                       max_files: int | None = None) -> DataFrame:
    """Drive the stream-static join to completion; return the sink.
    ``max_files`` caps files per trigger so a multi-file directory is
    processed across multiple micro-batches (the dim is re-read and
    re-broadcast per batch — the stream-static contract). Stateless
    append mode: each micro-batch's rows are final."""
    events = file_stream(spark, EVENTS_SCHEMA, events_dir, glob, max_files)
    out = build_enrich(spark, events, dim_dir)
    _, sink_dir = drain(spark, lambda sink: start_sink(out, sink, _QUERY_NAME))
    return read_sink_or_empty(spark, sink_dir, ENRICH_OUT_SCHEMA)


def streaming_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: enrich the sf_dir events stream."""
    return run_enrich_to_sink(spark, sf_dir, sf_dir)


# the batch-equivalent LEFT JOIN the drained stream must converge to
ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, e.value,
       CAST(replace(replace(e.props, '{"k": ', ''), '}', '') AS BIGINT) AS k_val,
       c.c_mktsegment AS segment,
       n.n_name AS nation_name
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""
