"""Structured Streaming: incremental count-min-sketch maintenance — the
production shape for streaming heavy hitters at 100 TB/day, and the
end-to-end demonstration of the CMS mergeability argument
(operators/web_curation.cms_sketch_sql): sketch addition IS multiset
union, so each micro-batch contributes its own bounded partial sketch
(<= DEPTH*WIDTH rows) by PLAIN APPEND, and the merged sketch is one
group-by-sum over the partials. No read-modify-write, no driver state —
the sink is append-only and restart-safe by construction (a replayed
batch would append a duplicate partial; Spark's exactly-once file-sink
semantics prevent that, and the sum is associative/commutative so
partial ORDER never matters).

Oracle: the identical batch sketch over the whole table — the drained
stream's merged sketch must equal it at ANY micro-batch split (proven
across a forced 2-file split in tests/test_streaming_cms.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dialect import SPARK
from ..operators.web_curation import cms_sketch_sql
from .sink import drain, file_stream, read_sink_or_empty, start_sink

DOCS_SCHEMA = "doc_id bigint, text string, lang string"
CMS_SINK_SCHEMA = "r bigint, idx bigint, c bigint"

_QUERY_NAME = "usls_stream_cms"


def run_cms_to_sink(spark: SparkSession, docs_dir: str,
                    glob: str = "documents.parquet",
                    max_files: int | None = None) -> DataFrame:
    """Drive the incremental sketch build to completion; return the
    MERGED sketch (r, idx, c) — group-by-sum over the appended
    per-micro-batch partials."""
    batch_sql = cms_sketch_sql(SPARK, table="cms_batch_docs")

    def _partial(batch_df: DataFrame) -> DataFrame:
        # per-batch partial sketch: bounded at DEPTH*WIDTH rows however
        # large the batch; appended, never merged in place
        batch_df.createOrReplaceTempView("cms_batch_docs")
        return batch_df.sparkSession.sql(batch_sql)

    stream = file_stream(spark, DOCS_SCHEMA, docs_dir, glob, max_files)
    _, sink_dir = drain(
        spark, lambda sink: start_sink(stream, sink, _QUERY_NAME, per_batch=_partial)
    )
    partials = read_sink_or_empty(spark, sink_dir, CMS_SINK_SCHEMA)
    return partials.groupBy("r", "idx").agg(F.sum("c").alias("c"))


def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: incremental sketch over sf_dir documents."""
    return run_cms_to_sink(spark, sf_dir)
