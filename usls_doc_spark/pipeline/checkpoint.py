"""Idempotent, resumable extraction job: bucketing, skew split, checkpoint,
per-partition lineage metrics.

North-rule requirements (BASELINE.json north_rule / SURVEY.md §4):
  1. "skewed oversized-HTML keys are salted and repartitioned explicitly" —
     the input is split into a small-doc population (hash-repartitioned on
     url) and an oversized population (round-robin repartitioned so no task
     collects several giants); each runs through the same extraction UDF.
  2. "every partition emits lineage + doc-count/byte-count metrics to a
     checkpoint table so failed runs resume idempotently" — output is
     written parquet partitioned by a url-hash bucket with DYNAMIC partition
     overwrite (a re-run of an incomplete bucket atomically replaces it, so
     repeats never duplicate); completed buckets are recorded in a
     checkpoint table and anti-joined away on resume; a lineage table
     records (run_id, partition_id, doc_count, byte_count, elapsed_ms).

Scale notes: one Spark job processes ALL remaining buckets (no per-bucket
driver loop); the skew split scans the source twice but each row passes
exactly one filter — at 100 TB both scans push `octet_length(html)`
filtering to the scan and the giant population is a tiny fraction.
Checkpoint/lineage aggregates are computed by reading BACK the written
output (honest lineage of what is durably on disk), never by recomputing
the extraction.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import extract_pages

DEFAULT_N_BUCKETS = 64
DEFAULT_SKEW_BYTES = 64 * 1024  # pages >= this are "oversized"


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets an earlier run recorded as done. Only a missing checkpoint
    table (a fresh out dir) means none; any other read failure, such as a
    corrupt checkpoint file, is raised, because re-running every bucket
    would append duplicate lineage. The schema is given so a checkpoint
    dir holding no committed file yet (a run killed mid-append) reads as
    empty instead of failing schema inference."""
    try:
        ck = spark.read.schema("bucket int, status string").parquet(
            f"{out_dir}/_checkpoint"
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    rows = ck.filter(F.col("status") == "done").select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    skew_bytes: int = DEFAULT_SKEW_BYTES,
    max_buckets: int | None = None,
) -> dict:
    """Process all not-yet-checkpointed buckets of ``pages`` into
    ``{out_dir}/extracted`` (parquet, partitioned by bucket). Returns a
    summary dict. ``max_buckets`` limits this run to the first K remaining
    buckets (test hook for simulating a partial/failed run — the buckets it
    does process are still complete, which is the checkpoint unit).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.monotonic()
    done = completed_buckets(spark, out_dir)
    remaining = sorted(set(range(n_buckets)) - done)
    if max_buckets is not None:
        remaining = remaining[:max_buckets]
    if not remaining:
        return {"run_id": run_id, "buckets": [], "docs": 0, "skipped": True}

    pages = pages.withColumn("bucket", _bucket(F.col("url"), n_buckets))
    if len(remaining) < n_buckets:
        pages = pages.filter(F.col("bucket").isin(remaining))

    nparts = spark.sparkContext.defaultParallelism * 4
    # null html must still flow through (it becomes an error row, S3
    # semantics) — octet_length(NULL) is NULL and would fail BOTH filters
    size = F.coalesce(F.octet_length("html"), F.lit(0))
    small = pages.filter(size < skew_bytes).repartition(nparts, "url")
    # oversized docs: round-robin spread so no task accumulates several giants
    big = pages.filter(size >= skew_bytes).repartition(nparts)

    extracted = extract_pages(small).unionByName(extract_pages(big))
    out = (
        extracted.withColumn("bucket", _bucket(F.col("url"), n_buckets))
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out.write.partitionBy("bucket").mode("overwrite").parquet(f"{out_dir}/extracted")

    # lineage + checkpoint from what is durably on disk
    written = spark.read.parquet(f"{out_dir}/extracted").filter(
        F.col("bucket").isin(remaining)
    )
    lineage = written.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("extracted_bytes").alias("byte_count"),
        (F.sum("elapsed_us") / F.lit(1000)).cast("bigint").alias("elapsed_ms"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_count"),
    ).withColumn("started_at", F.current_timestamp())
    lineage.write.mode("append").parquet(f"{out_dir}/_lineage")

    # every remaining bucket is marked done — including empty ones, which
    # produce no output rows but must not be reprocessed forever
    bucket_counts = written.groupBy("bucket").agg(
        F.count("*").alias("doc_count"),
        F.sum("extracted_bytes").alias("byte_count"),
    )
    all_buckets = spark.createDataFrame([(b,) for b in remaining], "bucket int")
    ckpt = (
        all_buckets.join(bucket_counts, "bucket", "left")
        .na.fill({"doc_count": 0, "byte_count": 0})
        .select(
            F.lit(run_id).alias("run_id"),
            "bucket",
            F.lit("done").alias("status"),
            "doc_count",
            "byte_count",
            F.current_timestamp().alias("updated_at"),
        )
    )
    ckpt.write.mode("append").parquet(f"{out_dir}/_checkpoint")

    n_docs = sum(r["doc_count"] for r in ckpt.select("doc_count").collect())
    return {
        "run_id": run_id,
        "buckets": remaining,
        "docs": n_docs,
        "elapsed_s": time.monotonic() - t_start,
        "skipped": False,
    }
