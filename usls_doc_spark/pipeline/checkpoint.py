"""Idempotent, resumable extraction job: bucketing, skew split, and one
checkpoint table that carries the per-bucket metrics.

North-rule requirements (BASELINE.json north_rule / SURVEY.md §4):
  1. "skewed oversized-HTML keys are salted and repartitioned explicitly" —
     the input is split into a small-doc population (hash-repartitioned on
     url) and an oversized population (round-robin repartitioned so no task
     collects several giants); each runs through the same extraction UDF.
  2. "every partition emits lineage + doc-count/byte-count metrics to a
     checkpoint table so failed runs resume idempotently" — the url-hash
     bucket is the unit of everything. The output is repartitioned by
     bucket, so each bucket is one write partition with one writer, and
     written as parquet partitioned by bucket with DYNAMIC partition
     overwrite (a re-run of an incomplete bucket replaces it, so repeats
     never duplicate). One append to ``_checkpoint`` then records every
     processed bucket with its metrics (run_id, bucket, status, doc_count,
     byte_count, elapsed_ms, error_count, updated_at); that append is the
     commit, and resume skips the buckets it names.

Scale notes: one Spark job processes ALL remaining buckets (no per-bucket
driver loop); the skew split scans the source twice but each row passes
exactly one filter — at 100 TB both scans push `octet_length(html)`
filtering to the scan and the giant population is a tiny fraction. The
metrics come from ONE read back of the written buckets (what is durably on
disk), never from recomputing the extraction, and collect at most
``n_buckets`` rows to the driver.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import extract_pages

DEFAULT_N_BUCKETS = 64
SKEW_BYTES = 64 * 1024  # pages >= this are "oversized"
CHECKPOINT_SCHEMA = (
    "run_id string, bucket int, status string, doc_count bigint, "
    "byte_count bigint, elapsed_ms bigint, error_count bigint"
)


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets an earlier run recorded as done in ``_checkpoint``. Only a
    missing checkpoint table (a fresh out dir) means none; any other read
    failure, such as a corrupt checkpoint file, is raised, because treating
    it as 'none done' would re-run every bucket and append a second
    checkpoint row (with its metrics) for each. The schema is given so a
    checkpoint dir holding no committed file yet (a run killed mid-append)
    reads as empty instead of failing schema inference."""
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
    small = pages.filter(size < SKEW_BYTES).repartition(nparts, "url")
    # oversized docs: round-robin spread so no task accumulates several giants
    big = pages.filter(size >= SKEW_BYTES).repartition(nparts)

    extracted = extract_pages(small).unionByName(extract_pages(big))
    (
        extracted.withColumn("bucket", _bucket(F.col("url"), n_buckets))
        .withColumn("run_id", F.lit(run_id))
        .repartition("bucket")
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{out_dir}/extracted")
    )

    # the schema is given so a run whose buckets were all empty (no data
    # file written yet) reads as no rows instead of failing schema inference
    written = (
        spark.read.schema("extracted_bytes bigint, elapsed_us bigint, error string, bucket int")
        .parquet(f"{out_dir}/extracted")
        .filter(F.col("bucket").isin(remaining))
    )
    per_bucket = written.groupBy("bucket").agg(
        F.count("*"),  # doc_count
        F.sum("extracted_bytes"),  # byte_count
        (F.sum("elapsed_us") / F.lit(1000)).cast("bigint"),  # elapsed_ms
        F.count("error"),  # error_count
    )
    metrics = {r["bucket"]: r[1:] for r in per_bucket.collect()}
    # every processed bucket is marked done — empty ones too, with zeros,
    # so they are not reprocessed forever; one file per append
    rows = [(run_id, b, "done", *metrics.get(b, (0, 0, 0, 0))) for b in remaining]
    spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1).withColumn(
        "updated_at", F.current_timestamp()
    ).write.mode("append").parquet(f"{out_dir}/_checkpoint")

    return {
        "run_id": run_id,
        "buckets": remaining,
        "docs": sum(doc_count for doc_count, *_ in metrics.values()),
        "elapsed_s": time.monotonic() - t_start,
        "skipped": False,
    }
