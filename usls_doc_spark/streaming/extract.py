"""Structured Streaming variant of the flagship extraction pipeline:
continuous ingest of page files -> the same mapInPandas extraction ->
idempotent sink.

Maps the reference's DataLoader streaming iteration (SURVEY.md §3.3,
/root/reference/src/misc/dataloader.rs:234-331: producer thread + bounded
channel backpressure) onto readStream file-source micro-batches: source
discovery replaces the path queue, maxFilesPerTrigger replaces the channel
bound, and the checkpointLocation replaces the north rule's resume
semantics for the streaming path (exactly-once file sink).

The batch path (pipeline/checkpoint.py) remains the primary north-rule
flow; this exists so continuous crawl ingest runs the same extraction body
unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..io.synth import PAGES_SCHEMA, pages_from_documents
from ..pipeline.extract import EXTRACT_SCHEMA, extract_pages
from .sink import drain, file_stream, read_sink_or_empty, temp_dir


def streaming_extract_text(spark: SparkSession, sf_dir: str):
    """Registry entry: stage the synthesized pages as parquet files, run
    the streaming extraction to completion over TWO micro-batches, and
    return (url, extracted_text) — the oracle is the SAME byte-identical
    invariant as the batch extract_text ('Doc {id} ' + text), so the
    hash certifies the streaming path end-to-end including the
    exactly-once file sink.

    Round 8: the pages are staged as 2 x 16 files with
    maxFilesPerTrigger=16 — the same two-micro-batch structure as the
    r7 two-file/one-per-trigger layout, but each batch's mapInPandas
    extraction now runs 16 tasks instead of ONE (a single parquet file
    is one split, so the whole batch's kernel work ran on one core)."""
    root = temp_dir("usls_stream_extract_")
    pages_dir, cp_dir = f"{root}/pages", f"{root}/cp"
    # n_partitions=32 renders the pages 32-way parallel AND lands one
    # parquet file per partition — no post-render shuffle of the html
    pages_from_documents(spark, sf_dir, n_partitions=32).write.parquet(pages_dir)
    _, out_dir = drain(
        spark,
        lambda sink: start_streaming_extraction(
            spark, pages_dir, sink, cp_dir, max_files_per_trigger=16
        ),
    )
    return read_sink_or_empty(spark, out_dir, EXTRACT_SCHEMA).select(
        "url", "extracted_text"
    )


def start_streaming_extraction(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Start (and return) the streaming query: parquet page files appearing
    under ``pages_dir`` are extracted and appended to ``out_dir``."""
    stream = file_stream(
        spark, PAGES_SCHEMA, pages_dir, "*.parquet", max_files_per_trigger
    )
    return (
        extract_pages(stream).writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
