"""Idempotent resume + lineage tests (FIXTURES.md §5, SURVEY.md §5.2.4)."""

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pages(spark):
    from usls_doc_spark.io.synth import pages_from_documents

    return pages_from_documents(spark, SF_DIR)


def test_null_html_rows_become_error_rows(spark, tmp_path_factory):
    import datetime as dt

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    rows = [
        ("u-null", dt.datetime(2024, 1, 1), None, "t", "en"),
        ("u-ok", dt.datetime(2024, 1, 1), b"<p>hello world text</p>", "t", "en"),
    ]
    pages = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = str(tmp_path_factory.mktemp("nullhtml"))
    run_extraction_job(spark, pages, out, run_id="n1", n_buckets=4)
    got = {r["url"]: r for r in spark.read.parquet(f"{out}/extracted").collect()}
    assert set(got) == {"u-null", "u-ok"}  # null html NOT silently dropped
    assert got["u-null"]["error"] is not None
    assert got["u-ok"]["error"] is None


def test_corrupt_checkpoint_raises(spark, tmp_path_factory):
    """A checkpoint that exists but cannot be read fails the job instead of
    reading as 'no bucket done' (which would re-run every bucket and append
    duplicate lineage); a fresh out dir still starts from nothing."""
    import os

    from usls_doc_spark.pipeline.checkpoint import completed_buckets, run_extraction_job

    out = str(tmp_path_factory.mktemp("corrupt_ckpt"))
    assert completed_buckets(spark, out) == set()
    os.makedirs(f"{out}/_checkpoint/_temporary/0")  # killed mid-append
    assert completed_buckets(spark, out) == set()
    with open(f"{out}/_checkpoint/part-00000.parquet", "w") as f:
        f.write("not a parquet file")
    pages = spark.createDataFrame(
        [("u-ok", b"<p>hello world text</p>")], schema="url string, html binary"
    )
    with pytest.raises(Exception, match="part-00000.parquet"):
        run_extraction_job(spark, pages, out, run_id="c1", n_buckets=4)
    assert not os.path.exists(f"{out}/extracted")
    assert not os.path.exists(f"{out}/_lineage")


def test_resume_from_partial_run(spark, pages, tmp_path_factory):
    from pyspark.sql import functions as F

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("ckpt"))
    n_input = pages.count()

    # run 1: simulated failure after 16 of 64 buckets
    r1 = run_extraction_job(spark, pages, out, run_id="run1", max_buckets=16)
    assert len(r1["buckets"]) == 16
    part1 = spark.read.parquet(f"{out}/extracted")
    assert 0 < part1.count() < n_input

    # run 2: resume processes ONLY the remaining buckets
    r2 = run_extraction_job(spark, pages, out, run_id="run2")
    assert len(r2["buckets"]) == 48
    full = spark.read.parquet(f"{out}/extracted")
    assert full.count() == n_input
    # keyed by url, exactly once (idempotency invariant)
    assert full.select("url").distinct().count() == n_input

    # run 3: nothing left -> no-op, output unchanged
    r3 = run_extraction_job(spark, pages, out, run_id="run3")
    assert r3["skipped"]
    assert spark.read.parquet(f"{out}/extracted").count() == n_input

    # lineage doc_count sums equal input row count; byte counts match output
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.agg(F.sum("doc_count")).collect()[0][0] == n_input
    total_bytes = full.agg(F.sum("extracted_bytes")).collect()[0][0]
    assert lineage.agg(F.sum("byte_count")).collect()[0][0] == total_bytes
    assert lineage.filter("elapsed_ms >= 0").count() == lineage.count()

    # checkpoint covers all 64 buckets exactly once
    ckpt = spark.read.parquet(f"{out}/_checkpoint")
    assert ckpt.filter("status = 'done'").select("bucket").distinct().count() == 64
    assert ckpt.count() == 64  # no bucket re-marked

    # rerun-overwrite safety: re-running an already-done bucket set after
    # wiping the checkpoint does not duplicate rows (dynamic overwrite)
    import shutil

    shutil.rmtree(f"{out}/_checkpoint")
    run_extraction_job(spark, pages, out, run_id="run4", max_buckets=4)
    again = spark.read.parquet(f"{out}/extracted")
    assert again.count() == n_input
    assert again.select("url").distinct().count() == n_input
