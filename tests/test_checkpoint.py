"""Idempotent resume + checkpoint metrics tests (FIXTURES.md §5,
SURVEY.md §5.2.4), and the guard that keeps session-conf writes out of the
package."""

import ast
import pathlib

import pytest

from tests.conftest import SF_DIR

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "usls_doc_spark"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
# the only place that may call .conf.set( on a session: it restores the
# old value when it is done
CONF_SET_FUNCTIONS = {("streaming/sink.py", "_state_partitions")}


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
    # the two urls hash to buckets 2 and 1: a first run over bucket 0 alone
    # writes no data file and still checkpoints that bucket, with zeros
    r0 = run_extraction_job(spark, pages, out, run_id="n0", n_buckets=4, max_buckets=1)
    assert r0["buckets"] == [0] and r0["docs"] == 0
    run_extraction_job(spark, pages, out, run_id="n1", n_buckets=4)
    got = {r["url"]: r for r in spark.read.parquet(f"{out}/extracted").collect()}
    assert set(got) == {"u-null", "u-ok"}  # null html NOT silently dropped
    assert got["u-null"]["error"] is not None
    assert got["u-ok"]["error"] is None
    ckpt = {r["bucket"]: r for r in spark.read.parquet(f"{out}/_checkpoint").collect()}
    assert sorted(ckpt) == [0, 1, 2, 3] and ckpt[0]["doc_count"] == 0
    assert sum(r["error_count"] for r in ckpt.values()) == 1


def test_corrupt_checkpoint_raises(spark, tmp_path_factory):
    """A checkpoint that exists but cannot be read fails the job instead of
    reading as 'no bucket done' (which would re-run every bucket and append
    a second checkpoint row per bucket); a fresh out dir still starts from
    nothing."""
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
    assert r1["docs"] + r2["docs"] == n_input

    # run 3: nothing left -> no-op, output unchanged
    r3 = run_extraction_job(spark, pages, out, run_id="run3")
    assert r3["skipped"]
    assert spark.read.parquet(f"{out}/extracted").count() == n_input

    # checkpoint doc_count sums equal input row count; byte counts match output
    ckpt = spark.read.parquet(f"{out}/_checkpoint")
    assert ckpt.agg(F.sum("doc_count")).collect()[0][0] == n_input
    total_bytes = full.agg(F.sum("extracted_bytes")).collect()[0][0]
    assert ckpt.agg(F.sum("byte_count")).collect()[0][0] == total_bytes
    assert ckpt.filter("elapsed_ms >= 0").count() == ckpt.count()

    # checkpoint covers all 64 buckets exactly once
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


def test_crash_before_checkpoint_append_reruns_without_double_count(
    spark, pages, tmp_path_factory, monkeypatch
):
    """A run killed after the output write but before the checkpoint append
    has committed nothing: the re-run redoes every bucket, and the output
    and the checkpoint each count every url once. Neither run touches the
    session's partitionOverwriteMode."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F

    from usls_doc_spark.pipeline.checkpoint import run_extraction_job

    out = str(tmp_path_factory.mktemp("crash"))
    n_input = pages.count()
    # start from the session default, so a value an earlier run leaked cannot hide a leak
    spark.conf.unset(OVERWRITE_MODE)
    mode = spark.conf.get(OVERWRITE_MODE)

    parquet = DataFrameWriter.parquet
    crashes = []

    def crash_once(self, path, *args, **kwargs):
        if path.endswith("/_checkpoint") and not crashes:
            crashes.append(path)
            raise RuntimeError("killed before the checkpoint append")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_once)
    with pytest.raises(RuntimeError, match="killed before the checkpoint append"):
        run_extraction_job(spark, pages, out, run_id="crash1", n_buckets=8)
    assert spark.conf.get(OVERWRITE_MODE) == mode

    r = run_extraction_job(spark, pages, out, run_id="crash2", n_buckets=8)
    assert len(crashes) == 1 and r["buckets"] == list(range(8))
    assert spark.conf.get(OVERWRITE_MODE) == mode

    full = spark.read.parquet(f"{out}/extracted")
    assert full.count() == n_input
    assert full.select("url").distinct().count() == n_input
    ckpt = spark.read.parquet(f"{out}/_checkpoint")
    assert sorted(row["bucket"] for row in ckpt.select("bucket").collect()) == list(range(8))
    assert ckpt.agg(F.sum("doc_count")).collect()[0][0] == n_input == r["docs"]


def _conf_set_functions(node, fn=None):
    """Innermost enclosing function name (None at module level) of every
    `.conf.set(` call under ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _conf_set_functions(child, child.name)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == "set"
            and isinstance(child.func.value, ast.Attribute)
            and child.func.value.attr == "conf"
        ):
            yield fn
        yield from _conf_set_functions(child, fn)


def test_conf_set_only_where_allowed():
    """The package writes the caller's session conf only in the allowlisted
    places; a job that needs a write setting passes it as a writer option."""
    found = set()
    for path in PACKAGE.rglob("*.py"):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        found |= {(rel, fn) for fn in _conf_set_functions(tree)}
    assert ("streaming/sink.py", "_state_partitions") in found
    assert found <= CONF_SET_FUNCTIONS, sorted(found - CONF_SET_FUNCTIONS)
