"""The benchmark's own tests: seeded inputs and output verification.
No Spark session is started. Run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import pathlib
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH_DIR = pathlib.Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH_DIR.parent), str(BENCH_DIR)]

import gen  # noqa: E402
from harness import parse_sql_metric  # noqa: E402
from usls_doc_spark.io.synth import url_for  # noqa: E402
from workloads import ResumableJob, check_extraction  # noqa: E402

N_DOCS = 600


def _files(root: pathlib.Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.fixture(scope="module")
def seeded(tmp_path_factory):
    out = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path_factory.mktemp(name)
        out[name] = (d, gen.generate(str(d), N_DOCS, seed))
    return out


def test_same_seed_gives_byte_identical_inputs(seeded):
    (da, sa), (db, sb) = seeded["a"], seeded["b"]
    assert _files(da) == _files(db)
    assert sa == sb


def test_other_seed_changes_inputs_but_not_class_shares(seeded):
    (da, sa), (dc, sc) = seeded["a"], seeded["c"]
    assert _files(da) != _files(dc)
    for key in ("docs", "oversized_share", "two_column_share", "table_share",
                "null_html", "text_mb"):
        assert sa[key] == sc[key], key
    assert sa["null_html_ids"] != sc["null_html_ids"]


def test_every_page_file_gets_its_share_of_oversized_pages(seeded):
    d, _ = seeded["c"]
    per_file = []
    for f in sorted((d / "pages").iterdir()):
        sizes = [len(h) for h in pq.read_table(f).column("html").to_pylist() if h]
        per_file.append(sum(s >= 64 * 1024 for s in sizes))
    assert max(per_file) - min(per_file) <= 1


def test_generator_writes_every_registry_table(seeded):
    from usls_doc_spark.queries import TABLES

    d, _ = seeded["a"]
    assert all((d / f"{t}.parquet").is_file() for t in TABLES)


def _expected(seeded):
    d, stats = seeded["a"]
    docs = pq.read_table(d / "documents.parquet").to_pydict()
    expected = {url_for(i): f"Doc {i} {t}" for i, t in zip(docs["doc_id"], docs["text"])}
    nulls = {url_for(i) for i in stats["null_html_ids"]}
    good = [(u, None, "ValueError: null html") if u in nulls else (u, t, None)
            for u, t in expected.items()]
    return expected, nulls, good


def test_correct_extraction_rows_pass(seeded):
    expected, nulls, good = _expected(seeded)
    assert check_extraction(good, expected, nulls) == 0


@pytest.mark.parametrize("plant", ["wrong_text", "null_page_as_text", "duplicate",
                                   "missing", "unknown_url", "error_on_good_page"])
def test_planted_wrong_row_fails_verification(seeded, plant):
    expected, nulls, good = _expected(seeded)
    rows = list(good)
    i = next(k for k, r in enumerate(rows) if r[0] not in nulls)
    j = next(k for k, r in enumerate(rows) if r[0] in nulls)
    if plant == "wrong_text":
        rows[i] = (rows[i][0], rows[i][1] + " ", None)
    elif plant == "null_page_as_text":
        rows[j] = (rows[j][0], "", None)
    elif plant == "duplicate":
        rows.append(rows[i])
    elif plant == "missing":
        del rows[i]
    elif plant == "unknown_url":
        rows.append(("https://example.org/doc/x", "Doc x", None))
    else:
        rows[i] = (rows[i][0], None, "RuntimeError: boom")
    assert check_extraction(rows, expected, nulls) == 1


def _fake_job_output(out: pathlib.Path, rows, buckets, n_buckets=4):
    ext = out / "extracted" / "bucket=0"
    ext.mkdir(parents=True)
    urls, texts, errs = zip(*rows)
    pq.write_table(pa.table({"url": urls, "extracted_text": texts, "error": errs}),
                   ext / "part-0.parquet")
    ck = out / "_checkpoint"
    ck.mkdir()
    pq.write_table(pa.table({"bucket": pa.array(buckets, pa.int32()),
                             "status": ["done"] * len(buckets)}), ck / "part-0.parquet")
    legs = [{"buckets": list(range(n_buckets // 2)), "skipped": False},
            {"buckets": list(range(n_buckets // 2, n_buckets)), "skipped": False},
            {"buckets": [], "skipped": True}]
    return legs


def _job(seeded, tmp_path, rows, buckets):
    d, stats = seeded["a"]
    job = ResumableJob(None, str(d), stats, None, str(tmp_path))
    job.n_buckets = 4
    job.out_dir = str(tmp_path / "out")
    job.legs = _fake_job_output(tmp_path / "out", rows, buckets)
    return job


def test_resumable_job_verification(seeded, tmp_path):
    expected, _nulls, good = _expected(seeded)
    assert _job(seeded, tmp_path, good, [0, 1, 2, 3]).verify() == (len(expected) + 3, 0)


def test_resumable_job_verification_catches_missing_bucket_and_duplicate(seeded, tmp_path):
    _expected_rows, _nulls, good = _expected(seeded)
    attempted, failed = _job(seeded, tmp_path, good + good[:1], [0, 1, 3]).verify()
    assert failed == 2


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n13.9 s (3.2 s, 3.5 s, 4.1 s (stage 1.0: task 1))", 13.9),
    ("8 ms", 0.008),
    ("3.7 MiB", 3.7 * 1024**2),
    ("5,000", 5000.0),
    ("2.0 m", 120.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_benchmark_spec_names_every_measured_workload():
    import json

    from workloads import WORKLOADS

    spec = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert os.path.relpath(BENCH_DIR, BENCH_DIR.parent) in spec["paths"]
