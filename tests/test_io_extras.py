"""Artifact cache tests (SURVEY.md §2.1 S4)."""

import pathlib

import pytest

from usls_doc_spark.io.artifacts import fetch_artifact


def test_fetch_artifact_cache_and_retry(tmp_path):
    src = tmp_path / "model.onnx"
    src.write_bytes(b"fake-model-bytes")
    url = src.as_uri()
    p1 = fetch_artifact(url, cache_dir=str(tmp_path / "cache"))
    assert p1.read_bytes() == b"fake-model-bytes"
    # cache hit: same path, no re-fetch even if source disappears
    src.unlink()
    p2 = fetch_artifact(url, cache_dir=str(tmp_path / "cache"))
    assert p2 == p1

    # retry/backoff: flaky fetcher succeeds on 3rd attempt
    calls = {"n": 0}

    def flaky(u):
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return b"ok"

    p3 = fetch_artifact(
        "https://example.org/m.bin", cache_dir=str(tmp_path / "c2"),
        fetch_fn=flaky, backoff_s=0.01,
    )
    assert p3.read_bytes() == b"ok" and calls["n"] == 3

    # exhausted retries raise
    def always_fail(u):
        raise OSError("down")

    with pytest.raises(RuntimeError):
        fetch_artifact(
            "https://example.org/x.bin", cache_dir=str(tmp_path / "c3"),
            fetch_fn=always_fail, backoff_s=0.01,
        )
