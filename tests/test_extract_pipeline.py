"""End-to-end extraction pipeline tests: byte-identical golden fixtures,
partition-count invariance, corrupt-row degradation (SURVEY.md §5.2)."""

import json
import pathlib

import pytest

from tests.conftest import SF_DIR

FIXTURES = pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "golden_extractions_sf0.001.json"


@pytest.fixture(scope="module")
def golden():
    rows = json.loads(FIXTURES.read_text())
    return {r["url"]: r for r in rows}


def _run_extraction(spark, n_partitions: int):
    from usls_doc_spark.io.synth import pages_from_documents
    from usls_doc_spark.pipeline.extract import extract_pages

    pages = pages_from_documents(spark, SF_DIR).repartition(n_partitions)
    return {r["url"]: r.asDict(recursive=True) for r in extract_pages(pages).collect()}


def test_byte_identical_vs_fixtures(spark, golden):
    got = _run_extraction(spark, 8)
    assert set(got) == set(golden)
    for url, g in golden.items():
        r = got[url]
        assert r["error"] is None, (url, r["error"])
        # THE per-row invariant: byte-identical extracted text per url
        assert r["extracted_text"].encode("utf-8") == g["extracted_text"].encode("utf-8"), url
        assert r["n_blocks"] == g["n_blocks"], url
        assert r["extracted_bytes"] == g["extracted_bytes"], url
        got_blocks = [
            (b["x"], b["y"], b["width"], b["height"], b["cls"], b["order"]) for b in r["blocks"]
        ]
        exp_blocks = [
            (b["x"], b["y"], b["width"], b["height"], b["cls"], b["order"]) for b in g["blocks"]
        ]
        assert got_blocks == exp_blocks, url


def test_partition_count_invariance(spark):
    # same bytes out of 3-partition and 16-partition runs — no dependence on
    # task layout (SURVEY.md §7 "byte-identical under reordering")
    a = _run_extraction(spark, 3)
    b = _run_extraction(spark, 16)
    assert a.keys() == b.keys()
    for url in a:
        assert a[url]["extracted_text"] == b[url]["extracted_text"]
        assert a[url]["blocks"] == b[url]["blocks"]


def test_corrupt_rows_degrade_not_fail(spark):
    # dataloader.rs:376-383 semantics: unreadable input -> warn/skip, keyed by
    # url (no positional zip misalignment — docstructbench.rs:74 bug avoided)
    import datetime as dt

    from usls_doc_spark.pipeline.extract import extract_pages

    rows = [
        ("u-null", dt.datetime(2024, 1, 1), None, "t", "en"),
        ("u-bad-utf8", dt.datetime(2024, 1, 1), b"\xff\xfe<p>x</p>", "t", "en"),
        ("u-ok", dt.datetime(2024, 1, 1), b"<html><body><h1>T</h1><p>hello world</p></body></html>", "t", "en"),
    ]
    pages = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r["url"]: r.asDict() for r in extract_pages(pages).collect()}
    assert len(out) == 3
    assert out["u-null"]["error"] is not None
    assert out["u-null"]["extracted_text"] is None
    assert out["u-bad-utf8"]["error"] is None  # decodes with replacement
    assert out["u-ok"]["error"] is None
    assert out["u-ok"]["extracted_text"] == "T hello world"


def _corpus_pages():
    """The synthetic page of every sf0.001 document, in doc_id order."""
    import duckdb

    from usls_doc_spark.io.synth import synth_page

    docs = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    return [synth_page(d, t, l) for d, t, l in docs]


def test_batched_rows_bitwise_equal_per_page_path():
    """extract_rows over the whole corpus as ONE batch must be BITWISE
    identical to one-element batches page by page — including skew
    pages, table pages, two-column pages, and interleaved corrupt rows.
    A page's row does not depend on the batch it arrives in."""
    import numpy as np

    from usls_doc_spark.kernels.stub_layout import StubLayoutModel
    from usls_doc_spark.pipeline.extract import extract_rows

    htmls, urls = [], []
    for i, p in enumerate(_corpus_pages()):
        htmls.append(p["html"])
        urls.append(p["url"])
        if i % 97 == 0:  # interleave corrupt rows among real pages
            htmls.append(None)
            urls.append(f"u-null-{i}")
    model = StubLayoutModel()
    batched = extract_rows(htmls, urls, model)
    for h, u, got in zip(htmls, urls, batched):
        want = extract_rows([h], [u], model)[0]
        # float32 conf compared by exact bits via np.float32 equality
        assert got["url"] == want["url"]
        assert got["extracted_text"] == want["extracted_text"]
        assert got["error"] == want["error"]
        assert got["n_blocks"] == want["n_blocks"]
        assert got["extracted_bytes"] == want["extracted_bytes"]
        for gb, wb in zip(got["blocks"], want["blocks"]):
            assert gb == wb or (
                {k: v for k, v in gb.items() if k != "conf"}
                == {k: v for k, v in wb.items() if k != "conf"}
                and np.float32(gb["conf"]).tobytes()
                == np.float32(wb["conf"]).tobytes()
            ), u


def test_decode_preds_batched_bitwise_equal_per_page():
    """decode_preds_batched == per-page decode_preds bit-for-bit over the
    sf0.001 corpus, with empty pages (no anchors) interleaved."""
    import numpy as np

    from usls_doc_spark.kernels.boilerplate import parse_blocks
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel
    from usls_doc_spark.kernels.yolo_decode import decode_preds, decode_preds_batched
    from usls_doc_spark.pipeline.extract import _TWO_COL_MARKER

    model = StubLayoutModel()
    preds, specs = [], []
    for i, p in enumerate(_corpus_pages()):
        html = p["html"].decode("utf-8")
        pr, spec, _ = model.infer(parse_blocks(html), _TWO_COL_MARKER in html)
        preds.append(pr)
        specs.append(spec)
        if i % 50 == 0:
            pr, spec, _ = model.infer([], i % 100 == 0)
            assert pr.size == 0
            preds.append(pr)
            specs.append(spec)
    kw = dict(names=model.names, confs=(0.4,), apply_nms=True)
    batched = decode_preds_batched(preds, specs, **kw)
    assert len(batched) == len(preds)
    for pr, spec, got in zip(preds, specs, batched):
        want = decode_preds(pr, spec, **kw)
        assert got.names == want.names
        for field in ("boxes", "class_ids", "confs", "anchor_ids"):
            g, w = getattr(got, field), getattr(want, field)
            assert g.dtype == w.dtype and g.shape == w.shape, field
            assert g.tobytes() == w.tobytes(), field


_PAGES_ABC = [
    b"<html><body><h1>A</h1><p>alpha beta</p></body></html>",
    # B alone has three blocks (six stub anchors), so a stage can spot it
    b"<html><body><h1>B</h1><p>gamma delta</p><p>eta theta</p></body></html>",
    b"<html><body><h1>C</h1><p>epsilon zeta</p></body></html>",
]


def _assert_only_b_fails(rows):
    by = {r["url"]: r for r in rows}
    assert [r["url"] for r in rows] == ["u0", "u1", "u2"]
    assert by["u1"]["error"] is not None and "pathological" in by["u1"]["error"]
    assert by["u1"]["extracted_text"] is None
    assert by["u0"]["error"] is None and by["u0"]["extracted_text"] == "A alpha beta"
    assert by["u2"]["error"] is None and by["u2"]["extracted_text"] == "C epsilon zeta"


def test_fallback_decode_isolates_pathological_page(monkeypatch):
    """A batched decode that raises whenever page B is in the batch: the
    retry re-runs each page as a one-element batch, so B alone becomes an
    error row and A and C still extract (S3 skip-unreadable)."""
    import usls_doc_spark.pipeline.extract as px
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel

    real = px.decode_preds_batched
    sizes = []

    def boom_with_b(preds_list, specs, **kw):
        sizes.append(len(preds_list))
        if any(len(p) == 6 for p in preds_list):
            raise ValueError("pathological page")
        return real(preds_list, specs, **kw)

    monkeypatch.setattr(px, "decode_preds_batched", boom_with_b)
    _assert_only_b_fails(px.extract_rows(_PAGES_ABC, ["u0", "u1", "u2"], StubLayoutModel()))
    assert sizes == [3, 1, 1, 1]


def test_fallback_infer_isolates_pathological_page(monkeypatch):
    """Same isolation for the batched inference stage."""
    import usls_doc_spark.pipeline.extract as px
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel

    real = px.infer_pages_batched
    sizes = []

    def boom_with_b(model, page_blocks, two_cols):
        sizes.append(len(page_blocks))
        if any(b.text == "B" for blocks in page_blocks for b in blocks):
            raise ValueError("pathological infer page")
        return real(model, page_blocks, two_cols)

    monkeypatch.setattr(px, "infer_pages_batched", boom_with_b)
    _assert_only_b_fails(px.extract_rows(_PAGES_ABC, ["u0", "u1", "u2"], StubLayoutModel()))
    assert sizes == [3, 1, 1, 1]


def test_infer_pages_batched_bitwise_equal_edge_pages():
    """infer_pages_batched == per-page model.infer bit-for-bit, including
    the segmented-prefix edge cases: empty leading/middle/trailing pages
    (a trailing empty page once corrupted the preceding page's height via
    reduceat — pinned here) and two-column pages mid-batch."""
    import numpy as np

    from usls_doc_spark.kernels.boilerplate import parse_blocks
    from usls_doc_spark.kernels.stub_layout import (
        StubLayoutModel,
        infer_pages_batched,
    )

    def page(words, two=False):
        body = " ".join(f"w{k}" for k in range(words))
        return parse_blocks(f"<html><body><h1>T</h1><p>{body}</p></body></html>")

    model = StubLayoutModel()
    page_blocks = [[], page(3), page(400), [], page(40), page(7), []]
    two_cols = [True, False, True, False, True, False, True]
    batched = infer_pages_batched(model, page_blocks, two_cols)
    for (b, tc), (p2, s2, c2) in zip(zip(page_blocks, two_cols), batched):
        p1, s1, c1 = model.infer(b, tc)
        assert np.array_equal(p1, p2)
        assert s1 == s2
        assert list(c1) == list(c2)
