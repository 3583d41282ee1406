"""In-process, single-threaded replay of a fixed seeded sample of pages
through the kernels' public functions, timing each stage apart. This is
the per-layer view of the work the Spark tasks do inside ``extract_rows``
and ``extract_from_raster``; the Spark side is read from the REST API."""

from __future__ import annotations

import statistics
import time

import numpy as np

from usls_doc_spark.io.synth import TWOCOL_MOD, chunk_text, synth_page, url_for
from usls_doc_spark.kernels.boilerplate import parse_blocks
from usls_doc_spark.kernels.ocr import (
    binarize_prob_map,
    ctc_greedy_decode,
    db_postprocess,
    find_outer_contours,
)
from usls_doc_spark.kernels.stub_layout import StubLayoutModel, infer_pages_batched
from usls_doc_spark.kernels.xycut import xycut_order
from usls_doc_spark.kernels.yolo_decode import (
    abandon_filter_and_round,
    decode_preds_batched,
    round_half_away,
)
from usls_doc_spark.pipeline.extract import extract_rows
from usls_doc_spark.pipeline.ocr import MAX_DECODE_LEN, VOCAB
from usls_doc_spark.pipeline.raster_ocr import (
    _render_glyphs,
    extract_from_raster,
    raster_extract_spec,
    read_glyph_logits,
)

HTML_SAMPLE = 1000  # p99 keeps ten pages beyond it
OCR_SAMPLE = 100
REPS = 3


def _sample(texts: dict[int, str], n: int, seed: int) -> list[tuple[int, str]]:
    ids = sorted(texts)
    pick = np.random.default_rng([seed, 2]).choice(len(ids), min(n, len(ids)), replace=False)
    return [(ids[i], texts[ids[i]]) for i in sorted(pick)]


def _us(t0: int, n: int) -> float:
    return (time.perf_counter_ns() - t0) / 1e3 / max(n, 1)


def _median_of(fn, reps: int = REPS) -> float:
    return statistics.median(fn() for _ in range(reps))


def replay_html(texts: dict[int, str], seed: int, tracer) -> dict[str, float]:
    sample = _sample(texts, HTML_SAMPLE, seed)
    htmls = [synth_page(d, t, "en")["html"] for d, t in sample]
    two_cols = [d % TWOCOL_MOD == 1 for d, _ in sample]
    n = len(sample)
    model = StubLayoutModel()
    out: dict[str, float] = {}

    with tracer.span("kernels.boilerplate.parse_blocks"):
        per_page = []
        for h in htmls:
            best = None
            for _ in range(REPS):
                t0 = time.perf_counter_ns()
                blocks = parse_blocks(h.decode("utf-8", errors="replace"))
                dt = time.perf_counter_ns() - t0
                best = dt if best is None else min(best, dt)
            per_page.append(best / 1e3)
        page_blocks = [parse_blocks(h.decode("utf-8", errors="replace")) for h in htmls]
    q = statistics.quantiles(per_page, n=100, method="inclusive")
    out["kernels.boilerplate.parse_us_p50"] = statistics.median(per_page)
    out["kernels.boilerplate.parse_us_p99"] = q[98]
    out["kernels.boilerplate.blocks_per_page"] = sum(map(len, page_blocks)) / n

    def infer():
        t0 = time.perf_counter_ns()
        infer_pages_batched(model, page_blocks, two_cols)
        return _us(t0, n)

    with tracer.span("kernels.stub_layout.infer_pages_batched"):
        out["kernels.stub_layout.infer_us_per_page"] = _median_of(infer)
        inferred = infer_pages_batched(model, page_blocks, two_cols)
    preds = [i[0] for i in inferred]
    specs = [i[1] for i in inferred]

    def decode():
        t0 = time.perf_counter_ns()
        decode_preds_batched(preds, specs, names=model.names, confs=(0.4,), apply_nms=True)
        return _us(t0, n)

    with tracer.span("kernels.yolo_decode.decode_preds_batched"):
        out["kernels.yolo_decode.decode_us_per_page"] = _median_of(decode)
        decoded = decode_preds_batched(preds, specs, names=model.names, confs=(0.4,),
                                       apply_nms=True)
        candidates = decode_preds_batched(preds, specs, names=model.names, confs=(0.4,),
                                          apply_nms=False)
    n_cand = sum(len(d.confs) for d in candidates)
    n_kept = sum(len(d.confs) for d in decoded)
    out["kernels.yolo_decode.candidates"] = float(n_cand)
    out["kernels.nms.keep_ratio"] = n_kept / max(n_cand, 1)
    tracer.count("kernels.boilerplate.pages", n)
    tracer.count("kernels.boilerplate.blocks", sum(map(len, page_blocks)))
    tracer.count("kernels.yolo_decode.candidates", n_cand)
    tracer.count("kernels.nms.kept", n_kept)

    def abandon():
        t0 = time.perf_counter_ns()
        for d in decoded:
            abandon_filter_and_round(d)
        return _us(t0, n)

    with tracer.span("kernels.yolo_decode.abandon_filter_and_round"):
        out["kernels.yolo_decode.abandon_filter_us_per_page"] = _median_of(abandon)
        kept = [abandon_filter_and_round(d) for d in decoded]
    boxes = [np.asarray([[b["x"], b["y"], b["width"], b["height"]] for b in k])
             for k in kept if k]

    def order():
        t0 = time.perf_counter_ns()
        for b in boxes:
            xycut_order(b)
        return _us(t0, n)

    with tracer.span("kernels.xycut.xycut_order"):
        out["kernels.xycut.order_us_per_page"] = _median_of(order)

    h_arr = np.asarray(htmls, dtype=object)
    u_arr = np.asarray([url_for(d) for d, _ in sample], dtype=object)

    def whole():
        t0 = time.perf_counter_ns()
        extract_rows(h_arr, u_arr, model)
        return _us(t0, n)

    with tracer.span("pipeline.extract.extract_rows"):
        out["pipeline.extract.extract_rows_us_per_page"] = _median_of(whole)
    return out


def replay_ocr(texts: dict[int, str], seed: int, tracer) -> dict[str, float]:
    sample = _sample(texts, OCR_SAMPLE, seed)
    n = len(sample)
    probs = []
    for d, t in sample:
        chunks = chunk_text(t)
        raster = _render_glyphs(raster_extract_spec(d, chunks), chunks)
        probs.append((raster, raster.astype(np.float32) / np.float32(255.0)))
    masks = [binarize_prob_map(p) for _r, p in probs]
    out: dict[str, float] = {
        "kernels.ocr.mpixels_per_page": sum(r.size for r, _p in probs) / 1e6 / n
    }

    def post():
        t0 = time.perf_counter_ns()
        for _r, p in probs:
            db_postprocess(p, ratio=1.0)
        return _us(t0, n)

    with tracer.span("kernels.ocr.db_postprocess"):
        out["kernels.ocr.db_postprocess_us_per_page"] = _median_of(post)

    def contours():
        t0 = time.perf_counter_ns()
        for m in masks:
            find_outer_contours(m)
        return _us(t0, n)

    with tracer.span("kernels.ocr.find_outer_contours"):
        out["kernels.ocr.find_outer_contours_us_per_page"] = _median_of(contours)

    logits = []
    for raster, p in probs:
        for r in db_postprocess(p, ratio=1.0):
            x1, y1, x2, y2 = r["bbox"]
            x, y = int(round_half_away(np.float32(x1))), int(round_half_away(np.float32(y1)))
            w = int(round_half_away(np.float32(x2 - x1)))
            h = int(round_half_away(np.float32(y2 - y1)))
            logits.append(read_glyph_logits(raster[y : y + h, x : x + w]))

    tracer.count("kernels.ocr.pages", n)
    tracer.count("kernels.ocr.regions", len(logits))

    def ctc():
        t0 = time.perf_counter_ns()
        for lg in logits:
            ctc_greedy_decode(lg, VOCAB, max_length=MAX_DECODE_LEN)
        return _us(t0, len(logits))

    with tracer.span("kernels.ocr.ctc_greedy_decode"):
        out["kernels.ocr.ctc_greedy_decode_us_per_region"] = _median_of(ctc)

    def whole():
        t0 = time.perf_counter_ns()
        for d, t in sample:
            extract_from_raster(d, t)
        return _us(t0, n)

    with tracer.span("pipeline.raster_ocr.extract_from_raster"):
        out["pipeline.raster_ocr.extract_from_raster_us_per_page"] = _median_of(whole)
    return out
