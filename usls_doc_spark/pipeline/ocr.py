"""OCR-span pipeline: text-region detection (DB postprocess) + recognition
(SVTR-style CTC decode) over region crops, per page, inside one
Arrow-batched crossing (``ocr_rows`` through crossing.map_batches).

Model boundary: the ONNX DB/SVTR sessions are stubbed (image libs absent)
with deterministic emitters — the DETECTION stub renders each text block as
a probability map (one io/synth.render_raster rectangle, scaled to [0, 1])
and the RECOGNITION stub emits one-hot logits whose argmax encodes the
block text — so the full reference postprocess path (binarize -> contour
-> unclip -> resample -> hull -> verify -> min-size/conf filter -> CTC
decode, SURVEY.md §2.5-2.6) runs for real on every span and the decoded
text is independently checkable against the source documents (the DuckDB
oracle states span == 8-word chunk).

Width bucketing (R2, svtr/config.rs:14-17): recognition is batched ACROSS
the whole Arrow batch, grouped by crop-width bucket (``width // 320``) —
detection runs per page, recognition defers each region crop into its
bucket, and one recognizer call serves each bucket (`recognize_by_bucket`
calling `recognize_bucket`, where a production ONNX SVTR would pad the
bucket to a common width and issue a single session.run). Output rows
re-assemble in (page, region) order, so the bucketing is invisible to
results — the ocr_spans / ocr_regions_detail oracles pin that. The
pixel-native spans of pipeline/raster_ocr share `recognize_by_bucket`.
"""

from __future__ import annotations

import numpy as np

from ..io.synth import RASTER_CELL, RASTER_MARGIN, RASTER_VALUE, render_raster
from ..kernels.boilerplate import classify_block, parse_blocks
from ..kernels.ocr import ctc_greedy_decode, db_postprocess
from ..kernels.yolo_decode import round_half_away
from .crossing import map_batches

OCR_SCHEMA = (
    "url string, region_id int, span_text string, "
    "x int, y int, width int, height int, conf float"
)

# id 0 = CTC blank (svtr vocab convention, options.rs:231-244). Alphabet
# covers ALL printable ASCII (0x20-0x7e) so uppercase/punctuation chunks
# round-trip; chars outside it map to blank (documented model boundary,
# round-1 ADVICE). MAX_DECODE_LEN must exceed the longest possible chunk
# (8 words; observed max 59 chars) — a truncating decode silently breaks
# the span == chunk invariant.
VOCAB = ["<blank>"] + [chr(c) for c in range(0x20, 0x7F)]
_CHAR_TO_ID = {c: i for i, c in enumerate(VOCAB)}
MAX_DECODE_LEN = 4096

# region height in the stub prob map; the rect sits at (RASTER_MARGIN,
# RASTER_MARGIN), and the margin EXCEEDS the maximum unclip delta
# (0.75 * RECT_H-1 = 8.25), so no offset vertex ever clamps at the map
# border and the detect geometry has the clamp-free closed form the
# symbolic oracle states (pipeline/raster_ocr.rect_detect_geometry_sql)
RECT_H = 12


def stub_recognizer_logits(text: str) -> np.ndarray:
    """Stub SVTR 'model': one-hot 0.95 logits per character timestep."""
    lg = np.zeros((len(text), len(VOCAB)), dtype=np.float32)
    for t, ch in enumerate(text):
        lg[t, _CHAR_TO_ID.get(ch, 0)] = np.float32(0.95)
    return lg


WIDTH_BUCKET = 320  # svtr/config.rs:14-17 bucket granularity


def region_xywh(bbox: tuple[float, float, float, float]) -> tuple[int, int, int, int]:
    """Detected (x1, y1, x2, y2) -> integer (x, y, w, h), each value
    round-half-away of its float32 — the rounding the oracles restate."""
    x1, y1, x2, y2 = bbox
    xywh = round_half_away(np.array([x1, y1, x2 - x1, y2 - y1], dtype=np.float32))
    return tuple(map(int, xywh.tolist()))


def detect_page_regions(html_bytes: bytes | None, url: str) -> list[dict]:
    """DB-detect stage only: one pending record per text region, carrying
    the crop geometry + source text (``crop``) for the deferred
    recognition stage."""
    if html_bytes is None:
        return []
    html = bytes(html_bytes).decode("utf-8", errors="replace")
    blocks = parse_blocks(html)
    out = []
    region_id = 0
    for blk in blocks:
        cls, _conf = classify_block(blk)
        if cls != "plain text":
            continue
        # stub DB 'model': the region renders as one filled rectangle
        rect = (RASTER_MARGIN, RASTER_MARGIN, RASTER_CELL * max(len(blk.text), 1), RECT_H)
        regions = db_postprocess(render_raster([rect], [RASTER_VALUE]) / 255, ratio=1.0)
        if not regions:
            region_id += 1
            continue
        r = regions[0]
        x, y, width, height = region_xywh(r["bbox"])
        out.append(
            {
                "url": url,
                "region_id": region_id,
                "crop": blk.text,
                "x": x,
                "y": y,
                "width": width,
                "height": height,
                "conf": float(np.float32(r["conf"])),
                "bucket": width // WIDTH_BUCKET,
            }
        )
        region_id += 1
    return out


def recognize_bucket(crops: list[str]) -> list[str]:
    """One recognizer invocation per width bucket (R2): a production SVTR
    would pad these same-bucket crops to a common width and run ONE
    session.run over the stacked tensor; the stub decodes each one-hot
    logits block through the real CTC path."""
    return [
        ctc_greedy_decode(stub_recognizer_logits(t), VOCAB, max_length=MAX_DECODE_LEN)
        for t in crops
    ]


def recognize_by_bucket(pending: list[dict], recognize) -> list[str | None]:
    """Recognition batched per width bucket across a whole Arrow batch
    (R2): group the pending records' ``crop`` by ``bucket``, make one
    ``recognize`` call per bucket in sorted bucket order, and write the
    results back by index so they stay in ``pending`` order."""
    by_bucket: dict[int, list[int]] = {}
    for idx, r in enumerate(pending):
        by_bucket.setdefault(r["bucket"], []).append(idx)
    texts: list[str | None] = [None] * len(pending)
    for bucket in sorted(by_bucket):
        idxs = by_bucket[bucket]
        for i, t in zip(idxs, recognize([pending[i]["crop"] for i in idxs])):
            texts[i] = t
    return texts


def ocr_rows(rows) -> list[tuple]:
    """map_batches kernel: (url, html) rows -> span rows in (page, region)
    order; detection per page, recognition deferred to the buckets."""
    pending = [r for url, html in rows for r in detect_page_regions(html, url)]
    texts = recognize_by_bucket(pending, recognize_bucket)
    return [
        (r["url"], r["region_id"], t, r["x"], r["y"], r["width"], r["height"], r["conf"])
        for r, t in zip(pending, texts)
    ]


def ocr_spans(pages_df):
    """pages -> one row per recognized text span (lazy)."""
    return map_batches(pages_df.select("url", "html"), ocr_rows, OCR_SCHEMA)
