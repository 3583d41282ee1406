"""Pixel-native text-region detection (round-2 VERDICT item 1): the FULL
D1-D7 DB postprocess (binarize -> 4-connected components -> Moore contour
-> unclip -> convex hull -> verify -> min-size/conf filters,
kernels/ocr.py; reference semantics /root/reference/src/models/db/impl.rs:95-153)
runs on real rendered page pixels (io/synth.render_raster) instead of
an n_chars-derived probability map — and the oracle is derived from the
RENDER SPEC, not from kernel output.

The four raster queries (regions, spans, extracted text and, in
pipeline/raster_layout, layout blocks) share one page renderer
(io/synth.render_raster), and the three OCR queries share one detect step
(``detect_regions``) and one read step (``read_glyphs``).

How the oracle avoids circularity: for an axis-aligned filled rectangle at
(x0, y0, w, h) every float64 operation in the detect chain has a closed
form —

  contour       all boundary pixel centers; shoelace area (w-1)(h-1) and
                perimeter 2((w-1)+(h-1)) are EXACT integers in float64
  delta         ((w-1)(h-1) * 1.5) / (2((w-1)+(h-1)))   [one IEEE divide]
  unclip        edge pixels move exactly +/-delta along an axis (unit
                normals are exact); the 4 corner pixels move diagonally by
                q = (1.0/sqrt(2.0)) * delta per coordinate
  hull          a fixed 12-gon: 2 extreme points per side + 4 chamfered
                corners, in the fixed monotone-chain order
  verify        keeps all 12 (distinct int-cast coords; asserted in tests)
  conf          ordered-shoelace(12-gon) / ((x2-x1)*(y2-y1)), cast float32
  x/y/w/h       round-half-away(float32(...)) -> int

Each step is one (or a fixed chain of) IEEE operation(s), so the DuckDB
oracle states the SAME value bit-for-bit by writing the operations in the
same order (the kernel's hull-area shoelace was made an explicit
sequential fold for exactly this reason — np.dot's BLAS summation order is
not portable). The oracle below is BUILT symbolically from the spec
formulas; no kernel runs during its construction, closing the
pinned-lookup circularity the round-2 VERDICT flagged.

The spec guarantees no region is ever dropped by the D6/D7 filters
(min height 15+2*delta >= 12, min width 3+2*delta >= 5, conf ~0.97 >=
0.35) and no unclip vertex clamps at the border (margin 16 > max delta
14.25), so region_id == chunk index k. Both hold by construction
(raster_spec / raster_extract_spec heights are 16 or 20, and the page is
the rects' extent plus the margin); an empty chunk renders no pixels and
fails the detect step's region count check.
"""

from __future__ import annotations

import numpy as np

from ..io.synth import (
    CHUNKS_SQL,
    GLYPH_BIAS,
    RASTER_CELL,
    RASTER_MARGIN,
    RASTER_PITCH,
    RASTER_SPEC_SQL,
    RASTER_VALUE,
    TWOCOL_MOD,
    chunk_text,
    glyph_row,
    raster_spec,
    render_raster,
)
from ..kernels.ocr import ctc_greedy_decode, db_postprocess
from .crossing import map_batches, map_rows, split_documents
from .ocr import MAX_DECODE_LEN, VOCAB, WIDTH_BUCKET, recognize_by_bucket, region_xywh

RASTER_OCR_SCHEMA = (
    "doc_id bigint, region_id int, x int, y int, width int, height int, conf float"
)

RASTER_SPANS_SCHEMA = (
    "doc_id bigint, region_id int, span_text string, "
    "x int, y int, width int, height int, conf float"
)


def detect_regions(doc_id: int, raster: np.ndarray, n_rects: int) -> list[tuple]:
    """The detect step: D1-D7 over the u8 page -> one (x, y, w, h, conf)
    per detected region. A region count other than the rect count raises
    (loud, not silently shifted region ids)."""
    regions = db_postprocess(raster.astype(np.float32) / np.float32(255.0), ratio=1.0)
    if len(regions) != n_rects:
        raise RuntimeError(
            f"doc {doc_id}: detected {len(regions)} regions for {n_rects} rects"
        )
    return [(*region_xywh(r["bbox"]), float(np.float32(r["conf"]))) for r in regions]


def _render_glyphs(rects, chunks) -> np.ndarray:
    """The glyph-coded page: chunk k's glyph row fills rect k."""
    return render_raster(rects, [glyph_row(c) for c in chunks])


def detect_raster_regions(doc_id: int, text: str) -> list[tuple]:
    """Render the page raster and run the real detect postprocess on it."""
    rects = raster_spec(doc_id, text)
    raster = render_raster(rects, [RASTER_VALUE] * len(rects))
    return [(doc_id, k, *box) for k, box in enumerate(detect_regions(doc_id, raster, len(rects)))]


def raster_ocr_regions(spark, sf_dir: str):
    """documents -> per-chunk detected glyph-box geometry from pixels."""
    return map_rows(split_documents(spark, sf_dir), detect_raster_regions, RASTER_OCR_SCHEMA)


# ---------------------------------------------------------------------------
# pixel-native recognition: the "model" reads character codes from the
# cropped pixels alone — the source text never reaches the stub (unlike
# pipeline/ocr.py's stub_recognizer_logits, which one-hots the text
# string). Glyphs are 4px columns whose value encodes ord(char) +
# GLYPH_BIAS (io/synth.glyph_row).
# ---------------------------------------------------------------------------


def read_glyph_logits(crop: np.ndarray) -> np.ndarray:
    """Pixel-native SVTR head: column-max the crop, locate the glyph span
    (the detected bbox is dilated by the unclip delta, so background
    columns flank it), sample one column per 4-px glyph cell, emit one-hot
    logits over the OCR vocab. Pure function of pixels."""
    col = crop.max(axis=0)
    nz = np.nonzero(col)[0]
    logits = np.zeros((len(nz) // RASTER_CELL, len(VOCAB)), dtype=np.float32)
    if len(nz) == 0:
        return logits
    span = col[nz[0] : nz[-1] + 1]
    codes = span[::RASTER_CELL][: len(logits)].astype(np.int32) - GLYPH_BIAS
    idx = np.where((codes >= 0x20) & (codes <= 0x7E), codes - 0x20 + 1, 0)  # blank outside
    logits[np.arange(len(idx)), idx] = np.float32(0.95)
    return logits


def read_glyphs(crop: np.ndarray) -> str:
    """The read step: glyph logits of one region crop -> CTC-decoded text.
    A crop with more glyph cells than MAX_DECODE_LEN raises (loud, not
    truncated by the CTC decode)."""
    logits = read_glyph_logits(crop)
    if len(logits) > MAX_DECODE_LEN:
        raise RuntimeError(f"crop has {len(logits)} glyph cells > {MAX_DECODE_LEN}")
    return ctc_greedy_decode(logits, VOCAB, max_length=MAX_DECODE_LEN)


def detect_raster_spans(doc_id: int, text: str) -> list[dict]:
    """Detect stage over the glyph-coded raster: geometry rows + deferred
    recognition crops (same two-stage width-bucket shape as pipeline/ocr)."""
    rects = raster_spec(doc_id, text)
    raster = _render_glyphs(rects, chunk_text(text))
    return [
        {
            "doc_id": doc_id,
            "region_id": k,
            "crop": raster[y : y + h, x : x + w],
            "x": x, "y": y, "width": w, "height": h,
            "conf": conf,
            "bucket": w // WIDTH_BUCKET,
        }
        for k, (x, y, w, h, conf) in enumerate(detect_regions(doc_id, raster, len(rects)))
    ]


def recognize_glyph_bucket(crops: list[np.ndarray]) -> list[str]:
    """One recognizer invocation per width bucket (R2) — the seam where a
    production SVTR would pad the bucket's same-width-class crops to a
    common width and issue ONE session.run over the stacked tensor; the
    pixel-reading stand-in reads each crop through the real CTC path."""
    return [read_glyphs(c) for c in crops]


def spans_rows(rows) -> list[tuple]:
    """map_batches kernel: (doc_id, text) rows -> span rows, detection per
    page and recognition per width bucket across the whole batch (R2)."""
    pending = [r for d, t in rows for r in detect_raster_spans(d, t)]
    texts = recognize_by_bucket(pending, recognize_glyph_bucket)
    return [
        (r["doc_id"], r["region_id"], t, r["x"], r["y"], r["width"],
         r["height"], r["conf"])
        for r, t in zip(pending, texts)
    ]


def raster_ocr_spans(spark, sf_dir: str):
    """documents -> pixel-native end-to-end OCR: rendered glyph raster ->
    D1-D7 detect -> crop at the DETECTED geometry -> pixel-read recognize
    -> CTC decode. Oracle: render-spec geometry + span_text == chunk."""
    return map_batches(split_documents(spark, sf_dir), spans_rows, RASTER_SPANS_SCHEMA)


# ---------------------------------------------------------------------------
# full pixel-native extraction: page image -> detect -> XY-cut reading
# order -> pixel OCR -> byte-identical extracted text. Two-column pages
# (doc_id % TWOCOL_MOD == 1, as in synth's html pages) lay the chunks out
# column-major with a 64px column gap, so the detection discovers regions
# ROW-INTERLEAVED across columns and only a correct XY-cut (column split
# before row splits) reassembles the original text — the text-equality
# oracle therefore proves the reading order, not just the recognition.
# ---------------------------------------------------------------------------

TWOCOL_GAP = 64  # > max y-gap even after unclip dilation: columns cut first

RASTER_EXTRACT_SCHEMA = "doc_id bigint, n_regions int, extracted_text string"


def raster_extract_spec(doc_id: int, chunks: list[str]) -> list[tuple[int, int, int, int]]:
    """Rect per chunk, IN CHUNK ORDER: raster_spec's rects, except that
    two-column pages place the first ceil(n/2) chunks in the left column
    and the rest in the right one, each column starting at the top."""
    rects = raster_spec(doc_id, " ".join(chunks))
    if doc_id % TWOCOL_MOD != 1 or len(chunks) < 4:
        return rects
    nleft = (len(chunks) + 1) // 2
    colw = RASTER_CELL * max(len(c) for c in chunks)
    out = []
    for i, (_x, _y, w, h) in enumerate(rects):
        col, row = divmod(i, nleft)
        x0 = RASTER_MARGIN + col * (colw + TWOCOL_GAP)
        out.append((x0, RASTER_MARGIN + RASTER_PITCH * row, w, h))
    return out


def extract_from_raster(doc_id: int, text: str) -> tuple[int, str]:
    """One page, end-to-end from pixels. Returns (n_regions, text)."""
    from ..kernels.xycut import xycut_order

    chunks = chunk_text(text)
    rects = raster_extract_spec(doc_id, chunks)
    raster = _render_glyphs(rects, chunks)
    boxes = detect_regions(doc_id, raster, len(rects))
    order = xycut_order(np.asarray([b[:4] for b in boxes], dtype=np.float64))
    texts = []
    for i in order:
        x, y, w, h, _conf = boxes[i]
        texts.append(read_glyphs(raster[y : y + h, x : x + w]))
    return len(boxes), " ".join(texts)


def _extract_row(doc_id: int, text: str) -> list[tuple]:
    return [(doc_id, *extract_from_raster(doc_id, text))]


def raster_extract_text(spark, sf_dir: str):
    """documents -> byte-identical extracted text, entirely from pixels:
    render -> D1-D7 detect -> XY-cut order -> pixel-read recognize -> join.
    Oracle: extracted_text == documents.text (the north-rule per-row
    invariant), n_regions == the chunk count."""
    return map_rows(split_documents(spark, sf_dir), _extract_row, RASTER_EXTRACT_SCHEMA)


RASTER_EXTRACT_ORACLE = f"""
SELECT doc_id, CAST(len({CHUNKS_SQL}) AS INT) AS n_regions, text AS extracted_text
FROM documents
"""


# ---------------------------------------------------------------------------
# symbolic oracle builder (DuckDB SQL, constructed from the render spec)
# ---------------------------------------------------------------------------

def _hull_vertices() -> list[tuple[str, str]]:
    """The 12 hull vertices as (x_expr, y_expr) SQL strings over the spec
    columns x0d/y0d/xrd/ybd (doubles) and dd/qd (delta and its diagonal
    component), in the monotone-chain output order
      [L1, TLc, T1, T2, TRc, R1, R2, BRc, B2, B1, BLc, L2]
    (lexicographic start at the left edge's upper point; asserted against
    the kernel in tests/test_raster_ocr.py)."""
    return [
        ("(x0d - dd)", "(y0d + 1)"),          # L1
        ("(x0d - qd)", "(y0d - qd)"),          # TLc
        ("(x0d + 1)", "(y0d - dd)"),           # T1
        ("((xrd - 1))", "(y0d - dd)"),         # T2  (x0 + w - 2 == xr - 1)
        ("(xrd + qd)", "(y0d - qd)"),          # TRc
        ("(xrd + dd)", "(y0d + 1)"),           # R1
        ("(xrd + dd)", "((ybd - 1))"),         # R2  (y0 + h - 2 == yb - 1)
        ("(xrd + qd)", "(ybd + qd)"),          # BRc
        ("((xrd - 1))", "(ybd + dd)"),         # B2
        ("(x0d + 1)", "(ybd + dd)"),           # B1
        ("(x0d - qd)", "(ybd + qd)"),          # BLc
        ("(x0d - dd)", "((ybd - 1))"),         # L2
    ]


def _shoelace_fold(verts: list[tuple[str, str]]) -> str:
    """Sequential left-fold of x_i*y_{i+1} - y_i*x_{i+1} — the exact
    rounding sequence of kernels.ocr.polygon_area_ordered."""
    n = len(verts)
    terms = []
    for i in range(n):
        xi, yi = verts[i]
        xj, yj = verts[(i + 1) % n]
        terms.append(f"({xi} * {yj} - {yi} * {xj})")
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return f"(abs({acc}) / 2.0)"


def _rha_int(expr: str) -> str:
    """round_half_away(float32(v)) -> int, in DuckDB f32 arithmetic:
    floor(|v32| + 0.5f) with the sign restored is just floor(v32 + 0.5f)
    for the non-negative geometry here."""
    return f"CAST(floor(CAST({expr} AS FLOAT) + CAST(0.5 AS FLOAT)) AS INT)"


def rect_detect_geometry_sql(spec_cte: str, carry_cols: str) -> str:
    """Compose the closed-form D1-D7 geometry statement over ANY spec CTE
    producing (``carry_cols``..., x0, y0, w, h) integer columns — the
    shared symbolic core: delta, unclip offsets, the 12-gon hull's ordered
    shoelace, bbox rounding, float32 conf. Returns a full query (WITH
    included). Assumes the raster layout invariants (solid rects, w >= 4,
    h >= 4, no border clamping) that raster_spec and raster_extract_spec
    hold by construction."""
    hull_area = _shoelace_fold(_hull_vertices())
    carry = (carry_cols + ", ") if carry_cols else ""
    return f"""
WITH {spec_cte},
geom AS (
  SELECT {carry}
         CAST(x0 AS DOUBLE) AS x0d, CAST(y0 AS DOUBLE) AS y0d,
         CAST(x0 + w - 1 AS DOUBLE) AS xrd, CAST(y0 + h - 1 AS DOUBLE) AS ybd,
         (CAST((w - 1) * (h - 1) AS DOUBLE) * 1.5)
           / (2.0 * ((w - 1) + (h - 1))) AS dd
  FROM spec
),
geom2 AS (
  SELECT *, ((1.0 / sqrt(2.0)) * dd) AS qd FROM geom
),
boxes AS (
  SELECT {carry}
         (x0d - dd) AS bx1, (y0d - dd) AS by1,
         (xrd + dd) AS bx2, (ybd + dd) AS by2,
         {hull_area} AS hull_area
  FROM geom2
)
SELECT {carry}
       {_rha_int("bx1")} AS x,
       {_rha_int("by1")} AS y,
       {_rha_int("(bx2 - bx1)")} AS width,
       {_rha_int("(by2 - by1)")} AS height,
       CAST(hull_area / ((bx2 - bx1) * (by2 - by1)) AS FLOAT) AS conf
FROM boxes
"""


def raster_ocr_oracle(with_text: bool = False) -> str:
    """DuckDB oracle built from the render spec. With ``with_text``, adds
    span_text == the source chunk — the recognition invariant the
    pixel-reading recognizer must reproduce end-to-end."""
    text_col = "unnest(chunks) AS span_text,\n         " if with_text else ""
    text_carry = "span_text, " if with_text else ""
    spec = f"""d0 AS (
  SELECT doc_id, {CHUNKS_SQL} AS chunks
  FROM documents
),
ch AS (
  SELECT doc_id,
         generate_subscripts(chunks, 1) - 1 AS k,
         {text_col}length(unnest(chunks)) AS c
  FROM d0
),
spec AS (
  SELECT doc_id, CAST(k AS INT) AS region_id, {text_carry}{RASTER_SPEC_SQL}
  FROM ch
)"""
    carry = "doc_id, region_id" + (", span_text" if with_text else "")
    return rect_detect_geometry_sql(spec, carry)
