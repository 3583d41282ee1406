"""Pixel-native LAYOUT detection (L2-L7 + L12 from pixels): an anchor-free
FCOS-style head computed from page-raster pixels feeds the REAL yolo decode
kernels — per-anchor class argmax, DynConf threshold, cxcywh un-letterbox
decode, greedy NMS with duplicate-anchor collapse, abandon filter +
round-half-away (kernels/yolo_decode.py, kernels/nms.py; reference
semantics yolo/impl.rs:341-420, y.rs:92-114, docstructbench.rs:82-108).

The head is a pure function of pixels (the "model" boundary):
  * rectangles render with a CLASS-CODED fill value (spec below), so the
    class scores come from reading the pixel value at each stride-8 cell
    center — score = value/255 one-hot at the codebook class;
  * box regression is the ltrb distance from the cell center to the
    component extents along its row/column (vectorized run-extent scans) —
    exactly what an anchor-free detector head regresses;
  * cells whose center lands on background emit zeros (conf 0 -> dropped
    by the 0.4 DynConf gate, L6).

Every fg-center cell of a rectangle emits an IDENTICAL box at identical
conf, so NMS's stable duplicate-collapse keeps the first anchor — id_born
is therefore the row-major index of the topmost-leftmost interior cell,
an integer the oracle states from the spec. Sub-stride misses are real
detector behavior and are stated too: a 4px-wide chunk whose column span
contains no stride-8 center produces NO detection (the oracle's
center-exists predicate).

Class/value codebook per chunk k (m = k % 6):
  m=0 title/200  m=1 plain text/180  m=2 table/164  m=3 abandon/148 (conf
  0.580 >= 0.5 -> KEPT by L12)  m=4 figure_caption/172  m=5 abandon/120
  (conf 0.471 < 0.5 -> DROPPED by L12, exercised from pixels).

The oracle (DuckDB SQL) states x/y/width/height (exact spec integers —
ratio-1 letterbox and even w/h make every decode float op exact), conf
(one f32 division), cls, and id_born from the render spec alone.
"""

from __future__ import annotations

import numpy as np

from ..io.synth import CHUNKS_SQL, RASTER_MARGIN, RASTER_SPEC_SQL, raster_spec, render_raster
from ..kernels.letterbox import letterbox_spec
from ..kernels.yolo_decode import (
    DOCSTRUCTBENCH_NAMES,
    abandon_filter_and_round,
    decode_preds,
)
from .crossing import map_rows, split_documents

STRIDE = 8
# (class_id, fill value) per k % 6; class ids index DOCSTRUCTBENCH_NAMES
CLASS_SPEC = [(0, 200), (1, 180), (5, 164), (2, 148), (4, 172), (2, 120)]
_VALUE_TO_CLASS = np.zeros(256, dtype=np.int64)
for _cid, _v in CLASS_SPEC:
    _VALUE_TO_CLASS[_v] = _cid

RASTER_LAYOUT_SCHEMA = (
    "doc_id bigint, x int, y int, width int, height int, "
    "cls string, conf float, id_born bigint"
)


def render_layout_raster(doc_id: int, text: str) -> np.ndarray:
    """The raster_spec rectangles filled with the class-coded value."""
    rects = raster_spec(doc_id, text)
    return render_raster(rects, [CLASS_SPEC[k % 6][1] for k in range(len(rects))])


def pixel_head(raster: np.ndarray) -> np.ndarray:
    """Anchor-free head over the raw pixels: [n_cells, 4 + 10] preds
    (cxcywh in image coords + one-hot class scores). Pure pixel function —
    run-extent scans are vectorized numpy (O(H*W))."""
    h_img, w_img = raster.shape
    fg = raster > 0
    idx = np.arange(w_img)
    left = np.maximum.accumulate(np.where(~fg, idx, -1), axis=1) + 1
    right = (
        np.minimum.accumulate(np.where(~fg, idx, 2 * w_img)[:, ::-1], axis=1)[:, ::-1]
        - 1
    )
    idy = np.arange(h_img)[:, None]
    top = np.maximum.accumulate(np.where(~fg, idy, -1), axis=0) + 1
    bottom = (
        np.minimum.accumulate(np.where(~fg, idy, 2 * h_img)[::-1, :], axis=0)[::-1, :]
        - 1
    )
    cys = np.arange(STRIDE // 2, h_img, STRIDE)
    cxs = np.arange(STRIDE // 2, w_img, STRIDE)
    vals = raster[np.ix_(cys, cxs)]
    n_rows, n_cols = vals.shape
    preds = np.zeros((n_rows * n_cols, 4 + len(DOCSTRUCTBENCH_NAMES)), dtype=np.float32)
    ii, jj = np.nonzero(vals > 0)
    if len(ii):
        cy, cx = cys[ii], cxs[jj]
        l, r = left[cy, cx].astype(np.float32), right[cy, cx].astype(np.float32)
        t, b = top[cy, cx].astype(np.float32), bottom[cy, cx].astype(np.float32)
        bw = r - l + np.float32(1.0)
        bh = b - t + np.float32(1.0)
        a = ii * n_cols + jj
        preds[a, 0] = l + bw / np.float32(2.0)
        preds[a, 1] = t + bh / np.float32(2.0)
        preds[a, 2] = bw
        preds[a, 3] = bh
        v = vals[ii, jj]
        score = v.astype(np.float32) / np.float32(255.0)
        preds[a, 4 + _VALUE_TO_CLASS[v]] = score
    return preds


def detect_layout(doc_id: int, text: str) -> list[tuple]:
    raster = render_layout_raster(doc_id, text)
    h_img, w_img = raster.shape
    spec = letterbox_spec(h_img, w_img, h_img, w_img)  # ratio 1, pad 0
    decoded = decode_preds(pixel_head(raster), spec)
    rows = []
    for blk in abandon_filter_and_round(decoded):
        rows.append(
            (
                doc_id,
                blk["x"], blk["y"], blk["width"], blk["height"],
                blk["cls"], blk["conf"], blk["id_born"],
            )
        )
    return rows


def raster_layout_blocks(spark, sf_dir: str):
    """documents -> pixel-native layout detections (real L2-L7+L12 path)."""
    return map_rows(split_documents(spark, sf_dir), detect_layout, RASTER_LAYOUT_SCHEMA)


def raster_layout_oracle() -> str:
    cls_case = "CASE k % 6 " + " ".join(
        f"WHEN {m} THEN '{DOCSTRUCTBENCH_NAMES[cid]}'"
        for m, (cid, _v) in enumerate(CLASS_SPEC[:-1])
    ) + f" ELSE '{DOCSTRUCTBENCH_NAMES[CLASS_SPEC[-1][0]]}' END"
    val_case = "CASE k % 6 " + " ".join(
        f"WHEN {m} THEN {v}" for m, (_c, v) in enumerate(CLASS_SPEC[:-1])
    ) + f" ELSE {CLASS_SPEC[-1][1]} END"
    return f"""
WITH d0 AS (
  SELECT doc_id, {CHUNKS_SQL} AS chunks
  FROM documents
),
ch AS (
  SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS k,
         length(unnest(chunks)) AS c
  FROM d0
),
spec AS (
  SELECT doc_id, k, {RASTER_SPEC_SQL},
         {cls_case} AS cls, {val_case} AS val
  FROM ch
),
page AS (SELECT doc_id, max(x0 + w) + {RASTER_MARGIN} AS pw FROM spec GROUP BY doc_id),
kept AS (
  SELECT s.doc_id, s.x0, s.y0, s.w, s.h, s.cls, s.val,
         (s.y0 + 3) // 8 AS imin, (s.x0 + 3) // 8 AS jmin,
         (p.pw - 5) // 8 + 1 AS ncols
  FROM spec s JOIN page p ON s.doc_id = p.doc_id
  WHERE s.k % 6 <> 5                                -- L12 abandon drop
    AND ((s.x0 + 3) // 8) * 8 + 4 <= s.x0 + s.w - 1 -- sub-stride miss
)
SELECT doc_id,
       CAST(x0 AS INT) AS x, CAST(y0 AS INT) AS y,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height, cls,
       CAST(CAST(val AS FLOAT) / CAST(255.0 AS FLOAT) AS FLOAT) AS conf,
       CAST(imin * ncols + jmin AS BIGINT) AS id_born
FROM kept
"""
