"""Distributed instance-decode query: oriented boxes (L8), keypoints (L9),
instance masks (L10) run per document, SURVEY.md §2.4.

Reference semantics: yolo/impl.rs:422-443 (OBB w/h swap + angle fold),
:481-513 (keypoint ratio/clamp/threshold), :516-601 (mask coefs x protos ->
sigmoid -> resize -> bbox clip -> largest contour).

Data shape: the detector-head outputs (box params, raw keypoints, mask
coefficients, prototypes) are synthesized as pure functions of
k = doc_id % 64 — the same invariant trick as io/synth.py — and the
oracle DERIVES every output column in closed-form SQL (round-3 VERDICT
item 4; previously a 64x15 pinned lookup). The only pinned constants are
the 64 (cos, sin) doubles of the folded OBB angle
(operators/instances_trig.py, generated by scripts/gen_instances_trig.py
WITHOUT touching the decode kernels) — libm trig being the one
transcendental DuckDB cannot restate bitwise. Per column family:

  * OBB corners: the mbr.rs:56-86 rotation-matrix construction restated
    as the identical double expression tree over the pinned cos/sin
    (DuckDB DOUBLE arithmetic is bit-identical to numpy — see
    CLAUDE.md/raster_ocr.py); the swap branch never fires (w=20+k >
    h=10+k%7, asserted in tests).
  * keypoints: conf = f32(0.3 + 0.05*m) restated as
    CAST(double expr AS FLOAT); coordinate scaling divides by a ratio of
    0.5/2.0 — exact powers of two.
  * mask area / polygon length: the head's prototype stack is designed so
    the dominant coefficient (64 > 32+16+8) makes the 8x8 logit SIGN grid
    exactly the rect1 indicator while |logit| >= 8 keeps every sigmoid
    within eps=3.4e-4 of {0,1}. Bilinear 8->32 interpolation of a
    separable 0/1 indicator factorizes into two 1-D profiles whose
    weights are EXACT dyadic rationals (ratio 0.25), so the thresholded
    mask is pixel-exactly {R8(i)*C8(j) > 32} in INTEGER arithmetic (no
    ideal product ever equals 32/64, margin 1/64 >> eps — the same
    margin-analysis discipline as the raster render spec). The Moore
    trace length over the resulting stacked-interval shapes (row shifts
    <= 1) has the closed form 2H + W_first + W_last - 4 (H=1: 2W-2),
    fuzz-proven against the kernel in tests/test_instances_oracle.py.
  * lb_checksum: the P1-P3 u8 letterbox (bilinear f32 coordinates,
    float64 interpolation weights — numpy promotes f32-int to f64 —
    truncating u8 cast, 114 padding) restated pixel-for-pixel in SQL
    over the formula-generated source raster.

The decode is MEMOIZED per class k per task (layout_instances' cache) —
the kernels execute distributed inside the Arrow batches, but at most 64
times per task; a real per-image decode would drop the memo because its
inputs vary per row.
"""

from __future__ import annotations

import math

import numpy as np

from ..kernels.instances import decode_instance_mask, decode_keypoints, decode_obb
from ..kernels.letterbox import letterbox_image, letterbox_spec
from ..pipeline.crossing import map_rows

N_CLASSES = 64
KP_CONF_THRESH = 0.5
IMAGE_H, IMAGE_W = 480.0, 640.0
MASK_HW = 32

INSTANCES_SCHEMA = (
    "doc_id bigint, k int, "
    "x1 float, y1 float, x2 float, y2 float, "
    "x3 float, y3 float, x4 float, y4 float, "
    "n_valid_kpts int, kp0_x float, kp0_y float, "
    "mask_area bigint, poly_len int, lb_checksum bigint"
)

# synthetic page-raster dims fed through the P1-P3 raster letterbox
RASTER_H, RASTER_W = 36, 52
CANVAS = 64
# letterbox ratio f32(64/52) resizes the raster to exactly 44x64 (asserted
# against letterbox_spec in tests); pad area is 64*64 - 44*64
LB_H, LB_W = 44, 64


def mask_rect(k: int) -> tuple[int, int, int, int]:
    """The dominant prototype's rectangle [r0..r1] x [c0..c1] on the 8x8
    grid — the spec both synth_head_outputs and the oracle state."""
    return k % 3, 4 + (k % 4), (k // 3) % 3, 4 + ((k // 4) % 4)


def synth_head_outputs(k: int) -> dict:
    """Deterministic detector-head outputs for class k (stands in for the
    ONNX head tensors; every value an exact small rational).

    Mask head design (round-3 VERDICT item 4): coefs = [64, +-32, +-16,
    +-8] over four +-1 prototype planes whose first plane is the rect1
    indicator. 64 > 32+16+8 guarantees sign(logit) = rect1 and
    |logit| >= 8 — the dominance property that makes the mask
    closed-form-oracled; the kernel still runs the full real matmul ->
    sigmoid -> resize -> threshold -> clip -> contour pipeline and is
    never told about it."""
    obb = (
        100.0 + 3.0 * k,  # cx
        80.0 + 2.0 * k,  # cy
        20.0 + float(k),  # w  (always > h: the swap branch is never taken)
        10.0 + float(k % 7),  # h
        k * math.pi / 32.0,  # radians
    )
    kpts = np.array(
        [
            [40.0 + 8.0 * k + 5.0 * j, 30.0 + 4.0 * k + 3.0 * j, 0.3 + 0.05 * ((k + j) % 10)]
            for j in range(4)
        ],
        dtype=np.float32,
    )
    ratio = 0.5 if k % 2 else 2.0
    r0, r1, c0, c1 = mask_rect(k)
    rect1 = np.full((8, 8), -1.0)
    rect1[r0 : r1 + 1, c0 : c1 + 1] = 1.0
    rect2 = np.full((8, 8), -1.0)
    rect2[k % 2 : 4 + (k % 5), (k // 2) % 2 : 4 + (k // 5) % 5] = 1.0
    rr, cc = np.mgrid[0:8, 0:8]
    check = np.where((rr + cc + k) % 2 == 1, 1.0, -1.0)
    stripes = np.where((rr * 3 + cc * 5 + k) % 7 < 4, 1.0, -1.0)
    protos = np.stack([rect1, rect2, check, stripes]).astype(np.float32)
    coefs = np.array(
        [
            64.0,
            32.0 * (1 if k & 1 else -1),
            16.0 * (1 if k & 2 else -1),
            8.0 * (1 if k & 4 else -1),
        ],
        dtype=np.float32,
    )
    bbox = (2.0 + k % 10, 1.0 + k % 5, 20.0 + k % 12, 24.0 + k % 8)
    raster = np.fromfunction(
        lambda r, c: (r * 7 + c * 13 + k * 31) % 256, (RASTER_H, RASTER_W)
    ).astype(np.uint8)
    return {
        "obb": obb, "kpts": kpts, "ratio": ratio, "coefs": coefs,
        "protos": protos, "bbox": bbox, "raster": raster,
    }


def decode_instance_row(k: int) -> tuple:
    """Run all three decode kernels for class k -> flat output tuple."""
    h = synth_head_outputs(k)
    verts = decode_obb(*h["obb"])  # [4, 2] float32
    kp = decode_keypoints(h["kpts"], h["ratio"], IMAGE_H, IMAGE_W, KP_CONF_THRESH)
    n_valid = int((kp[:, 2] >= np.float32(KP_CONF_THRESH)).sum())
    mask, poly = decode_instance_mask(
        h["coefs"], h["protos"], h["bbox"], MASK_HW, MASK_HW, threshold=0.5
    )
    # P1-P3 raster letterbox over the synthetic page raster: u8-exact
    # bilinear resize + 114-pad, summarized as an integer pixel checksum
    spec = letterbox_spec(RASTER_H, RASTER_W, CANVAS, CANVAS, center=bool(k % 2))
    canvas = letterbox_image(h["raster"], spec)
    return (
        k,
        *[float(v) for v in verts.reshape(-1)],
        n_valid,
        float(kp[0, 0]),
        float(kp[0, 1]),
        int((mask > 0).sum()),
        0 if poly is None else int(len(poly)),
        int(canvas.sum()),
    )


def layout_instances(spark, sf_dir: str):
    """documents -> per-doc decoded OBB vertices, keypoints, mask stats."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    # pickled into each task with the closure: one memo per task
    cache: dict[int, tuple] = {}

    def instance_row(doc_id: int) -> list[tuple]:
        k = doc_id % N_CLASSES
        if k not in cache:
            cache[k] = decode_instance_row(k)
        return [(doc_id, *cache[k])]

    return map_rows(docs, instance_row, INSTANCES_SCHEMA)


def instances_oracle() -> str:
    """Closed-form DuckDB restatement of decode_instance_row over all 64
    classes (see module docstring for the derivation per column family).
    Only the trig VALUES are pinned constants."""
    from .instances_trig import TRIG

    trig_vals = ",\n    ".join(
        f"({k}, CAST({c!r} AS DOUBLE), CAST({s!r} AS DOUBLE))" for k, c, s in TRIG
    )
    # f32(RASTER_H / LB_H) — the numpy value-based-cast ratio the resize
    # uses for the y axis; x axis ratio 52/64 = 0.8125 is exactly dyadic
    ry = repr(float(np.float32(RASTER_H / LB_H)))
    rx = repr(float(np.float32(RASTER_W / LB_W)))

    # keypoint confidence per slot j: f32(0.3 + 0.05*((k+j)%10))
    def conf(j: int) -> str:
        return (
            f"CAST(CAST(0.3 AS DOUBLE) + CAST(0.05 AS DOUBLE) * ((k + {j}) % 10) "
            f"AS FLOAT)"
        )

    keeps = " + ".join(
        f"(CASE WHEN {conf(j)} >= 0.5 THEN 1 ELSE 0 END)" for j in range(4)
    )

    return f"""
WITH trig(k, cosr, sinr) AS (
  VALUES
    {trig_vals}
),
ks AS (
  SELECT k, cosr, sinr,
         CAST(100 + 3 * k AS DOUBLE) AS cx, CAST(80 + 2 * k AS DOUBLE) AS cy,
         CAST(20 + k AS DOUBLE) AS w, CAST(10 + k % 7 AS DOUBLE) AS h,
         k % 3 AS ra, 4 + k % 4 AS rb,
         (k // 3) % 3 AS ca, 4 + (k // 4) % 4 AS cb,
         2 + k % 10 AS bx1, 1 + k % 5 AS by1,
         20 + k % 12 AS bx2, 24 + k % 8 AS by2
  FROM trig
),
-- L8 OBB corners: the exact mbr.rs:56-86 double expression tree
obb AS (
  SELECT k,
         cx + (((cosr * CAST(0.5 AS DOUBLE)) * w) + (((-sinr) * CAST(0.5 AS DOUBLE)) * h)) AS x1,
         cy + (((sinr * CAST(0.5 AS DOUBLE)) * w) + ((cosr * CAST(0.5 AS DOUBLE)) * h)) AS y1,
         cx + (((cosr * CAST(0.5 AS DOUBLE)) * w) - (((-sinr) * CAST(0.5 AS DOUBLE)) * h)) AS x2,
         cy + (((sinr * CAST(0.5 AS DOUBLE)) * w) - ((cosr * CAST(0.5 AS DOUBLE)) * h)) AS y2
  FROM ks
),
-- L9 keypoints: f32 confidences, exact power-of-two ratio scaling + clamp
kp AS (
  SELECT k,
         {keeps} AS n_valid_kpts,
         CASE WHEN {conf(0)} >= 0.5 THEN
           CASE WHEN k % 2 = 1 THEN least(CAST((40 + 8 * k) * 2 AS DOUBLE), 640.0)
                ELSE CAST(40 + 8 * k AS DOUBLE) / 2 END
         ELSE 0 END AS kp0_x,
         CASE WHEN {conf(0)} >= 0.5 THEN
           CASE WHEN k % 2 = 1 THEN least(CAST((30 + 4 * k) * 2 AS DOUBLE), 480.0)
                ELSE CAST(30 + 4 * k AS DOUBLE) / 2 END
         ELSE 0 END AS kp0_y
  FROM ks
),
-- L10 mask: 1-D dyadic interpolation profiles in eighths (ratio 8/32 =
-- 0.25 exactly); output pixel (i, j) is on iff R8(i) * C8(j) > 32
prof AS (
  SELECT k, i,
         (8 - w8) * (CASE WHEN y0 BETWEEN ra AND rb THEN 1 ELSE 0 END)
           + w8 * (CASE WHEN y1 BETWEEN ra AND rb THEN 1 ELSE 0 END) AS r8,
         (8 - w8) * (CASE WHEN y0 BETWEEN ca AND cb THEN 1 ELSE 0 END)
           + w8 * (CASE WHEN y1 BETWEEN ca AND cb THEN 1 ELSE 0 END) AS c8
  FROM (
    SELECT ks.*, g.i,
           CASE WHEN g.i < 2 THEN 0 ELSE (2 * g.i - 3) // 8 END AS y0,
           least(CASE WHEN g.i < 2 THEN 0 ELSE (2 * g.i - 3) // 8 END + 1, 7) AS y1,
           CASE WHEN g.i < 2 THEN 0 ELSE (2 * g.i - 3) % 8 END AS w8
    FROM ks, (SELECT unnest(range(0, 32)) AS i) g
  )
),
rowsw AS (
  SELECT r.k, r.i, count(*) AS wid
  FROM prof r
  JOIN prof c ON c.k = r.k
  JOIN ks ON ks.k = r.k
  WHERE r.i >= greatest(by1, 0) AND r.i < least(by2, 32)
    AND c.i >= greatest(bx1, 0) AND c.i < least(bx2, 32)
    AND r.r8 * c.c8 > 32
  GROUP BY r.k, r.i
),
-- Moore-trace length over stacked intervals with row shifts <= 1:
-- 2H + W_first + W_last - 4 (single row: 2W - 2) — fuzz-proven vs the
-- kernel in tests/test_instances_oracle.py
maskstats AS (
  SELECT k, sum(wid) AS mask_area, count(*) AS hh,
         arg_min(wid, i) AS wf, arg_max(wid, i) AS wl
  FROM rowsw GROUP BY k
),
polys AS (
  SELECT k, mask_area,
         CASE WHEN hh = 1 THEN (CASE WHEN wf >= 2 THEN 2 * wf - 2 ELSE 1 END)
              ELSE 2 * hh + wf + wl - 4 END AS poly_len
  FROM maskstats
),
-- P1-P3 letterbox checksum: f32 source coordinates, float64 interpolation
-- (numpy promotes f32 - int64 to f64), truncating u8 cast, 114 padding;
-- the source raster is the synth formula, never materialized
lbgrid AS (
  SELECT ks.k, gi.i, gj.j,
         (CAST(gi.i AS FLOAT) + CAST(0.5 AS FLOAT)) * CAST({ry} AS FLOAT)
           - CAST(0.5 AS FLOAT) AS ys,
         (CAST(gj.j AS FLOAT) + CAST(0.5 AS FLOAT)) * CAST({rx} AS FLOAT)
           - CAST(0.5 AS FLOAT) AS xs
  FROM ks, (SELECT unnest(range(0, {LB_H})) AS i) gi,
       (SELECT unnest(range(0, {LB_W})) AS j) gj
),
lbw AS (
  SELECT k,
         CAST(greatest(least(floor(ys), {RASTER_H - 1}), 0) AS INT) AS y0,
         least(CAST(greatest(least(floor(ys), {RASTER_H - 1}), 0) AS INT) + 1,
               {RASTER_H - 1}) AS y1,
         greatest(least(CAST(ys AS DOUBLE)
                        - CAST(greatest(least(floor(ys), {RASTER_H - 1}), 0) AS INT),
                        CAST(1 AS DOUBLE)), CAST(0 AS DOUBLE)) AS wy,
         CAST(greatest(least(floor(xs), {RASTER_W - 1}), 0) AS INT) AS x0,
         least(CAST(greatest(least(floor(xs), {RASTER_W - 1}), 0) AS INT) + 1,
               {RASTER_W - 1}) AS x1,
         greatest(least(CAST(xs AS DOUBLE)
                        - CAST(greatest(least(floor(xs), {RASTER_W - 1}), 0) AS INT),
                        CAST(1 AS DOUBLE)), CAST(0 AS DOUBLE)) AS wx
  FROM lbgrid
),
lbpix AS (
  SELECT k,
         (CAST((y0 * 7 + x0 * 13 + k * 31) % 256 AS DOUBLE) * (CAST(1 AS DOUBLE) - wy)) * (CAST(1 AS DOUBLE) - wx)
         + (CAST((y0 * 7 + x1 * 13 + k * 31) % 256 AS DOUBLE) * (CAST(1 AS DOUBLE) - wy)) * wx
         + (CAST((y1 * 7 + x0 * 13 + k * 31) % 256 AS DOUBLE) * wy) * (CAST(1 AS DOUBLE) - wx)
         + (CAST((y1 * 7 + x1 * 13 + k * 31) % 256 AS DOUBLE) * wy) * wx AS v
  FROM lbw
),
lb AS (
  SELECT k,
         CAST(sum(CAST(trunc(least(greatest(v, 0), 255)) AS BIGINT)) AS BIGINT)
           + 114 * ({CANVAS} * {CANVAS} - {LB_H} * {LB_W}) AS lb_checksum
  FROM lbpix GROUP BY k
),
geom AS (
  SELECT ks.k,
         obb.x1, obb.y1, obb.x2, obb.y2,
         CAST(2 AS DOUBLE) * ks.cx - obb.x1 AS x3,
         CAST(2 AS DOUBLE) * ks.cy - obb.y1 AS y3,
         CAST(2 AS DOUBLE) * ks.cx - obb.x2 AS x4,
         CAST(2 AS DOUBLE) * ks.cy - obb.y2 AS y4,
         kp.n_valid_kpts, kp.kp0_x, kp.kp0_y,
         COALESCE(polys.mask_area, 0) AS mask_area,
         COALESCE(polys.poly_len, 0) AS poly_len,
         lb.lb_checksum
  FROM ks
  JOIN obb ON obb.k = ks.k
  JOIN kp ON kp.k = ks.k
  LEFT JOIN polys ON polys.k = ks.k
  JOIN lb ON lb.k = ks.k
)
SELECT d.doc_id, CAST(g.k AS INT) AS k,
       CAST(g.x1 AS FLOAT) AS x1, CAST(g.y1 AS FLOAT) AS y1,
       CAST(g.x2 AS FLOAT) AS x2, CAST(g.y2 AS FLOAT) AS y2,
       CAST(g.x3 AS FLOAT) AS x3, CAST(g.y3 AS FLOAT) AS y3,
       CAST(g.x4 AS FLOAT) AS x4, CAST(g.y4 AS FLOAT) AS y4,
       CAST(g.n_valid_kpts AS INT) AS n_valid_kpts,
       CAST(g.kp0_x AS FLOAT) AS kp0_x, CAST(g.kp0_y AS FLOAT) AS kp0_y,
       CAST(g.mask_area AS BIGINT) AS mask_area,
       CAST(g.poly_len AS INT) AS poly_len,
       CAST(g.lb_checksum AS BIGINT) AS lb_checksum
FROM documents d JOIN geom g ON d.doc_id % {N_CLASSES} = g.k
"""
