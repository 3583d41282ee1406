"""A/B bitwise-identity proof for the large-n NMS conflict-graph reduction.

``_reference_nms`` below is the plain incremental sequential greedy loop —
the exact op sequence nms.py used before the sweep landed (and still uses
past the pair budget). Every test asserts ``nms_indices`` returns an array
bitwise-identical to it, on real captured skew pages, adversarial fuzz
(overlap clusters, ties, -0.0, NaN, inf, degenerate boxes), and with the
pair budget forced to 0 so the fallback path itself is exercised.
"""

from __future__ import annotations

import numpy as np
import pytest

import usls_doc_spark.kernels.nms as nms_mod
from usls_doc_spark.kernels.nms import nms_indices


def _reference_nms(boxes, confs, iou_threshold):
    """Sequential greedy NMS — byte-dedup + incremental loop, no sweep."""
    boxes = np.asarray(boxes, dtype=np.float32)
    confs = np.asarray(confs, dtype=np.float32)
    n = len(confs)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.argsort(-confs, kind="stable")
    bo = np.ascontiguousarray(boxes[order])
    if iou_threshold < 1.0:
        rows = bo.view(np.uint8).reshape(n, -1)
        seen: set[bytes] = set()
        keep_j = [
            j
            for j in range(n)
            if (k := rows[j].tobytes()) not in seen and not seen.add(k)
        ]
        if len(keep_j) != n:
            order = order[np.asarray(keep_j, dtype=np.int64)]
            n = len(order)
    b = boxes[order]
    x1, y1 = b[:, 0], b[:, 1]
    x2, y2 = b[:, 0] + b[:, 2], b[:, 1] + b[:, 3]
    areas = b[:, 2] * b[:, 3]
    thr = np.float32(iou_threshold)
    kx1 = np.empty(n, dtype=np.float32)
    ky1 = np.empty(n, dtype=np.float32)
    kx2 = np.empty(n, dtype=np.float32)
    ky2 = np.empty(n, dtype=np.float32)
    karea = np.empty(n, dtype=np.float32)
    kept: list[int] = []
    k = 0
    for i in range(n):
        if k:
            l = np.maximum(kx1[:k], x1[i])
            r = np.minimum(kx2[:k], x2[i])
            t = np.maximum(ky1[:k], y1[i])
            bm = np.minimum(ky2[:k], y2[i])
            inter = np.maximum(r - l, 0.0) * np.maximum(bm - t, 0.0)
            uni = karea[:k] + areas[i] - inter
            iou_k = inter / np.maximum(uni, np.float32(1e-12))
            if (iou_k > thr).any():
                continue
        kx1[k], ky1[k], kx2[k], ky2[k] = x1[i], y1[i], x2[i], y2[i]
        karea[k] = areas[i]
        kept.append(i)
        k += 1
    return order[np.asarray(kept, dtype=np.int64)]


def _assert_identical(boxes, confs, thr):
    got = nms_indices(boxes, confs, thr)
    want = _reference_nms(boxes, confs, thr)
    assert got.dtype == want.dtype
    assert got.tolist() == want.tolist()


def _skew_page(rng, n_blocks):
    """Stub-shaped skew page: y-disjoint flow blocks, duplicate anchors."""
    ys = np.arange(n_blocks, dtype=np.float32) * 40.0 + 8.0
    boxes = np.stack(
        [
            np.full(n_blocks, 16.0, dtype=np.float32),
            ys,
            rng.uniform(200, 600, n_blocks).astype(np.float32),
            rng.uniform(16, 20, n_blocks).astype(np.float32),
        ],
        axis=1,
    )
    boxes = np.repeat(boxes, 2, axis=0)  # the stub emits 2 identical anchors
    confs = rng.uniform(0.3, 0.99, len(boxes)).astype(np.float32)
    return boxes, confs


def test_skew_page_shape_identical():
    rng = np.random.default_rng(7)
    for n_blocks in (300, 1213):
        boxes, confs = _skew_page(rng, n_blocks)
        _assert_identical(boxes, confs, 0.45)


def test_fuzz_overlap_clusters_identical():
    rng = np.random.default_rng(11)
    for trial in range(8):
        n = int(rng.integers(520, 1400))
        # clustered centers -> genuine conflict components of varied size
        centers = rng.uniform(0, 900, (max(3, n // 40), 2))
        pick = centers[rng.integers(0, len(centers), n)]
        jitter = rng.normal(0, 12, (n, 2))
        wh = rng.uniform(5, 60, (n, 2))
        boxes = np.concatenate([pick + jitter, wh], axis=1).astype(np.float32)
        confs = rng.uniform(0, 1, n).astype(np.float32)
        # conf ties to exercise stable ordering
        confs[:: max(1, n // 17)] = np.float32(0.5)
        for thr in (0.0, 0.2, 0.45, 0.9):
            _assert_identical(boxes, confs, thr)


def test_fuzz_pathological_values_identical():
    rng = np.random.default_rng(13)
    n = 700
    boxes = rng.uniform(0, 500, (n, 4)).astype(np.float32)
    boxes[:, 2:] = rng.uniform(1, 50, (n, 2)).astype(np.float32)
    confs = rng.uniform(0, 1, n).astype(np.float32)
    boxes[3] = [0.0, -0.0, 10.0, 10.0]
    boxes[4] = [-0.0, 0.0, 10.0, 10.0]  # byte-distinct, value-equal twin
    boxes[9, 0] = np.nan
    boxes[10, 3] = np.nan
    boxes[11] = [np.inf, 5.0, 10.0, 10.0]
    boxes[12] = [5.0, 5.0, np.inf, 10.0]
    boxes[13] = [50.0, 50.0, -5.0, 10.0]  # negative width
    boxes[14] = [60.0, 60.0, 0.0, 0.0]  # zero area
    for thr in (0.0, 0.45):
        _assert_identical(boxes, confs, thr)


def test_pair_cap_fallback_identical(monkeypatch):
    rng = np.random.default_rng(17)
    # 600 blocks -> 1200 raw boxes, 600 after duplicate-anchor collapse:
    # still past the 512 small-n cutoff, so the sweep path is reachable
    boxes, confs = _skew_page(rng, 600)
    monkeypatch.setattr(nms_mod, "_PAIR_CAP", 0)
    want_fallback = nms_indices(boxes, confs, 0.45)
    monkeypatch.undo()
    got = nms_indices(boxes, confs, 0.45)
    assert got.tolist() == want_fallback.tolist()
    assert got.tolist() == _reference_nms(boxes, confs, 0.45).tolist()


def test_real_captured_pages_identical():
    """Replay real extraction NMS inputs (sf0.001 docs incl. a skew page)."""
    pytest.importorskip("duckdb")
    import duckdb

    from usls_doc_spark.io.synth import synth_page
    from usls_doc_spark.pipeline.extract import extract_rows
    from usls_doc_spark.kernels.stub_layout import StubLayoutModel
    import usls_doc_spark.kernels.yolo_decode as yd

    rows = duckdb.sql(
        "SELECT doc_id, text, lang FROM '/root/testdata/sf0.001/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    captured = []
    orig = yd.nms_indices

    def record(boxes, confs, thr):
        captured.append((np.array(boxes, copy=True), np.array(confs, copy=True), thr))
        return orig(boxes, confs, thr)

    yd.nms_indices = record
    try:
        model = StubLayoutModel()
        for doc_id, text, lang in rows:
            page = synth_page(doc_id, text, lang)
            extract_rows([page["html"]], [page["url"]], model)
    finally:
        yd.nms_indices = orig
    assert captured, "no NMS calls captured"
    assert any(len(c) > 512 for _, c, _ in captured), "no large-n page in corpus"
    for boxes, confs, thr in captured:
        _assert_identical(boxes, confs, thr)
