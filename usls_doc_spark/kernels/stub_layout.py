"""Deterministic layout "model": flow layout + raw YOLO-head emission.

The reference's layout model is DocLayout-YOLO over rendered page rasters
(reference src/models/yolo/impl.rs, preset yolo/config.rs:17-35). No
ONNX runtime is available to this package, so StubLayoutModel stands in for
it: a pure function of the parsed DOM blocks. A deterministic top-down flow
layout (optionally 2-column) assigns each block a page-coordinate bbox, then
emits a raw detection head ``[A, 4 + n_classes]`` (cxcywh in
letterboxed-canvas coordinates + class scores) exactly shaped like the YOLO
output the decode kernels expect. It also emits one duplicate anchor per
block (identical box, conf*0.9) so the NMS path (xy/y.rs:92-114) is
exercised in production. The extraction pipeline calls it through
``infer_pages_batched``, once per Arrow batch.

All geometry is integral and all float math float32, so the
canvas->original un-letterbox roundtrip (error ~1e-3 px) recovers the exact
integer layout after round-half-away — the byte-identical contract.
"""

from __future__ import annotations

import numpy as np

from .boilerplate import Block, classify_blocks
from .letterbox import LetterboxSpec, boxes_to_canvas, letterbox_spec
from .yolo_decode import DOCSTRUCTBENCH_NAMES

PAGE_W = 816
MARGIN = 48
CONTENT_W = PAGE_W - 2 * MARGIN  # 720
COL_W = 344  # two-column mode: cols at x=48..392 and x=408..752 (16px gutter)
COL2_X = MARGIN + COL_W + 16
CHAR_W = 8
LINE_H = 16
BLOCK_GAP = 8
CANVAS = 1024  # model input canvas (doclayout dyn 640-1024 opt 1024, yolo/config.rs:20-26)


def _block_box(n_chars: int, x: int, y: int, width_avail: int) -> tuple[int, int, int, int]:
    chars_per_line = max(1, width_avail // CHAR_W)
    n = max(1, n_chars)
    lines = (n + chars_per_line - 1) // chars_per_line
    w = min(n, chars_per_line) * CHAR_W
    h = lines * LINE_H
    return x, y, w, h


def flow_layout(
    blocks: list[Block], classes: list[str], two_col: bool
) -> tuple[np.ndarray, int, int]:
    """Assign page-coordinate xywh boxes to blocks in document order.

    Returns (boxes float32 [N,4], page_h, page_w). In two-column mode the
    contiguous run of non-abandon, non-title body blocks is balanced into
    two columns (first half left, second half right, both starting at the
    same y) — the shape the XY-cut must re-linearize into document order.
    """
    n = len(blocks)
    boxes = np.zeros((n, 4), dtype=np.float32)
    body_idx = [i for i in range(n) if classes[i] not in ("abandon", "title")]
    col_set = set(body_idx) if (two_col and len(body_idx) >= 2) else set()
    n_left = (len(body_idx) + 1) // 2
    left_set = set(body_idx[:n_left])

    if not col_set and n >= 256:
        # single-column VECTOR path for oversized (skew) pages only: the
        # flow is a plain prefix sum — integer-exact, identical to the
        # loop below (A/B-proven in test_raster_layout.py). Below the
        # threshold the loop wins: fresh array construction dominates at
        # tens of blocks in this environment (CLAUDE.md gotcha).
        chars = np.fromiter((len(b.text) for b in blocks), dtype=np.int64, count=n)
        nn = np.maximum(chars, 1)
        cpl = max(1, CONTENT_W // CHAR_W)
        h = (nn + cpl - 1) // cpl * LINE_H
        step = h + BLOCK_GAP
        boxes[:, 0] = MARGIN
        boxes[:, 1] = MARGIN + np.concatenate(([0], np.cumsum(step)[:-1]))
        boxes[:, 2] = np.minimum(nn, cpl) * CHAR_W
        boxes[:, 3] = h
        y_end = MARGIN + int(step.sum())
        page_h = max(y_end - BLOCK_GAP + MARGIN, MARGIN * 2 + LINE_H)
        return boxes, int(page_h), PAGE_W

    y = MARGIN
    col_y = {0: 0, 1: 0}
    col_started = False
    for i, blk in enumerate(blocks):
        if i in col_set:
            if not col_started:
                col_started = True
                col_y[0] = col_y[1] = y
            col = 0 if i in left_set else 1
            cx = MARGIN if col == 0 else COL2_X
            bx, by, bw, bh = _block_box(len(blk.text), cx, col_y[col], COL_W)
            col_y[col] = by + bh + BLOCK_GAP
        else:
            if col_started:  # resume full-width flow below both columns
                y = max(col_y[0], col_y[1])
                col_started = False
                col_y = {0: 0, 1: 0}
            bx, by, bw, bh = _block_box(len(blk.text), MARGIN, y, CONTENT_W)
            y = by + bh + BLOCK_GAP
        boxes[i] = (bx, by, bw, bh)
    if col_started:
        y = max(col_y[0], col_y[1])
    page_h = max(y - BLOCK_GAP + MARGIN, MARGIN * 2 + LINE_H)
    return boxes, int(page_h), PAGE_W


class StubLayoutModel:
    """Deterministic raw-head emitter (the CI/fixture model)."""

    names = DOCSTRUCTBENCH_NAMES

    def infer(
        self, blocks: list[Block], two_col: bool
    ) -> tuple[np.ndarray, LetterboxSpec, list[str]]:
        """Return (preds [A, 4+C] float32, letterbox spec, per-block classes).

        Anchor rows 2*i and 2*i+1 belong to block i (dup for NMS exercise),
        so ``anchor_id // 2`` recovers the block index downstream.
        """
        # vectorized page-at-a-time classify — bitwise-identical to the
        # per-block classify_block (A/B test in test_boilerplate_parser.py)
        classes, conf_arr = classify_blocks(blocks)
        boxes, page_h, page_w = flow_layout(blocks, classes, two_col)
        spec = letterbox_spec(page_h, page_w, CANVAS, CANVAS, center=False)
        n = len(blocks)
        n_cls = len(self.names)
        preds = np.zeros((2 * n, 4 + n_cls), dtype=np.float32)
        if n:
            canvas_boxes = boxes_to_canvas(boxes, spec)
            cx = canvas_boxes[:, 0] + canvas_boxes[:, 2] / np.float32(2.0)
            cy = canvas_boxes[:, 1] + canvas_boxes[:, 3] / np.float32(2.0)
            name_to_id = {nm: k for k, nm in enumerate(self.names)}
            # vectorized row build (identical values to the per-block loop:
            # same float32 casts, same 0.9x dup-anchor conf)
            cid = np.fromiter(
                (name_to_id[c] for c in classes), dtype=np.int64, count=n
            )
            rows = np.zeros((n, 4 + n_cls), dtype=np.float32)
            rows[:, 0] = cx
            rows[:, 1] = cy
            rows[:, 2] = canvas_boxes[:, 2]
            rows[:, 3] = canvas_boxes[:, 3]
            ar = np.arange(n)
            rows[ar, 4 + cid] = conf_arr
            preds[0::2] = rows
            # identical box (IoU 1.0) -> NMS must drop the dup anchor
            rows[ar, 4 + cid] = conf_arr * np.float32(0.9)
            preds[1::2] = rows
        return preds, spec, classes


def infer_pages_batched(
    model: StubLayoutModel,
    page_blocks: list[list[Block]],
    two_cols: list[bool],
) -> list[tuple[np.ndarray, LetterboxSpec, list[str]]]:
    """Batch StubLayoutModel.infer across all of an Arrow batch's pages in
    one numpy pass — bit-identical to calling ``model.infer`` per page
    (corpus A/B in tests/test_extract_pipeline.py).

    What amortizes (round-7 kernel lever, the decode_preds_batched
    pattern one stage earlier): block classification runs ONCE over the
    concatenation of every page's blocks (engaging classify_blocks'
    vector path, whose fixed fromiter/alloc cost made it a loss per-page
    below 256 blocks); the single-column flow layout becomes ONE
    segmented prefix sum over all eligible pages (exactly the integers of
    flow_layout's per-page paths); and the raw-head row build is one
    [total_blocks, 4+C] fill + one dup copy instead of two allocations
    per page. Two-column pages keep the sequential flow_layout loop (the
    column balancing is inherently per-page) but still join the batched
    classify and row build. Per-page LetterboxSpecs are scalar and stay
    per-page.
    """
    n_pages = len(page_blocks)
    counts = np.fromiter((len(b) for b in page_blocks), dtype=np.int64,
                         count=n_pages)
    total = int(counts.sum())
    offs = np.zeros(n_pages + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    all_blocks: list[Block] = [b for pb in page_blocks for b in pb]
    classes_all, conf_all = classify_blocks(all_blocks)

    # --- flow: segmented vector path for single-column pages ------------
    boxes_all = np.zeros((total, 4), dtype=np.float32)
    page_h = np.zeros(n_pages, dtype=np.int64)
    body = np.fromiter(
        (c not in ("abandon", "title") for c in classes_all),
        dtype=bool, count=total,
    )
    body_counts = np.array(
        [int(body[offs[i]:offs[i + 1]].sum()) for i in range(n_pages)],
        dtype=np.int64,
    )
    eligible = np.array(
        [not (two_cols[i] and body_counts[i] >= 2) for i in range(n_pages)],
        dtype=bool,
    )
    el_pages = np.nonzero(eligible)[0]
    if len(el_pages):
        el_counts = counts[el_pages]
        blk_mask = np.zeros(total, dtype=bool)
        for p in el_pages:
            blk_mask[offs[p]:offs[p + 1]] = True
        chars = np.fromiter(
            (len(all_blocks[j].text) for j in np.nonzero(blk_mask)[0]),
            dtype=np.int64, count=int(el_counts.sum()),
        )
        nn = np.maximum(chars, 1)
        cpl = max(1, CONTENT_W // CHAR_W)
        h = (nn + cpl - 1) // cpl * LINE_H
        step = h + BLOCK_GAP
        # zero-padded inclusive prefix: cum0[j] = sum(step[:j]) — gives both
        # the per-block exclusive prefix AND exact per-segment totals, and
        # indexes stay in range even for empty leading/trailing pages
        cum0 = np.zeros(len(step) + 1, dtype=np.int64)
        np.cumsum(step, out=cum0[1:])
        seg_starts = np.zeros(len(el_pages), dtype=np.int64)
        if len(el_pages) > 1:
            np.cumsum(el_counts[:-1], out=seg_starts[1:])
        # reset the prefix at each page boundary
        base = np.repeat(cum0[seg_starts], el_counts)
        y = MARGIN + (cum0[:-1] - base)
        eb = np.zeros((len(chars), 4), dtype=np.float32)
        eb[:, 0] = MARGIN
        eb[:, 1] = y
        eb[:, 2] = np.minimum(nn, cpl) * CHAR_W
        eb[:, 3] = h
        boxes_all[blk_mask] = eb
        # per-page y_end -> page height (empty pages keep the floor)
        seg_tot = cum0[seg_starts + el_counts] - cum0[seg_starts]
        ph = np.maximum(MARGIN + seg_tot - BLOCK_GAP + MARGIN,
                        MARGIN * 2 + LINE_H)
        page_h[el_pages] = ph
    for p in np.nonzero(~eligible)[0]:
        pb = page_blocks[p]
        bxs, ph_p, _pw = flow_layout(
            pb, classes_all[offs[p]:offs[p + 1]], two_cols[p]
        )
        boxes_all[offs[p]:offs[p + 1]] = bxs
        page_h[p] = ph_p

    # --- per-page specs + per-block ratio vector ------------------------
    specs = [
        letterbox_spec(int(page_h[i]), PAGE_W, CANVAS, CANVAS, center=False)
        for i in range(n_pages)
    ]
    r_blk = np.repeat(
        np.array([np.float32(s.ratio) for s in specs], dtype=np.float32), counts
    )

    # --- batched canvas transform + raw-head row build ------------------
    n_cls = len(model.names)
    canvas = boxes_all.copy()
    canvas[:, 0] = canvas[:, 0] * r_blk  # pad offsets are 0 (center=False)
    canvas[:, 1] = canvas[:, 1] * r_blk
    canvas[:, 2] = canvas[:, 2] * r_blk
    canvas[:, 3] = canvas[:, 3] * r_blk
    name_to_id = {nm: k for k, nm in enumerate(model.names)}
    cid = np.fromiter(
        (name_to_id[c] for c in classes_all), dtype=np.int64, count=total
    )
    rows = np.zeros((total, 4 + n_cls), dtype=np.float32)
    rows[:, 0] = canvas[:, 0] + canvas[:, 2] / np.float32(2.0)
    rows[:, 1] = canvas[:, 1] + canvas[:, 3] / np.float32(2.0)
    rows[:, 2] = canvas[:, 2]
    rows[:, 3] = canvas[:, 3]
    ar = np.arange(total)
    rows[ar, 4 + cid] = conf_all
    dup = rows.copy()
    dup[ar, 4 + cid] = conf_all * np.float32(0.9)

    out = []
    for i in range(n_pages):
        lo, hi = int(offs[i]), int(offs[i + 1])
        n = hi - lo
        preds = np.zeros((2 * n, 4 + n_cls), dtype=np.float32)
        if n:
            preds[0::2] = rows[lo:hi]
            preds[1::2] = dup[lo:hi]
        out.append((preds, specs[i], classes_all[lo:hi]))
    return out
