"""Letterbox / resize scale math (coordinate transforms only).

Reference semantics: ``Ops::letterbox_rgb`` /root/reference/src/misc/ops.rs:382-450
(resize_by auto/height/width, pad value 114 default options.rs:139, optional
centering) and the stateless ``Processor::resize2``
/root/reference/src/misc/processor.rs:348-440 which returns
``(tensor, (h0, w0), [scale_h, scale_w])`` — per-row scale metadata carried
through instead of mutable processor state (SURVEY.md §1.4).

We only need the coordinate math on the Spark side (the raster resize itself
lives behind the stubbed/ONNX model boundary): given an original page size and
a target canvas, compute the scale ratio and padding offsets, and map boxes
canvas->original. All math in float32 to match the reference's f32 discipline.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class LetterboxSpec:
    """Scale/pad metadata for one image, the analogue of resize2's
    ``(h0, w0, scale)`` outputs (processor.rs:348-440)."""

    h0: int
    w0: int
    th: int
    tw: int
    ratio: float  # single 'auto' ratio r = min(tw/w0, th/h0) (ops.rs:397-403)
    pad_left: int
    pad_top: int


def letterbox_spec(h0: int, w0: int, th: int, tw: int, center: bool = False) -> LetterboxSpec:
    """Compute the letterbox transform for an h0×w0 image onto a th×tw canvas.

    Mirrors ops.rs:395-419: r = min(tw/w0, th/h0); resized (w, h) =
    round(w0*r), round(h0*r); pad offsets 0 unless ``center``.
    """
    r = np.float32(min(np.float32(tw) / np.float32(w0), np.float32(th) / np.float32(h0)))
    w = int(np.rint(np.float32(w0) * r))
    h = int(np.rint(np.float32(h0) * r))
    if center:
        l, t = ((tw - w) // 2, 0) if w != tw else (0, (th - h) // 2)
    else:
        l, t = 0, 0
    return LetterboxSpec(h0=h0, w0=w0, th=th, tw=tw, ratio=float(r), pad_left=l, pad_top=t)


def boxes_to_canvas(boxes_xywh: np.ndarray, spec: LetterboxSpec) -> np.ndarray:
    """Map original-image xywh boxes into letterboxed canvas coordinates."""
    b = np.asarray(boxes_xywh, dtype=np.float32).copy()
    r = np.float32(spec.ratio)
    b[:, 0] = b[:, 0] * r + spec.pad_left
    b[:, 1] = b[:, 1] * r + spec.pad_top
    b[:, 2] = b[:, 2] * r
    b[:, 3] = b[:, 3] * r
    return b


def boxes_to_original(boxes_xywh: np.ndarray, spec: LetterboxSpec) -> np.ndarray:
    """Map canvas xywh boxes back to original coordinates — the postprocess
    ``bbox / ratio`` un-scale of yolo/impl.rs:378-380 (pad removed first),
    with the (cx - w/2).max(0.) clamp applied by the box decoder, not here."""
    b = np.asarray(boxes_xywh, dtype=np.float32).copy()
    r = np.float32(spec.ratio)
    b[:, 0] = (b[:, 0] - spec.pad_left) / r
    b[:, 1] = (b[:, 1] - spec.pad_top) / r
    b[:, 2] = b[:, 2] / r
    b[:, 3] = b[:, 3] / r
    return b


def letterbox_image(plane_u8: np.ndarray, spec: LetterboxSpec, pad_value: int = 114) -> np.ndarray:
    """P1-P3 RASTER path for one u8 plane (the pixel application of the
    coordinate math above): resize to (round(h0·r), round(w0·r)) with the
    exact-u8 bilinear kernel (ops.resize_luma8_u8), then pad the th×tw
    canvas with 114 (ops.rs:382-450 letterbox semantics; pad default
    options.rs:139). All-integer output, so downstream checks (pixel
    checksums) are exact in any engine."""
    from .ops import resize_luma8_u8

    plane = np.asarray(plane_u8, dtype=np.uint8)
    r = np.float32(spec.ratio)
    w = int(np.rint(np.float32(spec.w0) * r))
    h = int(np.rint(np.float32(spec.h0) * r))
    canvas = np.full((spec.th, spec.tw), np.uint8(pad_value), dtype=np.uint8)
    resized = resize_luma8_u8(plane, h, w)
    canvas[spec.pad_top : spec.pad_top + h, spec.pad_left : spec.pad_left + w] = resized
    return canvas
