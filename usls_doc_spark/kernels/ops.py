"""Tensor/image preprocessing kernels — numpy mirrors of the reference's
``Ops`` enum (/root/reference/src/misc/ops.rs:14-28, applied via X::apply
x.rs:94-113). These run inside pandas UDFs on worker-local numpy arrays;
they are never Spark types (SURVEY.md §1.4).

Operator map (SURVEY.md §2.2):
  P4  normalize      ops.rs:31-43    (x-min)/(max-min)
  P5  standardize    ops.rs:80-117   per-channel (x-mean)/std, broadcast
  P6  nhwc2nchw etc. ops.rs:119-138
  P7  insert_axis / broadcast / repeat / to_shape  ops.rs:49-78,165-174
  P8  concat         ops.rs:140-151
  P9  sigmoid        ops.rs:45-47
  P10 norm (L2)      ops.rs:176-190
  P11 dot2           ops.rs:153-163  Q·G^T + row softmax
  P13 resize_luma    ops.rs:211-327  bilinear/nearest plane rescale
  P16 unsigned       x.rs:190-193    clamp negatives to 0
  L11 Prob::topk     /root/reference/src/xy/prob.rs:17-34
"""

from __future__ import annotations

import numpy as np


def normalize(x: np.ndarray) -> np.ndarray:
    """P4: global min-max normalize to [0,1] (ops.rs:31-43)."""
    x = np.asarray(x, dtype=np.float32)
    lo, hi = float(x.min()), float(x.max())
    if hi == lo:
        return np.zeros_like(x)
    return (x - np.float32(lo)) / np.float32(hi - lo)


def standardize(x: np.ndarray, mean, std) -> np.ndarray:
    """P5: per-channel (x - mean) / std over the last (channel) axis
    (ops.rs:80-117)."""
    x = np.asarray(x, dtype=np.float32)
    shape = [1] * x.ndim
    shape[-1] = -1
    m = np.asarray(mean, dtype=np.float32).reshape(shape)
    s = np.asarray(std, dtype=np.float32).reshape(shape)
    return (x - m) / s


def nhwc2nchw(x: np.ndarray) -> np.ndarray:
    """P6 (ops.rs:119-127)."""
    return np.transpose(np.asarray(x), (0, 3, 1, 2))


def nchw2nhwc(x: np.ndarray) -> np.ndarray:
    return np.transpose(np.asarray(x), (0, 2, 3, 1))


def permute(x: np.ndarray, axes) -> np.ndarray:
    return np.transpose(np.asarray(x), axes)


def insert_axis(x: np.ndarray, axis: int) -> np.ndarray:
    """P7 (ops.rs:49-53)."""
    return np.expand_dims(np.asarray(x), axis)


def broadcast_to(x: np.ndarray, shape) -> np.ndarray:
    return np.broadcast_to(np.asarray(x), shape).copy()


def repeat(x: np.ndarray, axis: int, n: int) -> np.ndarray:
    return np.repeat(np.asarray(x), n, axis=axis)


def concat(xs: list[np.ndarray], axis: int = 0) -> np.ndarray:
    """P8 (ops.rs:140-151)."""
    return np.concatenate([np.asarray(x) for x in xs], axis=axis)


def sigmoid(x: np.ndarray) -> np.ndarray:
    """P9 (ops.rs:45-47). Large-magnitude logits saturate exactly to 0/1
    (f32 exp overflow -> inf is the IEEE-correct limit, not an error —
    silence the warning; the instance-mask head emits |logit| up to 120)."""
    x = np.asarray(x, dtype=np.float32)
    with np.errstate(over="ignore"):
        return 1.0 / (1.0 + np.exp(-x))


def l2_norm(x: np.ndarray) -> np.ndarray:
    """P10: row-normalize along the last axis (ops.rs:176-190)."""
    x = np.asarray(x, dtype=np.float32)
    n = np.sqrt((x * x).sum(axis=-1, keepdims=True))
    return x / np.where(n == 0, 1.0, n)


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    x = np.asarray(x, dtype=np.float32)
    e = np.exp(x - x.max(axis=axis, keepdims=True))
    return e / e.sum(axis=axis, keepdims=True)


def dot2(query: np.ndarray, gallery: np.ndarray) -> np.ndarray:
    """P11: similarity matrix Q·G^T with row softmax (ops.rs:153-163).
    In the Spark plan this is the broadcast-gallery crossJoin cosine
    (operators/similarity.py); kept here for UDF-side batch use."""
    q = np.asarray(query, dtype=np.float32)
    g = np.asarray(gallery, dtype=np.float32)
    return softmax(q @ g.T, axis=1)


def resize_plane(plane: np.ndarray, out_h: int, out_w: int, mode: str = "bilinear") -> np.ndarray:
    """P13: single-channel plane rescale (ops.rs:211-327) — numpy
    implementation (align-corners=False convention, like fast_image_resize)."""
    src = np.asarray(plane, dtype=np.float32)
    h, w = src.shape
    if (h, w) == (out_h, out_w):
        return src.copy()
    ys = (np.arange(out_h, dtype=np.float32) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w, dtype=np.float32) + 0.5) * (w / out_w) - 0.5
    if mode == "nearest":
        yi = np.clip(np.rint(ys).astype(int), 0, h - 1)
        xi = np.clip(np.rint(xs).astype(int), 0, w - 1)
        return src[yi][:, xi]
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    a = src[y0][:, x0]
    b = src[y0][:, x1]
    c = src[y1][:, x0]
    d = src[y1][:, x1]
    return (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx + c * wy * (1 - wx) + d * wy * wx)


def resize_luma8_u8(plane: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """P13 u8 variant (ops.rs:309-327): bilinear resize of a u8 mask."""
    out = resize_plane(plane.astype(np.float32), out_h, out_w, "bilinear")
    return np.clip(out, 0, 255).astype(np.uint8)


def unsigned(x: np.ndarray) -> np.ndarray:
    """P16: clamp negatives to 0 — letterbox-padding artifact fix
    (x.rs:190-193)."""
    return np.maximum(np.asarray(x), 0)


def prob_topk(probs: np.ndarray, k: int, names: list[str] | None = None) -> list[tuple]:
    """L11: top-k class probabilities as (id, prob[, name]) descending,
    ties by lower id first (prob.rs:17-34)."""
    p = np.asarray(probs, dtype=np.float32)
    order = np.lexsort((np.arange(len(p)), -p))[:k]
    if names is None:
        return [(int(i), float(p[i])) for i in order]
    return [(int(i), float(p[i]), names[int(i)]) for i in order]
