"""Preprocessing ops kernel tests (SURVEY.md §2.2 P-ops, L11)."""

import numpy as np

from usls_doc_spark.kernels import ops


def test_normalize_minmax():
    x = np.array([0.0, 5.0, 10.0], dtype=np.float32)
    assert ops.normalize(x).tolist() == [0.0, 0.5, 1.0]
    assert ops.normalize(np.full(3, 7.0)).tolist() == [0.0, 0.0, 0.0]


def test_standardize_per_channel():
    x = np.ones((1, 2, 2, 3), dtype=np.float32)
    out = ops.standardize(x, mean=[1.0, 0.5, 0.0], std=[1.0, 0.5, 2.0])
    assert np.allclose(out[0, 0, 0], [0.0, 1.0, 0.5])


def test_transposes_roundtrip():
    x = np.arange(24, dtype=np.float32).reshape(1, 2, 3, 4)  # NHWC
    assert ops.nhwc2nchw(x).shape == (1, 4, 2, 3)
    assert np.array_equal(ops.nchw2nhwc(ops.nhwc2nchw(x)), x)
    assert ops.permute(x, (3, 0, 1, 2)).shape == (4, 1, 2, 3)


def test_shape_ops():
    x = np.zeros((2, 3))
    assert ops.insert_axis(x, 0).shape == (1, 2, 3)
    assert ops.broadcast_to(x, (4, 2, 3)).shape == (4, 2, 3)
    assert ops.repeat(x, 0, 2).shape == (4, 3)
    assert ops.concat([x, x], axis=1).shape == (2, 6)


def test_sigmoid_l2_softmax():
    assert abs(ops.sigmoid(np.array([0.0]))[0] - 0.5) < 1e-6
    v = ops.l2_norm(np.array([[3.0, 4.0]]))
    assert np.allclose(v, [[0.6, 0.8]])
    s = ops.softmax(np.array([[1.0, 1.0]]))
    assert np.allclose(s, [[0.5, 0.5]])


def test_dot2_rows_sum_to_one():
    q = np.random.RandomState(0).rand(3, 8).astype(np.float32)
    g = np.random.RandomState(1).rand(5, 8).astype(np.float32)
    m = ops.dot2(q, g)
    assert m.shape == (3, 5)
    assert np.allclose(m.sum(axis=1), 1.0, atol=1e-5)


def test_resize_plane_modes():
    p = np.array([[0.0, 1.0], [2.0, 3.0]], dtype=np.float32)
    up = ops.resize_plane(p, 4, 4, "bilinear")
    assert up.shape == (4, 4)
    assert up[0, 0] == 0.0 and up[-1, -1] == 3.0
    nn = ops.resize_plane(p, 4, 4, "nearest")
    assert nn[0, 0] == 0.0 and nn[3, 3] == 3.0
    # identity when target == source
    assert np.array_equal(ops.resize_plane(p, 2, 2), p)
    # u8 mask variant stays in range
    mask = (p * 80).astype(np.uint8)
    out = ops.resize_luma8_u8(mask, 8, 8)
    assert out.dtype == np.uint8 and out.max() <= 240


def test_unsigned_clamp():
    assert ops.unsigned(np.array([-1.0, 2.0])).tolist() == [0.0, 2.0]


def test_prob_topk_reference_tie_order():
    # prob.rs:17-34 — descending prob, ties keep lower id first
    p = np.array([0.1, 0.5, 0.5, 0.2], dtype=np.float32)
    top = ops.prob_topk(p, 3, names=["a", "b", "c", "d"])
    assert [(i, n) for i, _, n in top] == [(1, "b"), (2, "c"), (3, "d")]

