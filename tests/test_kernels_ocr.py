"""OCR kernel tests: DB polygon pipeline (D1-D7) + decoders (R1, R3)."""

from collections import deque

import numpy as np

from tests.conftest import SF_DIR
from usls_doc_spark.kernels.ocr import (
    binarize_prob_map,
    convex_hull,
    ctc_greedy_decode,
    db_postprocess,
    find_outer_contours,
    greedy_generate,
    polygon_area,
    polygon_perimeter,
    resample,
    unclip,
    verify,
)
from usls_doc_spark.pipeline.ocr import region_xywh


def test_binarize_thresholds():
    pm = np.array([[0.0, 0.2, 0.21, 0.9]], dtype=np.float32)
    out = binarize_prob_map(pm)
    # x <= 0.2 -> 0; else x*255 truncated to u8 (db/impl.rs:98-104)
    assert out.tolist() == [[0, 0, int(0.21 * 255), int(0.9 * 255)]]


def test_contours_rectangle():
    mask = np.zeros((10, 12), dtype=np.uint8)
    mask[2:7, 3:9] = 255
    cs = find_outer_contours(mask)
    assert len(cs) == 1
    c = cs[0]
    assert c[:, 0].min() == 3 and c[:, 0].max() == 8
    assert c[:, 1].min() == 2 and c[:, 1].max() == 6
    # boundary of a 6x5 rect has 2*(6+5)-4 = 18 pixels
    assert len(c) == 18
    # shoelace area of the pixel-boundary polygon is (w-1)*(h-1)
    assert polygon_area(c) == 5 * 4
    assert polygon_perimeter(c) == 2 * (5 + 4)


def test_contours_two_components():
    mask = np.zeros((8, 8), dtype=np.uint8)
    mask[1:3, 1:3] = 1
    mask[5:7, 5:7] = 1
    assert len(find_outer_contours(mask)) == 2


def test_unclip_square_expands():
    # counter-clockwise in image coords (y down) — the tracer's output order
    sq = np.array([[2, 2], [2, 6], [6, 6], [6, 2]], dtype=np.float64)
    out = unclip(sq, delta=1.0, width=100, height=100)
    # each corner normal is the prev->next diagonal's perpendicular, unit
    # length, so corners move out by 1/sqrt(2) per axis
    d = 1.0 / np.sqrt(2.0)
    exp = np.array([[2 - d, 2 - d], [2 - d, 6 + d], [6 + d, 6 + d], [6 + d, 2 - d]])
    assert np.allclose(out, exp)
    # clamping to the image bounds
    out2 = unclip(sq, delta=10.0, width=7.0, height=7.0)
    assert np.asarray(out2).min() >= 0.0 and np.asarray(out2).max() <= 7.0


def test_resample_counts():
    tri = np.array([[0, 0], [10, 0], [0, 10]], dtype=np.float64)
    out = resample(tri, num_samples=4)
    assert len(out) == 3 * 4  # per edge: start + 3 interpolated
    assert np.allclose(out[1], [2.5, 0.0])


def test_convex_hull_and_verify():
    pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [2, 2], [1, 1]], dtype=np.float64)
    hull = convex_hull(pts)
    assert len(hull) == 4
    assert polygon_area(hull) == 16.0
    # verify dedups on int-cast coords, keeping first occurrence
    noisy = np.array([[0.2, 0.3], [0.4, 0.9], [3.0, 3.0], [0.0, 0.0]], dtype=np.float64)
    v = verify(noisy)
    assert [(int(x), int(y)) for x, y in v] == [(0, 0), (3, 3)]
    # trailing point equal to first (int-cast) is dropped
    closed = np.array([[1.0, 1.0], [5.0, 1.0], [5.0, 5.0], [1.2, 1.4]], dtype=np.float64)
    assert len(verify(closed)) == 3


def test_db_postprocess_end_to_end():
    pm = np.zeros((48, 120), dtype=np.float32)
    pm[8:40, 8:104] = 0.9
    regions = db_postprocess(pm, ratio=1.0)
    assert len(regions) == 1
    r = regions[0]
    x1, y1, x2, y2 = r["bbox"]
    # unclip expands the (95 x 31)-pixel-boundary rect by delta on each side
    delta = (95 * 31) * 1.5 / (2 * (95 + 31))
    assert abs((8 - delta) - x1) < 1.0 or x1 == 0.0
    assert x2 > 103 and y2 > 39
    assert r["conf"] > 0.9  # near-rectangular polygon
    # min-size filter: a sliver region is dropped
    pm2 = np.zeros((20, 20), dtype=np.float32)
    pm2[5:8, 5:18] = 0.9  # 3px tall < MIN_HEIGHT=12 even after unclip?
    regs2 = db_postprocess(pm2, ratio=1.0)
    for rr in regs2:
        assert (rr["bbox"][3] - rr["bbox"][1]) >= 12


def test_hull_resample_identity():
    # the hot path skips resample because hull(resample(X)) is geometrically
    # hull(X): interpolated points are convex combinations of edge endpoints
    # (float rounding can leave epsilon-on-edge vertices, so the identity is
    # area/bbox equality, which is all the pipeline outputs depend on)
    pts = np.array([[3, 2], [9, 1], [14, 7], [8, 13], [2, 9]], dtype=np.float64)
    h1 = convex_hull(pts)
    h2 = convex_hull(resample(pts, 50))
    assert abs(polygon_area(h1) - polygon_area(h2)) < 1e-9
    assert np.allclose(np.asarray(h1).min(axis=0), np.asarray(h2).min(axis=0))
    assert np.allclose(np.asarray(h1).max(axis=0), np.asarray(h2).max(axis=0))


def test_ctc_greedy_decode_reference_semantics():
    vocab = ["<blank>", "a", "b", "c"]
    # timesteps: a, a (repeat NOT collapsed), blank (dropped), low-conf b, c
    logits = np.array(
        [
            [0.0, 0.9, 0.0, 0.0],
            [0.0, 0.9, 0.0, 0.0],
            [0.9, 0.0, 0.0, 0.0],
            [0.0, 0.0, 0.1, 0.0],  # conf 0.1 < 0.2 -> dropped
            [0.0, 0.0, 0.0, 0.8],
        ],
        dtype=np.float32,
    )
    assert ctc_greedy_decode(logits, vocab) == "aac"
    # max_length truncation
    assert ctc_greedy_decode(logits, vocab, max_length=2) == "aa"


def test_greedy_generate_eos_and_refeed():
    # fake decoder: emits token 3, then 4, then EOS(2); asserts re-feed grows
    seen_lens = []

    def step(ids):
        seen_lens.append(len(ids))
        nxt = {1: 3, 3: 4, 4: 2}[ids[-1]]
        out = np.zeros((len(ids), 5), dtype=np.float32)
        out[-1, nxt] = 1.0
        return out

    assert greedy_generate(step) == [3, 4]
    assert seen_lens == [1, 2, 3]
    # max_steps bound

    def forever(ids):
        out = np.zeros((len(ids), 5), dtype=np.float32)
        out[-1, 3] = 1.0
        return out

    assert len(greedy_generate(forever, max_steps=7)) == 7


def test_ocr_page_roundtrips_uppercase_punct_and_long_chunks():
    """The span == chunk invariant must survive uppercase, punctuation and
    chunks longer than the old 256-step decode cap (round-1 ADVICE)."""
    from usls_doc_spark.pipeline.ocr import ocr_rows

    long_words = " ".join("Supercalifragilistic-Expialidocious!?" for _ in range(8))
    html = (
        "<html><body><h1>T</h1>"
        "<p>Hello, World! MIXED case &amp; punct: (yes).</p>"
        f"<p>{long_words}</p>"
        "</body></html>"
    ).encode()
    rows = ocr_rows([("u", html)])  # a one-row batch through the bucket path
    texts = [r[2] for r in rows]
    assert texts[0] == "Hello, World! MIXED case & punct: (yes)."
    assert texts[1] == long_words
    assert len(long_words) > 256


def test_ocr_batch_width_buckets_preserve_order():
    """R2: recognition groups by width bucket across the Arrow batch but
    output rows stay in (page, region) order with exact span text."""
    import pandas as pd

    from usls_doc_spark.pipeline.ocr import WIDTH_BUCKET, detect_page_regions, ocr_rows

    short = "tiny"
    long = "x" * 90  # 4*90+... > WIDTH_BUCKET/4? width = 4*n_chars -> 360 > 320
    html1 = f"<html><body><p>{short}</p><p>{long}</p></body></html>".encode()
    html2 = f"<html><body><p>{long}</p><p>{short}</p></body></html>".encode()
    pdf = pd.DataFrame({"url": ["u1", "u2"], "html": [html1, html2]})
    cols = ["url", "region_id", "span_text", "x", "y", "width", "height", "conf"]
    out = pd.DataFrame(ocr_rows(pdf.itertuples(index=False, name=None)), columns=cols)
    assert list(out["url"]) == ["u1", "u1", "u2", "u2"]
    assert list(out["region_id"]) == [0, 1, 0, 1]
    assert list(out["span_text"]) == [short, long, long, short]
    # the two lengths really land in different buckets
    regs = detect_page_regions(html1, "u1")
    assert regs[0]["bucket"] != regs[1]["bucket"]
    assert regs[1]["width"] >= WIDTH_BUCKET


def test_region_xywh_rounds_half_away_in_float32():
    """(x1, y1, x2, y2) -> (x, y, w, h) as Python ints: each value cast to
    float32 (w and h are float64 differences first), then rounded half
    away from zero — ties and negatives included."""
    from usls_doc_spark.kernels.yolo_decode import round_half_away

    assert region_xywh((0.5, 1.5, 3.0, 4.0)) == (1, 2, 3, 3)  # w = h = 2.5
    assert region_xywh((-0.5, -2.5, -3.0, 1.0)) == (-1, -3, -3, 4)  # w = -2.5
    assert region_xywh((0.49999999, 0.0, 1.0, 1.0))[0] == 1  # float32(.49999999) == .5
    rng = np.random.default_rng(5)
    boxes = rng.uniform(-1e3, 1e3, (2000, 4)).tolist()
    boxes += (rng.integers(-2000, 2000, (2000, 4)) / 2).tolist()
    for bbox in boxes:
        got = region_xywh(tuple(bbox))
        x1, y1, x2, y2 = bbox
        want = tuple(int(round_half_away(np.float32(v))) for v in (x1, y1, x2 - x1, y2 - y1))
        assert type(got) is tuple and got == want
        assert all(type(v) is int for v in got)


# ---------------------------------------------------------------------------
# contour fast-path differential fuzz (round-2 VERDICT item 7): the
# vectorized rectangle ring and the bbox-local Moore trace must be
# POINT-IDENTICAL to a full-frame Moore trace on arbitrary masks.
# ---------------------------------------------------------------------------

def _reference_contours(mask):
    """Differential oracle: plain BFS 4-connected flood fill (components
    numbered by their first pixel in row-major order), each component
    Moore-traced on the FULL frame — no labeling code under test."""
    from usls_doc_spark.kernels.ocr import _trace_boundary

    fg = np.asarray(mask) > 0
    h, w = fg.shape
    seen = np.zeros_like(fg)
    out = []
    for y, x in np.argwhere(fg).tolist():
        if seen[y, x]:
            continue
        seen[y, x] = True
        comp = np.zeros_like(fg)
        queue = deque([(y, x)])
        while queue:
            cy, cx = queue.popleft()
            comp[cy, cx] = True
            for ny, nx in ((cy - 1, cx), (cy + 1, cx), (cy, cx - 1), (cy, cx + 1)):
                if 0 <= ny < h and 0 <= nx < w and fg[ny, nx] and not seen[ny, nx]:
                    seen[ny, nx] = True
                    queue.append((ny, nx))
        pts = _trace_boundary(comp, (y, x))
        out.append(np.asarray(pts[::-1], dtype=np.float64))
    return out


def _adversarial_masks(n=512):
    """Serpentine (one snake through every other row), comb (teeth joined
    only on the last row) and 60% noise — long Moore walks, deep run
    merges and thousands of tiny components."""
    serpentine = np.zeros((n, n), dtype=np.uint8)
    serpentine[::2, 1:-1] = 1
    for y in range(1, n - 1, 2):
        serpentine[y, 1 if (y // 2) % 2 else n - 2] = 1
    comb = np.zeros((n, n), dtype=np.uint8)
    comb[:, ::2] = 1
    comb[-1, :] = 1
    noise = (np.random.default_rng(7).random((n, n)) < 0.6).astype(np.uint8)
    return [serpentine, comb, noise]


def test_rect_ring_fuzz_vs_moore():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from usls_doc_spark.kernels.ocr import find_outer_contours

    @settings(max_examples=150, deadline=None)
    @given(st.integers(0, 6), st.integers(0, 6), st.integers(1, 30), st.integers(1, 30))
    def check(x0, y0, w, h):
        fg = np.zeros((y0 + h + 2, x0 + w + 2), dtype=np.uint8)
        fg[y0 : y0 + h, x0 : x0 + w] = 1
        got = find_outer_contours(fg)
        want = _reference_contours(fg)
        assert len(got) == len(want) == 1
        assert np.array_equal(got[0], want[0])

    check()


def test_blob_fuzz_vs_full_frame_moore():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from usls_doc_spark.kernels.ocr import find_outer_contours

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 17), st.integers(0, 17)), min_size=1, max_size=60),
           st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15),
                              st.integers(1, 4), st.integers(1, 4)), max_size=4))
    def check(pixels, rects):
        fg = np.zeros((20, 20), dtype=np.uint8)
        for y, x in pixels:
            fg[y, x] = 1
        for x, y, w, h in rects:
            fg[y : y + h, x : x + w] = 1
        got = find_outer_contours(fg)
        want = _reference_contours(fg)
        assert len(got) == len(want)
        for g, w_ in zip(got, want):
            assert np.array_equal(g, w_)

    check()
    for fg in _adversarial_masks():
        got = find_outer_contours(fg)
        want = _reference_contours(fg)
        assert len(got) == len(want) > 0
        for g, w_ in zip(got, want):
            assert np.array_equal(g, w_) and g.dtype == w_.dtype


def test_simplify_runs_hull_identity_fuzz():
    """hull(unclip(simplified)) must equal hull(unclip(full)) EXACTLY —
    vertex set, order, and bits — on arbitrary blob contours."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from usls_doc_spark.kernels.ocr import (
        _simplify_runs,
        convex_hull,
        find_outer_contours,
        polygon_area,
        polygon_perimeter,
        unclip,
        verify,
    )

    @settings(max_examples=120, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 19), st.integers(0, 19),
                              st.integers(1, 9), st.integers(1, 9)), min_size=1, max_size=5))
    def check(rects):
        fg = np.zeros((32, 32), dtype=np.uint8)
        for x, y, w, h in rects:
            fg[y : y + h, x : x + w] = 1
        for contour in find_outer_contours(fg):
            if len(contour) <= 2:
                continue
            area, perim = polygon_area(contour), polygon_perimeter(contour)
            if perim <= 0:
                continue
            delta = area * 1.5 / perim
            full = verify(convex_hull(unclip(contour, delta, 32.0, 32.0)))
            fast = verify(convex_hull(unclip(_simplify_runs(contour), delta, 32.0, 32.0)))
            assert np.array_equal(full, fast)

    check()


def test_single_rect_fast_path_condition_boundaries():
    """Round-5 single-solid-rectangle fast path in find_outer_contours
    (bbox fully set == exactly one component == that rect): the guard's
    edges — stray pixel outside the rect (count mismatch), hollow rect
    (.all() fails), 1-px-wide/tall rects (excluded, Moore path), two
    touching rects forming a bigger rect (fast path CORRECTLY fires) —
    must all be point-identical to the full-frame Moore reference."""
    from usls_doc_spark.kernels.ocr import find_outer_contours

    cases = []
    m = np.zeros((10, 14), dtype=np.uint8)
    m[2:7, 3:11] = 1
    cases.append(m.copy())                       # clean solid rect
    m2 = m.copy(); m2[0, 0] = 1
    cases.append(m2)                             # stray pixel: 2 components
    m3 = m.copy(); m3[4, 6] = 0
    cases.append(m3)                             # hole: not solid
    m4 = np.zeros((10, 14), dtype=np.uint8); m4[3, 2:9] = 1
    cases.append(m4)                             # 1-px-tall strip
    m5 = np.zeros((10, 14), dtype=np.uint8); m5[2:5, 3:6] = 1; m5[2:5, 6:9] = 1
    cases.append(m5)                             # touching rects == one rect
    for fg in cases:
        got = find_outer_contours(fg)
        want = _reference_contours(fg)
        assert len(got) == len(want)
        for g, w_ in zip(got, want):
            assert np.array_equal(g, w_) and g.dtype == w_.dtype


def test_trace_boundary_raises_past_its_safety_bound():
    """A Moore walk longer than 4 * fg.size raises instead of returning a
    truncated ring."""
    import pytest

    from usls_doc_spark.kernels.ocr import _trace_boundary

    class OnePixelSize(np.ndarray):
        size = 1  # 3x3 block, 8-point ring: past the bound of 4

    block = np.ones((3, 3), dtype=bool)
    assert len(_trace_boundary(block, (0, 0))) == 8
    with pytest.raises(RuntimeError, match="exceeded 4 steps"):
        _trace_boundary(block.view(OnePixelSize), (0, 0))


def test_rect_corners_match_simplified_ring():
    """A solid component's corner ring, area and perimeter come from its
    bbox; they must equal _simplify_runs, polygon_area and
    polygon_perimeter over the _rect_ring it replaces. 1-px lines are not
    solid: they keep the Moore trace."""
    from usls_doc_spark.kernels.ocr import _components, _rect_corners, _rect_ring, _simplify_runs

    for w in range(1, 31):
        for h in range(1, 31):
            fg = np.zeros((h + 4, w + 5), dtype=bool)
            fg[2 : 2 + h, 3 : 3 + w] = True
            ((*box, trace),) = _components(fg)
            assert box == [3, 2, 3 + w - 1, 2 + h - 1]
            if w == 1 or h == 1:
                assert np.array_equal(trace, _reference_contours(fg)[0])
                continue
            assert trace is None
            ring = _rect_ring(*box)[::-1].astype(np.float64)
            got = [tuple(p) for p in _rect_corners(*box)]
            assert got == [tuple(p) for p in _simplify_runs(ring).tolist()]
            assert all(type(v) is float for p in got for v in p)
            assert len(got) == 12 or min(w, h) < 4
            assert polygon_area(ring) == float((w - 1) * (h - 1))
            assert polygon_perimeter(ring) == float(2 * (w - 1 + h - 1))


# The numpy D4-D7 chain db_postprocess ran before its scalar rewrite, kept
# as the differential oracle (np.roll == the old _shift_fwd/_shift_back).

def _ref_unclip(p, delta, width, height):
    edge = np.roll(p, -1, axis=0) - np.roll(p, 1, axis=0)
    normal = np.stack([-edge[:, 1], edge[:, 0]], axis=1)
    length = np.sqrt((normal**2).sum(axis=1))
    out = p.copy()
    ok = np.abs(length) >= 1e-6
    out[ok] = p[ok] + normal[ok] / length[ok, None] * delta
    out[:, 0] = np.clip(out[:, 0], 0.0, width)
    out[:, 1] = np.clip(out[:, 1], 0.0, height)
    out[~ok] = p[~ok]
    return out


def _ref_convex_hull(p):
    p = p[np.lexsort((p[:, 1], p[:, 0]))]
    keep = np.ones(len(p), dtype=bool)
    keep[1:] = (p[1:] != p[:-1]).any(axis=1)
    p = p[keep]
    if len(p) <= 2:
        return p
    pts = [(float(x), float(y)) for x, y in p]

    def half(seq):
        out = []
        for q in seq:
            while len(out) >= 2:
                (ox, oy), (ax, ay) = out[-2], out[-1]
                if (ax - ox) * (q[1] - oy) - (ay - oy) * (q[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    return np.asarray(half(pts)[:-1] + half(pts[::-1])[:-1], dtype=np.float64)


def _ref_verify(points):
    p = list(points)
    if p:
        first = (int(p[0][0]), int(p[0][1]))
        while len(p) > 1 and (int(p[-1][0]), int(p[-1][1])) == first:
            p.pop()
    seen, out = set(), []
    for q in p:
        if (int(q[0]), int(q[1])) not in seen:
            seen.add((int(q[0]), int(q[1])))
            out.append(q)
    return np.asarray(out, dtype=np.float64)


def _ref_area_ordered(p):
    s = 0.0
    for i in range(len(p)):
        x1, y1 = p[i]
        x2, y2 = p[(i + 1) % len(p)]
        s += x1 * y2 - y1 * x2
    return abs(s) / 2.0


def _reference_postprocess(prob_map):
    from usls_doc_spark.kernels.ocr import (
        CONF_THRESH,
        MIN_HEIGHT,
        MIN_WIDTH,
        UNCLIP_RATIO,
        _simplify_runs,
    )

    mask = binarize_prob_map(prob_map)
    h, w = mask.shape
    out = []
    for contour in find_outer_contours(mask):
        if len(contour) <= 2:
            continue
        area, perim = polygon_area(contour), polygon_perimeter(contour)
        if perim <= 0:
            continue
        delta = area * round(1.0) * UNCLIP_RATIO / perim
        hull = _ref_convex_hull(_ref_unclip(_simplify_runs(contour), delta, float(w), float(h)))
        poly = _ref_verify(hull)
        if len(poly) < 3:
            continue
        x1, y1 = poly.min(axis=0)
        x2, y2 = poly.max(axis=0)
        if (y2 - y1) < MIN_HEIGHT or (x2 - x1) < MIN_WIDTH:
            continue
        bbox_area = (x2 - x1) * (y2 - y1)
        conf = float(np.float32(_ref_area_ordered(poly) / bbox_area)) if bbox_area > 0 else 0.0
        if np.float32(conf) < CONF_THRESH:
            continue
        out.append((poly, (float(x1), float(y1), float(x2), float(y2)), conf))
    return out


def _random_prob_maps(n, seed):
    """Noise, overlapping rectangles and punched rectangles; rectangles may
    start off-map (the unclip clamp fires) and carry probs up to 1.2."""
    rng = np.random.default_rng(seed)
    maps = []
    for i in range(n):
        h, w = rng.integers(8, 90, 2)
        if i % 3 == 0:
            m = (rng.random((h, w)) < rng.uniform(0.2, 0.8)).astype(np.float32) * np.float32(0.9)
        else:
            m = np.zeros((h, w), dtype=np.float32)
            for _ in range(rng.integers(1, 6)):
                x0, y0 = rng.integers(-5, w), rng.integers(-5, h)
                y1, x1 = y0 + rng.integers(1, 40), x0 + rng.integers(1, 60)
                m[max(y0, 0) : y1, max(x0, 0) : x1] = rng.uniform(0.21, 1.2)
            for _ in range(rng.integers(1, 8) if i % 3 == 2 else 0):
                y, x = rng.integers(0, h), rng.integers(0, w)
                m[y : y + rng.integers(1, 4), x : x + rng.integers(1, 4)] = 0
        maps.append(m)
    return maps


def test_db_postprocess_matches_numpy_chain_bytewise():
    """Scalar D4-D7 over the corner ring must reproduce the numpy chain's
    polygon, bbox and conf byte for byte (.tobytes() also pins the sign of
    zero) on the raster corpus, random maps, and the 512² masks."""
    import pyarrow.parquet as pq

    from usls_doc_spark.io.synth import chunk_text
    from usls_doc_spark.pipeline.raster_ocr import _render_glyphs, raster_extract_spec

    docs = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    maps = []
    for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        chunks = chunk_text(t)
        raster = _render_glyphs(raster_extract_spec(d, chunks), chunks)
        maps.append(raster.astype(np.float32) / np.float32(255.0))
    maps += _random_prob_maps(450, seed=11)
    maps += [m.astype(np.float32) * np.float32(0.9) for m in _adversarial_masks()]
    n_regions = clamped = above_one = 0
    for pm in maps:
        got = db_postprocess(pm, ratio=1.0)
        want = _reference_postprocess(pm)
        assert len(got) == len(want)
        for g, (poly, bbox, conf) in zip(got, want):
            assert g["polygon"].dtype == poly.dtype and g["polygon"].shape == poly.shape
            assert g["polygon"].tobytes() == poly.tobytes()
            assert np.array(g["bbox"]).tobytes() == np.array(bbox).tobytes()
            assert np.float64(g["conf"]).tobytes() == np.float64(conf).tobytes()
            assert all(type(v) is float for v in (*g["bbox"], g["conf"]))
        n_regions += len(got)
        h, w = pm.shape
        clamped += any(((r["polygon"] == 0) | (r["polygon"] == (w, h))).any() for r in got)
        above_one += bool(got) and pm.max() > 1
    assert n_regions > 3000 and clamped > 50 and above_one > 50


# ---------------------------------------------------------------------------
# pixel-native recognition (pipeline/raster_ocr.py)
# ---------------------------------------------------------------------------

def _reference_glyph_logits(crop):
    """The per-glyph loop read_glyph_logits replaced, kept as its oracle."""
    from usls_doc_spark.io.synth import GLYPH_BIAS, RASTER_CELL
    from usls_doc_spark.pipeline.ocr import VOCAB

    col = crop.max(axis=0)
    nz = np.nonzero(col)[0]
    logits = np.zeros((len(nz) // RASTER_CELL, len(VOCAB)), dtype=np.float32)
    if len(nz) == 0:
        return logits
    span = col[nz[0] : nz[-1] + 1]
    codes = span[::RASTER_CELL].astype(np.int32) - GLYPH_BIAS
    for t, code in enumerate(codes[: len(logits)]):
        idx = code - 0x20 + 1 if 0x20 <= code <= 0x7E else 0
        logits[t, idx] = np.float32(0.95)
    return logits


def test_read_glyph_logits_matches_per_glyph_loop():
    from usls_doc_spark.io.synth import GLYPH_BIAS
    from usls_doc_spark.pipeline.raster_ocr import read_glyph_logits

    def glyphs(codes, h=6, pad=3):
        row = np.repeat(np.asarray(codes, dtype=np.int64), 4)
        crop = np.zeros((h, len(row) + 2 * pad), dtype=np.uint8)
        crop[1:-1, pad : pad + len(row)] = row
        return crop

    rng = np.random.default_rng(3)
    crops = [
        glyphs([ord(c) + GLYPH_BIAS for c in "Hello, World!~ "]),
        glyphs(range(1, 256)),                       # codes outside 0x20-0x7E
        np.zeros((8, 40), dtype=np.uint8),           # all-zero crop
        glyphs([ord("a") + GLYPH_BIAS])[:, :6],      # narrower than one cell
        np.zeros((4, 0), dtype=np.uint8),
    ]
    gap = glyphs([ord(c) + GLYPH_BIAS for c in "abcdef"])
    gap[:, 7:13] = 0                                 # more cells than rows
    crops.append(gap)
    crops += [rng.integers(0, 256, (5, int(n))).astype(np.uint8) * (rng.random((5, int(n))) < 0.7)
              for n in rng.integers(1, 90, 40)]
    for crop in crops:
        got, want = read_glyph_logits(crop), _reference_glyph_logits(crop)
        assert got.shape == want.shape and got.dtype == want.dtype
        assert got.tobytes() == want.tobytes()
    assert len(read_glyph_logits(gap)) == 4  # 18 nonzero columns, 6 glyph cells


def test_raster_ocr_rejects_region_longer_than_decode_cap():
    """A chunk with more glyph cells than MAX_DECODE_LEN must raise, not
    come back truncated by the CTC decode."""
    import pytest

    from usls_doc_spark.pipeline.ocr import MAX_DECODE_LEN
    from usls_doc_spark.pipeline.raster_ocr import extract_from_raster, spans_rows

    text = "ab " + "x" * 5000 + " cd"
    with pytest.raises(RuntimeError, match="5006 glyph cells > 4096"):
        extract_from_raster(7, text)
    with pytest.raises(RuntimeError, match="5006 glyph cells > 4096"):
        spans_rows([(7, text)])
    at_cap = "x" * (MAX_DECODE_LEN - 6)
    assert extract_from_raster(7, f"ab {at_cap} cd") == (1, f"ab {at_cap} cd")
