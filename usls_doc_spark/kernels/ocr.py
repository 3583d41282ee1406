"""OCR-path kernels: DB text-detection postprocess + SVTR/TrOCR decoding.

The reference's OCR half does not compile (SURVEY.md §0) but its intended
semantics are fully legible and are part of the spec:

  D1 binarize:   x <= binary_thresh (0.2) -> 0 else x*255 u8
                 (/root/reference/src/models/db/impl.rs:95-106)
  D3 contours:   find_contours_with_threshold(mask, 1); drop holes <= 2 pts
                 (db/impl.rs:121-131) — re-implemented as 4-connected
                 labeling of horizontal runs (vectorized edges + min-label
                 hooking) and Moore-neighbor boundary tracing (numpy only);
                 a solid rectangle's corner ring, area and perimeter come
                 straight from its bbox
  D4 unclip:     per-vertex normal offset, delta = area * round(ratio) *
                 unclip_ratio(1.5) / perimeter, clamped to the image
                 (db/impl.rs:136-144; kernel /root/reference/src/xy/polygon.rs:151-187)
  D5 resample:   densify each edge with num_samples-1 interpolated points
                 (polygon.rs:131-149); convex hull; verify = dedup on
                 int-cast coords incl. trailing-first cleanup (polygon.rs:189-211)
  D6 filters:    drop if bbox h < 12 or w < 5 (db/config.rs:16-17);
                 conf = polygon_area / bbox_area, threshold 0.35 (db/config.rs:15)
  R1 SVTR:       per-timestep argmax over vocab, truncate to max_length,
                 drop blank id 0 and conf < thresh (0.2), join vocab chars —
                 note: NO repeat-collapse, faithfully mirroring
                 /root/reference/src/models/svtr/impl.rs:73-97
  R3 TrOCR:      greedy autoregressive loop: start token 1, EOS 2, max 50
                 steps, argmax of last-position logits, concat re-feed
                 (/root/reference/src/models/trocr/impl.rs:51-140)
  R5 sampler:    argmax only (determinism; the reference's top-p path uses
                 RNG and is intentionally not replicated —
                 /root/reference/src/misc/logits_sampler.rs:34-93)

D4-D7 run per region as scalar loops over Python floats on the ~12-vertex
corner ring, the shape of the reference's own polygon.rs loops: on 12
points numpy's per-call dispatch cost more than the arithmetic. Same
operations in the same order, so the same bits (differential test against
the numpy chain in tests/test_kernels_ocr.py).

All per-region local: runs inside the extraction/OCR pandas UDF.
"""

from __future__ import annotations

import math

import numpy as np

BINARY_THRESH = np.float32(0.2)  # options.rs:192 default
UNCLIP_RATIO = 1.5  # db unclip_ratio default
MIN_HEIGHT = 12.0  # db/config.rs:16
MIN_WIDTH = 5.0  # db/config.rs:17
CONF_THRESH = np.float32(0.35)  # db/config.rs:15
CTC_CONF_THRESH = np.float32(0.2)  # svtr per-step confidence floor


def binarize_prob_map(prob_map: np.ndarray) -> np.ndarray:
    """D1: probability map -> u8 mask."""
    pm = np.asarray(prob_map, dtype=np.float32)
    return np.where(pm <= BINARY_THRESH, 0, (pm * 255.0).astype(np.uint8)).astype(np.uint8)


# 8-neighborhood in clockwise order starting East
_MOORE = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]
# indexed as (dy, dx); order: N, NE, E, SE, S, SW, W, NW


def _trace_boundary(fg: np.ndarray, start: tuple[int, int]) -> list[tuple[int, int]]:
    """Moore-neighbor boundary trace (clockwise) from the topmost-leftmost
    pixel of a component. Returns (x, y) points in traversal order."""
    h, w = fg.shape
    sy, sx = start
    boundary = [(sx, sy)]
    # backtrack starts W of the start pixel (row-major scan guarantees bg/edge)
    prev_dir = 6  # W
    cy, cx = sy, sx
    first_move = None
    while True:
        found = False
        # search clockwise starting just after the backtrack direction
        for k in range(1, 9):
            d = (prev_dir + k) % 8
            dy, dx = _MOORE[d]
            ny, nx = cy + dy, cx + dx
            if 0 <= ny < h and 0 <= nx < w and fg[ny, nx]:
                if (ny, nx) == (sy, sx) and first_move is not None:
                    return boundary
                if first_move is None:
                    first_move = d
                elif (cy, cx) == (sy, sx) and d == first_move:
                    return boundary  # Jacob's stopping criterion
                boundary.append((nx, ny))
                # new backtrack: direction pointing back to the previous pixel
                prev_dir = (d + 4) % 8
                cy, cx = ny, nx
                found = True
                break
        if not found:  # isolated pixel
            return boundary
        if len(boundary) > 4 * fg.size:  # safety bound: never a truncated ring
            raise RuntimeError(f"Moore trace from {start} exceeded {4 * fg.size} steps")


def _rect_ring(x0: int, y0: int, x1: int, y1: int) -> np.ndarray:
    """Clockwise boundary ring of a filled rectangle, POINT-IDENTICAL to
    _trace_boundary from the topmost-leftmost pixel (differential fuzz in
    tests/test_kernels_ocr.py): top L->R, right T->B, bottom R->L, left
    B->T. Vectorized — the solid-rectangle case is the OCR stage's hot
    path (round-2 VERDICT item 7) and the python-stepping Moore walk was
    ~40% of ocr_spans."""
    xs = np.concatenate(
        [
            np.arange(x0, x1 + 1),
            np.full(y1 - y0, x1),
            np.arange(x1 - 1, x0 - 1, -1),
            np.full(y1 - y0 - 1, x0),
        ]
    )
    ys = np.concatenate(
        [
            np.full(x1 - x0 + 1, y0),
            np.arange(y0 + 1, y1 + 1),
            np.full(x1 - x0, y1),
            np.arange(y1 - 1, y0, -1),
        ]
    )
    return np.stack([xs, ys], axis=1)


def _rect_corners(x0: int, y0: int, x1: int, y1: int) -> list:
    """_simplify_runs(_rect_ring(...)[::-1]) of a solid rectangle, straight
    from its bbox: each corner and its two ring neighbours, counter-clockwise
    from (x0, y0+1). Sides under 4 px share neighbours and take the ring."""
    if x1 - x0 < 3 or y1 - y0 < 3:
        return _simplify_runs(_rect_ring(x0, y0, x1, y1)[::-1].astype(np.float64)).tolist()
    return [(float(x), float(y)) for x, y in (
        (x0, y0 + 1), (x0, y1 - 1), (x0, y1), (x0 + 1, y1), (x1 - 1, y1), (x1, y1),
        (x1, y1 - 1), (x1, y0 + 1), (x1, y0), (x1 - 1, y0), (x0 + 1, y0), (x0, y0))]


def _components(fg: np.ndarray):
    """Yield (x0, y0, x1, y1, trace) per 4-connected component of the bool
    mask, in row-major discovery order: its inclusive bbox, and either None
    (a solid rectangle at least 2 px on each side, whose ring is
    _rect_ring) or its counter-clockwise Moore trace, [K,2] float64 (x, y).

    Labels horizontal foreground runs, not pixels: one flatnonzero over
    the row-padded mask yields every run in row-major order, two
    searchsorted calls find the runs each one overlaps in the row above,
    and min-label hooking over those edges labels each run with its
    component's first run. Bbox and pixel count come from the runs; solid
    rectangles are recognised from them; everything else Moore-traces
    inside its own bbox window (identical output, the trace never consults
    pixels outside the component)."""
    if not fg.any():
        return
    # single-solid-rectangle fast path: if the foreground's bounding box is
    # fully set AND contains every fg pixel, there is exactly one
    # 4-connected component and it is that solid rect — the run labeling
    # below would reach the same verdict via its per-component rect test
    # (bitwise-identical, A/B-asserted in tests/test_kernels_ocr.py). This
    # is the DB-detect hot shape: every stub prob map is one solid text
    # rectangle.
    rows = fg.any(axis=1)
    cols = fg.any(axis=0)
    ry = np.flatnonzero(rows)
    cx = np.flatnonzero(cols)
    y0r, y1r = int(ry[0]), int(ry[-1])
    x0r, x1r = int(cx[0]), int(cx[-1])
    if (
        y1r > y0r
        and x1r > x0r
        and int(np.count_nonzero(fg)) == (y1r - y0r + 1) * (x1r - x0r + 1)
        and fg[y0r : y1r + 1, x0r : x1r + 1].all()
    ):
        yield x0r, y0r, x1r, y1r, None
        return
    h, w = fg.shape
    stride = w + 2  # a background column each side: no run crosses a row
    padded = np.zeros((h, stride), dtype=bool)
    padded[:, 1:-1] = fg
    flat = padded.ravel()
    flips = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    starts, ends = flips[0::2], flips[1::2]  # flat [start, end) per run
    n = len(starts)
    # runs j of the row above overlapping run i (4-connected): start_j <
    # end_i - stride and end_j > start_i - stride; both arrays are sorted
    lo = np.searchsorted(ends, starts - stride, side="right")
    cnt = np.searchsorted(starts, ends - stride, side="left") - lo
    a = np.repeat(np.arange(n), cnt)
    b = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(len(a))
    # min-label hooking with full path compression: every run ends up
    # labelled with the first run of its component (row-major order)
    lab = np.arange(n)
    while len(a):
        ra, rb = lab[a], lab[b]
        live = ra != rb
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(lab, np.maximum(ra, rb), np.minimum(ra, rb))
        nxt = lab[lab]
        while not np.array_equal(nxt, lab):
            lab, nxt = nxt, nxt[nxt]
    order = np.argsort(lab, kind="stable")  # by component, row-major within
    bounds = np.flatnonzero(lab[order] == order)  # each component's first run
    run_y = starts // stride
    c0 = (starts - run_y * stride - 1)[order]  # run columns [c0, c1)
    c1 = (ends - run_y * stride - 1)[order]
    run_y = run_y[order]
    y0s = run_y[bounds].tolist()
    y1s = run_y[np.append(bounds[1:], n) - 1].tolist()  # row-major: last row
    x0s = np.minimum.reduceat(c0, bounds).tolist()
    x1s = (np.maximum.reduceat(c1, bounds) - 1).tolist()
    areas = np.add.reduceat(c1 - c0, bounds).tolist()
    bounds = bounds.tolist() + [n]
    for k, (x0, y0, x1, y1, area) in enumerate(zip(x0s, y0s, x1s, y1s, areas)):
        if y1 > y0 and x1 > x0 and area == (y1 - y0 + 1) * (x1 - x0 + 1):
            yield x0, y0, x1, y1, None
            continue
        # paint the component's runs into its own bbox window
        sl = slice(bounds[k], bounds[k + 1])
        run_len = c1[sl] - c0[sl]
        comp = np.zeros((y1 - y0 + 1, x1 - x0 + 1), dtype=bool)
        xs = np.repeat(c0[sl] - x0 - np.cumsum(run_len) + run_len, run_len)
        comp[np.repeat(run_y[sl] - y0, run_len), xs + np.arange(len(xs))] = True
        pts = _trace_boundary(comp, (0, int(c0[sl][0]) - x0))
        arr = np.asarray(pts[::-1], dtype=np.float64)
        arr[:, 0] += x0
        arr[:, 1] += y0
        # Moore tracing walks clockwise (image coords, y down); reversed to
        # counter-clockwise so the unclip normal (-dy, dx) points OUTWARD —
        # the dilation the DB unclip semantics require (db/impl.rs:136-144)
        yield x0, y0, x1, y1, arr


def find_outer_contours(mask: np.ndarray) -> list[np.ndarray]:
    """D3: outer boundaries of 4-connected foreground components, in
    row-major discovery order. Returns [K,2] float64 (x, y) arrays."""
    return [
        _rect_ring(x0, y0, x1, y1)[::-1].astype(np.float64) if trace is None else trace
        for x0, y0, x1, y1, trace in _components(np.asarray(mask) > 0)
    ]


def _shift_fwd(a: np.ndarray) -> np.ndarray:
    """np.roll(a, 1, axis=0) without roll's axis-normalization overhead
    (identical values; these run per detected region in the OCR hot path)."""
    out = np.empty_like(a)
    out[0] = a[-1]
    out[1:] = a[:-1]
    return out


def _shift_back(a: np.ndarray) -> np.ndarray:
    """np.roll(a, -1, axis=0) — see _shift_fwd."""
    out = np.empty_like(a)
    out[-1] = a[0]
    out[:-1] = a[1:]
    return out


def _simplify_runs(points: np.ndarray) -> np.ndarray:
    """Drop interior points of straight AXIS-ALIGNED boundary runs before
    unclip+hull — output-identical by construction, proven by fuzz:

      * a dropped point's unclip offset lies ON the segment between its
        kept run-mates' offsets (same unit normal, collinear positions),
        and the monotone chain pops collinear points anyway, so the hull
        vertex SET and ORDER are unchanged;
      * kept vertices see bit-identical normals: direction-change vertices
        keep both original neighbors, and run points keep their exact unit
        direction because k*(±1,0) / k and k*(0,±1) / k are exact in IEEE
        (diagonal runs are NOT dropped: sqrt(2k²) vs k*sqrt(2) can differ
        in the last bit).

    The python monotone chain used to run over every boundary pixel
    (~650/region); now D4-D7 see only corners. db_postprocess calls this
    on Moore traces only: a solid rectangle's output, 12 points for sides
    of 4 px and more, comes straight from its bbox (_rect_corners)."""
    p = np.asarray(points, dtype=np.float64)
    n = len(p)
    if n <= 8:
        return p
    d = p - _shift_fwd(p)  # incoming step per vertex
    dn = _shift_back(d)  # outgoing step
    change = (d != dn).any(axis=1)
    axis_run = (d[:, 0] == 0) | (d[:, 1] == 0)
    keep = change | _shift_fwd(change) | _shift_back(change) | ~axis_run
    return p[keep]


def polygon_area(points: np.ndarray) -> float:
    """Shoelace (absolute)."""
    p = np.asarray(points, dtype=np.float64)
    if len(p) < 3:
        return 0.0
    x, y = p[:, 0], p[:, 1]
    return float(abs(np.dot(x, _shift_back(y)) - np.dot(y, _shift_back(x))) / 2.0)


def polygon_area_ordered(points: list | np.ndarray) -> float:
    """Shoelace with an EXPLICIT sequential left-fold over the (x, y) pairs:
    acc += x_i*y_{i+1} - y_i*x_{i+1} in vertex order, in scalar floats.
    Bit-reproducible anywhere IEEE doubles exist — unlike np.dot (BLAS may
    reassociate) — so a SQL oracle can state the same value term-for-term.
    Used for the hull-confidence ratio, whose inputs are non-integer;
    `polygon_area` (dot-based) stays on the integer-exact contour path where
    summation order cannot matter."""
    if len(points) < 3:
        return 0.0
    s = 0.0
    x1, y1 = points[0]
    for x2, y2 in [*points[1:], points[0]]:
        s += x1 * y2 - y1 * x2
        x1, y1 = x2, y2
    return abs(s) / 2.0


def polygon_perimeter(points: np.ndarray) -> float:
    p = np.asarray(points, dtype=np.float64)
    if len(p) < 2:
        return 0.0
    d = _shift_back(p) - p  # == np.diff of the closed ring
    return float(np.sqrt((d**2).sum(axis=1)).sum())


def unclip(
    points: list | np.ndarray, delta: float, width: float, height: float
) -> list[tuple[float, float]]:
    """D4: offset each vertex along the normal of its prev->next edge vector
    by delta, clamped to [0,width]x[0,height]; a vertex whose normal is
    shorter than 1e-6 keeps its coords, unclamped (polygon.rs:172-173).
    The exact polygon.rs:151-187 loop, in scalar floats like the reference
    (NOT shapely buffer — numerics must match the reference)."""
    if len(points) == 0:
        return []
    out = []
    prevs, nexts = [points[-1], *points[:-1]], [*points[1:], points[0]]
    for (px, py), (x, y), (qx, qy) in zip(prevs, points, nexts):
        nx, ny = -(qy - py), qx - px
        length = math.sqrt(nx * nx + ny * ny)
        if length >= 1e-6:
            x = x + nx / length * delta
            y = y + ny / length * delta
            # clamp as np.clip does: max with 0, then min with the bound
            x = (x if x < width else width) if x > 0.0 else 0.0
            y = (y if y < height else height) if y > 0.0 else 0.0
        out.append((x, y))
    return out


def resample(points: np.ndarray, num_samples: int = 50) -> np.ndarray:
    """D5a: densify — for each edge (incl. closing edge) emit the start point
    plus num_samples-1 evenly interpolated points (polygon.rs:131-149)."""
    p = np.asarray(points, dtype=np.float64)
    n = len(p)
    if n == 0:
        return p
    starts = p
    ends = _shift_back(p)
    t = (np.arange(num_samples, dtype=np.float64) / num_samples)[None, :, None]  # [1,S,1]
    seg = starts[:, None, :] + t * (ends - starts)[:, None, :]  # [n,S,2]
    return seg.reshape(-1, 2)


def convex_hull(points: list | np.ndarray) -> list[tuple[float, float]]:
    """D5b: Andrew monotone chain over (x, y) tuples, CCW order. Equal
    points keep their first occurrence (dict.fromkeys) ahead of the
    lexicographic sort; scalar cross products, as the points are few."""
    pts = sorted(dict.fromkeys(map(tuple, points)))
    if len(pts) <= 2:
        return pts

    def half(seq):
        out: list[tuple[float, float]] = []
        for q in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (q[1] - oy) - (ay - oy) * (q[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    return half(pts)[:-1] + half(pts[::-1])[:-1]


def verify(points: list | np.ndarray) -> list:
    """D5c: dedup on int-cast coords — drop trailing points equal to the
    first, then keep first occurrence of each (int(x), int(y))
    (polygon.rs:189-211)."""
    p = list(points)
    if p:
        first = (int(p[0][0]), int(p[0][1]))
        while len(p) > 1 and (int(p[-1][0]), int(p[-1][1])) == first:
            p.pop()
    out: dict = {}
    for q in p:
        out.setdefault((int(q[0]), int(q[1])), q)
    return list(out.values())


def db_postprocess(prob_map: np.ndarray, ratio: float = 1.0) -> list[dict]:
    """D1-D7 over one region probability map (already at original scale —
    the stateless resize2-style caller carries scale metadata per row).

    Returns dicts: polygon [K,2], bbox (x1,y1,x2,y2) floats, conf float.
    """
    mask = binarize_prob_map(prob_map)
    h, w = mask.shape
    regions = []
    for left, top, right, bottom, trace in _components(mask > 0):
        if trace is None:  # solid rect: its ring's shoelace and length are exact
            area = float((right - left) * (bottom - top))
            perim = float(2 * (right - left + bottom - top))
            corners = _rect_corners(left, top, right, bottom)
        elif len(trace) <= 2:
            continue  # db/impl.rs:124-129 (degenerate/hole drop)
        else:  # diagonal steps: sum over the full trace, in its order
            area, perim = polygon_area(trace), polygon_perimeter(trace)
            corners = _simplify_runs(trace).tolist()
        if perim <= 0:
            continue
        delta = area * round(ratio) * UNCLIP_RATIO / perim  # db/impl.rs:136-139
        # reference chain is unclip -> resample(50) -> hull -> verify
        # (db/impl.rs:141-144); resample inserts only convex combinations of
        # edge endpoints, so hull(resample(X)) == hull(X) — we skip the 50x
        # point blowup in the hot path (identity asserted in unit tests);
        # straight-run interior points are likewise hull-invariant and are
        # dropped pre-unclip (_simplify_runs, fuzz-proven identical)
        poly = verify(convex_hull(unclip(corners, delta, float(w), float(h))))
        if len(poly) < 3:
            continue
        xs, ys = zip(*poly)
        x1, y1, x2, y2 = min(xs), min(ys), max(xs), max(ys)
        if (y2 - y1) < MIN_HEIGHT or (x2 - x1) < MIN_WIDTH:  # db/impl.rs:146-148
            continue
        bbox_area = (x2 - x1) * (y2 - y1)
        # ordered shoelace: the conf a render-spec oracle can restate bitwise
        conf = float(np.float32(polygon_area_ordered(poly) / bbox_area)) if bbox_area > 0 else 0.0
        if np.float32(conf) < CONF_THRESH:  # db/impl.rs:150-152
            continue
        regions.append(
            {
                "polygon": np.array(poly, dtype=np.float64),
                "bbox": (float(x1), float(y1), float(x2), float(y2)),
                "conf": conf,
            }
        )
    return regions


# --------------------------------------------------------------------------
# recognition decoders
# --------------------------------------------------------------------------

def ctc_greedy_decode(logits: np.ndarray, vocab: list[str], max_length: int = 256) -> str:
    """R1: per-timestep argmax; truncate to max_length; drop blank id 0 and
    low-conf steps; join vocab entries. No repeat-collapse (svtr/impl.rs:83-93)."""
    lg = np.asarray(logits, dtype=np.float32)
    if lg.size == 0:
        return ""
    ids = np.argmax(lg, axis=1)
    confs = lg[np.arange(len(ids)), ids]
    ids = ids[:max_length]
    confs = confs[:max_length]
    keep = (ids != 0) & (confs >= CTC_CONF_THRESH)
    return "".join(vocab[int(i)] for i in ids[keep])


def greedy_generate(
    step_fn,
    start_token: int = 1,
    eos_token: int = 2,
    max_steps: int = 50,
) -> list[int]:
    """R3: TrOCR-style greedy autoregressive loop. ``step_fn(input_ids)``
    returns logits [len(input_ids), V]; we argmax the LAST position, append,
    stop on EOS or max_steps (trocr/impl.rs:74-121)."""
    ids = [start_token]
    for _ in range(max_steps):
        logits = np.asarray(step_fn(ids), dtype=np.float32)
        nxt = int(np.argmax(logits[-1]))
        if nxt == eos_token:
            break
        ids.append(nxt)
    return ids[1:]  # strip start token
