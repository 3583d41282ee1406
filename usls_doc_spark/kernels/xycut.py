"""Recursive XY-cut reading-order reconstruction over layout boxes.

This operator is an addition required by the north rule (BASELINE.json
north_rule: "reading-order reconstruction (XY-cut over detected
text/title/table/figure blocks)") — the reference has no ordering code
(SURVEY.md §0); its only ordering hint is the downstream consumer of
docstructbench.rs:33. Implemented from the classic recursive XY-cut
(Nagy & Seth 1984) description, widest-whitespace-band-first variant:
at each node, project boxes onto both axes, and cut along the axis whose
widest projection gap is larger (ties prefer horizontal bands, i.e.
top-to-bottom reading). This makes a 2-column page split into columns
before rows even when paragraph gaps happen to align across columns.

Determinism contract (SURVEY.md §7 "hard parts"): output order is a pure
function of the box set — ties broken by (y, x, input index), never by
partition/task order. Per-page local; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

import numpy as np


def _segments_1d(
    starts: np.ndarray, ends: np.ndarray
) -> tuple[list[np.ndarray], list[float], float]:
    """Split an interval set into groups separated by projection gaps.

    Returns (index-array groups ordered by position, the gap width before
    each group except the first, widest gap — 0.0 if a single group).
    """
    order = np.lexsort((ends, starts))
    groups: list[list[int]] = []
    gaps: list[float] = []
    current: list[int] = []
    reach = -np.inf
    max_gap = 0.0
    for i in order:
        if current and starts[i] > reach:
            g = float(starts[i] - reach)
            max_gap = max(max_gap, g)
            gaps.append(g)
            groups.append(current)
            current = []
        current.append(int(i))
        reach = max(reach, float(ends[i]))
    if current:
        groups.append(current)
    return [np.asarray(g, dtype=np.int64) for g in groups], gaps, max_gap


def _merge_below(
    groups: list[np.ndarray], gaps: list[float], keep_gap: float
) -> list[np.ndarray]:
    """Merge adjacent groups whose separating gap is narrower than keep_gap —
    only the widest whitespace bands cut at this recursion level; narrower
    bands are rediscovered deeper down (after wider cuts on the other axis
    have had their chance)."""
    merged: list[np.ndarray] = [groups[0]]
    for g, gap in zip(groups[1:], gaps):
        if gap < keep_gap:
            merged[-1] = np.concatenate([merged[-1], g])
        else:
            merged.append(g)
    return merged


def xycut_order(boxes_xywh: np.ndarray) -> np.ndarray:
    """Return a permutation of box indices in reading order."""
    boxes = np.asarray(boxes_xywh, dtype=np.float64)
    n = len(boxes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    x1 = boxes[:, 0]
    y1 = boxes[:, 1]
    x2 = boxes[:, 0] + boxes[:, 2]
    y2 = boxes[:, 1] + boxes[:, 3]
    out: list[int] = []

    def rec(idx: np.ndarray) -> None:
        if len(idx) <= 1:
            out.extend(int(i) for i in idx)
            return
        y_groups, y_gaps, y_gap = _segments_1d(y1[idx], y2[idx])
        x_groups, x_gaps, x_gap = _segments_1d(x1[idx], x2[idx])
        if len(y_groups) == 1 and len(x_groups) == 1:
            # no whitespace band on either axis: stable leaf order (y, x, index)
            leaf = idx[np.lexsort((idx, x1[idx], y1[idx]))]
            out.extend(int(i) for i in leaf)
            return
        # cut along the axis with the widest band; tie -> horizontal (y);
        # within the axis, cut only at bands of that widest width
        if x_gap > y_gap:
            groups = _merge_below(x_groups, x_gaps, x_gap)
        else:
            groups = _merge_below(y_groups, y_gaps, y_gap)
        for g in groups:
            rec(idx[g])

    rec(np.arange(n, dtype=np.int64))
    return np.asarray(out, dtype=np.int64)
