"""Box geometry kernels: hull, min-area rect, ordering, filtering.

Replicates the semantics of the reference's detection-box plumbing:
- order_points_clockwise: tools/infer/predict_det.py:182-191
- clip + degenerate-box filter: tools/infer/predict_det.py:201-221
- sorted_boxes reading order (the tie-break-sensitive bubble pass):
  tools/infer/predict_system.py:160-182
All re-implemented from the documented behavior on pure numpy.
"""

from __future__ import annotations

import numpy as np


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain. points [N,2] float -> hull [M,2] CCW."""
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) == 0:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]
    # consecutive-duplicate drop after lexsort replaces np.unique(axis=0)
    # (same dedup, no structured-view sort — this is the det hot loop)
    keep = np.empty(len(pts), dtype=bool)
    keep[0] = True
    np.any(pts[1:] != pts[:-1], axis=1, out=keep[1:])
    pts = pts[keep]
    if len(pts) <= 2:
        return pts
    coords = [(float(x), float(y)) for x, y in pts]
    return np.array(monotone_hull(coords), dtype=np.float64)


def monotone_hull(coords: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Andrew's monotone chain over distinct points sorted by (x, y): the
    strict hull vertices, counter-clockwise from the first point. The
    turn test runs on Python floats (same float64 ops as np.cross on
    2-vectors, ~40x less call overhead)."""
    if len(coords) <= 2:
        return coords

    def half(seq):
        out: list[tuple[float, float]] = []
        for px, py in seq:
            while len(out) >= 2:
                ax, ay = out[-2]
                bx, by = out[-1]
                if (bx - ax) * (py - ay) - (by - ay) * (px - ax) <= 0:
                    out.pop()
                else:
                    break
            out.append((px, py))
        return out

    lower = half(coords)
    upper = half(coords[::-1])
    return lower[:-1] + upper[:-1]


def min_area_rect(points: np.ndarray) -> tuple[np.ndarray, float]:
    """Rotating calipers min-area rectangle.

    Returns (corners [4,2] float64 unordered, shorter_side_length).
    """
    pts4 = np.asarray(points, dtype=np.float64)
    if len(pts4) == 4:
        # exact-rectangle fast path (the unclip output is always one):
        # opposite corners share midpoints and adjacent edges are
        # perpendicular -> the rect IS its own min-area rect
        d1 = pts4[0] + pts4[2] - pts4[1] - pts4[3]
        e1 = pts4[1] - pts4[0]
        e2 = pts4[3] - pts4[0]
        scale = max(np.hypot(*e1) * np.hypot(*e2), 1.0)
        if (
            abs(d1[0]) < 1e-7
            and abs(d1[1]) < 1e-7
            and abs(e1[0] * e2[0] + e1[1] * e2[1]) < 1e-7 * scale
        ):
            return pts4.copy(), float(min(np.hypot(*e1), np.hypot(*e2)))
    hull = convex_hull(points)
    if len(hull) == 1:
        c = hull[0]
        box = np.array([c, c, c, c])
        return box, 0.0
    if len(hull) == 2:
        a, b = hull
        box = np.array([a, b, b, a])
        return box, 0.0
    # All edge directions at once: projections are two [M,E] matmuls;
    # the reference-faithful first-strict-improvement scan stays scalar.
    edges = np.diff(np.vstack([hull, hull[:1]]), axis=0)
    norms = np.sqrt((edges ** 2).sum(axis=1))
    keep = norms >= 1e-12
    us = edges[keep] / norms[keep, None]  # [E,2]
    vs = np.stack([-us[:, 1], us[:, 0]], axis=1)
    proj_u = hull @ us.T  # [M,E]
    proj_v = hull @ vs.T
    u_min, u_max = proj_u.min(axis=0), proj_u.max(axis=0)
    v_min, v_max = proj_v.min(axis=0), proj_v.max(axis=0)
    dus = u_max - u_min
    dvs = v_max - v_min
    areas = dus * dvs
    best_area = np.inf
    best_i = -1
    for i, area in enumerate(areas.tolist()):
        if area < best_area - 1e-12:
            best_area = area
            best_i = i
    u, v = us[best_i], vs[best_i]
    u0, v0, du, dv = u_min[best_i], v_min[best_i], dus[best_i], dvs[best_i]
    corners = np.array(
        [
            u * u0 + v * v0,
            u * (u0 + du) + v * v0,
            u * (u0 + du) + v * (v0 + dv),
            u * u0 + v * (v0 + dv),
        ]
    )
    return corners, float(min(du, dv))


def vector_norms(e: np.ndarray) -> np.ndarray:
    """Lengths of [N,2] vectors, each bit-identical to np.linalg.norm of
    that row: a stacked row @ column matmul takes the same BLAS dot as
    norm's `sqrt(x.dot(x))`, which need not round like `sqrt(x*x+y*y)`."""
    e = np.ascontiguousarray(e, dtype=np.float64).reshape(-1, 2)
    return np.sqrt(np.matmul(e[:, None, :], e[:, :, None])[:, 0, 0])


def order_points_clockwise_batch(boxes: np.ndarray) -> np.ndarray:
    """order_points_clockwise over [N,4,2] boxes at once (same per-box
    sums, differences and first-occurrence arg-extremes)."""
    b = np.asarray(boxes, dtype=np.float64)
    s = b.sum(axis=2)
    d = b[..., 1] - b[..., 0]  # np.diff along the (x, y) axis
    pick = np.empty((len(b), 4), dtype=np.int64)
    pick[:, 0], pick[:, 1] = s.argmin(1), d.argmin(1)
    pick[:, 2], pick[:, 3] = s.argmax(1), d.argmax(1)
    return b[np.arange(len(b))[:, None], pick]


def order_points_clockwise(box: np.ndarray) -> np.ndarray:
    """Canonical TL,TR,BR,BL via coordinate sum/diff argmin/argmax
    (reference tools/infer/predict_det.py:182-191 semantics)."""
    return order_points_clockwise_batch(np.asarray(box, dtype=np.float64)[None])[0]


def filter_det_boxes(boxes: np.ndarray, h: int, w: int):
    """Order clockwise, clip to image, drop boxes with a side <= 3px
    (reference filter_tag_det_res, tools/infer/predict_det.py:207-221).
    Returns (kept_boxes, kept_mask) — callers carrying parallel arrays
    (scores) must filter them with the same mask, never truncate."""
    if len(boxes) == 0:
        return np.zeros((0, 4, 2), dtype=np.float32), np.zeros(0, dtype=bool)
    b = order_points_clockwise_batch(boxes)
    np.clip(b, 0, (w - 1, h - 1), out=b)
    # int() of a length truncates, so "int(len) <= 3" is "len < 4"
    rect_w = vector_norms(b[:, 0] - b[:, 1])
    rect_h = vector_norms(b[:, 0] - b[:, 3])
    mask = (rect_w >= 4) & (rect_h >= 4)
    return b[mask].astype(np.float32), mask


def sorted_boxes(dt_boxes: np.ndarray) -> list[np.ndarray]:
    """Reading order: sort by (y of TL, x of TL), then bubble-swap adjacent
    boxes whose y differs by <10px but whose x order is inverted — the
    exact line-clustering pass of the reference
    (tools/infer/predict_system.py:160-182). Byte-parity-critical."""
    num = len(dt_boxes)
    boxes = sorted(dt_boxes, key=lambda b: (b[0][1], b[0][0]))
    boxes = list(boxes)
    for i in range(num - 1):
        for j in range(i, -1, -1):
            if (
                abs(boxes[j + 1][0][1] - boxes[j][0][1]) < 10
                and boxes[j + 1][0][0] < boxes[j][0][0]
            ):
                boxes[j], boxes[j + 1] = boxes[j + 1], boxes[j]
            else:
                break
    return boxes
