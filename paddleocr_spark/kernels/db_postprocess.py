"""DB-style detection postprocess, pure numpy.

Behavioral spec from the reference's DBPostProcess
(ppocr/postprocess/db_postprocess.py:29-256): threshold the probability
map at `thresh`, extract connected regions (the reference uses
cv2.findContours; we use run-based connected-component labeling — same
regions for solid blobs), min-area rect per region, drop rects whose
shorter side < min_size, score = mean probability inside the region bbox
(box_score_fast, :189-204), drop score < box_thresh, unclip the rect by
delta = area * unclip_ratio / perimeter (the reference uses pyclipper;
for the rectangle quads produced by quad mode the uniform-offset result
is exactly the rect inflated by delta along its own axes), re-order, and
scale back to source-image coordinates. Candidates are capped at
max_candidates=1000 (:126).

Both paths (a probability map, or its thresholded runs) work on all the
components of a page at once: vectorized run labelling, batched hull +
calipers passes over bounded blocks of hulls (`_hull_rects`), and one
shared per-box tail (`_finish_boxes`). Each step keeps the scalar
operation path of `geometry.min_area_rect` / `order_points_clockwise` /
`unclip_rect`, so boxes and scores are bit-identical to fitting one box
at a time.
"""

from __future__ import annotations

import numpy as np

from .geometry import (
    min_area_rect,
    monotone_hull,
    order_points_clockwise_batch,
    vector_norms,
)


def bitmap_runs(bitmap: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All ink runs of a bool/0-1 map, sorted by (row, start): (rows,
    starts, ends_exclusive)."""
    live = np.flatnonzero(bitmap.any(axis=1))
    return _row_runs(bitmap[live], live)


def threshold_runs(img: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """bitmap_runs(img <= level) for an integer page, thresholding only
    the rows whose darkest pixel is at or under `level`."""
    live = np.flatnonzero(img.min(axis=1) <= level)
    return _row_runs(img[live] <= level, live)


def _row_runs(
    bitmap: np.ndarray, rows: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Runs of the map rows `bitmap` (page rows `rows`) in one pass: pad
    a False column on each side, flatten, diff — row = index // (w+2)."""
    w = bitmap.shape[1]
    padded = np.zeros((len(rows), w + 2), dtype=bool)
    padded[:, 1:-1] = bitmap
    flat = padded.ravel()
    d = np.flatnonzero(flat[1:] != flat[:-1])
    starts, ends = d[0::2], d[1::2]
    r = starts // (w + 2)
    return rows[r], starts - r * (w + 2), ends - r * (w + 2)


def dilate_runs(
    rows: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    h_radius: int,
    v_radius: int,
    h: int,
    w: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Morphological dilation in run space — exact for binary maps: a
    sliding max over 0/1 is the union of per-run expansions, and the
    vertical window is the union of each run across rows +-v_radius.
    Never materializes a map, so det stops paying full-page passes
    (the 32-core throughput ceiling was set by exactly those passes).
    """
    if h_radius > 0:
        starts = np.maximum(starts - h_radius, 0)
        ends = np.minimum(ends + h_radius, w)
    # merge BEFORE the vertical replication: glyph-level input has ~20
    # runs/row that the h expansion fuses to ~1, so merging first keeps
    # the replicated array ~10x smaller
    rows, starts, ends = _merge_runs(rows, starts, ends, w)
    if v_radius > 0:
        offs = np.arange(-v_radius, v_radius + 1)
        rows = (rows[None, :] + offs[:, None]).ravel()
        starts = np.broadcast_to(starts, (len(offs), len(starts))).ravel()
        ends = np.broadcast_to(ends, (len(offs), len(ends))).ravel()
        keep = (rows >= 0) & (rows < h)
        rows, starts, ends = _merge_runs(rows[keep], starts[keep], ends[keep], w)
    return rows, starts, ends


def _merge_runs(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray, w: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Merge overlapping/touching runs per row, vectorized: order by
    (row, start), lift ends onto a per-row monotone axis, then a run
    opens a new merged span iff its start exceeds the running max end.
    Runs already in (row, start) order (bitmap_runs, and the same runs
    shifted by the horizontal dilation) skip the sort."""
    if len(rows) == 0:
        return rows, starts, ends
    span = w + 1
    key = rows * span + starts
    if (key[1:] < key[:-1]).any():
        order = np.argsort(key, kind="stable")
        rows, starts, ends, key = rows[order], starts[order], ends[order], key[order]
    glob_end = np.maximum.accumulate(rows * span + ends)
    new_span = key > np.concatenate(([np.int64(-1)], glob_end[:-1]))
    grp = np.cumsum(new_span) - 1
    m_rows = rows[new_span]
    m_starts = starts[new_span]
    # ends are not monotone in-group, but glob_end carries the running
    # max — take it at each group's last member
    last_of_grp = np.empty(len(m_rows), dtype=np.int64)
    last_of_grp[grp] = np.arange(len(rows))
    m_ends = glob_end[last_of_grp] - m_rows * span
    return m_rows, m_starts, m_ends


def _run_labels(rows: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """4-connected component of every run, labelled by the component's
    smallest run index. Runs must be in (row, start) order and disjoint
    within a row (what bitmap_runs and dilate_runs emit), so both run
    ends and run starts rise along a per-row-offset axis and each run's
    overlaps in the row above are one searchsorted range."""
    n = len(rows)
    lab = np.arange(n)
    if n < 2:
        return lab
    span = int(ends.max()) + 1
    base = rows * span
    above = base - span
    lo = np.searchsorted(base + ends, above + starts, side="right")
    hi = np.searchsorted(base + starts, above + ends, side="left")
    cnt = np.maximum(hi - lo, 0)
    b = np.repeat(np.arange(n), cnt)
    a = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(len(b))
    # hook every edge's two roots onto the smaller, then compress fully;
    # repeat until both ends of every edge share a label
    while len(a):
        la, lb = lab[a], lab[b]
        if (la == lb).all():
            break
        m = np.minimum(la, lb)
        np.minimum.at(lab, la, m)
        np.minimum.at(lab, lb, m)
        while True:
            nxt = lab[lab]
            if (nxt == lab).all():
                break
            lab = nxt
    return lab


def _components(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Connected components of (row, start, end) runs as (points [P,2]
    float64 (x, y) run endpoints, component-contiguous; bounds [C+1]
    into points; rank: component order by (min_y, min_x), ties by
    smallest run index). Points of a component are in run order."""
    lab = _run_labels(rows, starts, ends)
    order = np.argsort(lab, kind="stable")
    lab, y, x0, x1 = lab[order], rows[order], starts[order], ends[order]
    # Streak thinning (exact for hulls): a run continuing the previous
    # run of its component one row down with the same (x0, x1) adds no
    # hull vertex unless it ends the streak, so keep only each streak's
    # first and last run. Line blobs are near-rectangles — this cuts
    # ~30 rows to ~4-8 points before the hull/calipers scan.
    same = np.zeros(len(lab), dtype=bool)
    same[1:] = (
        (lab[1:] == lab[:-1])
        & (x0[1:] == x0[:-1])
        & (x1[1:] == x1[:-1])
        & (y[1:] == y[:-1] + 1)
    )
    emit = ~same
    emit[:-1] |= ~same[1:]
    emit[-1:] = True
    lab, y, x0, x1 = lab[emit], y[emit], x0[emit], x1[emit]
    pts = np.empty((2 * len(lab), 2), dtype=np.float64)
    pts[0::2, 0], pts[1::2, 0] = x0, x1 - 1
    pts[0::2, 1] = pts[1::2, 1] = y
    firsts = np.flatnonzero(np.concatenate(([True], lab[1:] != lab[:-1])))
    # a component's first run is on its top row; min_x is over all runs
    rank = np.lexsort((np.minimum.reduceat(x0, firsts), y[firsts]))
    return pts, 2 * np.append(firsts, len(lab)), rank


def runs_components(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[np.ndarray]:
    """Connected components of (row, start, end) runs -> per-component
    [K,2] (x, y) run-endpoint arrays — sufficient and exact for convex
    hull / min-area rect of solid components. Ordered by (min_y, min_x)."""
    if len(rows) == 0:
        return []
    pts, bounds, rank = _components(rows, starts, ends)
    return [pts[bounds[i] : bounds[i + 1]] for i in rank]


# Hull points per calipers block: each block projects its points on its
# own edges as a dense [points x edges] matmul, so a page of thousands of
# specks costs linear memory and time (a hull over this size gets a
# block of its own, as min_area_rect would).
_CALIPERS_BLOCK = 512


def _hull_rects(
    pts: np.ndarray, bounds: np.ndarray, which: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """min_area_rect of the components `which` (in that order),
    bit-identical to min_area_rect(pts[bounds[i]:bounds[i+1]]) each.

    Each hull is convex_hull's own monotone chain over the component's
    distinct (integer) points in (x, y) order; then the calipers run on
    blocks of hulls with min_area_rect's arithmetic (`_calipers`).
    (min_area_rect's exact-rectangle shortcut only fires on a 4-point
    run-endpoint set with a zero side, a rect that every caller drops.)"""
    flat, b = pts.tolist(), bounds.tolist()
    hulls = [monotone_hull(sorted(set(map(tuple, flat[b[i] : b[i + 1]])))) for i in which]
    rects = np.empty((len(hulls), 4, 2))
    sides = np.zeros(len(hulls))
    block: list[int] = []
    size = 0
    for i, hull in enumerate(hulls):
        if len(hull) <= 2:  # min_area_rect's boxes for one or two hull points
            rects[i] = [hull[0], hull[-1], hull[-1], hull[0]]
            continue
        if block and size + len(hull) > _CALIPERS_BLOCK:
            rects[block], sides[block] = _calipers([hulls[j] for j in block])
            block, size = [], 0
        block.append(i)
        size += len(hull)
    if block:
        rects[block], sides[block] = _calipers([hulls[j] for j in block])
    return rects, sides


def _calipers(hulls: list) -> tuple[np.ndarray, np.ndarray]:
    """min_area_rect's rotating calipers over several hulls (each of 3+
    points) at once: one matmul projects every hull point onto every edge
    direction, masked to its own hull's edges, and the first strict
    improvement over each hull's edges picks its rect."""
    hull = np.array([p for h in hulls for p in h])
    size = np.array([len(h) for h in hulls])
    hc = np.repeat(np.arange(len(hulls)), size)
    start = np.cumsum(size) - size
    nxt = np.arange(1, len(hull) + 1)
    nxt[start + size - 1] = start
    edges = hull[nxt] - hull
    norms = np.sqrt((edges ** 2).sum(axis=1))
    ok = norms >= 1e-12
    us = edges[ok] / norms[ok, None]
    ec = hc[ok]
    vs = np.empty_like(us)
    vs[:, 0], vs[:, 1] = -us[:, 1], us[:, 0]
    foreign = hc[:, None] != ec[None, :]
    proj_u = hull @ us.T
    proj_v = hull @ vs.T
    u_min = np.where(foreign, np.inf, proj_u).min(axis=0)
    u_max = np.where(foreign, -np.inf, proj_u).max(axis=0)
    v_min = np.where(foreign, np.inf, proj_v).min(axis=0)
    v_max = np.where(foreign, -np.inf, proj_v).max(axis=0)
    dus = u_max - u_min
    dvs = v_max - v_min
    areas = (dus * dvs).tolist()
    # the reference-faithful first-strict-improvement scan, per hull
    best = []
    e_start = np.searchsorted(ec, np.arange(len(hulls))).tolist()
    for a, z in zip(e_start, e_start[1:] + [len(ec)]):
        best_area, best_i = np.inf, -1
        for i in range(a, z):
            if areas[i] < best_area - 1e-12:
                best_area, best_i = areas[i], i
        best.append(best_i)
    u, v = us[best], vs[best]
    u0, v0 = u_min[best, None], v_min[best, None]
    du, dv = dus[best, None], dvs[best, None]
    corners = np.empty((len(hulls), 4, 2))
    corners[:, 0] = u * u0 + v * v0
    corners[:, 1] = u * (u0 + du) + v * v0
    corners[:, 2] = u * (u0 + du) + v * (v0 + dv)
    corners[:, 3] = u * u0 + v * (v0 + dv)
    return corners, np.minimum(du, dv)[:, 0]


def _component_rects(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray, max_candidates: int
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """(point sets, min-area rects [N,4,2], short sides [N]) of the
    first max_candidates components in (min_y, min_x) order; only those
    are fitted."""
    if len(rows) == 0:
        return [], np.zeros((0, 4, 2)), np.zeros(0)
    pts, bounds, rank = _components(rows, starts, ends)
    rank = rank[:max_candidates]
    rects, sides = _hull_rects(pts, bounds, rank)
    return [pts[bounds[i] : bounds[i + 1]] for i in rank], rects, sides


def connected_components(bitmap: np.ndarray) -> list[np.ndarray]:
    """Label a bool map via row-run union-find (run extraction + the
    run-space grouping above)."""
    return runs_components(*bitmap_runs(bitmap))


def box_score_fast(prob: np.ndarray, box: np.ndarray) -> float:
    """Mean probability inside the box's axis-aligned bbox (the reference's
    fast path, db_postprocess.py:189-204)."""
    h, w = prob.shape
    xmin = int(np.clip(np.floor(box[:, 0].min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(box[:, 0].max()), 0, w - 1))
    ymin = int(np.clip(np.floor(box[:, 1].min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(box[:, 1].max()), 0, h - 1))
    region = prob[ymin : ymax + 1, xmin : xmax + 1]
    return float(region.mean()) if region.size else 0.0


def box_score_slow(prob: np.ndarray, contour: np.ndarray) -> float:
    """Mean probability inside the polygon itself (the reference's slow
    path for det_box_type='poly', db_postprocess.py:206-225: fillPoly on
    the contour instead of the bbox). Scanline even-odd fill at pixel
    centers — no cv2 in this environment; pinned against a per-pixel
    ray-cast reference in tests."""
    h, w = prob.shape
    pts = np.asarray(contour, dtype=np.float64).reshape(-1, 2)
    if len(pts) < 3:
        return box_score_fast(prob, pts.reshape(-1, 2))
    xmin = int(np.clip(np.floor(pts[:, 0].min()), 0, w - 1))
    xmax = int(np.clip(np.ceil(pts[:, 0].max()), 0, w - 1))
    ymin = int(np.clip(np.floor(pts[:, 1].min()), 0, h - 1))
    ymax = int(np.clip(np.ceil(pts[:, 1].max()), 0, h - 1))
    sx = pts[:, 0] - xmin
    sy = pts[:, 1] - ymin
    bw = xmax - xmin + 1
    bh = ymax - ymin + 1
    mask = np.zeros((bh, bw), dtype=bool)
    n = len(pts)
    for row in range(bh):
        yc = row + 0.5
        xs = []
        for i in range(n):
            y0, y1 = sy[i], sy[(i + 1) % n]
            if (y0 <= yc) != (y1 <= yc):
                t = (yc - y0) / (y1 - y0)
                xs.append(sx[i] + t * (sx[(i + 1) % n] - sx[i]))
        xs.sort()
        for j in range(0, len(xs) - 1, 2):
            lo = int(np.ceil(xs[j] - 0.5))
            hi = int(np.floor(xs[j + 1] - 0.5))
            if hi >= lo:
                mask[row, max(lo, 0) : min(hi, bw - 1) + 1] = True
    region = prob[ymin : ymax + 1, xmin : xmax + 1]
    if not mask.any():
        return 0.0
    return float(region[mask].mean())


def unclip_rects(boxes: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """Uniform offset of [N,4,2] rectangles by delta = area*ratio/perimeter
    along each one's own axes (pyclipper-equivalent for convex rects);
    a rect with a side under 1e-9 comes back unchanged."""
    b = np.asarray(boxes, dtype=np.float64)
    e1 = b[:, 1] - b[:, 0]
    e2 = b[:, 3] - b[:, 0]
    w = vector_norms(e1)
    h = vector_norms(e2)
    ok = (w >= 1e-9) & (h >= 1e-9)
    b, e1, e2, w, h = b[ok], e1[ok], e2[ok], w[ok], h[ok]
    area = w * h
    perimeter = 2 * (w + h)
    delta = (area * unclip_ratio / perimeter)[:, None]
    u = e1 / w[:, None]
    v = e2 / h[:, None]
    off = u * delta + v * delta
    out = np.array(boxes, dtype=np.float64)
    out[ok, 0] = b[:, 0] - off
    out[ok, 1] = b[:, 1] + u * delta - v * delta
    out[ok, 2] = b[:, 2] + off
    out[ok, 3] = b[:, 3] - u * delta + v * delta
    return out


def unclip_rect(box: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """unclip_rects for one [4,2] rectangle."""
    return unclip_rects(np.asarray(box, dtype=np.float64)[None], unclip_ratio)[0]


def _refit_rects(rects: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """min_area_rect of each [4,2] unclipped rect: the exact-rectangle
    test of min_area_rect, run on all of them at once (an unclip output
    always passes it); any that fails goes through min_area_rect."""
    p = rects
    d1 = p[:, 0] + p[:, 2] - p[:, 1] - p[:, 3]
    e1 = p[:, 1] - p[:, 0]
    e2 = p[:, 3] - p[:, 0]
    n1 = np.hypot(e1[:, 0], e1[:, 1])
    n2 = np.hypot(e2[:, 0], e2[:, 1])
    scale = np.maximum(n1 * n2, 1.0)
    exact = (
        (np.abs(d1[:, 0]) < 1e-7)
        & (np.abs(d1[:, 1]) < 1e-7)
        & (np.abs(e1[:, 0] * e2[:, 0] + e1[:, 1] * e2[:, 1]) < 1e-7 * scale)
    )
    out = p.copy()
    sides = np.minimum(n1, n2)
    for i in np.flatnonzero(~exact):
        out[i], sides[i] = min_area_rect(p[i])
    return out, sides


def _finish_boxes(
    rects: np.ndarray,
    scores: np.ndarray,
    map_h: int,
    map_w: int,
    src_h: int,
    src_w: int,
    box_thresh: float,
    unclip_ratio: float,
    min_size: int,
) -> tuple[np.ndarray, list[float]]:
    """The per-box tail both postprocess paths share, over all boxes at
    once: drop score < box_thresh, order, unclip, re-fit the min-area
    rect, drop short sides < min_size + 2, order, and scale to source
    coordinates. rects [N,4,2] float64 are the components' min-area
    rects that passed the min_size test, scores their box scores."""
    keep = ~(scores < box_thresh)
    rects, scores = rects[keep], scores[keep]
    rects = unclip_rects(order_points_clockwise_batch(rects), unclip_ratio)
    rects, sides = _refit_rects(rects)
    keep = ~(sides < min_size + 2)
    rects, scores = order_points_clockwise_batch(rects[keep]), scores[keep]
    if not len(rects):
        return np.zeros((0, 4, 2), dtype=np.float32), []
    map_wh, src_wh = np.array([map_w, map_h]), np.array([src_w, src_h])
    rects = np.clip(np.round(rects / map_wh * src_wh), 0, src_wh)
    return rects.astype(np.float32), scores.tolist()


def db_postprocess(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
    thresh: float = 0.3,
    box_thresh: float = 0.6,
    max_candidates: int = 1000,
    unclip_ratio: float = 1.5,
    min_size: int = 3,
) -> tuple[np.ndarray, list[float]]:
    """prob [h,w] in [0,1] at det scale -> (boxes [N,4,2] float32 in source
    coords, scores). Defaults mirror tools/infer/utility.py:66-70."""
    map_h, map_w = prob.shape
    _, rects, sides = _component_rects(*bitmap_runs(prob > thresh), max_candidates)
    big = np.flatnonzero(~(sides < min_size))
    scores = [box_score_fast(prob, rects[i]) for i in big]
    return _finish_boxes(
        rects[big], np.array(scores, dtype=np.float64), map_h, map_w, src_h, src_w,
        box_thresh, unclip_ratio, min_size,
    )


def db_postprocess_runs(
    rows: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    map_h: int,
    map_w: int,
    src_h: int,
    src_w: int,
    box_thresh: float = 0.6,
    max_candidates: int = 1000,
    unclip_ratio: float = 1.5,
    min_size: int = 3,
) -> tuple[np.ndarray, list[float]]:
    """db_postprocess over an already-thresholded map in RUN form
    (the exact run-length image of `prob > thresh`, in (row, start)
    order). Identical output to the map path: components, min-area
    rects, and the bbox-mean score are all pure functions of the runs;
    no [h,w] array is ever built.
    """
    _, rects, sides = _component_rects(rows, starts, ends, max_candidates)
    big = ~(sides < min_size)
    rects = rects[big]
    # bbox-mean score of every box at once: ink of the runs on the box's
    # rows, clipped to its columns, over the bbox area (all integers)
    xmin = np.clip(np.floor(rects[..., 0].min(axis=1)), 0, map_w - 1).astype(np.int64)
    xmax = np.clip(np.ceil(rects[..., 0].max(axis=1)), 0, map_w - 1).astype(np.int64)
    ymin = np.clip(np.floor(rects[..., 1].min(axis=1)), 0, map_h - 1).astype(np.int64)
    ymax = np.clip(np.ceil(rects[..., 1].max(axis=1)), 0, map_h - 1).astype(np.int64)
    lo = np.searchsorted(rows, ymin, side="left")
    cnt = np.searchsorted(rows, ymax, side="right") - lo
    box = np.repeat(np.arange(len(rects)), cnt)
    run = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(len(box))
    overlap = np.minimum(ends[run], xmax[box] + 1) - np.maximum(starts[run], xmin[box])
    ink = np.bincount(box, weights=np.maximum(overlap, 0), minlength=len(rects))
    area = (ymax - ymin + 1) * (xmax - xmin + 1)
    return _finish_boxes(
        rects, ink / area, map_h, map_w, src_h, src_w, box_thresh, unclip_ratio, min_size
    )


__all__ = [
    "bitmap_runs",
    "threshold_runs",
    "dilate_runs",
    "runs_components",
    "connected_components",
    "box_score_fast",
    "unclip_rect",
    "unclip_rects",
    "db_postprocess",
    "db_postprocess_runs",
]
