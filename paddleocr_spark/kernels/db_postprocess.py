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
"""

from __future__ import annotations

import numpy as np

from .geometry import clip_box, min_area_rect, order_points_clockwise


def _filled_component_score(prob: np.ndarray, pts: np.ndarray) -> float:
    """Mean probability over fillPoly(outer contour of the component)
    (the reference's box_score_slow region, db_postprocess.py:206-225):
    the component's own pixels PLUS fully-enclosed holes, while concave
    cavities open to the outside stay excluded — where a convex hull
    would wrongly pull their low-probability pixels into the mean.

    cv2-free construction: pad the component's bbox mask by one
    background pixel, flood-fill the background from the border
    (scanline BFS over background runs, 4-connected — the dual of the
    8-connected foreground findContours walks), and take the complement.
    O(runs) regardless of component area."""
    p = np.asarray(pts, dtype=np.int64)
    x0, y0 = p[:, 0].min(), p[:, 1].min()
    x1, y1 = p[:, 0].max(), p[:, 1].max()
    bw, bh = int(x1 - x0 + 3), int(y1 - y0 + 3)  # +1 px pad all around
    mask = np.zeros((bh, bw), dtype=bool)
    mask[p[:, 1] - y0 + 1, p[:, 0] - x0 + 1] = True

    bg = ~mask
    runs: list[list[tuple[int, int, bool]]] = []  # per row: (lo, hi, seen)
    for r in range(bh):
        row = bg[r]
        d = np.flatnonzero(np.diff(np.concatenate(([False], row, [False]))))
        runs.append([(int(d[i]), int(d[i + 1]), False) for i in range(0, len(d), 2)])

    stack = [(0, 0)]  # the padded border row is one background run
    runs[0][0] = (runs[0][0][0], runs[0][0][1], True)
    while stack:
        r, i = stack.pop()
        lo, hi, _ = runs[r][i]
        for nr in (r - 1, r + 1):
            if not 0 <= nr < bh:
                continue
            for j, (nlo, nhi, seen) in enumerate(runs[nr]):
                if not seen and nlo < hi and lo < nhi:
                    runs[nr][j] = (nlo, nhi, True)
                    stack.append((nr, j))

    filled = np.ones((bh, bw), dtype=bool)
    for r in range(bh):
        for lo, hi, seen in runs[r]:
            if seen:
                filled[r, lo:hi] = False
    region = np.zeros((bh, bw), dtype=prob.dtype)
    ry0, ry1 = y0 - 1, y1 + 2
    rx0, rx1 = x0 - 1, x1 + 2
    cy0, cx0 = max(ry0, 0), max(rx0, 0)
    cy1, cx1 = min(ry1, prob.shape[0]), min(rx1, prob.shape[1])
    region[cy0 - ry0 : cy1 - ry0, cx0 - rx0 : cx1 - rx0] = prob[cy0:cy1, cx0:cx1]
    return float(region[filled].mean()) if filled.any() else 0.0


def bitmap_runs(bitmap: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All ink runs of a bool/0-1 map in one pass: pad a False column on
    each side, flatten, diff — row = index // (w+2). Returns (rows,
    starts, ends_exclusive), sorted by (row, start)."""
    h, w = bitmap.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = bitmap
    flat = padded.ravel()
    d = np.flatnonzero(flat[1:] != flat[:-1])
    return d[0::2] // (w + 2), d[0::2] % (w + 2), d[1::2] % (w + 2)


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
    opens a new merged span iff its start exceeds the running max end."""
    if len(rows) == 0:
        return rows, starts, ends
    order = np.lexsort((starts, rows))
    rows, starts, ends = rows[order], starts[order], ends[order]
    span = w + 1
    glob_end = np.maximum.accumulate(rows * span + ends)
    new_span = rows * span + starts > np.concatenate(([np.int64(-1)], glob_end[:-1]))
    grp = np.cumsum(new_span) - 1
    m_rows = rows[new_span]
    m_starts = starts[new_span]
    # ends are not monotone in-group, but glob_end carries the running
    # max — take it at each group's last member
    last_of_grp = np.empty(len(m_rows), dtype=np.int64)
    last_of_grp[grp] = np.arange(len(rows))
    m_ends = glob_end[last_of_grp] - m_rows * span
    return m_rows, m_starts, m_ends


def runs_components(
    rows: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[np.ndarray]:
    """Union-find over (row, start, end) runs -> per-component [K,2]
    (x, y) run-endpoint arrays — sufficient and exact for convex hull /
    min-area rect of solid components. Ordered by (min_y, min_x)."""
    runs = list(zip(rows.tolist(), starts.tolist(), ends.tolist()))
    parent = list(range(len(runs)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    prev_row: list[int] = []  # run ids in previous row
    prev_y = -2
    cur_row: list[int] = []
    for rid, (y, x0, x1) in enumerate(runs):
        if y != prev_y:
            prev_row = cur_row if y == prev_y + 1 else []
            cur_row = []
            prev_y = y
        cur_row.append(rid)
        for pid in prev_row:
            px0, px1 = runs[pid][1], runs[pid][2]
            if px0 < x1 and x0 < px1:  # 4-connectivity overlap
                union(pid, rid)
    groups: dict[int, list[int]] = {}
    for rid in range(len(runs)):
        groups.setdefault(find(rid), []).append(rid)
    comps = []
    for rids in groups.values():
        # Streak thinning (exact for hulls): a row whose run matches the
        # rows directly above AND below contributes no hull vertex, so
        # keep only the first/last row of each constant-(x0,x1) streak.
        # Line blobs are near-rectangles — this cuts ~30 rows to ~4-8
        # points before the O(n) hull/calipers scan.
        pts = []
        prev = None
        streak_last = None
        for rid in rids:
            y, x0, x1 = runs[rid]
            if prev is not None and (x0, x1) == (prev[1], prev[2]) and y == prev[0] + 1:
                streak_last = (y, x0, x1)
            else:
                if streak_last is not None:
                    pts.append((streak_last[1], streak_last[0]))
                    pts.append((streak_last[2] - 1, streak_last[0]))
                    streak_last = None
                pts.append((x0, y))
                pts.append((x1 - 1, y))
            prev = (y, x0, x1)
        if streak_last is not None:
            pts.append((streak_last[1], streak_last[0]))
            pts.append((streak_last[2] - 1, streak_last[0]))
        comps.append(np.array(pts, dtype=np.float64))
    comps.sort(key=lambda p: (p[:, 1].min(), p[:, 0].min()))
    return comps


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


def unclip_rect(box: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """Uniform offset of a rectangle by delta = area*ratio/perimeter along
    its own axes (pyclipper-equivalent for convex rects)."""
    b = np.asarray(box, dtype=np.float64)
    e1 = b[1] - b[0]
    e2 = b[3] - b[0]
    w = np.linalg.norm(e1)
    h = np.linalg.norm(e2)
    if w < 1e-9 or h < 1e-9:
        return b
    area = w * h
    perimeter = 2 * (w + h)
    delta = area * unclip_ratio / perimeter
    u = e1 / w
    v = e2 / h
    off = u * delta + v * delta
    return np.array(
        [b[0] - off, b[1] + u * delta - v * delta, b[2] + off, b[3] - u * delta + v * delta]
    )


def db_postprocess(
    prob: np.ndarray,
    src_h: int,
    src_w: int,
    thresh: float = 0.3,
    box_thresh: float = 0.6,
    max_candidates: int = 1000,
    unclip_ratio: float = 1.5,
    min_size: int = 3,
    score_mode: str = "fast",
) -> tuple[np.ndarray, list[float]]:
    """prob [h,w] in [0,1] at det scale -> (boxes [N,4,2] float32 in source
    coords, scores). Defaults mirror tools/infer/utility.py:66-70;
    score_mode='slow' scores the component's own pixel polygon instead
    of the min-area rect (the det_box_type poly path)."""
    map_h, map_w = prob.shape
    bitmap = prob > thresh
    comps = connected_components(bitmap)[:max_candidates]
    boxes, scores = [], []
    for pts in comps:
        rect, sside = min_area_rect(pts)
        if sside < min_size:
            continue
        if score_mode == "slow":
            score = _filled_component_score(prob, pts)
        else:
            score = box_score_fast(prob, rect)
        if score < box_thresh:
            continue
        rect = unclip_rect(order_points_clockwise(rect), unclip_ratio)
        rect, sside = min_area_rect(rect)
        if sside < min_size + 2:
            continue
        rect = order_points_clockwise(rect)
        rect[:, 0] = np.clip(np.round(rect[:, 0] / map_w * src_w), 0, src_w)
        rect[:, 1] = np.clip(np.round(rect[:, 1] / map_h * src_h), 0, src_h)
        boxes.append(rect)
        scores.append(score)
    if not boxes:
        return np.zeros((0, 4, 2), dtype=np.float32), []
    return np.array(boxes, dtype=np.float32), scores


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
    (the exact run-length image of `prob > thresh`). Identical output to
    the map path: components, min-area rects, and the bbox-mean score
    are all pure functions of the runs; no [h,w] array is ever built.
    """
    comps = runs_components(rows, starts, ends)[:max_candidates]
    boxes, scores = [], []
    for pts in comps:
        rect, sside = min_area_rect(pts)
        if sside < min_size:
            continue
        xmin = int(np.clip(np.floor(rect[:, 0].min()), 0, map_w - 1))
        xmax = int(np.clip(np.ceil(rect[:, 0].max()), 0, map_w - 1))
        ymin = int(np.clip(np.floor(rect[:, 1].min()), 0, map_h - 1))
        ymax = int(np.clip(np.ceil(rect[:, 1].max()), 0, map_h - 1))
        in_rows = (rows >= ymin) & (rows <= ymax)
        ink = np.maximum(
            np.minimum(ends[in_rows], xmax + 1) - np.maximum(starts[in_rows], xmin),
            0,
        ).sum()
        area = (ymax - ymin + 1) * (xmax - xmin + 1)
        score = float(ink) / float(area) if area else 0.0
        if score < box_thresh:
            continue
        rect = unclip_rect(order_points_clockwise(rect), unclip_ratio)
        rect, sside = min_area_rect(rect)
        if sside < min_size + 2:
            continue
        rect = order_points_clockwise(rect)
        rect[:, 0] = np.clip(np.round(rect[:, 0] / map_w * src_w), 0, src_w)
        rect[:, 1] = np.clip(np.round(rect[:, 1] / map_h * src_h), 0, src_h)
        boxes.append(rect)
        scores.append(score)
    if not boxes:
        return np.zeros((0, 4, 2), dtype=np.float32), []
    return np.array(boxes, dtype=np.float32), scores


__all__ = [
    "bitmap_runs",
    "dilate_runs",
    "runs_components",
    "connected_components",
    "box_score_fast",
    "unclip_rect",
    "db_postprocess",
    "db_postprocess_runs",
]
