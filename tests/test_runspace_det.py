"""Run-space detection must be EXACTLY the map-space computation: the
fast path's claim is bit-identity, not approximation, so verify it on
adversarial random bitmaps (not just rendered text).

Reference semantics under test: dilation = sliding max over 0/1
(db_postprocess.py map path / ppocr DBPostProcess dilation), connected
components of the thresholded map, and the bbox-mean box score.
"""

import time
import tracemalloc

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from paddleocr_spark.kernels import db_postprocess as dbp
from paddleocr_spark.kernels.db_postprocess import (
    _component_rects,
    bitmap_runs,
    db_postprocess,
    db_postprocess_runs,
    dilate_runs,
    runs_components,
)
from paddleocr_spark.kernels.geometry import min_area_rect
from paddleocr_spark.kernels.imageops import dilate_horizontal, dilate_vertical


def _runs_to_map(rows, starts, ends, h, w):
    out = np.zeros((h, w), dtype=bool)
    for r, s, e in zip(rows, starts, ends):
        out[r, s:e] = True
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=0, max_value=9),
    st.integers(min_value=0, max_value=3),
    st.floats(min_value=0.02, max_value=0.6),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_dilate_runs_equals_map_dilation(h, w, h_rad, v_rad, density, seed):
    rng = np.random.default_rng(seed)
    bit = rng.random((h, w)) < density
    expected = dilate_vertical(
        dilate_horizontal(bit.astype(np.uint8), h_rad), v_rad
    ).astype(bool)
    rows, starts, ends = dilate_runs(*bitmap_runs(bit), h_rad, v_rad, h, w)
    assert np.array_equal(_runs_to_map(rows, starts, ends, h, w), expected)


def _bruteforce_components(bit):
    """Textbook BFS flood fill (4-connectivity) -> per-component extents,
    ordered by (min_y, min_x) — an independent oracle for the union-find
    path."""
    h, w = bit.shape
    seen = np.zeros_like(bit, dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if not bit[y, x] or seen[y, x]:
                continue
            stack = [(y, x)]
            seen[y, x] = True
            xs, ys = [], []
            while stack:
                cy, cx = stack.pop()
                xs.append(cx)
                ys.append(cy)
                for ny, nx in ((cy-1, cx), (cy+1, cx), (cy, cx-1), (cy, cx+1)):
                    if 0 <= ny < h and 0 <= nx < w and bit[ny, nx] and not seen[ny, nx]:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            comps.append((min(ys), min(xs), max(ys), max(xs)))
    comps.sort()
    return comps


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=40),
    st.floats(min_value=0.02, max_value=0.5),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_runs_components_matches_bruteforce_flood_fill(h, w, density, seed):
    rng = np.random.default_rng(seed)
    bit = rng.random((h, w)) < density
    expected = _bruteforce_components(bit)
    got = [
        (int(c[:, 1].min()), int(c[:, 0].min()), int(c[:, 1].max()), int(c[:, 0].max()))
        for c in runs_components(*bitmap_runs(bit))
    ]
    assert sorted(got) == expected


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=8, max_value=48),
    st.integers(min_value=8, max_value=80),
    st.integers(min_value=0, max_value=6),
    st.floats(min_value=0.05, max_value=0.5),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_db_postprocess_runs_equals_map_path(h, w, h_rad, density, seed):
    rng = np.random.default_rng(seed)
    bit = rng.random((h, w)) < density
    dil = dilate_vertical(dilate_horizontal(bit.astype(np.uint8), h_rad), 1)
    boxes_map, scores_map = db_postprocess(
        dil.astype(np.float32), h, w, thresh=0.5, box_thresh=0.2
    )
    rows, starts, ends = dilate_runs(*bitmap_runs(bit), h_rad, 1, h, w)
    boxes_run, scores_run = db_postprocess_runs(
        rows, starts, ends, h, w, h, w, box_thresh=0.2
    )
    assert np.array_equal(boxes_map, boxes_run)
    assert np.allclose(scores_map, scores_run)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=0, max_value=6),
    st.floats(min_value=0.02, max_value=0.7),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_batched_rects_equal_min_area_rect(h, w, h_rad, density, seed):
    """The page-at-once hull + calipers pass gives every component the
    very bits min_area_rect gives it alone (rects with a zero side are
    dropped by every caller and may differ in their corners)."""
    rng = np.random.default_rng(seed)
    bit = rng.random((h, w)) < density
    runs = dilate_runs(*bitmap_runs(bit), h_rad, 1, h, w) if h_rad else bitmap_runs(bit)
    comps, rects, sides = _component_rects(*runs, 1000)
    for pts, rect, side in zip(comps, rects, sides):
        want, want_side = min_area_rect(pts)
        assert side == want_side
        if side > 0:
            assert np.array_equal(rect, want)


def _dust(n_rows, n_cols, seed):
    """A page of separate 1-3 px specks and 3x3 L-shapes on a 5 x 5 px
    lattice (hulls of 1 to 5 points), as a bitmap."""
    rng = np.random.default_rng(seed)
    bit = np.zeros((5 * n_rows, 5 * n_cols), dtype=bool)
    for y in range(0, 5 * n_rows, 5):
        for x in range(0, 5 * n_cols, 5):
            if rng.random() < 0.3:
                bit[y : y + 3, x] = bit[y + 2, x : x + 3] = True
            else:
                bit[y : y + rng.integers(1, 4), x : x + rng.integers(1, 4)] = True
    return bit


def test_thousands_of_specks_fit_in_bounded_blocks(monkeypatch):
    """A dusty page: every speck gets min_area_rect's own bits, the
    calipers never see more than one block of hull points at a time, and
    memory and time stay linear in the speck count (one dense pass over
    all 3,300 hull points would hold several [points x edges] arrays of
    ~90 MB)."""
    bit = _dust(30, 50, seed=5)
    runs = bitmap_runs(bit)
    block_sizes = []
    calipers = dbp._calipers

    def spy(hulls):
        block_sizes.append(sum(map(len, hulls)))
        return calipers(hulls)

    monkeypatch.setattr(dbp, "_calipers", spy)
    tracemalloc.start()
    try:
        t0 = time.perf_counter()
        comps, rects, sides = _component_rects(*runs, 10_000)
        elapsed = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(comps) == 1500
    assert peak < 32 << 20
    assert elapsed < 5.0
    assert sum(block_sizes) > 4 * dbp._CALIPERS_BLOCK
    assert max(block_sizes) <= dbp._CALIPERS_BLOCK
    for pts, rect, side in zip(comps, rects, sides):
        want, want_side = min_area_rect(pts)
        assert side == want_side
        if side > 0:
            assert np.array_equal(rect, want)


def test_only_max_candidates_components_are_fitted(monkeypatch):
    """max_candidates caps the hull work, not just the output: the first
    components in (min_y, min_x) order are the only ones fitted."""
    runs = bitmap_runs(_dust(10, 30, seed=6))
    hulls = []
    monotone_hull = dbp.monotone_hull

    def spy(coords):
        hulls.append(coords)
        return monotone_hull(coords)

    monkeypatch.setattr(dbp, "monotone_hull", spy)
    comps, rects, sides = _component_rects(*runs, 40)
    assert len(hulls) == len(comps) == 40
    _, all_rects, all_sides = _component_rects(*runs, 10_000)
    assert np.array_equal(rects, all_rects[:40])
    assert np.array_equal(sides, all_sides[:40])
