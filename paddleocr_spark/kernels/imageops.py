"""Vectorized numpy image primitives (cv2 replacements).

Covers what the reference gets from cv2: bilinear resize
(ppocr/data/imaug/operators.py:207-338 DetResizeForTest uses cv2.resize),
perspective warp of a quad to an upright rect
(tools/infer/utility.py:865-906 get_rotate_crop_image), morphological
dilation (ppocr/postprocess/db_postprocess.py dilation kernel), and
adaptive average pooling used by the recognition stub. All deterministic,
all batch-of-one numpy — no per-pixel Python loops.
"""

from __future__ import annotations

import functools

import numpy as np


def resize_bilinear(
    img: np.ndarray, out_h: int, out_w: int, out: np.ndarray | None = None
) -> np.ndarray:
    """Bilinear resize with pixel-center alignment (cv2-style mapping).
    With `out` (a float32 [out_h, out_w] view), the result is written
    there instead of a new array."""
    h, w = img.shape[:2]
    out_h, out_w = max(1, int(out_h)), max(1, int(out_w))
    if (out_h, out_w) == (h, w):
        if out is None:
            return img.astype(np.float32, copy=True)
        out[...] = img
        return out
    rows, cols = _axis_map(h, out_h), _axis_map(w, out_w)
    # asarray: no-copy when already float32 (slice-cropped rec inputs)
    f = np.asarray(img, dtype=np.float32)
    # separable: blend one axis, then interpolate the other — half the
    # gathers/multiplies of the per-corner form. Order by intermediate
    # size: shrink the axis with the bigger reduction first.
    if out_h * w <= h * out_w:
        return _blend(_blend(f, 0, *rows), 1, *cols, out=out)
    return _blend(_blend(f, 1, *cols), 0, *rows, out=out)


def _axis_map(n: int, out_n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(i0, i1, u) of one axis: output i samples source (i + 0.5) *
    n / out_n - 0.5, clipped to [0, n - 1], between pixels i0 and i1 at
    float32 weight u. The clipped position is non-negative, so the int
    cast is its floor."""
    s = (np.arange(out_n, dtype=np.float64) + 0.5) * (n / out_n) - 0.5
    s = np.minimum(np.maximum(s, 0), n - 1)
    i0 = s.astype(np.int64)
    return i0, np.minimum(i0 + 1, n - 1), (s - i0).astype(np.float32)


def _blend(src, axis, i0, i1, u, out=None):
    """src[i0] * (1 - u) + src[i1] * u along `axis` (0 or 1), in place
    on the two gathered copies (the same products and sum, without
    temporaries)."""
    if axis == 0:
        a, b, u = src[i0], src[i1], u[:, None]
    else:
        a, b = src[:, i0], src[:, i1]
    np.multiply(a, 1 - u, out=a)
    np.multiply(b, u, out=b)
    return np.add(a, b, out=a if out is None else out)


@functools.lru_cache(maxsize=4096)
def _pool_bins(n: int, out_n: int) -> tuple[np.ndarray, np.ndarray]:
    """Bin edges (lo, hi) of an adaptive pool of n cells into out_n."""
    lo, hi = pool_bins_batch(np.array([n]), out_n)
    return lo[0], hi[0]


def pool_bins_batch(ns: np.ndarray, out_n: int) -> tuple[np.ndarray, np.ndarray]:
    """_pool_bins(n, out_n) of every n in `ns` at once, as [len(ns),
    out_n] (lo, hi). The edges are np.linspace(0, n, out_n + 1)'s own
    float ops: i * (n / out_n), with the last edge exactly n."""
    ns = np.asarray(ns, dtype=np.int64)
    b = np.arange(out_n + 1) * (ns / out_n)[:, None]
    b[:, -1] = ns
    b = b.round().astype(np.int64)
    hi = np.minimum(np.maximum(b[:, 1:], b[:, :-1] + 1), ns[:, None])
    lo = np.where(hi > 0, np.minimum(b[:, :-1], hi - 1), 0)
    return lo, hi


def adaptive_avg_pool(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Mean-pool to an exact (out_h, out_w) grid with near-equal bins.

    Fast path (the common shrink case — bins contiguous, covering,
    non-overlapping): two axis reductions via np.add.reduceat, one pass
    over the image, no (h+1, w+1) integral-image allocation (~20x
    cheaper for page -> 8x8). Integer-valued inputs (uint8 pages) sum
    exactly in float64 either way, so the two paths are bit-identical
    there; the integral-image path remains for degenerate bins
    (upsampling n < out_n, where bins overlap)."""
    h, w = img.shape
    r0, r1 = _pool_bins(h, out_h)
    c0, c1 = _pool_bins(w, out_w)
    area = (r1 - r0)[:, None] * (c1 - c0)[None, :]

    def _contig(lo, hi, n):
        return lo[0] == 0 and hi[-1] == n and np.array_equal(lo[1:], hi[:-1])

    if _contig(r0, r1, h) and _contig(c0, c1, w):
        f = np.asarray(img, dtype=np.float64)
        s = np.add.reduceat(np.add.reduceat(f, r0, axis=0), c0, axis=1)
        return (s / area).astype(np.float32)

    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = img.cumsum(0).cumsum(1)
    r0c, r1c = r0[:, None], r1[:, None]
    s = csum[r1c, c1] - csum[r0c, c1] - csum[r1c, c0] + csum[r0c, c0]
    return (s / np.maximum(area, 1)).astype(np.float32)


def _sliding_max(pad: np.ndarray, window: int, axis: int) -> np.ndarray:
    """Exact sliding max via span doubling: ceil(log2(window)) contiguous
    np.maximum passes instead of a width-`window` strided reduction."""
    res = pad
    span = 1
    while span < window:
        step = min(span, window - span)
        if axis == 1:
            res = np.maximum(res[:, : res.shape[1] - step], res[:, step:])
        else:
            res = np.maximum(res[: res.shape[0] - step], res[step:])
        span += step
    return res


def dilate_horizontal(img: np.ndarray, radius: int) -> np.ndarray:
    """Sliding-window max along x with window 2*radius+1 (edge padded)."""
    if radius <= 0:
        return img
    pad = np.pad(img, ((0, 0), (radius, radius)), mode="edge")
    return _sliding_max(pad, 2 * radius + 1, axis=1)


def dilate_vertical(img: np.ndarray, radius: int) -> np.ndarray:
    if radius <= 0:
        return img
    pad = np.pad(img, ((radius, radius), (0, 0)), mode="edge")
    return _sliding_max(pad, 2 * radius + 1, axis=0)


def perspective_matrix(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """3x3 homography mapping 4 src points to 4 dst points (solve 8x8)."""
    a = np.zeros((8, 8), dtype=np.float64)
    b = np.zeros(8, dtype=np.float64)
    for i in range(4):
        x, y = float(src[i][0]), float(src[i][1])
        u, v = float(dst[i][0]), float(dst[i][1])
        a[2 * i] = [x, y, 1, 0, 0, 0, -u * x, -u * y]
        a[2 * i + 1] = [0, 0, 0, x, y, 1, -v * x, -v * y]
        b[2 * i] = u
        b[2 * i + 1] = v
    coef = np.linalg.solve(a, b)
    return np.append(coef, 1.0).reshape(3, 3)


def warp_perspective(
    img: np.ndarray, quad: np.ndarray, out_w: int, out_h: int
) -> np.ndarray:
    """Warp quad (TL,TR,BR,BL order) to an upright out_h x out_w crop.

    Inverse mapping + bilinear sampling, border replicate — the semantics of
    the reference's get_rotate_crop_image (tools/infer/utility.py:881-896)
    minus the cubic kernel (bilinear is deterministic and sufficient for
    the stub-model parity chain).
    """
    out_w, out_h = max(1, int(out_w)), max(1, int(out_h))
    dst = np.array([[0, 0], [out_w, 0], [out_w, out_h], [0, out_h]], np.float64)
    m = perspective_matrix(dst, np.asarray(quad, np.float64))  # dst -> src
    xs, ys = np.meshgrid(
        np.arange(out_w, dtype=np.float64) + 0.5,
        np.arange(out_h, dtype=np.float64) + 0.5,
    )
    denom = m[2, 0] * xs + m[2, 1] * ys + m[2, 2]
    sx = (m[0, 0] * xs + m[0, 1] * ys + m[0, 2]) / denom - 0.5
    sy = (m[1, 0] * xs + m[1, 1] * ys + m[1, 2]) / denom - 0.5
    h, w = img.shape[:2]
    sx = np.clip(sx, 0, w - 1)
    sy = np.clip(sy, 0, h - 1)
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    wx = (sx - x0).astype(np.float32)
    wy = (sy - y0).astype(np.float32)
    f = img.astype(np.float32)
    out = (
        f[y0, x0] * (1 - wx) * (1 - wy)
        + f[y0, x1] * wx * (1 - wy)
        + f[y1, x0] * (1 - wx) * wy
        + f[y1, x1] * wx * wy
    )
    return out


def rotate180(img: np.ndarray) -> np.ndarray:
    return img[::-1, ::-1].copy()


def rot90k(img: np.ndarray, k: int) -> np.ndarray:
    return np.rot90(img, k).copy()


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash (dHash): mean-pool to 8 rows x 9 cols,
    bit (r, c) = 1 iff cell (r, c) is brighter than cell (r, c+1),
    packed row-major MSB-first. The standard perceptual near-dup
    fingerprint for image corpora (LAION-style dedup): tolerant of
    re-encoding, resampling, and small local edits (a small patch only
    perturbs the one or two pooled cells it lands in), while exact on
    identical pixels. Returned as a SIGNED 64-bit value (two's
    complement) so the hash lands in a Spark `long` column unchanged.

    Locality bound (what makes it a NEAR-dup hash, pinned in
    tests/test_kernels.py): one changed pixel lands in exactly one
    pooled cell (the shrink-path bins are contiguous and disjoint), and
    a cell participates in at most 2 of the 72 row-adjacent comparisons
    — so k changed pixels flip at most 2k bits. Identical pixels give
    identical hashes (pooling is deterministic), so exact duplicates
    always collide: banding the hash for a bucket join has guaranteed
    recall for exact dups and for hamming <= bands-1 near-dups.

    Pooling reuses `adaptive_avg_pool` (reduceat fast path; sums exact
    in float64, means rounded once to float32 — deterministic)."""
    grid = adaptive_avg_pool(np.asarray(img, dtype=np.float64), 8, 9)
    bits = (grid[:, :-1] > grid[:, 1:]).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v
