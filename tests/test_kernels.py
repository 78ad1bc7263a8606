"""Unit tests for the pure-numpy kernels (no Spark) — the test strategy
mirrors the reference's per-kernel pytest suite (SURVEY.md §5.1)."""

import itertools
import random

import numpy as np
import pytest

from conftest import page_spans

from paddleocr_spark.kernels import font
from paddleocr_spark.kernels.ctc import ctc_decode
from paddleocr_spark.kernels.db_postprocess import (
    connected_components,
    db_postprocess,
    unclip_rect,
)
from paddleocr_spark.kernels.det import detect_lines
from paddleocr_spark.kernels.geometry import (
    min_area_rect,
    order_points_clockwise,
    sorted_boxes,
)
from paddleocr_spark.kernels.imageops import (
    pool_bins_batch,
    resize_bilinear,
    rotate180,
    warp_perspective,
)
from paddleocr_spark.kernels.multipage import decode_payload
from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image
from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
from paddleocr_spark.kernels.png import decode_gray_png, encode_gray_png


class TestFont:
    def test_all_glyphs_distinct(self):
        # Template matching relies on pairwise separation of the glyph set:
        # at least 2 differing cells AND a clear correlation margin between
        # a glyph and its nearest neighbour template.
        import numpy as np

        for a, b in itertools.combinations(font.CHARSET, 2):
            d = int((font.GLYPHS[a] != font.GLYPHS[b]).sum())
            assert d >= 2, f"{a} vs {b} differ in only {d} cells"
        for c in font.CHARSET:
            v = font.GLYPHS[c].ravel() - font.GLYPHS[c].mean()
            v = v / np.linalg.norm(v)
            scores = font.TEMPLATES @ v
            top2 = np.sort(scores)[-2:]
            assert top2[1] > 0.999
            assert top2[1] - top2[0] > 0.08, f"{c}: margin {top2[1]-top2[0]:.3f}"

    def test_glyphs_have_edge_ink(self):
        # Detection's horizontal-dilation reach assumes every glyph has ink
        # within its 5-col cell; verify no glyph is empty or 1-col wide.
        for c in font.CHARSET:
            cols = font.GLYPHS[c].max(axis=0)
            assert cols.sum() >= 3

    def test_match_glyph_identity(self):
        for c in font.CHARSET:
            ch, corr = font.match_glyph(font.GLYPHS[c])
            assert ch == c
            assert corr > 0.99


class TestPng:
    def test_roundtrip(self):
        rng = np.random.default_rng(42)
        img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
        assert (decode_gray_png(encode_gray_png(img)) == img).all()

    def test_up_filter_and_mixed_filters_decode(self):
        """Foreign PNGs may use the Up filter (type 2); the vectorized
        decoder reconstructs per-segment with wrapping uint8 accumulate,
        including a filter-0 reset mid-stream."""
        import struct
        import zlib

        from paddleocr_spark.kernels.png import _SIG, _chunk

        rng = np.random.default_rng(3)
        h, w = 7, 11
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)

        def up_row(y):
            delta = (img[y].astype(np.int16) - img[y - 1].astype(np.int16)) % 256
            return b"\x02" + delta.astype(np.uint8).tobytes()

        for reset_at in (None, 2):
            rows = [b"\x00" + img[0].tobytes()]
            for y in range(1, h):
                if y == reset_at:
                    rows.append(b"\x00" + img[y].tobytes())
                else:
                    rows.append(up_row(y))
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            png = (
                _SIG
                + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + _chunk(b"IEND", b"")
            )
            assert (decode_gray_png(png) == img).all()

    def test_multipage_roundtrip(self):
        rng = np.random.default_rng(7)
        pages = [rng.integers(0, 256, size=(10 + i, 20), dtype=np.uint8) for i in range(3)]
        out = decode_payload(pdf_encode_gray_pages(pages))
        assert len(out) == 3
        for a, b in zip(pages, out):
            assert (a == b).all()

    def test_page_limit(self):
        pages = [np.full((8, 8), i, np.uint8) for i in range(3)]
        out = decode_payload(pdf_encode_gray_pages(pages), page_limit=2)
        assert [int(img[0, 0]) for img in out] == [0, 1]


class TestGeometry:
    def test_order_points_clockwise(self):
        box = np.array([[10, 10], [0, 10], [0, 0], [10, 0]])
        out = order_points_clockwise(box)
        assert out.tolist() == [[0, 0], [10, 0], [10, 10], [0, 10]]

    def test_min_area_rect_axis_aligned(self):
        pts = np.array([[0, 0], [10, 0], [10, 4], [0, 4], [5, 2]])
        rect, sside = min_area_rect(pts)
        assert sside == pytest.approx(4.0)
        assert rect.min() == pytest.approx(0.0)

    def test_min_area_rect_rotated(self):
        # 45-degree square of diagonal 2
        pts = np.array([[0, -1], [1, 0], [0, 1], [-1, 0]], dtype=float)
        rect, sside = min_area_rect(pts)
        assert sside == pytest.approx(np.sqrt(2), abs=1e-9)

    def test_sorted_boxes_bubble_pass(self):
        # Two boxes on the same visual line (dy < 10) with inverted x must
        # swap; a third on the next line stays after them.
        b = lambda x, y: np.array([[x, y], [x + 5, y], [x + 5, y + 5], [x, y + 5]], dtype=np.float32)
        out = sorted_boxes(np.array([b(50, 0), b(0, 4), b(10, 30)]))
        xs = [bb[0][0] for bb in out]
        assert xs == [0, 50, 10]


class TestImageOps:
    def test_resize_identity(self):
        img = np.arange(12, dtype=np.uint8).reshape(3, 4)
        out = resize_bilinear(img, 3, 4)
        assert np.allclose(out, img)

    @staticmethod
    def _resize_reference(img, out_h, out_w):
        """The plain bilinear formula: clipped pixel-center maps, then the
        same separable blend order as resize_bilinear."""
        h, w = img.shape
        ys = np.clip((np.arange(out_h) + 0.5) * (h / out_h) - 0.5, 0, h - 1)
        xs = np.clip((np.arange(out_w) + 0.5) * (w / out_w) - 0.5, 0, w - 1)
        y0, x0 = np.floor(ys).astype(np.int64), np.floor(xs).astype(np.int64)
        y1, x1 = np.minimum(y0 + 1, h - 1), np.minimum(x0 + 1, w - 1)
        wy = (ys - y0).astype(np.float32)[:, None]
        wx = (xs - x0).astype(np.float32)[None, :]
        f = img.astype(np.float32)
        if out_h * w <= h * out_w:
            mid = f[y0] * (1 - wy) + f[y1] * wy
            return mid[:, x0] * (1 - wx) + mid[:, x1] * wx
        mid = f[:, x0] * (1 - wx) + f[:, x1] * wx
        return mid[y0] * (1 - wy) + mid[y1] * wy

    def test_resize_matches_reference_formula_bit_for_bit(self):
        rng = np.random.default_rng(11)
        for _ in range(300):
            h, w = rng.integers(1, 70, size=2)
            out_h, out_w = rng.integers(1, 90, size=2)
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            want = self._resize_reference(img, out_h, out_w)
            assert resize_bilinear(img, out_h, out_w).tobytes() == want.tobytes()
            into = np.zeros((out_h, out_w + 2), np.float32)
            resize_bilinear(img, out_h, out_w, out=into[:, :out_w])
            assert into[:, :out_w].tobytes() == want.tobytes()

    def test_pool_bins_batch_matches_linspace_edges(self):
        for out_n in (1, 5, 7, 9):
            ns = np.arange(0, 3000)
            lo, hi = pool_bins_batch(ns, out_n)
            for n in (0, 1, 2, 3, 6, 7, 8, 33, 48, 999, 2999):
                b = np.linspace(0, n, out_n + 1).round().astype(np.int64)
                want_hi = np.minimum(np.maximum(b[1:], b[:-1] + 1), n)
                want_lo = np.where(want_hi > 0, np.minimum(b[:-1], want_hi - 1), 0)
                assert np.array_equal(hi[n], want_hi) and np.array_equal(lo[n], want_lo)

    def test_warp_identity_quad(self):
        img = np.arange(100, dtype=np.float32).reshape(10, 10)
        quad = np.array([[0, 0], [10, 0], [10, 10], [0, 10]])
        out = warp_perspective(img, quad, 10, 10)
        assert np.allclose(out, img, atol=1e-3)

    def test_rotate180(self):
        img = np.array([[1, 2], [3, 4]], dtype=np.uint8)
        assert rotate180(img).tolist() == [[4, 3], [2, 1]]


class TestDbPostprocess:
    def test_connected_components_two_blobs(self):
        bm = np.zeros((20, 40), dtype=bool)
        bm[2:6, 2:18] = True
        bm[10:14, 5:30] = True
        comps = connected_components(bm)
        assert len(comps) == 2
        assert comps[0][:, 1].min() == 2  # ordered by min_y

    def test_unclip_rect_delta(self):
        box = np.array([[0, 0], [100, 0], [100, 20], [0, 20]], dtype=float)
        out = unclip_rect(box, 1.5)
        delta = 100 * 20 * 1.5 / 240
        assert out[0][0] == pytest.approx(-delta)
        assert out[2][1] == pytest.approx(20 + delta)

    def test_db_postprocess_box_thresh(self):
        prob = np.zeros((64, 64), dtype=np.float32)
        prob[10:20, 5:60] = 0.9
        boxes, scores = db_postprocess(prob, 64, 64)
        assert len(boxes) == 1
        assert scores[0] > 0.6
        # low-probability blob is dropped by box_thresh
        prob2 = np.zeros((64, 64), dtype=np.float32)
        prob2[10:20, 5:60] = 0.35
        boxes2, _ = db_postprocess(prob2, 64, 64)
        assert len(boxes2) == 0

    def test_min_size_filter(self):
        prob = np.zeros((64, 64), dtype=np.float32)
        prob[10:12, 5:7] = 0.9  # 2x2: below min_size
        boxes, _ = db_postprocess(prob, 64, 64)
        assert len(boxes) == 0


class TestCtc:
    def test_collapse_and_blank(self):
        # classes: 0=blank, 1='0', 2='1' (charset "01")
        p = np.array(
            [[0.0, 0.9, 0.1], [0.0, 0.9, 0.1], [1.0, 0.0, 0.0], [0.0, 0.1, 0.9]],
            dtype=np.float32,
        )
        text, conf = ctc_decode(p, "01")
        assert text == "01"
        assert conf == pytest.approx((0.9 + 0.9 + 0.9) / 3)

    def test_double_letter_needs_blank(self):
        p = np.array([[0, 1], [0, 1]], dtype=np.float32)  # "AA" collapses
        text, _ = ctc_decode(p, "A")
        assert text == "A"
        p2 = np.array([[0, 1], [1, 0], [0, 1]], dtype=np.float32)
        text2, _ = ctc_decode(p2, "A")
        assert text2 == "AA"

    def test_empty(self):
        assert ctc_decode(np.zeros((0, 3), np.float32), "AB") == ("", 0.0)


class TestEndToEnd:
    def test_roundtrip_random_pages(self):
        rng = random.Random(1234)
        eng = OcrEngine()
        for _ in range(10):
            lines = [
                "".join(rng.choice(font.CHARSET) for _ in range(rng.randint(1, 30)))
                for _ in range(rng.randint(1, 5))
            ]
            page = font.render_page(lines)
            got = [s["text"] for s in page_spans(eng, page)]
            assert got == lines

    def test_scores_above_drop(self):
        eng = OcrEngine()
        spans = page_spans(eng, font.render_page(["HELLO123"]))
        assert all(s["score"] >= 0.5 for s in spans)

    def test_low_score_line_filtered(self):
        # Corrupt one line's glyphs with noise so template correlation
        # falls below drop_score (the low_score fixture of FIXTURES.md).
        eng = OcrEngine()
        page = font.render_page(["GOODLINE", "XXXXXXXX"])
        h = page.shape[0]
        rng = np.random.default_rng(0)
        noise = rng.integers(0, 256, size=page[h // 2 :, :].shape, dtype=np.uint8)
        page[h // 2 :, :] = np.minimum(page[h // 2 :, :], noise)
        spans = page_spans(eng, page)
        texts = [s["text"] for s in spans]
        assert "GOODLINE" in texts

    def test_orientation_sweep(self):
        from paddleocr_spark.kernels.cls import orient_page
        from paddleocr_spark.kernels.det import detect_lines as dl

        eng = OcrEngine()
        lines = ["ORIENTATIONTEST", "SECONDLINEHERE"]
        for k in range(4):
            page = np.rot90(font.render_page(lines), k).copy()
            up, angle = orient_page(
                page, lambda im: dl(im, eng.det_model), get_rotate_crop_image, eng.rec_model
            )
            got = [s["text"] for s in page_spans(eng, up)]
            assert got == lines, f"k={k} angle={angle}"

    def test_tsv_serialization_parity(self):
        # Reference sink format: name \t json [{transcription, points}]
        # (tools/infer/predict_system.py:244-267).
        import json

        eng = OcrEngine()
        spans = page_spans(eng, font.render_page(["AB12"]))
        line = "page0\t" + json.dumps(
            [
                {"transcription": s["text"], "points": [[int(x), int(y)] for x, y in s["box"]]}
                for s in spans
            ]
        )
        assert line.startswith('page0\t[{"transcription": "AB12"')


class TestBoxScoreSlow:
    """Polygon-mask scoring (the reference's det_box_type='poly' slow
    path) pinned against an independent per-pixel ray-cast."""

    def _raycast_score(self, prob, poly):
        import numpy as np

        h, w = prob.shape
        pts = np.asarray(poly, float)
        n = len(pts)
        vals = []
        for y in range(h):
            for x in range(w):
                cx, cy = x + 0.5, y + 0.5
                inside = False
                for i in range(n):
                    x0, y0 = pts[i]
                    x1, y1 = pts[(i + 1) % n]
                    if (y0 <= cy) != (y1 <= cy):
                        t = (cy - y0) / (y1 - y0)
                        if cx < x0 + t * (x1 - x0):
                            inside = not inside
                if inside:
                    vals.append(prob[y, x])
        return float(np.mean(vals)) if vals else 0.0

    def test_matches_raycast_on_random_polygons(self):
        import numpy as np

        from paddleocr_spark.kernels.db_postprocess import box_score_slow

        rng = np.random.default_rng(7)
        for _ in range(20):
            prob = rng.random((18, 24))
            cx, cy = rng.uniform(6, 18), rng.uniform(5, 13)
            angles = np.sort(rng.uniform(0, 2 * np.pi, rng.integers(3, 8)))
            r = rng.uniform(2.0, 5.0, len(angles))
            poly = np.stack(
                [cx + r * np.cos(angles), cy + r * np.sin(angles)], axis=1
            )
            got = box_score_slow(prob, poly)
            want = self._raycast_score(prob, poly)
            assert abs(got - want) < 1e-9, (got, want)

    def test_equals_fast_on_pixel_aligned_rect(self):
        import numpy as np

        from paddleocr_spark.kernels.db_postprocess import (
            box_score_fast,
            box_score_slow,
        )

        prob = np.random.default_rng(3).random((12, 16))
        # polygon through pixel corners -> centers inside are x 3..8,
        # y 4..7 under any boundary convention
        rect = np.array([[3.0, 4.0], [9.0, 4.0], [9.0, 8.0], [3.0, 8.0]])
        slow = box_score_slow(prob, rect)
        fast = box_score_fast(prob, np.array([[3, 4], [8, 4], [8, 7], [3, 7]]))
        assert abs(slow - fast) < 1e-9


class TestDhash64:
    """dhash64: determinism, signed packing, and the locality bound that
    makes banded-join recall provable (operators/multimodal.py
    image_dhash_dedup relies on hamming <= 2 per changed pixel)."""

    def test_known_grid(self):
        from paddleocr_spark.kernels.imageops import dhash64

        # 8x9 image == the pooled grid itself; strictly increasing
        # columns -> every left cell < right cell -> all 72 bits are 0.
        img = np.tile(np.arange(9, dtype=np.uint8), (8, 1))
        assert dhash64(img) == 0
        # strictly decreasing columns -> all 64 kept bits are 1 -> -1
        # in two's complement (the signed-long packing contract).
        assert dhash64(img[:, ::-1]) == -1

    def test_deterministic_and_exact_dup(self):
        from paddleocr_spark.kernels.imageops import dhash64

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
        assert dhash64(img) == dhash64(img.copy())

    def test_locality_bound_random(self):
        """k flipped pixels change at most 2k bits (each pixel lands in
        one pooled cell; a cell joins <= 2 row-adjacent comparisons)."""
        from paddleocr_spark.kernels.imageops import dhash64

        rng = np.random.default_rng(42)
        for _ in range(40):
            h = int(rng.integers(8, 200))
            w = int(rng.integers(9, 200))
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            base = dhash64(img)
            k = int(rng.integers(1, 4))
            pert = img.copy()
            for _ in range(k):
                y, x = int(rng.integers(h)), int(rng.integers(w))
                pert[y, x] ^= 0x80
            d = (dhash64(img) ^ dhash64(pert)) & ((1 << 64) - 1)
            assert base == dhash64(img)  # pure
            assert bin(d).count("1") <= 2 * k

    def test_signed_range(self):
        from paddleocr_spark.kernels.imageops import dhash64

        rng = np.random.default_rng(3)
        for _ in range(20):
            img = rng.integers(0, 256, size=(31, 41), dtype=np.uint8)
            v = dhash64(img)
            assert -(1 << 63) <= v < (1 << 63)
