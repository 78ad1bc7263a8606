"""Coarse rotation detectors + prioritized sweep integration
(SURVEY.md §2.9 rotation detectors, §2.4 rotation-vote combine)."""

import numpy as np

from paddleocr_spark.kernels.cls import orient_page
from paddleocr_spark.kernels.det import detect_lines
from paddleocr_spark.kernels.font import render_page
from paddleocr_spark.kernels.imageops import rot90k
from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image
from paddleocr_spark.kernels.rotation import (
    contour_detector,
    estimate_rotation,
    gradient_detector,
    projection_detector,
)

TEXT = "THEQUICKBROWNFOXJUMPSOVER"
LINES = [TEXT[i : i + 12] for i in range(0, len(TEXT), 12)]


def test_detectors_find_axis_at_all_four_rotations():
    img = render_page(LINES)
    for k in range(4):
        rotated = rot90k(img, k)
        want_axis = 90 if k % 2 else 0
        axis, score = estimate_rotation(rotated)
        assert axis == want_axis, f"k={k}"
        assert score > 0.4
        for det in (projection_detector, gradient_detector, contour_detector):
            a, conf = det(rotated)
            assert a == want_axis and conf > 0.5


def test_blank_page_votes_axis0_with_zero_confidence():
    blank = np.full((100, 100), 255, np.uint8)
    axis, score = estimate_rotation(blank)
    assert axis == 0 and score == 0.0


def test_orient_page_recovers_all_four_rotations():
    eng = OcrEngine()
    img = render_page(LINES)
    for k in range(4):
        rotated = rot90k(img, k)
        upright, angle = orient_page(
            rotated,
            lambda im: detect_lines(im, eng.det_model),
            get_rotate_crop_image,
            eng.rec_model,
        )
        assert angle == (360 - 90 * k) % 360 or (k == 0 and angle == 0)
        assert eng.extract_text(upright) == "\n".join(LINES)


def test_oriented_page_runs_det_once_per_probe(monkeypatch):
    """The extraction task reuses the accepted orientation probe's det:
    a 180-degree page costs one detect_lines call per probe, not
    probes + 1."""
    import pandas as pd

    from paddleocr_spark.kernels import cls, det
    from paddleocr_spark.kernels.imageops import rotate180
    from paddleocr_spark.kernels.png import encode_gray_png
    from paddleocr_spark.plans.pipeline import _ocr_batches_run

    calls = {"det": 0, "probe": 0}
    real_det, real_orient = det.detect_lines, cls.orient_page

    def counting_det(*args, **kwargs):
        calls["det"] += 1
        return real_det(*args, **kwargs)

    def counting_orient(img, detect_fn, *args, **kwargs):
        def probe(im):
            calls["probe"] += 1
            return detect_fn(im)

        return real_orient(img, probe, *args, **kwargs)

    monkeypatch.setattr(det, "detect_lines", counting_det)
    monkeypatch.setattr(cls, "orient_page", counting_orient)
    page = rotate180(render_page(LINES))
    batch = pd.DataFrame({"url": ["u"], "html": [encode_gray_png(page)]})
    (out,) = list(_ocr_batches_run(iter([batch]), page_limit=0, orient=True))
    assert out["extracted_text"][0] == "\n".join(LINES)
    assert calls["probe"] == 2  # the upright probe fails, 180 is accepted
    assert calls["det"] == calls["probe"]


def test_reverse_rtl_segments_matches_reference_semantics():
    from paddleocr_spark.kernels.ctc import reverse_rtl_segments

    # pure LTR: unchanged
    assert reverse_rtl_segments("ABC 123") == "ABC 123"
    # pure Arabic: fully reversed
    assert reverse_rtl_segments("ابت") == "تبا"
    # mixed: LTR runs intact, run order flipped, Arabic chars reversed
    assert (
        reverse_rtl_segments("abابcd")
        == "cdباab"
    )
    assert reverse_rtl_segments("") == ""


class TestOrientationRubric:
    """The fork's exact scoring rubric (fastapi_app.py:365-408)."""

    def test_scoring_components(self):
        from paddleocr_spark.kernels.cls import score_orientation_text

        # +2 per header keyword, +3 for IC, +1 for >=5 lines
        assert score_orientation_text(["MYKAD"]) == 2.0
        assert score_orientation_text(["MYKAD WARGANEGARA"]) == 4.0
        assert score_orientation_text(["880101-14-5523"]) == 3.0
        assert score_orientation_text(["A", "BB", "CC", "DD", "EE"]) == 1.0
        # noise penalty only above 5 one-char lines, -0.5 each
        noisy = ["MYKAD"] + ["X"] * 6
        assert score_orientation_text(noisy) == 2.0 + 1.0 - 3.0

    def test_tiebreaks_prefer_count_then_zero_then_noflip(self):
        from paddleocr_spark.kernels.cls import sweep_orientations_rubric

        # same score, higher count wins
        assert sweep_orientations_rubric(
            [(90, None, ["MYKAD"]), (180, None, ["MYKAD", "AB"])]
        ) == (180, None)
        # same score+count, angle 0 wins even when seen later
        assert sweep_orientations_rubric(
            [(90, None, ["MYKAD"]), (0, None, ["MYKAD"])]
        ) == (0, None)
        # same score+count, both nonzero angles: a LATER unflipped
        # candidate steals the tie (fastapi_app.py:398 tests only the
        # challenger's flip — faithful quirk, see the kernel docstring)
        assert sweep_orientations_rubric(
            [(90, "horizontal", ["MYKAD"]), (270, None, ["MYKAD"])]
        ) == (270, None)
        # an equal later no-flip replaces an earlier flip at the same angle
        assert sweep_orientations_rubric(
            [(90, "horizontal", ["MYKAD"]), (90, None, ["MYKAD"])]
        ) == (90, None)
        # the quirk's flagship case: even angle 0 seen FIRST loses an
        # exact tie to a later unflipped candidate
        assert sweep_orientations_rubric(
            [(0, None, ["MYKAD"]), (180, None, ["MYKAD"])]
        ) == (180, None)
        # but a flipped later candidate cannot steal (no clause fires)
        assert sweep_orientations_rubric(
            [(90, None, ["MYKAD"]), (180, "horizontal", ["MYKAD"])]
        ) == (90, None)

    def test_early_exit_stops_sweep(self):
        from paddleocr_spark.kernels.cls import sweep_orientations_rubric

        strong = ["MYKAD", "880101-14-5523"] + [f"L{i}" for i in range(10)]
        # a later higher-count candidate is never reached once the
        # early-exit condition (score>=3, count>=10) fires
        got = sweep_orientations_rubric(
            [(180, None, strong), (0, None, strong + ["MORE"])]
        )
        assert got == (180, None)

    def test_fallback_first_three_line_candidate(self):
        from paddleocr_spark.kernels.cls import sweep_orientations_rubric

        # all candidates score 0 with <5 lines and no keywords -> the
        # cascade still keeps the first nonempty; fallback applies only
        # when nothing had text at all
        assert sweep_orientations_rubric([(0, None, [])]) == (0, None)

    def test_end_to_end_recovers_180(self):
        from paddleocr_spark.kernels.cls import orient_page_rubric
        from paddleocr_spark.kernels.imageops import rot90k
        from paddleocr_spark.kernels.ocr import OcrEngine

        eng = OcrEngine()
        lines = ["MYKAD", "880101-14-5523", "KHALID BIN SALIM"]
        img = render_page(lines)
        rotated = rot90k(img, 2)  # 180
        upright, angle = orient_page_rubric(
            rotated, lambda im: eng.extract_text(im).split("\n")
        )
        assert angle == 180
        assert eng.extract_text(upright) == "\n".join(lines)
