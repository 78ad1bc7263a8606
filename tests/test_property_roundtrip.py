"""Property-based OCR round-trip: ANY renderable page (random charset
lines, optional single internal spaces, dashes) must extract
byte-identically. The reference has no property testing (SURVEY.md §5);
this is the strongest guard we have against segmentation /
space-decoding / dilation-window regressions — the h_dilate=24 fix for
narrow pages (space gap > dilation window at det ratio 1) was found
exactly this way."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from conftest import page_text

from paddleocr_spark.kernels.font import CHARSET, render_page
from paddleocr_spark.kernels.ocr import OcrEngine

_ENGINE = OcrEngine()


def _line() -> st.SearchStrategy[str]:
    base = st.text(alphabet=CHARSET, min_size=1, max_size=24)

    def add_space(args):
        s, frac = args
        if len(s) < 3:
            return s
        pos = 1 + int(frac * (len(s) - 2))
        return s[:pos] + " " + s[pos + 1 :]

    with_space = st.tuples(
        st.text(alphabet=CHARSET, min_size=5, max_size=24),
        st.floats(min_value=0.0, max_value=0.999),
    ).map(add_space)
    return st.one_of(base, with_space)


@settings(max_examples=60, deadline=None)
@given(st.lists(_line(), min_size=1, max_size=4))
# all-dash lines: their crop is only the bar tall, so the rec resize
# magnifies their gaps past the space width unless they are rescaled
@example(["--"])
@example(["-- ---", "AB"])
def test_any_renderable_page_roundtrips(lines):
    got = page_text(_ENGINE, render_page(lines))
    assert got == "\n".join(lines)
