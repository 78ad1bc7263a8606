import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from paddleocr_spark.tuning import local_session

    os.environ.setdefault("PYTHONPATH", REPO)
    s = local_session(8, "paddleocr_spark-tests")
    yield s
    s.stop()


def page_spans(engine, img) -> list[dict]:
    """A page's spans through the extraction task's chain: det, then
    `OcrEngine.ocr_page` on the page and its boxes."""
    from paddleocr_spark.kernels.det import detect_lines

    boxes, _ = detect_lines(img, engine.det_model)
    return engine.ocr_page(img, boxes)


def page_text(engine, img) -> str:
    """A page's extracted text: its span texts joined in reading order."""
    return "\n".join(s["text"] for s in page_spans(engine, img))
