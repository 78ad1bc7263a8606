"""Structure/recovery + multimodal operators: layout reading order,
table cell walk, address assembly, PNG header metadata, frame sampling,
orientation sweep (SURVEY.md §2.3/§2.5/§2.8 + multimodal extensions)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, page_text

from paddleocr_spark.functions import structure
from paddleocr_spark.operators import multimodal


def test_sorted_layout_boxes_column_order(spark):
    df = structure.sorted_layout_boxes(spark, SF_SMALL)
    one = df.filter(F.col("doc_id") == 3).orderBy("read_rank").collect()
    # left column (x0=10 -> column 0) fully precedes right column
    cols = [r.column for r in one]
    assert cols == sorted(cols)
    # within a column, ordered by y0
    for c in (0, 1):
        ys = [r.y0 for r in one if r.column == c]
        assert ys == sorted(ys)


def test_assemble_table_html_walk_and_escape():
    tokens = ["<table>", "<tr>", "<td></td>", "<td></td>", "</tr>", "</table>"]
    out = structure.assemble_table_html(tokens, ["a<b", "c"])
    assert out == "<table><tr><td>a&lt;b</td><td>c</td></tr></table>"
    # more cells than texts -> empty splice, never an index error
    out2 = structure.assemble_table_html(tokens, ["x"])
    assert out2 == "<table><tr><td>x</td><td></td></tr></table>"


def test_address_assembly_order_and_dedup(spark):
    row = (
        structure.address_assembly(spark, SF_SMALL)
        .filter(F.col("doc_id") == 7)
        .collect()[0]
    )
    parts = row.address.split(", ")
    # canonical order: unit, street, area, postcode-city, state
    assert parts[0].startswith("NO ")
    assert parts[1].startswith("JALAN ")
    assert parts[2].startswith("TAMAN ")
    assert parts[3][:5].isdigit()
    assert parts[4] == "SELANGOR"
    # the duplicated street line was deduplicated
    assert len(parts) == 5


def test_png_meta_matches_renderer():
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.png import encode_gray_png

    img = render_page(["ABC"])
    w, h, depth = multimodal.png_meta(encode_gray_png(img))
    assert (h, w) == img.shape
    assert depth == 8
    with pytest.raises(ValueError):
        multimodal.png_meta(b"not a png at all")


def test_frame_sample_every_other(spark):
    df = multimodal.frame_sample(spark, SF_SMALL, every=2)
    idxs = {r.frame_idx for r in df.select("frame_idx").distinct().collect()}
    assert idxs <= {0, 2}
    assert 0 in idxs


def test_orientation_sweep_recovers_rotated_page():
    from paddleocr_spark.kernels.cls import orient_page
    from paddleocr_spark.kernels.det import DetModel, detect_lines
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.imageops import rotate180
    from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image

    eng = OcrEngine()
    text = "HELLOWORLD12345ABCDEFGHI"
    page = render_page([text])
    upright, angle = orient_page(
        rotate180(page),
        lambda im: detect_lines(im, eng.det_model),
        get_rotate_crop_image,
        eng.rec_model,
    )
    assert angle == 180
    assert page_text(eng, upright) == text


def test_image_policy_bitmask_matrix(spark):
    """Every policy bit fires on the right crafted shapes."""
    from pyspark.sql import functions as F

    from paddleocr_spark.operators.multimodal import (
        POLICY_ASPECT,
        POLICY_MIN_AREA,
        POLICY_MIN_SIDE,
    )

    cases = [
        # (w, h, expected bits): 1 = short side, 2 = aspect, 4 = area
        (500, 400, 0),
        (99, 400, 1 | 2 | 4 if 99 * 400 < POLICY_MIN_AREA else 1 | 2),
        (50, 60, 1 | 4),
        (900, 200, 2),
        (140, 141, 4),  # 19740 px just under the area floor
        (100, 300, 0),
        (100, 301, 2),
    ]
    df = spark.createDataFrame(
        [(w, h) for w, h, _ in cases], "width long, height long"
    )
    mn = F.least("width", "height")
    mx = F.greatest("width", "height")
    bits = (
        (mn < POLICY_MIN_SIDE).cast("long")
        + (mx > POLICY_ASPECT * mn).cast("long") * 2
        + (F.col("width") * F.col("height") < POLICY_MIN_AREA).cast("long") * 4
    )
    got = [r["b"] for r in df.select(bits.alias("b")).collect()]
    assert got == [e for _, _, e in cases]


def test_image_policy_rows_fire_on_fixture(spark):
    from paddleocr_spark.operators.multimodal import image_policy_rows
    from tests.conftest import SF_SMALL as _SF

    rows = [r["v"] for r in image_policy_rows(spark, _SF).collect()]
    assert any(v == "0|1" for v in rows)      # keeps exist
    assert any(v.endswith("|0") for v in rows)  # drops exist
