"""Word-box query surface (SURVEY.md §2.8 word grouping): expose the
cal_word_boxes kernel (kernels/wordbox.py — the analogue of
rec_postprocess.py:72-142 get_word_info + ppstructure/utility.py:243-300
cal_ocr_word_box) as an oracle-backed query.

Per document the first rendered text line runs through the REAL chain —
render_line -> rec_resize -> column segmentation -> box-width
interpolation back to page coordinates — and each produced quad is
reduced to exact invariants the font metrics predict in plain SQL:
one quad per glyph (word_idx), its 32px advance slot recovered from the
quad's x-center (glyph ink spans [slot*32+2, slot*32+18] of the slot,
so a correct interpolation always quantizes back; being off by half a
slot flips the value), and the line band's y extent. A hash-green row
therefore proves cell count AND geometric placement, not just schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

# DuckDB needs the 'g' flag; Spark's regexp_replace is global by default
_NORM = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
_NORM_SPARK = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', ''), 1, 120))"
_MARGIN = 24
_ADV = 32
_LINE_H = 28
_WRAP = 24


def word_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.expr(f"substring({_NORM_SPARK}, 1, {_WRAP})").alias("line1"),
    ).repartition(spark.sparkContext.defaultParallelism)

    import numpy as np

    from paddleocr_spark.kernels.font import render_line
    from paddleocr_spark.kernels.rec import RecModel
    from paddleocr_spark.kernels.wordbox import cal_word_boxes

    model = RecModel()

    def words(doc_id, line):
        if not line:
            return []
        crop = render_line(line)
        h, w = crop.shape
        box = np.array(
            [
                [_MARGIN, _MARGIN],
                [_MARGIN + w, _MARGIN],
                [_MARGIN + w, _MARGIN + h],
                [_MARGIN, _MARGIN + h],
            ],
            dtype=np.float64,
        )
        rows = []
        for i, q in enumerate(cal_word_boxes(crop, box, model)):
            xc = float(q[0][0] + q[1][0]) / 2.0
            rows.append((
                int(doc_id),
                i,
                int((xc - _MARGIN) // _ADV),
                int(round(float(q[0][1]))),
                int(round(float(q[2][1]))),
            ))
        return rows

    return map_rows(
        docs, words,
        "doc_id long, word_idx long, slot long, y_top long, y_bot long",
    )


WORD_BOXES_SQL = f"""
WITH n AS (
  SELECT doc_id, least(length({_NORM}), {_WRAP}) AS l1 FROM documents
)
SELECT doc_id,
       CAST(i AS bigint) AS word_idx,
       CAST(i AS bigint) AS slot,
       CAST({_MARGIN} AS bigint) AS y_top,
       CAST({_MARGIN + _LINE_H} AS bigint) AS y_bot
FROM n, UNNEST(generate_series(0, l1 - 1)) AS t(i)
WHERE l1 > 0
"""
