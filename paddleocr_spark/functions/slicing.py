"""Query surfaces for the two big-page detection strategies
(SURVEY §2.9): tiled slice detection (ppocr/utils/utility.py
slice_generator + merge_fragmented, carried by kernels/slice.slice_detect)
and the poster-mode recursive window walk (tools/infer/predict_det.py
:307-408, kernels/slice.detect_poster).

Both run the REAL chain end-to-end — render -> PNG -> decode ->
sliced/poster detection -> crop -> rec — and are pinned by the same
byte-exact oracle as ocr_extract_text: the concatenated recognized text
must equal norm(documents.text). Narrow per-doc maps, no shuffle.

Poster pages wrap at 9 chars/line (w=324, window=243): every window
boundary lands mod 80 in {3, 6, 9, 12}, outside the 24..52 ink bands,
so the walk never cuts a line — the geometry the reference expects of
posters (text clear of window edges); docs short enough to miss the
h/w > 2 trigger exercise the single-pass fallback branch instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paddleocr_spark.frames import map_rows

POSTER_WRAP = 9


def _extract_with(pages: DataFrame, detect) -> DataFrame:
    """pages -> per-url joined text via a custom detection strategy
    (boxes = detect(img, det_model)), then the engine's page chain
    (`OcrEngine.ocr_page`: reading order, crop, rec, drop_score).

    Each task unpickles its own engine (the default models) with
    `extract`, and the input takes the flagship path's salted
    repartition so host-skewed url prefixes cannot pin one executor."""
    from paddleocr_spark.kernels.ocr import OcrEngine
    from paddleocr_spark.kernels.png import decode_gray_png
    from paddleocr_spark.plans.pipeline import salted_repartition

    engine = OcrEngine()

    def extract(url, payload):
        img = decode_gray_png(bytes(payload))
        spans = engine.ocr_page(img, detect(img, engine.det_model))
        return [(url, "".join(s["text"] for s in spans))]

    ncpu = pages.sparkSession.sparkContext.defaultParallelism
    return map_rows(
        salted_repartition(pages, ncpu), extract,
        "url string, joined_text string", cols=["url", "html"],
    )


def slice_detect_boxes(img, det_model):
    from paddleocr_spark.kernels.slice import slice_detect

    return slice_detect(img, det_model, tile=300, overlap=100)


def poster_detect_boxes(img, det_model):
    from paddleocr_spark.kernels.slice import detect_poster

    return detect_poster(img, det_model, limit_side_len=960)


def ocr_extract_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile path: every page detected through 300px tiles with 100px
    overlap + fragment merge, never a single whole-page det pass."""
    from paddleocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).select("url", "html")
    return _extract_with(pages, slice_detect_boxes)


def ocr_extract_poster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poster path: tall 9-char-wrap renders walked in windows with the
    reference's roll-back rules; short docs take the fallback branch.
    The wrap-9 corpus rides the same render path + benchmark cache as
    every other fixture (pages_from_documents wrap param)."""
    from paddleocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, wrap=POSTER_WRAP).select(
        "url", "html"
    )
    return _extract_with(pages, poster_detect_boxes)


_NORM = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
OCR_SLICED_SQL = f"""
SELECT concat('https://', source, '.example.test/doc/', CAST(doc_id AS varchar)) AS url,
       {_NORM} AS joined_text
FROM documents
"""
OCR_POSTER_SQL = OCR_SLICED_SQL
