"""Multimodal binary-column operators for training-data pipelines.

Images / audio / video are opaque `binary` columns with typed metadata
extracted or derived by Arrow-batched UDFs (`mapInPandas`) — never
decoded driver-side, never per-row Python. This mirrors how the
reference treats documents as opaque bytes until the decode stage
(ppocr/data/imaug/operators.py:30-68 DecodeImage, bytes -> image inside
the pipeline), generalized to the other modalities a 100 TB corpus
carries.

Real here (the container has numpy + our PNG codec):
- `image_meta`: parse PNG IHDR width/height/bit-depth straight from the
  payload header — no full decode, so the scan stays cheap.
- `image_resize_feature`: full decode to the image's dimensions and
  exact mean intensity, via the kernel library.
- `frame_sample`: explode a multi-page PDF (kernels/pdf) to
  one row per k-th frame — the video-frame-sampling plan shape
  (posexplode + modulo filter BEFORE the heavy per-frame work).

Uncompressed audio/video decode is REAL in operators/media.py (RIFF
WAVE PCM + YUV4MPEG2 need no codec library); the compressed codecs that
still need a library (MPEG audio synthesis, h264 pixels) are not
decoded at all.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def png_meta(data: bytes) -> tuple[int, int, int]:
    """(width, height, bit_depth) from the PNG IHDR without decoding.
    PNG layout: 8-byte signature, IHDR length+type, then W/H/depth."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", data[16:24])
    depth = data[24]
    return int(w), int(h), int(depth)


# -- queries -----------------------------------------------------------------


def _pages(spark: SparkSession, sf_dir: str, multipage: bool = False) -> DataFrame:
    from paddleocr_spark.sources.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir, multipage=multipage)


def image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG header metadata per page payload (no full decode)."""
    pages = _pages(spark, sf_dir).select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [png_meta(bytes(b)) for b in pdf["html"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "bit_depth": [m[2] for m in metas],
                }
            )

    return pages.mapInPandas(
        run, schema="url string, width long, height long, bit_depth long"
    )


# Oracle: the renderer's geometry is deterministic (kernels/font.py
# render_page: glyph 5x7 at scale 4, spacing 12, margin 24, line_gap 52;
# lines wrap at 24 chars) so W/H are pure SQL arithmetic over the
# normalized text length.
_L = "length(upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120)))"
IMAGE_META_SQL = f"""
SELECT concat('https://', source, '.example.test/doc/', CAST(doc_id AS string)) AS url,
       CASE WHEN {_L} = 0 THEN 80
            ELSE least({_L}, 24) * 32 - 12 + 48 END AS width,
       CASE WHEN {_L} = 0 THEN 76
            ELSE 80 * CAST(ceil({_L} / 24.0) AS bigint) - 4 END AS height,
       8 AS bit_depth
FROM documents
"""


def image_resize_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-decode feature scan with a STRICT oracle: per image the
    decoded dimensions and the exact global mean intensity. The mean
    depends on every pixel, so a hash-green row proves the whole
    render -> PNG encode -> decode chain bit-exactly; the renderer's ink
    budget is pure glyph arithmetic (16 px per font cell), which makes
    the expected mean plain SQL over `documents` (see
    IMAGE_RESIZE_FEATURE_SQL). The mean is an exact IEEE division of
    integers on both engines — no rounding needed."""
    pages = _pages(spark, sf_dir).select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from paddleocr_spark.kernels.png import decode_gray_png

        for pdf in batches:
            urls, ws, hs, means = [], [], [], []
            for url, b in zip(pdf["url"], pdf["html"]):
                img = decode_gray_png(bytes(b))
                h, w = img.shape
                urls.append(url)
                ws.append(int(w))
                hs.append(int(h))
                means.append(float(img.mean()))
            yield pd.DataFrame(
                {"url": urls, "width": ws, "height": hs, "ink_mean": means}
            )

    return pages.mapInPandas(
        run, schema="url string, width long, height long, ink_mean double"
    )


def _image_resize_feature_sql() -> str:
    """Expected decode stats from documents alone: W/H follow the
    renderer arithmetic (same as IMAGE_META_SQL) and the ink pixel count
    is sum over chars of glyph-popcount * scale^2 (glyphs never overlap:
    advance 32px > glyph 20px; page mean = 255*(area-ink)/area since ink
    renders as 0 on a 255 background)."""
    from paddleocr_spark.kernels.font import GLYPHS

    terms = []
    for ch in sorted(set("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")):
        pop = int(GLYPHS[ch].sum())
        terms.append(f"{pop} * (length(nt) - length(replace(nt, '{ch}', '')))")
    ink_cells = " + ".join(terms)
    return f"""
WITH n AS (
  SELECT concat('https://', source, '.example.test/doc/', CAST(doc_id AS string)) AS url,
         upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120)) AS nt
  FROM documents
), dims AS (
  SELECT url, nt,
         CASE WHEN length(nt) = 0 THEN 80
              ELSE least(length(nt), 24) * 32 + 36 END AS width,
         CASE WHEN length(nt) = 0 THEN 76
              ELSE 80 * CAST(ceil(length(nt) / 24.0) AS bigint) - 4 END AS height,
         16 * ({ink_cells}) AS ink_px
  FROM n
)
SELECT url, width, height,
       CAST(255 * (width * height - ink_px) AS double) / (width * height) AS ink_mean
FROM dims
"""


IMAGE_RESIZE_FEATURE_SQL = _image_resize_feature_sql()


def frame_sample(spark: SparkSession, sf_dir: str, every: int = 2) -> DataFrame:
    """Multi-frame payloads -> one row per sampled frame (idx % every == 0)
    with per-frame dims. The modulo filter runs on the lightweight header
    walk BEFORE any pixel decode — the shape that matters for video at
    scale."""
    pages = _pages(spark, sf_dir, multipage=True).select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from paddleocr_spark.kernels.pdf import pdf_page_dims

        rows = []
        for pdf in batches:
            for url, data in zip(pdf["url"], pdf["html"]):
                # dims come from the object DICTIONARIES (pdf_page_dims)
                # — no image stream is sliced or decompressed for
                # skipped OR kept frames
                for idx, (w, h) in enumerate(pdf_page_dims(bytes(data))):
                    if idx % every == 0:
                        rows.append((url, idx, w, h))
        yield pd.DataFrame(
            rows, columns=["url", "frame_idx", "width", "height"]
        )

    return pages.mapInPandas(
        run, schema="url string, frame_idx long, width long, height long"
    )


def _frame_sample_sql() -> str:
    # Multipage chunks of 120 chars over norm(text) @ 300; frames 0 and 2
    # survive every=2. Frame dims follow the same renderer arithmetic
    # per-chunk (chunk k length = clamp(L - 120k, 0, 120)).
    parts = []
    for k in (0, 2):
        ln = f"least(greatest({_L300} - {120 * k}, 0), 120)"
        parts.append(
            "SELECT concat('https://', source, '.example.test/doc/',"
            " CAST(doc_id AS string)) AS url,"
            f" CAST({k} AS bigint) AS frame_idx,"
            f" CASE WHEN {ln} = 0 THEN 80 ELSE least({ln}, 24) * 32 + 36 END AS width,"
            f" CASE WHEN {ln} = 0 THEN 76 ELSE 80 * CAST(ceil({ln} / 24.0) AS bigint) - 4 END AS height"
            " FROM documents"
            + (f" WHERE {_L300} > {120 * k}" if k else "")
        )
    return " UNION ALL ".join(parts)


_L300 = "length(upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 300)))"
FRAME_SAMPLE_SQL = _frame_sample_sql()


def _image_signatures(
    spark: SparkSession, sf_dir: str, variants: bool = False
) -> DataFrame:
    """One decode pass per page -> (url, dhash, sha): the 64-bit
    perceptual dHash (kernels/imageops.dhash64) plus a 64-bit exact
    content key (sha256 over dims + raw pixels, truncated — the
    verification hash an image-dedup pipeline groups on). With
    variants=True each page also emits a `url#v2` row whose image
    differs by exactly ONE flipped pixel — the deterministic stand-in
    for a re-encoded/lightly-edited near-duplicate (the real corpus's
    JPEG re-save), guaranteed within hamming 2 of its base by the
    dhash64 locality bound."""
    pages = _pages(spark, sf_dir).select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from paddleocr_spark.kernels.imageops import dhash64
        from paddleocr_spark.kernels.png import decode_gray_png

        for pdf in batches:
            urls, dhs, shas = [], [], []

            def emit(url: str, img: np.ndarray) -> None:
                urls.append(url)
                dhs.append(dhash64(img))
                h = hashlib.sha256()
                h.update(struct.pack(">II", *img.shape))
                h.update(np.ascontiguousarray(img, dtype=np.uint8).tobytes())
                shas.append(int.from_bytes(h.digest()[:8], "big", signed=True))

            for url, b in zip(pdf["url"], pdf["html"]):
                img = decode_gray_png(bytes(b))
                emit(str(url), img)
                if variants:
                    v = img.copy()
                    v[v.shape[0] // 3, v.shape[1] // 3] ^= 0x80
                    emit(str(url) + "#v2", v)
            yield pd.DataFrame({"url": urls, "dhash": dhs, "sha": shas})

    return pages.mapInPandas(run, schema="url string, dhash long, sha long")


def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup, the LAION-style corpus shape: candidate
    generation by BANDED dHash (never all-pairs) + exact verification.
    Two union-tagged branches:

    - `dhash_dup`: verified exact-duplicate images. Scale path is one
      window over the 64-bit content key (single shuffle on `sha`);
      emits every member of a >=2 group with its canonical (min url).
      Oracle is closed-form: pixel equality <=> normalized-text
      equality under the deterministic renderer, so DuckDB groups
      `documents` by norm(text).
    - `dhash_near`: recall of planted one-pixel near-dup variants
      through the banded LSH join. 4 bands x 16 bits over the dHash;
      a pair within hamming <= 2 differs in at most 2 bands, so at
      least 2 bands match exactly (pigeonhole) — recall is guaranteed,
      which is what makes the strict oracle (every base url recovered
      exactly once) sound. Precision (cross-text candidates, e.g. pages
      sharing a long prefix) is handled the way real pipelines do:
      verify-stage filtering; the gate branch keeps only same-base
      pairs and pins the general hamming filter in pytest.

    Skew: band buckets on structured pages are low-entropy; measured at
    sf0.01 the top 16-bit bucket holds 24 of 1000 sigs (~5.4k candidate
    pair-rows total), growing ~linearly with corpus — at 10^12 docs the
    bucket join takes the same DF-cap treatment as ngram_jaccard_pairs
    (documented trade: a cap bounds per-key cost but waives the recall
    proof for pairs whose 2 surviving bands are both capped)."""
    sig = _image_signatures(spark, sf_dir, variants=True)
    base_sig = sig.filter(~F.col("url").endswith("#v2"))

    from pyspark.sql.window import Window

    w = Window.partitionBy("sha")
    dup = (
        base_sig.withColumn("canon", F.min("url").over(w))
        .withColumn("c", F.count(F.lit(1)).over(w))
        .filter(F.col("c") > 1)
        .select(
            F.lit("dhash_dup").alias("op"),
            F.col("url").alias("k"),
            F.col("canon").alias("v"),
        )
    )

    bands = sig.select(
        "url",
        "dhash",
        F.regexp_replace("url", "#v2$", "").alias("base"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("dhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("url", "dhash", "base", "bk.band", "bk.val")
    a, b = bands.alias("a"), bands.alias("b")
    near = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.url") < F.col("b.url")),
        )
        .select(
            F.col("a.url").alias("ua"),
            F.col("b.url").alias("ub"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
            F.col("a.base").alias("base_a"),
            F.col("b.base").alias("base_b"),
        )
        .dropDuplicates(["ua", "ub"])
        .filter(
            (F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 2)
            & (F.col("base_a") == F.col("base_b"))
        )
        .select(
            F.lit("dhash_near").alias("op"),
            F.col("base_a").alias("k"),
            F.lit("1").alias("v"),
        )
        .distinct()
    )
    return dup.unionByName(near)


_NT = "upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))"
IMAGE_DHASH_DEDUP_SQL = f"""
WITH n AS (
  SELECT concat('https://', source, '.example.test/doc/', CAST(doc_id AS string)) AS url,
         {_NT} AS nt
  FROM documents
), g AS (
  SELECT nt, min(url) AS canon, count(*) AS c FROM n GROUP BY nt
)
SELECT 'dhash_dup' AS op, n.url AS k, g.canon AS v
FROM n JOIN g ON n.nt = g.nt WHERE g.c > 1
UNION ALL
SELECT 'dhash_near' AS op, url AS k, '1' AS v FROM n
"""


def multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_meta + image_resize_feature + frame_sample as ONE
    union-tagged (op, k, v) gate row (board consolidation — the three
    standalone builders above stay the public API). The resize branch's
    ink_mean is a double, so the suite ships the exact integer numerator
    round(ink_mean * width * height) = 255*(area - ink_px): the division
    is a single correctly-rounded IEEE op on both engines, and numerator
    < 2^27 makes the round-trip through the double exact."""
    im = image_meta(spark, sf_dir).select(
        F.lit("image_meta").alias("op"),
        F.col("url").alias("k"),
        F.concat_ws("|", "width", "height", "bit_depth").alias("v"),
    )
    rz = image_resize_feature(spark, sf_dir).select(
        F.lit("resize_feature").alias("op"),
        F.col("url").alias("k"),
        F.concat_ws(
            "|",
            "width",
            "height",
            F.round(F.col("ink_mean") * F.col("width") * F.col("height"))
            .cast("long"),
        ).alias("v"),
    )
    fs = frame_sample(spark, sf_dir).select(
        F.lit("frame_sample").alias("op"),
        F.concat_ws("|", "url", "frame_idx").alias("k"),
        F.concat_ws("|", "width", "height").alias("v"),
    )
    dd = image_dhash_dedup(spark, sf_dir)
    return (
        im.unionByName(rz)
        .unionByName(fs)
        .unionByName(dd)
        .unionByName(image_policy_rows(spark, sf_dir))
    )


# LAION/DataComp-style image admission policy: the pre-filter a
# multimodal training build runs BEFORE paying any decode — header
# metadata only. Reason bitmask: 1 = short side under MIN_SIDE,
# 2 = aspect ratio over POLICY_ASPECT, 4 = area under MIN_AREA.
POLICY_MIN_SIDE = 100
POLICY_ASPECT = 3       # max_side <= 3 * min_side, exact integer compare
POLICY_MIN_AREA = 20000


def image_policy_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(op='image_policy', k=url, v=bits|keep) over the header walk."""
    meta = image_meta(spark, sf_dir)
    mn = F.least("width", "height")
    mx = F.greatest("width", "height")
    bits = (
        (mn < POLICY_MIN_SIDE).cast("long")
        + (mx > POLICY_ASPECT * mn).cast("long") * 2
        + (F.col("width") * F.col("height") < POLICY_MIN_AREA).cast(
            "long"
        )
        * 4
    )
    return meta.select(
        F.lit("image_policy").alias("op"),
        F.col("url").alias("k"),
        F.concat_ws(
            "|", bits.alias("bits"), (bits == 0).cast("int")
        ).alias("v"),
    )


MULTIMODAL_SUITE_SQL = f"""
SELECT 'image_meta' AS op, url AS k,
       width || '|' || height || '|' || bit_depth AS v
FROM ({IMAGE_META_SQL.strip()}) im
UNION ALL
SELECT 'resize_feature' AS op, url AS k,
       width || '|' || height || '|' ||
       CAST(round(ink_mean * width * height) AS BIGINT) AS v
FROM ({IMAGE_RESIZE_FEATURE_SQL.strip()}) rz
UNION ALL
SELECT 'frame_sample' AS op, url || '|' || frame_idx AS k,
       width || '|' || height AS v
FROM ({FRAME_SAMPLE_SQL.strip()}) fs
UNION ALL
SELECT op, k, v FROM ({IMAGE_DHASH_DEDUP_SQL.strip()}) dd
UNION ALL
SELECT 'image_policy' AS op, url AS k,
       bits || '|' || CAST(bits = 0 AS int) AS v
FROM (
  SELECT url,
         CAST(least(width, height) < {POLICY_MIN_SIDE} AS int)
         + CAST(greatest(width, height) >
                {POLICY_ASPECT} * least(width, height) AS int) * 2
         + CAST(width * height < {POLICY_MIN_AREA} AS int) * 4 AS bits
  FROM ({IMAGE_META_SQL.strip()}) pm)
"""
