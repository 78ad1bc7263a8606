"""WebDataset tar-shard export — the standard delivery format for
multimodal (image, text) training pairs (Breuel's webdataset: a
directory of POSIX tar shards whose members are `<key>.<ext>` files,
pairs grouped by basename, streamed sequentially by dataloaders; the
format LAION and DataComp ship in).

This is the multimodal twin of `plans/curate.py`'s lang-partitioned
parquet shards: after image-text pair mining
(`html_extract.extract_image_pairs`) + curation, a training run wants
tars, not parquet — sequential reads, no row-group decode,
dataloader-native.

Determinism contract (training shards must be reproducible builds):
 * membership + order: rows are ranked by md5(seed:key) (the
   global_shuffle ordering) and packed PAIRS_PER_SHARD to a shard;
   within a shard, members follow the same hash order. Assignment is
   the EXACT two-phase sharded ranking (256 hash-prefix shards ->
   within-shard row_number -> broadcast offsets), so no task ever
   sorts more than ~1/256 of the corpus and the result equals the
   single-window rank.
 * bytes: ustar format, mtime/uid/gid pinned to 0, empty uname/gname
   -> the tar BYTES are identical across runs and partitionings
   (pinned by sha256 in tests).
 * layout: each pair contributes `<key>.png` + `<key>.txt`, adjacent.

Scale shape: one rank shuffle + one repartition(shard_id); each shard
is then ONE task's sequential write (applyInPandas group), emitting a
manifest row (shard, n_pairs, n_bytes, sha256) — the index a loader
or resume step consults. Shard files land under `out_dir` (an object
store in production; the manifest commit is the atomicity point, the
snapshots.py discipline).
"""

from __future__ import annotations

import hashlib
import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PAIRS_PER_SHARD = 64
SEED = "wds1"


def _ranked(pairs: DataFrame) -> DataFrame:
    """(key, image, text, rank): exact global md5 order via the
    two-phase sharded ranking (global_shuffle discipline)."""
    h = F.md5(F.concat(F.lit(f"{SEED}:"), F.col("key")))
    shard = F.substring(h, 1, 2)
    w = Window.partitionBy("h_shard").orderBy("h_key", "key")
    within = (
        pairs.select(
            "key", "image", "text",
            h.alias("h_key"), shard.alias("h_shard"),
        )
        .withColumn("rn", F.row_number().over(w))
    )
    offsets = (
        within.groupBy("h_shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("h_shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("h_shard", "off")
    )
    return within.join(F.broadcast(offsets), "h_shard").select(
        "key", "image", "text",
        (F.col("off") + F.col("rn") - 1).alias("rank"),
    )


def export_webdataset(
    spark: SparkSession,
    pairs: DataFrame,
    out_dir: str,
    pairs_per_shard: int = PAIRS_PER_SHARD,
) -> DataFrame:
    """Write (key, image binary, text) as WebDataset tar shards under
    `out_dir`; returns the manifest frame (shard_id, n_pairs, n_bytes,
    sha256), one row per written tar."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    ranked = _ranked(pairs).withColumn(
        "shard_id", (F.col("rank") / pairs_per_shard).cast("long")
    )

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rank")
        shard_id = int(pdf["shard_id"].iloc[0])
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for key, img, txt in zip(pdf["key"], pdf["image"], pdf["text"]):
                for ext, payload in (
                    ("png", bytes(img)),
                    ("txt", str(txt).encode("utf-8")),
                ):
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tar.addfile(info, io.BytesIO(payload))
        blob = buf.getvalue()
        path = os.path.join(out_dir, f"shard-{shard_id:06d}.tar")
        with open(path, "wb") as f:
            f.write(blob)
        return pd.DataFrame(
            {
                "shard_id": pd.Series([shard_id], dtype="int64"),
                "n_pairs": pd.Series([len(pdf)], dtype="int64"),
                "n_bytes": pd.Series([len(blob)], dtype="int64"),
                "sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    return ranked.groupBy("shard_id").applyInPandas(
        write_shard,
        schema="shard_id long, n_pairs long, n_bytes long, sha256 string",
    )
