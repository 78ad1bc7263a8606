"""Z-order (Morton) clustered parquet layout for multi-dimension data
skipping — the Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order idea as a
plain Spark job, for the results/audit tables this pipeline writes.

Why it matters at 100 TB: parquet readers prune ROW GROUPS from the
column min/max statistics in the footer. A single-column sort gives
perfect stats locality for that column and none for any other;
interleaving the bits of two (or more) dimension keys gives every
dimension *partial* locality — an equality filter on host, or a range
filter on capture day, each touch O(n^(1/2)) of the row groups instead
of all of them. No index structure, no extra files: the skipping rides
statistics parquet already stores.

Stats-based pruning only works if the key bits preserve each column's
NATIVE order (min <= v <= max is an order predicate) — hashing a
dimension would balance the interleave but scramble the min/max ranges
and kill the pruning, so `zorder_key` offers order-preserving modes
only:
- mode 'value'  — the value's own low `bits` bits, for integral /
  temporal dimensions already bounded by 2^bits (epoch-day, bucket id).
  Callers pre-scale wider ranges (e.g. `ts div 86400`).
- mode 'prefix' — the first two bytes of a string, shifted to keep the
  most significant bits when bits < 16: coarse lexicographic order,
  exactly what footer min/max on a string column tests. (Delta derives
  rank bits from a range-partition sample instead; the 2-byte prefix is
  the sampling-free equivalent and is fully deterministic.)
The interleave is a fold of shift/and/or terms — pure JVM, whole-stage
codegen, no UDF.

Layout (`zorder_frame`, written by `snapshots.compact(zorder_by=...)`
and `job.py --maintain --zorder`): repartitionByRange on the key
(contiguous key ranges per file — range boundaries come from Spark's
reservoir sample of the key, one extra sampling pass, no global sort) ->
sortWithinPartitions(key) -> plain parquet write. One Exchange total,
scales linearly with executors, and AQE cannot destroy the clustering
because the ordering lives INSIDE each task's partition.

Reference parity note: the reference has no analogue — its outputs are
per-process text files (tools/infer/utility.py --use_mp). This is part
of the Spark-native sink design.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dim_bits(col: Column, mode: str, bits: int) -> Column:
    """Order-preserving integer in [0, 2^bits) for one dimension."""
    if mode == "value":
        return col.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    if mode == "day":
        # timestamps: epoch-day keeps 2^16 days ≈ 179 years in order
        # (raw epoch-seconds would wrap every 18 h inside 16 bits)
        day = (col.cast("long") - col.cast("long") % 86400) / 86400
        return day.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    if mode == "prefix":
        if bits > 16:
            raise ValueError("prefix mode carries at most 16 bits (2 bytes)")
        two = (
            F.coalesce(F.ascii(F.substring(col, 1, 1)), F.lit(0)) * 256
            + F.coalesce(F.ascii(F.substring(col, 2, 1)), F.lit(0))
        ).cast("long")
        # keep the MOST significant bits — truncating low bits coarsens
        # the order; truncating high bits would destroy it
        return F.shiftright(two, 16 - bits)
    raise ValueError(
        f"unknown zorder mode: {mode!r} (use 'value'|'day'|'prefix')"
    )


def zorder_key(dims: list[tuple[Column | str, str]], bits: int = 16) -> Column:
    """Morton-interleaved bigint key over `dims` = [(col, mode), ...],
    mode in {'value', 'prefix'}; `bits` bits per dimension
    (len(dims) * bits must stay <= 63)."""
    n = len(dims)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"{n} dims x {bits} bits exceeds a signed bigint")
    planes = []
    for d, (col, mode) in enumerate(dims):
        c = F.col(col) if isinstance(col, str) else col
        low = _dim_bits(c, mode, bits)
        # scatter this dimension's bit i to interleaved position i*n + d
        planes.append(
            reduce(
                lambda a, b: a.bitwiseOR(b),
                [
                    F.shiftleft(
                        F.shiftright(low, i).bitwiseAND(F.lit(1)), i * n + d
                    )
                    for i in range(bits)
                ],
            )
        )
    return reduce(lambda a, b: a.bitwiseOR(b), planes).alias("__zorder")


def zorder_frame(
    df: DataFrame,
    dims: list[tuple[str, str]],
    num_files: int = 64,
    bits: int = 16,
) -> DataFrame:
    """`df` re-clustered in Z-order over `dims`, `num_files` contiguous
    key ranges (the key is dropped — it only steers placement). This is
    the composable form `plans/snapshots.compact(zorder_by=...)` writes
    as a rewrite snapshot (the Delta OPTIMIZE ZORDER maintenance op)."""
    key = zorder_key(list(dims), bits=bits)
    return (
        df.withColumn("__zorder", key)
        .repartitionByRange(num_files, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
    )


def parse_zorder_spec(spec: str) -> list[tuple[str, str]]:
    """CLI form 'col:mode,col:mode' -> dims list (modes validated by
    zorder_key at build time; 'day' is the timestamp-friendly mode)."""
    dims = []
    for part in spec.split(","):
        col, _, mode = part.strip().partition(":")
        if not col or not mode:
            raise ValueError(
                f"bad zorder spec {part!r}: expected col:mode"
            )
        dims.append((col, mode))
    return dims
