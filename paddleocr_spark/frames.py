"""The two frame-building helpers the operators share.

`map_rows` is the one Python row boundary: every per-row map runs
through it as one Arrow-batched `mapInPandas`. The row function sees
plain Python values and returns output tuples in schema order; the
helper owns the batch loop, the pandas assembly and the column names,
which it reads once from the DDL schema.

`union_branches` builds a suite's branches on a thread pool and unions
them in their literal order.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def map_rows(
    frame: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str,
    cols: Sequence[str] | None = None,
) -> DataFrame:
    """`frame` -> the rows `fn(*row)` returns for each of its rows, as a
    narrow map (no shuffle). `row` holds the values of `cols` (default:
    every column of `frame`) in that order; `fn` returns an iterable of
    tuples in `schema` order, zero or more per input row. An exception
    in `fn` fails the task."""
    names = StructType.fromDDL(schema).names
    cols = list(cols or frame.columns)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for row in zip(*(pdf[c].tolist() for c in cols))
                for out in fn(*row)
            ]
            # a batch with no output rows yields no frame: pandas would
            # type its empty columns float64, which Arrow cannot cast to
            # every schema type (timestamp)
            if rows:
                yield pd.DataFrame(dict(zip(names, map(list, zip(*rows)))))

    return frame.mapInPandas(run, schema=schema)


def union_branches(
    spark: SparkSession, builders: Sequence[tuple[str, Callable[[], DataFrame]]]
) -> DataFrame:
    """Build every `(name, thunk)` branch on a thread pool and union the
    frames by name in the literal list order, so the plan is the one a
    serial build gives.

    Branch construction submits driver-blocking jobs (eager
    localCheckpoints, broadcast-side collects, bounded iteration
    rounds); built serially those leave the cluster idle between
    stages. `inheritable_thread_target` hands each builder thread the
    caller's local properties and tags, so a caller's job group also
    holds the build-time jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=8) as pool:
        frames = list(pool.map(
            inheritable_thread_target(spark)(lambda b: b[1]()), builders
        ))
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out
