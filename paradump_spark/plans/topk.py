"""Skew-safe per-key top-n: a partial cut, then a bounded global rank.

A global ``row_number() OVER (PARTITION BY key ORDER BY ...)`` funnels
every row of a key through one task — for hot keys (one query scored
against the whole corpus, one language holding most of a web corpus)
that task receives the key's entire data.  :func:`partial_topk` first
ranks within ``(input partition, key)``: the window's shuffle keys are
``partitions × keys``, so a hot key is spread over every input
partition and no task sees more than one partition's share of it.  The
output keeps at most ``n`` rows per (partition, key) — ≤ ``n ×
input_partitions`` per key, a SUPERSET of the global top-n (each
partition's local top-n contains every global winner that lives in that
partition) — so a second, now-bounded global ranking gives a result
identical to the naive single-window plan whenever ``order_by`` is a
total order.  :func:`top_n` is that pair, written once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def partial_topk(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
) -> DataFrame:
    """Keep each key's top-``n`` rows per INPUT partition (see module
    docstring).  ``order_by`` must be a total order (include a unique
    tiebreaker) for the two-stage plan to reproduce the naive result."""
    w = Window.partitionBy(F.col("__pid"), *[F.col(c) for c in key_cols]).orderBy(
        *order_by
    )
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__ptk", F.row_number().over(w))
        .where(F.col("__ptk") <= n)
        .drop("__pid", "__ptk")
    )


def top_n(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str = "rank",
    bounded: bool = False,
) -> DataFrame:
    """Each key's top-``n`` rows by ``order_by`` (a total order), numbered
    1..n in ``rank_col``: the :func:`partial_topk` cut, then a global
    ``row_number`` over the survivors — equal to the naive single
    window.  ``bounded=True`` skips the cut, for an input that already
    holds few rows per key: one window and no further exchange."""
    if not bounded:
        df = partial_topk(df, key_cols, order_by, n)
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= n
    )
