"""Storage layouts that let min/max statistics skip files.

- :func:`write_range_clustered` — range-partition + sort-within-partitions
  on a clustering column before writing: each parquet file covers a narrow,
  non-overlapping value range, so min/max row-group statistics prune files
  for range predicates (the data-layout lever once directory-level
  partition pruning is exhausted).
- :func:`zorder_key` / :func:`write_zordered` — the two-column form: files
  clustered on a Morton key prune for predicates on either column.

Directory partitioning and bucketing are Spark's own
``DataFrameWriter.partitionBy`` and ``bucketBy``; they need no wrapper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_range_clustered(
    df: DataFrame, path: str, col: str, n_files: int = 8, mode: str = "overwrite"
) -> None:
    """Write parquet range-clustered on ``col``: repartitionByRange gives
    each output file a disjoint value range and the within-partition sort
    tightens row-group min/max stats, so scans with range predicates on
    ``col`` skip whole files/row-groups at planning time."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_key(df: DataFrame, col_x: str, col_y: str, bits: int = 8) -> DataFrame:
    """Append a Morton (Z-order) key interleaving ``col_x`` and ``col_y``.

    Each column is scaled to a ``bits``-bit integer bucket using global
    min/max bounds (one 1-row aggregate, broadcast — the only extra pass),
    then the bucket bits are interleaved with shift/or expressions that
    stay inside whole-stage codegen. Rows close in Morton order are close
    in BOTH dimensions, which is what makes the written layout skippable
    on either column.
    """
    bounds = df.agg(
        F.min(col_x).alias("_mnx"),
        F.max(col_x).alias("_mxx"),
        F.min(col_y).alias("_mny"),
        F.max(col_y).alias("_mxy"),
    )
    top = (1 << bits) - 1

    def bucket(col: str, mn: str, mx: str) -> Column:
        span = F.col(mx).cast("double") - F.col(mn).cast("double")
        frac = (F.col(col).cast("double") - F.col(mn).cast("double")) / F.when(
            span > 0, span
        ).otherwise(F.lit(1.0))
        return F.least(F.floor(frac * (top + 1)).cast("long"), F.lit(top))

    with_b = df.crossJoin(F.broadcast(bounds)).withColumns(
        {
            "_bx": bucket(col_x, "_mnx", "_mxx"),
            "_by": bucket(col_y, "_mny", "_mxy"),
        }
    )
    morton = F.lit(0).cast("long")
    for b in range(bits):
        morton = morton.bitwiseOR(
            F.shiftleft(F.shiftright("_bx", b).bitwiseAND(F.lit(1)), 2 * b + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright("_by", b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return with_b.withColumn("_z", morton).drop("_mnx", "_mxx", "_mny", "_mxy", "_bx", "_by")


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-ordered on two columns: range-partition + sort on
    the Morton key so each file covers a compact rectangle in (x, y) space
    and min/max row-group statistics prune files for predicates on EITHER
    column — the layout lever for fact tables filtered on more than one
    dimension (``write_range_clustered`` only helps its single column).
    """
    (
        zorder_key(df, col_x, col_y, bits=bits)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
