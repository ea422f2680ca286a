"""Frequency sketches for corpus-scale token statistics.

A count-min sketch is the fixed-memory answer to "how often does each of
billions of tokens appear": ``d`` hash rows x ``w`` buckets of counters,
point estimate = min over rows. Cell counts are plain sums, so partial
aggregates merge associatively — at 100 TB the sketch builds in one scan
with map-side combine into d*w cells, never a per-token shuffle.

The hash family here is md5-prefix based (seeded by row index), making the
sketch fully deterministic and reproducible in ANSI SQL — the estimate is
value-exact comparable across engines, unlike rand()-seeded sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _token_cells(depth: int, width: int):
    """One (row j, bucket) struct per hash row of `token`, exploded; the
    md5-derived bucket id is the first 8 hex chars of md5(token '#' j)."""
    bucket = (
        "CAST(conv(substr(md5(concat(token, '#', CAST(j AS STRING)"
        f")), 1, 8), 16, 10) AS BIGINT) % {width}"
    )
    return F.explode(
        F.expr(
            f"transform(sequence(0, {depth - 1}), j -> "
            f"struct(j AS row, {bucket} AS bucket))"
        )
    )


def cm_sketch_cells(
    tokens_df: DataFrame, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the d x w counter grid: one row per (hash row, bucket).

    One scan over the token stream; the explode multiplies rows by ``depth``
    but the aggregate collapses to at most ``depth * width`` cells with
    map-side partial aggregation — the shuffle moves O(d*w) per partition,
    independent of corpus size (the mergeability that makes CM sketches
    cluster-friendly).
    """
    cells = tokens_df.select(_token_cells(depth, width).alias("cell"))
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    ).agg(F.count("*").cast("long").alias("cell_count"))


def cm_estimate_for(
    tokens_of_interest: DataFrame,
    cells: DataFrame,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate each token of interest: min over its d cells.

    The interest set is expanded to (token, row, bucket) probes and joined
    against the tiny cell grid (broadcast — d*w rows); estimate = min cell
    count, which upper-bounds the true frequency.
    """
    probes = tokens_of_interest.select(
        "token", _token_cells(depth, width).alias("probe")
    ).select(
        "token",
        F.col("probe.row").alias("row"),
        F.col("probe.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), on=["row", "bucket"])
        .groupBy("token")
        .agg(F.min("cell_count").cast("long").alias("cm_estimate"))
    )


def cm_sketch_cells_from_counts(
    token_counts: DataFrame, depth: int = 4, width: int = 256
) -> DataFrame:
    """Cell grid from a pre-aggregated (token, exact_count) table.

    Identical to ``cm_sketch_cells`` over the raw stream (a cell is the sum
    of the counts of every token hashing into it), but the explode runs
    over the vocabulary-sized count table instead of the corpus-sized token
    stream — when a frequency table already exists, the sketch costs one
    small reaggregation, not a second corpus scan.
    """
    cells = token_counts.select(
        F.col("exact_count").alias("c"), _token_cells(depth, width).alias("cell")
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    ).agg(F.sum("c").cast("long").alias("cell_count"))
