"""Event-time window aggregation operators (SURVEY.md §2.3, W1-W8 / G1-G3).

The reference hand-rolls incremental window counting with Flink
``AggregateFunction`` + ``WindowFunction`` pairs (e.g. DW-Flink
HotItemsAnalysis app/HotItems.scala:56-80). On Spark, ``groupBy(F.window(...))
.agg(...)`` already does partial (map-side) + final aggregation through
whole-stage codegen, so each of these is a thin declarative wrapper that keeps
the semantics explicit and the output shape deterministic.

Scale notes:
- A sliding window of size S and slide s replicates each row S/s times
  (identical to Flink's pane assignment). Keep S/s small (≤ 8) for hot paths;
  the aggregation itself is a single hash-shuffle on (window, key).
- Window bounds are emitted as epoch-second BIGINTs (`window_start_sec`,
  `window_end_sec`) — deterministic across engines and timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_window_bounds(df: DataFrame, keep: list[str]) -> DataFrame:
    """Replace the `window` struct with epoch-second BIGINT bounds."""
    return df.select(
        F.unix_timestamp("window.start").alias("window_start_sec"),
        F.unix_timestamp("window.end").alias("window_end_sec"),
        *keep,
    )


def windowed_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str | None = None,
    keys: list[str] | None = None,
    count_alias: str = "cnt",
) -> DataFrame:
    """Tumbling (W2) or sliding (W1) event-time count per key (W4/W5/W6/W7).

    Reference parity: HotItems.scala:56-58 (1 h / 5 min sliding count per
    item), PageView.scala:30-31 (1 h tumbling count). Catalyst plans this as
    partial_count -> shuffle on (window, keys) -> final_count; no buffering,
    matching the reference's "incremental aggregate" optimization for free.
    """
    keys = keys or []
    win = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    agg = df.groupBy(win, *[F.col(k) for k in keys]).agg(
        F.count("*").alias(count_alias)
    )
    return with_window_bounds(agg, keys + [count_alias])


def windowed_distinct_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
    slide: str | None = None,
    keys: list[str] | None = None,
    alias: str = "uv",
) -> DataFrame:
    """Exact per-window distinct count (W8; UniqueVisitor.scala:31-48).

    The reference buffers a whole-window ``Set[Long]``; Spark's
    count(DISTINCT) expands to a two-phase aggregate (dedup then count) with
    partial aggregation on both phases — no driver-side set.
    """
    keys = keys or []
    win = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    agg = df.groupBy(win, *[F.col(k) for k in keys]).agg(
        F.count_distinct(F.col(distinct_col)).alias(alias)
    )
    return with_window_bounds(agg, keys + [alias])


def windowed_approx_distinct(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
) -> DataFrame:
    """Approximate per-window distinct (W9/W10; UvWithBloom.scala:74-113),
    rsd 0.02, into `uv_approx`.

    The reference offloads a 2^28-bit Bloom bitmap to Redis to dedup "100M+"
    user ids. HyperLogLog++ (`approx_count_distinct`) is the Spark-native
    replacement: fixed O(1/rsd^2) sketch per window, mergeable map-side,
    no external store. At 100 TB this is the only sane UV path.
    """
    agg = df.groupBy(F.window(ts_col, size)).agg(
        F.approx_count_distinct(F.col(distinct_col), 0.02).alias("uv_approx")
    )
    return with_window_bounds(agg, ["uv_approx"])


def windowed_approx_distinct_checked(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
    rsd: float = 0.02,
    slide: str | None = None,
) -> DataFrame:
    """W9 with its error contract made checkable: per window, compute the
    HLL++ estimate alongside the exact distinct count and emit the exact
    count plus a ``within_bound`` predicate `|approx - exact| / exact <=
    5*rsd`. The estimate itself is deliberately NOT in the output — it has
    no oracle counterpart, so the driver's column-aligned hash compare
    would always fail on it; `windowed_approx_distinct` is the serving
    shape that returns the estimate.

    An approximate sketch can never hash-match an exact oracle, but its
    CONTRACT can: the oracle computes the exact count and asserts
    ``within_bound`` is uniformly true (a constant TRUE column hash-matches
    trivially, and any out-of-contract window flips it to false -> hash
    mismatch). The bound predicate is evaluated in integer arithmetic
    (``|a-e| * denom <= e * numer``), so it is deterministic across runs.

    The relative 5*rsd term is the dense-regime HLL++ guarantee; below
    ~1/rsd^2 distinct values the estimator is linear counting, whose error
    is absolute (O(1) counts), not relative — measured at sf0.01 the only
    deviation across 667 windows is +-1 at exact=6, where a pure relative
    bound demands exactness. The contract therefore allows
    ``|a-e| <= max(5*rsd*e, 3)``: tight enough that a broken sketch merge
    (which deviates by whole buckets) still trips it.

    Both aggregates share one shuffle on the window key; the exact
    count(DISTINCT) is the expensive half, which is fine — this is the
    AUDIT shape (run on a sample or a backfill slice at 100 TB), while
    `windowed_approx_distinct` stays the serving shape.
    """
    win = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    # 5*rsd as an exact integer ratio: rsd=0.02 -> 100000/1000000. The
    # 10^6 denominator keeps the ratio non-degenerate down to rsd=2e-7;
    # the assert catches anything smaller (a zero numerator would silently
    # collapse the relative arm to the |dev| <= 3 absolute floor).
    bound_num, bound_den = round(5 * rsd * 1_000_000), 1_000_000
    if bound_num <= 0:
        raise ValueError(f"rsd={rsd} too small for the integer bound ratio")
    agg = df.groupBy(win).agg(
        F.approx_count_distinct(F.col(distinct_col), rsd).alias("uv_approx"),
        F.count_distinct(F.col(distinct_col)).alias("uv_exact"),
    )
    dev = F.abs(F.col("uv_approx") - F.col("uv_exact"))
    checked = agg.withColumn(
        "within_bound",
        (dev * bound_den <= F.col("uv_exact") * bound_num) | (dev <= 3),
    )
    return with_window_bounds(checked, ["uv_exact", "within_bound"])


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    size: str,
    aggs: list[Column],
    slide: str | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """General windowed aggregation with caller-supplied aggregate columns."""
    keys = keys or []
    win = F.window(ts_col, size, slide) if slide else F.window(ts_col, size)
    agg = df.groupBy(win, *[F.col(k) for k in keys]).agg(*aggs)
    keep = [c for c in agg.columns if c != "window"]
    return with_window_bounds(agg, keep)


def windowed_count_two_level(
    df: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    keys: list[str] | None = None,
    count_alias: str = "cnt",
) -> DataFrame:
    """W1 for small slide/size ratios: tumbling pre-aggregation at the slide
    granularity, then pane roll-up into sliding windows.

    `F.window(size, slide)` replicates every RAW row size/slide times before
    the (partial) aggregation; with the reference's 1 h / 10 s configs that
    is a 360× explode of the scan. Here raw rows are first collapsed to one
    row per (pane, keys) — a plain tumbling count — and only those
    pre-aggregated rows are replicated across the panes' windows. The
    replication input shrinks from |events| to |distinct (pane, keys)|,
    which is the term that matters at 100 TB (SCALING.md "Windowed
    aggregation"). Requires size % slide == 0 (same as pane semantics).

    Output schema identical to `windowed_count`.
    """
    keys = keys or []
    size_sec = _duration_to_sec(size)
    slide_sec = _duration_to_sec(slide)
    if size_sec % slide_sec != 0:
        raise ValueError("two-level windows require size % slide == 0")
    n_panes = size_sec // slide_sec

    pre = df.groupBy(F.window(ts_col, slide), *[F.col(k) for k in keys]).agg(
        F.count("*").alias("_pane_cnt")
    )
    pane_start = F.unix_timestamp("window.start")
    offsets = F.explode(
        F.sequence(F.lit(0), F.lit(int(n_panes - 1)))
    ).alias("_k")
    assigned = pre.select(
        pane_start.alias("_pane_start"), *keys, "_pane_cnt", offsets
    ).select(
        (F.col("_pane_start") - F.col("_k") * slide_sec).alias(
            "window_start_sec"
        ),
        *keys,
        "_pane_cnt",
    )
    return (
        assigned.groupBy("window_start_sec", *[F.col(k) for k in keys])
        .agg(F.sum("_pane_cnt").alias(count_alias))
        .select(
            "window_start_sec",
            (F.col("window_start_sec") + size_sec).alias("window_end_sec"),
            *keys,
            count_alias,
        )
    )


def _duration_to_sec(text: str) -> int:
    """Parse '10 seconds' / '5 minutes' / '1 hour' / '1 day' to seconds."""
    qty, unit = text.strip().split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit]
    return int(qty) * mult
