"""Time-series operators: hypertable-style rollup cascade, gap-fill with
LOCF, linear interpolation, and fold-based EWMA smoothing.

Beyond-reference surface: the reference engine (a streaming ETL,
`src/events.rs`) has no time-series analytics; these are the
"hypertable rollup" class of custom operators a Timescale-style consumer
of its event stream runs downstream, re-expressed as Catalyst-friendly
DataFrame compositions (no UDFs anywhere in this module).

Scale design
------------
* ``rollup_cascade`` aggregates the raw fact table ONCE at the finest
  resolution (a single partial-aggregated shuffle over 100 TB), then
  derives every coarser resolution by re-aggregating the finest result —
  cascading rollups touch only the (tiny) aggregate, never the raw scan.
  Exact because the per-bucket sums are exact decimals: a sum of
  15-minute decimal sums equals the 1-hour decimal sum of the raw rows.
* ``gapfill_grid`` builds the dense per-key bucket grid with
  ``sequence()`` + ``explode`` — generated distributedly, sized by each
  key's own [min, max] span, never on the driver. LOCF / interpolation
  are plain window functions over the grid, partitioned by key (no
  global windows).
* ``ewma_fold`` keeps bounded state: a ROWS frame caps the lookback, and
  the fold is ``aggregate()`` over the frame's ``collect_list`` — only
  multiply/add in the lambda, so Spark and any exact oracle agree
  bit-for-bit (no ``pow`` libm dependency).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def bucket_start(ts_us_col: Column, bucket_us: int) -> Column:
    """Tumbling-bucket start in epoch-µs: pure integer arithmetic so any
    engine agrees exactly (no timestamp truncation semantics involved).

    Uses ``pmod`` (always-nonnegative remainder) so the result is the
    true FLOOR bucket boundary for negative (pre-1970) timestamps too —
    truncating ``%`` would round those toward zero, i.e. to the bucket
    AFTER the instant. Oracle SQL mirrors with ``((t % b) + b) % b``.
    """
    return ts_us_col - F.pmod(ts_us_col, F.lit(bucket_us))


def rollup_cascade(
    df: DataFrame,
    ts_us: Column,
    value: Column,
    resolutions_us: Sequence[int],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Multi-resolution tumbling rollup: one raw-data aggregation at the
    finest resolution, coarser levels re-aggregated from it.

    ``resolutions_us`` must be ascending and each coarser resolution a
    multiple of the finest (the usual 15m → 1h → 6h cascade); that makes
    re-bucketing the finest bucket_start exact.

    Emits ``(resolution_us, *extra_keys, bucket_start_us, n_events,
    sum_value)`` with ``sum_value`` as an exact decimal (cast to double
    by the caller if desired).
    """
    res = list(resolutions_us)
    if res != sorted(res):
        raise ValueError("resolutions_us must be ascending")
    finest = res[0]
    for r in res[1:]:
        if r % finest:
            raise ValueError(
                f"resolution {r} is not a multiple of the finest {finest}"
            )
    keys = list(extra_keys)
    base = (
        df.select(
            *keys,
            bucket_start(ts_us, finest).alias("bucket_start_us"),
            value.alias("_v"),
        )
        .groupBy(*keys, "bucket_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_v").alias("sum_value"),
        )
    )
    levels = [
        base.select(
            F.lit(finest).alias("resolution_us"),
            *keys,
            "bucket_start_us",
            "n_events",
            "sum_value",
        )
    ]
    for r in res[1:]:
        levels.append(
            base.groupBy(
                *keys,
                bucket_start(F.col("bucket_start_us"), r).alias(
                    "bucket_start_us"
                ),
            )
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
            .select(
                F.lit(r).alias("resolution_us"),
                *keys,
                "bucket_start_us",
                "n_events",
                "sum_value",
            )
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def gapfill_grid(
    observed: DataFrame,
    key_cols: Sequence[str],
    bucket_col: str,
    step_us: int,
) -> DataFrame:
    """Dense per-key tumbling-bucket grid spanning each key's own
    [min, max] bucket range, left-joined with the observed buckets.

    ``observed`` must already be one row per (key, bucket). Grid rows
    that had no observation keep NULLs in the observed columns. The
    ``sequence``+``explode`` generation runs on the executors; per-key
    span bounds the blow-up (a key observed over one day yields one
    day's buckets regardless of corpus size).
    """
    keys = list(key_cols)
    spans = observed.groupBy(*keys).agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    grid = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_us))
        ).alias(bucket_col),
    )
    return grid.join(observed, on=[*keys, bucket_col], how="left")


def locf(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alias: str,
) -> DataFrame:
    """Last-observation-carried-forward over a per-key ordered window."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        alias, F.last(F.col(value_col), ignorenulls=True).over(w)
    )


def interpolate_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alias: str,
) -> DataFrame:
    """Linear interpolation of NULL gaps between the previous and next
    observed (order, value) pairs; observed rows pass through, leading /
    trailing gaps (no anchor on one side) stay NULL.

    The previous/next anchor's order and value are taken from the SAME
    row (they're null together), so two scalar IGNORE NULLS windows per
    direction are safe — no struct pairing needed, and the whole thing
    stays inside whole-stage codegen.
    """
    keys = list(key_cols)
    prev_w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    next_w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    t = F.col(order_col).cast("double")
    anchor_t = F.when(v.isNotNull(), F.col(order_col)).cast("double")
    pv = F.last(v, ignorenulls=True).over(prev_w)
    pt = F.last(anchor_t, ignorenulls=True).over(prev_w)
    nv = F.first(v, ignorenulls=True).over(next_w)
    nt = F.first(anchor_t, ignorenulls=True).over(next_w)
    lerp = pv + (nv - pv) * (t - pt) / (nt - pt)
    return df.withColumn(
        alias, F.when(v.isNotNull(), v).otherwise(lerp)
    )


def ewma_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    lookback: int,
    alias: str,
) -> DataFrame:
    """EWMA smoothing with bounded lookback, as an ``aggregate()`` fold
    over the window frame's ordered values.

    ``ewma = fold(vals[1:], init=vals[0], (acc, x) -> (1-α)·acc + α·x)``
    — the standard recurrence restarted at the frame head. A ROWS frame
    of ``lookback`` preceding rows bounds per-row state at scale; with
    α=0.25 the truncated tail's weight is (0.75)^lookback ≈ 1e-4 at 32,
    and — more importantly for the oracle — BOTH engines evaluate the
    identical truncated fold, so results match exactly. Only ``*`` and
    ``+`` in the lambda: no libm divergence.

    NULL handling: NULL values are SKIPPED by the fold on both engines
    (Spark's ``collect_list`` drops them; the oracle must ``list_filter``
    its ``list()`` frame to match — DuckDB's ``list()`` retains NULLs).
    A frame that is entirely NULL yields a NULL ewma (``try_element_at``
    keeps that safe under ANSI mode instead of erroring on the empty
    frame).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(-lookback, Window.currentRow)
    )
    vals = F.collect_list(F.col(value_col).cast("double")).over(w)
    a = F.lit(float(alpha))
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.try_element_at(vals, F.lit(1)),
        lambda acc, x: (F.lit(1.0) - a) * acc + a * x,
    )
    return df.withColumn(alias, folded)
