"""Time-bucket aggregation (downsample) — built-in hash agg, no UDFs.

The reference delegates to ``haggregate.aggregate``
(/root/reference/enhydris_autoprocess/models.py:483-497); the contract
is pinned by the goldens (tests/test_models.py:941-1044):

- buckets are left-open right-closed intervals labeled by their RIGHT
  endpoint: 10:10..11:00 @10min sum to the bucket labeled 11:00
  (3+5+7+11+13+17 = 56, surfacing at 10:59 after the -1min offset);
- min_count = max(ratio - max_missing, 1) where
  ratio = target_step / source_step (models.py:486-490, 508-511);
  a bucket is emitted only if its non-missing source count >= min_count;
- an emitted bucket whose non-missing count < ratio gets flag "MISS"
  (max_missing=1 golden: 11:59 -> 157.0 / MISS with 5 of 6 present;
  max_missing=5 golden: the 09:59 bucket has a single present slot —
  missing-ness counts absent grid slots, not just NaN rows);
- ``resulting_timestamp_offset`` minutes are subtracted from the label
  AFTER aggregation (models.py:406-416, 496);
- trim-last: the final bucket of each key is dropped iff it has "MISS"
  and the raw source's max ts < the bucket's right endpoint, so it is
  recomputed when more data arrives
  (models.py:513-533; golden: the 12:59/202.0 bucket vanishes because
  the source ends 12:40 < 13:00).

Scale: partial+final hash aggregation on (key, bucket) — Spark's
map-side combine makes this the cheapest possible shape; the trim-last
window touches only the already-tiny aggregated output. Calendar steps
(M/Y), which the reference rejects upstream, are supported as an
extension: the per-bucket expected count is derived from the bucket's
actual span, which coincides with the driver-side ratio for fixed
steps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import AggregationConfig
from ..schema import ts_micros
from ..timeutil import MICROS, Step, parse_step

_METHOD_FN = {"sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}


def bucket_bounds_micros(micros: Column, step: Step) -> tuple[Column, Column]:
    """(bucket_end, bucket_start) in epoch micros; (start, end] semantics:
    a timestamp exactly on the grid belongs to the bucket it ends."""
    if not step.is_calendar:
        s = F.lit(step.micros)
        end = micros + (s - micros % s) % s
        return end, end - s
    unit = "month" if step.unit == "M" else "year"
    months = step.n if step.unit == "M" else 12 * step.n
    # (start, end]: shift left 1us so an exact period-end stays in its period
    anchor = F.date_trunc(unit, F.timestamp_micros(micros - F.lit(1)))
    start = F.unix_micros(anchor)
    end = F.unix_micros(F.to_timestamp(F.add_months(anchor, months)))
    return end, start


def aggregate_step(
    df: DataFrame,
    source_step: Step,
    target_step: Step,
    method: str,
    max_missing: int = 0,
    offset_minutes: int = 0,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
) -> DataFrame:
    """Aggregate one (key, ts, value, flags) series; returns the same shape."""
    if method not in _METHOD_FN:
        raise ValueError(f'"{method}" is not a valid method')

    micros = ts_micros(F.col(ts_col))
    b_end, b_start = bucket_bounds_micros(micros, target_step)
    present = F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    clean = F.when(present, F.col(value_col))

    grouped = (
        df.select(
            F.col(key_col),
            b_end.alias("__bend"),
            b_start.alias("__bstart"),
            clean.alias("__v"),
        )
        .groupBy(key_col, "__bend", "__bstart")
        .agg(
            _METHOD_FN[method]("__v").alias("__agg"),
            F.count("__v").alias("__n"),
        )
    )

    # Expected slots per bucket from its actual span — equals
    # ratio = target/source for fixed steps (models.py:508-511).
    expected = F.floor(
        (F.col("__bend") - F.col("__bstart")) / F.lit(source_step.micros)
    )
    min_count = F.greatest(expected - F.lit(max_missing), F.lit(1))

    out = (
        grouped.where(F.col("__n") >= min_count)
        .withColumn(
            flags_col,
            F.when(F.col("__n") < expected, F.lit("MISS")).otherwise(F.lit("")),
        )
        .select(
            F.col(key_col),
            F.timestamp_micros(
                F.col("__bend") - F.lit(offset_minutes * 60 * MICROS)
            ).alias(ts_col),
            F.col("__agg").alias(value_col),
            F.col(flags_col),
            F.col("__n").alias("n_present"),
            F.col("__bend"),
        )
    )
    return out


def trim_last_if_incomplete(
    aggregated: DataFrame,
    source_end: DataFrame,
    key_col: str = "key",
    flags_col: str = "flags",
) -> DataFrame:
    """Drop each key's final bucket iff flagged MISS and the raw source
    ends before the bucket's right endpoint (models.py:513-533).

    ``aggregated`` must still carry ``__bend``; ``source_end`` is the
    tiny per-key frame (key, __src_end_us) — broadcast-joined.
    """
    w = Window.partitionBy(key_col)
    out = (
        aggregated.withColumn("__maxb", F.max("__bend").over(w))
        .join(F.broadcast(source_end), key_col, "left")
        .where(
            ~(
                (F.col("__bend") == F.col("__maxb"))
                & F.col(flags_col).contains("MISS")
                & (F.coalesce(F.col("__src_end_us"), F.lit(0)) < F.col("__bend"))
            )
        )
        .drop("__maxb", "__src_end_us")
    )
    return out


def source_end_frame(
    df: DataFrame, key_col: str = "key", ts_col: str = "ts"
) -> DataFrame:
    return df.groupBy(key_col).agg(
        F.max(ts_micros(F.col(ts_col))).alias("__src_end_us")
    )


def aggregate(
    df: DataFrame,
    cfg: AggregationConfig,
    source_step: Step | str,
    trim: bool = True,
    source_df: DataFrame | None = None,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
) -> DataFrame:
    """Full reference Aggregation.process_timeseries minus regularization
    (compose with operators.regularize for the exact pipeline,
    models.py:467-477).

    ``source_df``: the RAW pre-regularization frame. The reference's
    trim compares the raw source end (models.py:470), which can differ
    from the regularized end by up to step/2; passing the raw frame is
    also cheaper — the per-key max is a column-pruned scan instead of a
    recomputation of the whole regularize subtree.
    """
    if isinstance(source_step, str):
        source_step = parse_step(source_step)
    target = parse_step(cfg.target_time_step)
    agg = aggregate_step(
        df,
        source_step,
        target,
        cfg.method,
        cfg.max_missing,
        cfg.offset_minutes,
        key_col=key_col,
        ts_col=ts_col,
        value_col=value_col,
        flags_col=flags_col,
    )
    if trim:
        src = source_df if source_df is not None else df
        agg = trim_last_if_incomplete(
            agg, source_end_frame(src, key_col, ts_col), key_col, flags_col
        )
    return agg.drop("__bend", "n_present")
