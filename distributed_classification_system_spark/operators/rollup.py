"""Windowed / time-series analytics (SURVEY.md §2.4 A8-A13, §2.5 W1-W9).

The reference computes these with pandas over exported CloudWatch/Locust
series (load-tests/analysis/generate_graphs.py, analyze_results.py); here
they are Catalyst window/aggregate plans over the events table.

Exactness discipline for the DuckDB oracle: no order-dependent double
sums — money-ish sums go through DECIMAL (exact, order-independent) and
back to double; averages divide exact integer/decimal sums by counts;
percentiles use explicit kth-element selection (row_number), identical in
any engine, instead of engine-specific interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def desc_stats(events: DataFrame) -> DataFrame:
    """A8 descriptive statistics per series (analyze_results.py:41-56)."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("mean_v"),
    )


def exact_percentiles(events: DataFrame) -> DataFrame:
    """A8/W6 p50/p95/p99 via explicit kth-element (lower) selection —
    deterministic and engine-portable, unlike interpolated quantiles."""
    w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    picks = ranked.filter(
        (F.col("rn") == F.ceil(F.col("n") * 0.5))
        | (F.col("rn") == F.ceil(F.col("n") * 0.95))
        | (F.col("rn") == F.ceil(F.col("n") * 0.99))
    )
    return picks.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("value"))).alias("p50"),
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.95), F.col("value"))).alias("p95"),
        F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.99), F.col("value"))).alias("p99"),
    )


def failure_rate(events: DataFrame) -> DataFrame:
    """A9 failures/total per user (analyze_results.py:86-90)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("error_rate"),
    )


def pearson_corr(events: DataFrame) -> DataFrame:
    """A11 cross-metric correlation (generate_graphs.py:167-176), rounded to
    absorb summation-order float drift."""
    return events.groupBy("event_type").agg(
        F.round(F.corr(F.col("value"), F.col("user_id").cast("double")), 6).alias("corr_vu")
    )


def tumbling_window(events: DataFrame) -> DataFrame:
    """A12 tumbling 60 s pre-aggregation (metrics_collector.py:53,62-72) —
    uses the real streaming `window()` primitive; oracle = date_trunc."""
    return (
        events.groupBy(F.window("ts", "60 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("avg_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "avg_value")
    )


def sliding_window(events: DataFrame) -> DataFrame:
    """T4 sliding-window rollup: 60 s windows every 30 s — each event lands
    in exactly two slide-aligned windows (metrics_collector.py's
    overlapping-interval series). Oracle = explode each row into its two
    window starts."""
    return (
        events.groupBy(F.window("ts", "60 seconds", "30 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("*")).alias("avg_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "avg_value")
    )


def hourly_series(events: DataFrame) -> DataFrame:
    """W1/W2/W3/W4/W5 consolidated: the hourly count series with its lag
    derivative (drain rate), centered moving average, cumulative sum and
    scaling-event direction in ONE window scan. The global orderBy is over
    the pre-aggregated ~720-row hourly series, not the raw events, so the
    single-task window is fine at any event volume."""
    w = Window.orderBy("hour")
    wma = Window.orderBy("hour").rowsBetween(-2, 2)
    wcum = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("cnt").over(w)
    hourly = events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
    return hourly.agg(F.count("*").alias("cnt")).select(
        "hour",
        "cnt",
        (F.col("cnt") - prev).alias("delta"),
        (F.sum("cnt").over(wma).cast("double") / F.count("*").over(wma)).alias("cnt_ma"),
        F.sum("cnt").over(wcum).alias("cum_cnt"),
        F.when(F.col("cnt") > prev, F.lit("scale_up"))
        .when(F.col("cnt") < prev, F.lit("scale_down"))
        .alias("direction"),
    )


def range_align(events: DataFrame, start: str, end: str) -> DataFrame:
    """W9 time-range alignment filter (generate_graphs.py:86-114)."""
    return events.filter(F.col("ts").between(start, end)).groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )


def user_sessions(events: DataFrame) -> DataFrame:
    """A1-shaped keyed fold in batch form over the events stand-in:
    per-user counters + lifetime bounds (the job fold of
    handlers.go:231-304 as a declarative aggregate)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
    )


def topk_per_group(events: DataFrame, k: int = 3) -> DataFrame:
    """O3/K4 top-k per key with deterministic tiebreak."""
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        events.select("user_id", "event_id", "value", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def asof_join(events: DataFrame, left_type: str = "error", right_type: str = "login") -> DataFrame:
    """W8/J4 as-of join: for each `left_type` event, the most recent prior
    `right_type` value for the same user (pd.merge_asof at
    generate_graphs.py:1302-1304) — expressed as the union + last-ignore-
    nulls window pattern, which shuffles once on user_id instead of a
    range join."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = events.filter(F.col("event_type").isin(left_type, right_type)).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") == right_type, F.col("value")), ignorenulls=True
        ).over(w).alias("asof_value"),
    )
    return tagged.filter(F.col("event_type") == left_type).select(
        "user_id", "event_id", "ts", F.col("value").alias("left_value"), "asof_value"
    )
