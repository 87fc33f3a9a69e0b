"""Event-time window aggregations (tumbling / sliding).

Absent from the reference (SURVEY.md §2.10 — its streaming is
processing-time micro-batches only), but fundamental for the events
table and for any watermarked streaming aggregation; the same operators
run unchanged on a batch DataFrame or a streaming one (Structured
Streaming plans ``F.window`` groupings incrementally with state cleanup
once ``withWatermark`` is set on the stream).

Spark's ``F.window`` buckets are epoch-aligned, so the oracle can verify
with plain integer arithmetic on epoch millis — no engine-specific
``time_bucket`` semantics involved.

Scale: a tumbling agg is ONE hash aggregation whose key space is
(windows × groups) — partial map-side combine makes the shuffle
proportional to distinct keys, not input rows. A sliding agg multiplies
rows by width/slide (each row belongs to that many windows) BEFORE the
partial combine; keep width/slide small (≤ a handful) or pre-aggregate
to tumbling slices of the slide width and roll up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    aggs: list[Column],
    slide: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Group ``df`` by an event-time window (+ optional extra keys) and
    aggregate. Output carries ``window_start_ms`` / ``window_end_ms``
    (epoch millis — portable, no raw timestamps) instead of the struct.
    """
    win = (
        F.window(ts_col, width, slide) if slide else F.window(ts_col, width)
    ).alias("__w")
    keys = list(group_cols or [])
    return (
        df.groupBy(win, *keys)
        .agg(*aggs)
        .withColumn("window_start_ms", F.unix_millis("__w.start"))
        .withColumn("window_end_ms", F.unix_millis("__w.end"))
        .drop("__w")
    )


def hourly_type_stats(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour stats per event_type over the events table."""
    return windowed_agg(
        events,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
        group_cols=["event_type"],
    ).select("window_start_ms", "event_type", "n", "sum_value")


def gap_fill_hourly(
    df: DataFrame, key: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Resample to a dense per-key hourly grid: one row per (key, hour)
    between each key's first and last event, zero-filled where no
    events fell — the gap-fill step every downstream time-series model
    assumes has happened.

    Grid = per-key bounds (one agg) + ``sequence`` explode (rows ∝ key's
    active span, generated executor-side — no driver loop), then a left
    join against the hourly counts on (key, hour). Both joins/aggs hash
    on the same key ⇒ AQE keeps it to two shuffles total at any scale.
    """
    # floor division via floor(), not `div`: `div` truncates toward
    # zero, so pre-1970 (negative-epoch) events would land one hour
    # late — inconsistent with the F.window operators in this module,
    # which floor. (Millis magnitudes ~1e12 are exact in double.)
    ms = F.floor(F.expr(f"unix_millis({ts_col})") / F.lit(3600000)).cast(
        "long"
    )
    bounds = df.groupBy(key).agg(
        F.min(ms).alias("h0"), F.max(ms).alias("h1")
    )
    grid = bounds.select(
        key, F.explode(F.sequence("h0", "h1")).alias("h")
    )
    actual = df.groupBy(F.col(key), ms.alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return grid.join(actual, [key, "h"], "left").select(
        key,
        (F.col("h") * 3600000).alias("hour_ms"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window event counts (width 1h, slide 30m ⇒ every event
    counted in exactly 2 windows)."""
    return windowed_agg(
        events,
        "ts",
        width,
        [F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value")],
        slide=slide,
    ).select("window_start_ms", "n", "avg_value")


def lag_cross_correlation(
    events: DataFrame,
    type_x: str,
    type_y: str,
    max_lag_hours: int = 12,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Cross-correlation function (CCF) between two event-type series:
    Pearson correlation of hourly counts of ``type_x`` against
    ``type_y`` shifted ``lag`` hours later, for lag = 0..max — the
    "does a click surge predict purchases two hours later" diagnostic
    that precedes any causal/forecast modeling.

    Both series live on the DENSE hour spine (zero-count hours are
    real zeros, not missing rows — the gap_fill lesson; the spine
    bounds are one bounded two-scalar collect at build, the documented
    corpus-constant pattern). All five moments per lag are EXACT
    integer sums of counts; the single double division happens at the
    end, so every CCF value hash-matches the SQL twin. Output:
    ``(lag_hours, n_hours, ccf)``, NULL ccf when either series is
    constant over the lag's overlap (zero variance).

    Scale: the spine is hours-sized (9k rows/year) regardless of event
    volume; the heavy part is the two hourly aggregations, each one
    map-side-combined pass over the scan.
    """
    h = F.date_trunc("hour", F.col(ts_col))
    bounds = events.agg(
        F.min(h).alias("mn"), F.max(h).alias("mx")
    ).first()
    mn, mx = bounds["mn"], bounds["mx"]
    spine = events.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit(mn), F.lit(mx), F.expr("interval 1 hour")
            )
        ).alias("__h")
    )
    def series(tp: str, out: str) -> DataFrame:
        cnt = (
            events.filter(F.col(type_col) == tp)
            .groupBy(h.alias("__h"))
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        return spine.join(cnt, "__h", "left").select(
            "__h", F.coalesce("__c", F.lit(0)).cast("long").alias(out)
        )
    xs = series(type_x, "__x")
    ys = series(type_y, "__y")
    lags = F.explode(
        F.array(*[F.lit(i) for i in range(max_lag_hours + 1)])
    ).alias("lag_hours")
    pairs = xs.select("__h", "__x", lags).join(
        ys.withColumnRenamed("__h", "__h2"),
        F.expr("timestampadd(HOUR, lag_hours, __h)") == F.col("__h2"),
    )
    m = pairs.groupBy("lag_hours").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("n_hours")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    varx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vary = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    ccf = F.when((varx > 0) & (vary > 0), num / F.sqrt(varx * vary))
    return m.select("lag_hours", "n_hours", ccf.alias("ccf"))
