"""Time-series depth: hierarchical rollups and deterministic sampling
(extends SURVEY.md §2.9/§2.1; declared in §2.14).

``stream_rollup`` is the continuous-aggregate (hypertable) pattern: the
coarse resolution is computed FROM the fine resolution, not from raw
rows — at 100 TB the 5-minute layer is a materialized streaming sink and
hourly/daily layers re-aggregate it at 1/300th the input volume.
Decimal sums make the two-level aggregation exactly associative, so the
rollup equals a direct hourly aggregation bit-for-bit (the oracle
computes it directly — that equality IS the correctness claim).

``scan_sample`` pins the sampling pattern every pipeline needs: a
deterministic hash-mod sample (portable 60-bit hash, SURVEY.md §2.12) is
reproducible across engines, runs, and cluster sizes — unlike
``df.sample()``, whose output depends on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreaming_spark.functions.numeric import dsum, oracle_dsum
from kafkastreaming_spark.hashing import H_SPARK
from kafkastreaming_spark.io import EVENTS_ORACLE_CTE, load_table
from kafkastreaming_spark.registry import query


@query(
    "stream_rollup",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
             AS hour_start,
           event_type,
           COUNT(*) AS n_events,
           {oracle_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: hourly aggregates derived from the 5-minute
    layer (12 input rows per output row), not from raw events.

    COUNT sums exactly; the money sum re-enters the exact-decimal path
    before the final round, so fine→coarse equals direct aggregation —
    which is what the oracle checks by computing hourly directly."""
    ev = load_table(spark, sf_dir, "events")
    five_min = ev.groupBy(
        F.window("ts", "5 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n5"),
        F.sum(F.col("value").cast("decimal(24,8)")).alias("s5"),
    )
    return (
        five_min.groupBy(
            F.window(F.col("w.start"), "1 hour").alias("h"), "event_type"
        )
        .agg(
            F.sum("n5").alias("n_events"),
            F.round(F.sum("s5"), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.col("h.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SAMPLE_HASH_SPARK = f"pmod({H_SPARK.format(x='CAST(event_id AS STRING)')}, 100)"
_SAMPLE_HASH_DUCK = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"
)


@query(
    "scan_sample",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE}
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE {_SAMPLE_HASH_DUCK} < 10
    """,
)
def scan_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by key hash: reproducible across runs,
    engines, and partitionings (``df.sample`` is not), and consistent —
    the same event_id is always in or out, so samples of joined tables
    stay joinable.  The hash value is positive (<2^60), so Spark ``pmod``
    and DuckDB ``%`` agree."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.expr(_SAMPLE_HASH_SPARK) < 10).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "ts_gapfill",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS vc
      FROM events GROUP BY event_type, h
    ),
    bounds AS (
      SELECT MIN(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS h0,
             MAX(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS h1
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM bounds) g
    ),
    filled AS (
      SELECT grid.event_type, grid.h,
             COALESCE(hourly.n, 0) AS n_events,
             CASE WHEN hourly.n > 0 THEN
               ROUND((CAST(hourly.vc AS DOUBLE) / 100.0)
                     / CAST(hourly.n AS DOUBLE), 6)
             END AS avg_value
      FROM grid LEFT JOIN hourly
        ON grid.event_type = hourly.event_type AND grid.h = hourly.h
    ),
    grouped AS (
      SELECT *, COUNT(avg_value) OVER (
               PARTITION BY event_type ORDER BY h) AS grp
      FROM filled
    )
    SELECT event_type, h, n_events,
           COALESCE(avg_value,
                    MAX(avg_value) OVER (PARTITION BY event_type, grp))
             AS avg_value_locf
    FROM grouped
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to a dense hourly grid with zero-filled counts and
    last-observation-carried-forward averages — the timescale-style
    `time_bucket_gapfill(...) + locf(...)` query.

    The grid is (distinct event_type) x sequence(min_hour, max_hour) —
    both tiny — left-joined onto the hourly aggregate, so the fact table
    is scanned once and the gap machinery never touches raw rows.  LOCF
    uses the engine-portable two-window trick (cumulative COUNT of the
    non-null column partitions each gap with its predecessor; MAX over
    that partition carries the value) instead of IGNORE NULLS, which
    DuckDB 1.0 windows lack.  Averages come from exact cent-integer
    sums so the carried doubles are bit-identical across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = (
        ev.groupBy(F.col("event_type"), hour.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("vc"),
        )
    )
    bounds = ev.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.when(
                F.col("n") > 0,
                F.round(
                    (F.col("vc").cast("double") / F.lit(100.0))
                    / F.col("n").cast("double"),
                    6,
                ),
            ).alias("avg_value"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = filled.withColumn("grp", F.count("avg_value").over(w_cum))
    w_grp = Window.partitionBy("event_type", "grp")
    return grouped.select(
        "event_type",
        "h",
        "n_events",
        F.coalesce(F.col("avg_value"), F.max("avg_value").over(w_grp)).alias(
            "avg_value_locf"
        ),
    )


@query(
    "ts_ohlc",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    ordered AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                            * 1000000) AS hour,
             value, ts, event_id,
             row_number() OVER (PARTITION BY event_type,
                 floor(epoch(ts) / 3600) ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type,
                 floor(epoch(ts) / 3600) ORDER BY ts DESC, event_id DESC)
               AS rn_d
      FROM events
    )
    SELECT event_type, hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks
    FROM ordered GROUP BY event_type, hour
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) candles per event_type — the
    financial-resample shape every tick store serves, spelled portably.

    open/close are "value at the (ts, event_id)-extreme row", which
    neither engine's min/max can express directly without arg_min
    semantics divergence — so both engines run the SAME two
    row_number windows (ascending and descending, unique tie-break) and
    pick rn=1 inside the aggregate.  One shuffle on (type, hour) does
    windows AND the final agg (same partitioning, Catalyst reuses the
    exchange).  high/low/count are plain order-free aggregates.  No
    sums — every output is a single row's value or an extreme, so no
    decimal discipline is needed."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    hour = F.date_trunc("hour", "ts").alias("hour")
    base = ev.select("event_type", hour, "value", "ts", "event_id")
    w_a = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ordered = base.select(
        "event_type",
        "hour",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return ordered.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


_EWMA_TAPS = 8  # halving weights 2^0 .. 2^-7 — exact binary fractions


def _ewma_terms(lag_fmt: str) -> str:
    """Fixed-order 8-tap weighted sum: cents are integers, the weights
    are exact powers of two, and every partial term keeps the mantissa
    under 2^53, so the fold is EXACT in IEEE double and order-free —
    but spelled left-to-right identically in both engines anyway."""
    return " + ".join(
        f"COALESCE({lag_fmt.format(i=i)}, 0) * {0.5 ** i!r}"
        for i in range(_EWMA_TAPS)
    )


@query(
    "ts_ewma",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                            * 1000000) AS hour_start,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour_start,
           ROUND(CAST(cents AS DOUBLE) / 100.0, 6) AS hourly_value,
           ROUND(({_ewma_terms('lag(cents, {i}) OVER w')})
                 / ({' + '.join(repr(0.5 ** i) for i in range(_EWMA_TAPS))})
                 / 100.0, 6) AS ewma_value
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hour_start)
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the hourly value series
    per event type (8 halving taps, normalized) — the trend smoother
    behind "is this metric drifting" dashboards, next to ``ts_ohlc``
    and ``agg_linreg``.

    A recursive EWMA is order-sequential and float-fragile; the 8-tap
    FIR spelling is the scale-correct rewrite: hourly cents are exact
    integers (the events money discipline), the taps are exact powers
    of two, so the weighted sum is EXACT in double and identical in
    both engines; one division + round at the end.  Plan: one
    map-side-combined hash-agg to hourly, then lag windows over the
    AGGREGATED series (rows = types × hours, tiny) — the same
    post-reduction window discipline as llm_domain_mix; missing
    leading taps coalesce to 0 (warm-up ramp, standard FIR edge)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_start"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "hour_start")
        .agg(F.sum("cents").alias("cents"))
    )
    taps = _ewma_terms(
        "lag(cents, {i}) OVER (PARTITION BY event_type ORDER BY hour_start)"
    )
    norm = " + ".join(repr(0.5 ** i) for i in range(_EWMA_TAPS))
    return hourly.select(
        "event_type",
        "hour_start",
        F.round(F.col("cents").cast("double") / 100.0, 6).alias("hourly_value"),
        F.round(
            F.expr(f"({taps}) / ({norm})") / 100.0, 6
        ).alias("ewma_value"),
    )


@query(
    "ts_interpolate",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS vc
      FROM events GROUP BY event_type, h
    ),
    bounds AS (
      SELECT MIN(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS h0,
             MAX(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS h1
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM bounds) g
    ),
    filled AS (
      SELECT grid.event_type, grid.h, epoch_us(grid.h) AS eh,
             COALESCE(hourly.n, 0) AS n_events,
             CASE WHEN hourly.n > 0 THEN
               ROUND((CAST(hourly.vc AS DOUBLE) / 100.0)
                     / CAST(hourly.n AS DOUBLE), 6)
             END AS avg_value
      FROM grid LEFT JOIN hourly
        ON grid.event_type = hourly.event_type AND grid.h = hourly.h
    ),
    anch AS (
      SELECT *,
             COUNT(avg_value) OVER (PARTITION BY event_type ORDER BY h
                                    ROWS UNBOUNDED PRECEDING) AS grp_b,
             COUNT(avg_value) OVER (PARTITION BY event_type ORDER BY h DESC
                                    ROWS UNBOUNDED PRECEDING) AS grp_f
      FROM filled
    ),
    spans AS (
      SELECT *,
             MAX(avg_value) OVER (PARTITION BY event_type, grp_b) AS prev_v,
             MAX(CASE WHEN avg_value IS NOT NULL THEN eh END)
               OVER (PARTITION BY event_type, grp_b) AS prev_eh,
             MAX(avg_value) OVER (PARTITION BY event_type, grp_f) AS next_v,
             MAX(CASE WHEN avg_value IS NOT NULL THEN eh END)
               OVER (PARTITION BY event_type, grp_f) AS next_eh
      FROM anch
    )
    SELECT event_type, h, CAST(n_events AS BIGINT) AS n_events, avg_value,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                  ROUND(prev_v + (next_v - prev_v)
                        * (CAST(eh - prev_eh AS DOUBLE)
                           / CAST(next_eh - prev_eh AS DOUBLE)), 6)
           END AS interp_value,
           CASE WHEN avg_value IS NULL AND prev_v IS NOT NULL
                 AND next_v IS NOT NULL THEN 1 ELSE 0 END AS is_interpolated
    FROM spans
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-interpolated hourly resample — the companion to
    ``ts_gapfill``'s LOCF: gaps in the dense (event_type × hour) grid
    are filled by interpolating between the bracketing observed hours;
    leading/trailing gaps (no bracket) stay NULL, flagged by
    ``is_interpolated``.

    Anchor discovery uses the engine-portable two-window trick twice —
    cumulative COUNT of the non-null column ASCENDING groups each gap
    with its predecessor, DESCENDING with its successor (DuckDB 1.0
    windows lack IGNORE NULLS; this spelling is identical in both
    engines) — so every window sorts only the GRID (types × hours,
    post-aggregation size), never raw rows; the fact table feeds one
    hourly hash-agg plus the two tiny bounds/types aggregates (same
    shape as ts_gapfill).  The lerp runs on exact-cent-derived 6dp doubles
    and exact epoch-microsecond ints with an identical expression tree
    in both engines, then rounds 6dp."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(F.col("event_type"), hour.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("vc"),
    )
    bounds = ev.agg(F.min(hour).alias("h0"), F.max(hour).alias("h1"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    filled = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.unix_micros(F.col("h")).alias("eh"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.when(
            F.col("n") > 0,
            F.round(
                (F.col("vc").cast("double") / F.lit(100.0))
                / F.col("n").cast("double"),
                6,
            ),
        ).alias("avg_value"),
    )
    w_asc = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_desc = (
        Window.partitionBy("event_type")
        .orderBy(F.col("h").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    anch = filled.withColumn(
        "grp_b", F.count("avg_value").over(w_asc)
    ).withColumn("grp_f", F.count("avg_value").over(w_desc))
    obs_eh = F.when(F.col("avg_value").isNotNull(), F.col("eh"))
    w_b = Window.partitionBy("event_type", "grp_b")
    w_f = Window.partitionBy("event_type", "grp_f")
    spans = (
        anch.withColumn("prev_v", F.max("avg_value").over(w_b))
        .withColumn("prev_eh", F.max(obs_eh).over(w_b))
        .withColumn("next_v", F.max("avg_value").over(w_f))
        .withColumn("next_eh", F.max(obs_eh).over(w_f))
    )
    lerp = F.round(
        F.col("prev_v")
        + (F.col("next_v") - F.col("prev_v"))
        * (
            (F.col("eh") - F.col("prev_eh")).cast("double")
            / (F.col("next_eh") - F.col("prev_eh")).cast("double")
        ),
        6,
    )
    both = F.col("prev_v").isNotNull() & F.col("next_v").isNotNull()
    return spans.select(
        "event_type",
        "h",
        "n_events",
        "avg_value",
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(both, lerp)
        .alias("interp_value"),
        F.when(F.col("avg_value").isNull() & both, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_interpolated"),
    )


@query(
    "events_forecast",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS vc
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    fc AS (
      SELECT event_type, hour, vc,
             lag(vc, 24) OVER (PARTITION BY event_type ORDER BY hour)
               AS pred
      FROM hourly
    )
    SELECT event_type,
           CAST(COUNT(pred) AS BIGINT) AS n_scored,
           CAST(SUM(ABS(vc - pred)) AS BIGINT) AS abs_err_cents,
           ROUND(CAST(SUM(ABS(vc - pred)) AS DOUBLE)
                 / COUNT(pred) / 100.0, 6) AS mae
    FROM fc GROUP BY event_type
    """,
)
def events_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting pipeline must beat: predict this hour's per-type value
    sum with the value 24 hours earlier (same hour yesterday), then
    score MAE per event_type over the whole history.

    Exactness: hourly sums are exact integer cents, the 24-step lag is
    over the AGGREGATED hourly series (dense per type — every hour has
    events at every sf), |error| sums stay int64, and the only float is
    the final rounded MAE division.  Plan: one (type, hour) hash-agg
    shrinks the fact table ~1000×, then the lag window and the scoring
    agg run over the tiny hourly series.  At 100 TB the fact scan is
    date-partition-pruned and the window input is per-type×hours —
    megabytes; forecasting backtests are cheap AFTER aggregation, which
    is exactly where this plan puts the window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    fc = hourly.withColumn("pred", F.lag("vc", 24).over(w))
    return fc.groupBy("event_type").agg(
        F.count("pred").cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("vc") - F.col("pred"))).cast("long").alias(
            "abs_err_cents"
        ),
        F.round(
            F.sum(F.abs(F.col("vc") - F.col("pred"))).cast("double")
            / F.count("pred")
            / 100.0,
            6,
        ).alias("mae"),
    )


@query(
    "ts_cross_corr",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM hourly) t,
           (SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                          (SELECT h1 FROM bounds),
                                          INTERVAL 1 HOUR)) AS h) g
    ),
    dense AS (
      SELECT g.event_type, g.h, COALESCE(hy.cnt, 0) AS cnt
      FROM grid g LEFT JOIN hourly hy
        ON hy.event_type = g.event_type AND hy.h = g.h
    ),
    lags AS (SELECT unnest(generate_series(-6, 6)) AS lag_h),
    joined AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag_h,
             a.cnt AS x, b.cnt AS y
      FROM dense a
      JOIN lags l ON TRUE
      JOIN dense b
        ON b.event_type > a.event_type
       AND b.h = a.h + l.lag_h * INTERVAL 1 HOUR
    ),
    sums AS (
      SELECT type_a, type_b, lag_h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy
      FROM joined GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b, CAST(lag_h AS BIGINT) AS lag_h, n,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                          * sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0.0), 6)
             AS r
    FROM sums
    """,
)
def ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged CROSS-CORRELATION between event-type hourly series — the
    lead/lag diagnostic behind alerting and causal-hint dashboards
    ("errors rise 2 h after deploys"): Pearson r between every type
    pair's dense hourly count series at offsets −6..+6 h.

    The series are GAP-FILLED onto the global [min,max] hour grid first
    (zero-count hours are real observations — correlating only on
    co-active hours biases r upward; this is the sparse-series trap).
    Pearson r is assembled from six exact int64 sums (n, Σx, Σy, Σxy,
    Σx², Σy²) so the only floats are two correctly-rounded sqrts and
    one division — IEEE-identical cross-engine; zero-variance windows
    NULL out via NULLIF rather than dividing by zero (the
    quality-ratios lesson, ADVICE r7).

    Plan: one (type,hour) hash-agg over raw events — the ONLY scan of
    the big table; the dense grid (types × hours, a few thousand rows)
    is localCheckpoint-pinned because the lag join consumes it twice
    (cohort_ltv lesson: Catalyst re-runs unshared subtrees, and each
    re-run would re-scan events).  The 13-lag × pair fan-out and the
    final sums run entirely on post-aggregation tables.  At 100 TB the
    hourly agg map-side-combines to types × hours rows regardless of
    input volume — everything downstream is constant-sized; a span 10×
    longer grows the grid linearly, never the raw-scan count."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    dense = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-6), F.lit(6))).alias("lag_h")
    )
    a = dense.select(
        F.col("event_type").alias("type_a"),
        F.col("h").alias("ha"),
        F.col("cnt").alias("x"),
    ).crossJoin(F.broadcast(lags))
    b = dense.select(
        F.col("event_type").alias("type_b"),
        F.col("h").alias("hb"),
        F.col("cnt").alias("y"),
    )
    joined = a.join(
        b,
        (F.col("type_b") > F.col("type_a"))
        & (F.col("hb") == F.expr("timestampadd(HOUR, lag_h, ha)")),
    )
    sums = joined.groupBy("type_a", "type_b", "lag_h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return sums.select(
        "type_a",
        "type_b",
        F.col("lag_h").cast("long").alias("lag_h"),
        "n",
        # when() without otherwise == NULLIF: zero-variance -> NULL r
        F.round(num / F.when(den != 0.0, den), 6).alias("r"),
    )


@query(
    "ts_seasonality",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    slot AS (
      SELECT CAST(dayofweek(ts) AS INT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
             COUNT(*) AS n_events,
             {oracle_dsum('value', 'sum_value')}
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hour, n_events, sum_value,
           CAST(ROUND(n_events * 1000000.0
                      / SUM(n_events) OVER ()) AS BIGINT) / 1e6 AS share
    FROM slot
    """,
)
def ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal profile: event volume and exact-decimal spend by
    (day-of-week × hour-of-day) slot, plus each slot's tie-safe 6dp
    share of total traffic — the 168-cell heatmap behind capacity
    planning and the seasonal term of any forecast
    (``events_forecast`` models the trend; this is its seasonal
    complement).

    Dialect trap pinned here: Spark's ``dayofweek`` is 1=Sunday..7,
    DuckDB's is 0=Sunday..6 — the Spark side ships ``dayofweek − 1`` so
    both emit the 0-based ISO-ish slot.  One (dow, hour) hash-agg with
    map-side combine over a 168-slot alphabet — shuffle volume is the
    alphabet, never the events; the share window runs over the ≤168-row
    aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    slot = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
    total = F.sum("n_events").over(W.partitionBy())
    return slot.select(
        "dow",
        "hour",
        "n_events",
        "sum_value",
        (F.round(F.col("n_events") * 1000000.0 / total).cast("long") / 1e6).alias(
            "share"
        ),
    )


@query(
    "ts_cusum",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 3600000000
               AS xh,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, xh,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY xh
                              ROWS UNBOUNDED PRECEDING) AS pre,
             row_number() OVER (PARTITION BY event_type ORDER BY xh) AS i,
             SUM(cents) OVER (PARTITION BY event_type) AS s,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ),
    scored AS (
      SELECT event_type, xh, n * pre - i * s AS c, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * pre - i * s) DESC, xh) AS rk
      FROM cum
    )
    SELECT event_type, xh AS cp_hour,
           CAST(abs(c) AS BIGINT) AS cusum_abs,
           CAST(n AS BIGINT) AS n_hours
    FROM scored WHERE rk = 1
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event_type on the hourly spend
    series: the hour where the cumulative deviation from the series
    mean peaks — the classic single-changepoint estimator (Page 1954's
    cumulative-sum chart, argmax |Σ(xᵢ−x̄)| form).

    Exactness trick: the mean is a ratio, so the textbook Σ(xᵢ−x̄)
    would float — instead the deviation is SCALED BY n:
    n·Σᵢxⱼ − i·S (prefix, index, total all exact int64 cents), which
    has the same argmax and keeps every compared value exact integer —
    ties broken to the earliest hour.  Magnitudes: |n·pre| ≤
    hours × total-cents ≈ 10³·10⁹ at sf0.1, ~2^50 — int64 headroom to
    ~10⁵× this fixture.  One hourly hash-agg is the only events-scale
    pass; windows and the argmax rank run over the ≤ types×hours
    aggregate, all sharing the (event_type) shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "(unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01'))"
            " div 3600000000"
        ).alias("xh"),
    ).agg(F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("cents"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("xh")
    cum = (
        hourly.withColumn(
            "pre", F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("i", F.row_number().over(wo))
        .withColumn("s", F.sum("cents").over(wt))
        .withColumn("n", F.count(F.lit(1)).over(wt))
    )
    scored = cum.withColumn(
        "c", F.col("n") * F.col("pre") - F.col("i") * F.col("s")
    ).withColumn(
        "rk",
        F.row_number().over(wt.orderBy(F.abs("c").desc(), "xh")),
    )
    return scored.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("xh").alias("cp_hour"),
        F.abs("c").alias("cusum_abs"),
        F.col("n").cast("long").alias("n_hours"),
    )


@query(
    "ts_outlier_mad",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    base AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    med AS (
      SELECT event_type,
             CAST(quantile_cont(vc, 0.5) * 2 AS BIGINT) AS med2_cents
      FROM base GROUP BY 1
    ),
    dev AS (
      SELECT b.event_type, vc, med2_cents,
             abs(2 * vc - med2_cents) AS dev2
      FROM base b JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4_cents
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(med2_cents) AS med2_cents,
           MAX(mad4_cents) AS mad4_cents,
           CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           MAX(CASE WHEN 2 * dev2 > 3 * mad4_cents THEN dev2 END)
             AS max_out_dev2
    FROM dev d JOIN mad USING (event_type)
    GROUP BY 1
    """,
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median / MAD (median
    absolute deviation) with the classic |v − median| > 3·MAD cut —
    the monitoring primitive that survives the heavy tails that break
    mean/stddev z-scores (one whale purchase doubles a mean; it moves
    a median not at all).

    INTEGER-EXACT SPELLING (the cross-engine percentile discipline):
    values snap to cents (exact 2dp fixture), and every statistic is
    carried DOUBLED so the even-n interpolation midpoint (a+b)/2 stays
    an exact int64 — med2 = 2·median(cents), dev2 = |2·v − med2| =
    2·|v − median|, mad4 = 2·median(dev2) = 4·MAD.  The outlier
    predicate |v−med| > 3·MAD becomes 2·dev2 > 3·mad4, a pure int64
    comparison with no float boundary for the engines to disagree on.

    Plan: two exact-percentile hash-aggs (5-row results) broadcast
    back onto the fact scan — the joins never shuffle the events side.
    Exact percentile sorts within each type partition; at 100 TB you'd
    swap approx_percentile (t-digest, one pass, map-side combine) and
    keep the same doubled-integer cut — this key is the exact oracle
    that variant is graded against (same relationship as
    agg_percentile → agg_approx_percentile)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("vc"),
    )
    med = ev.groupBy("event_type").agg(
        F.expr("CAST(percentile(vc, 0.5) * 2 AS BIGINT)").alias("med2_cents")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .withColumn("dev2", F.expr("abs(2 * vc - med2_cents)"))
        # dev feeds the MAD percentile AND the outlier aggregate;
        # unpinned, each consumer re-ran the events scan + median
        # join (r8 multi-scan sweep).  Materializing the 3-int
        # projection once IS the scale-right answer — it replaces two
        # further raw-table passes.
        .localCheckpoint(eager=False)
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(percentile(dev2, 0.5) * 2 AS BIGINT)").alias("mad4_cents")
    )
    is_out = F.expr("2 * dev2 > 3 * mad4_cents")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("med2_cents").alias("med2_cents"),
            F.max("mad4_cents").alias("mad4_cents"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.max(F.when(is_out, F.col("dev2"))).alias("max_out_dev2"),
        )
    )


@query(
    "ts_acf",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM hourly) t,
           (SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                          (SELECT h1 FROM bounds),
                                          INTERVAL 1 HOUR)) AS h) g
    ),
    dense AS (
      SELECT g.event_type, g.h, COALESCE(hy.cents, 0) AS c
      FROM grid g LEFT JOIN hourly hy
        ON hy.event_type = g.event_type AND hy.h = g.h
    ),
    lags AS (SELECT unnest(generate_series(1, 24)) AS lag_h),
    joined AS (
      SELECT a.event_type, l.lag_h, a.c AS x, b.c AS y
      FROM dense a
      JOIN lags l ON TRUE
      JOIN dense b
        ON b.event_type = a.event_type
       AND b.h = a.h + l.lag_h * INTERVAL 1 HOUR
    ),
    sums AS (
      SELECT event_type, lag_h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy
      FROM joined GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag_h AS BIGINT) AS lag_h, n,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                          * sqrt(CAST(n*syy - sy*sy AS DOUBLE)), 0.0), 6)
             AS r
    FROM sums
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function per event type: Pearson r between each
    type's dense hourly-spend series and itself at lags 1..24 h — the
    seasonality detector (a daily cycle shows as the lag-24 peak) and
    the model-order diagnostic (AR terms) behind every forecasting
    pass; the same-series complement of ts_cross_corr's pair sweep.

    Identical exactness discipline as ts_cross_corr: series gap-filled
    onto the global hour grid (zero-spend hours are real observations —
    sparse-series bias otherwise), money snapped to cents at the
    aggregate, Pearson assembled from six exact int64 sums so the only
    floats are two sqrts and one rounded division, zero-variance
    windows NULL via NULLIF.

    Plan: ONE (type,hour) hash-agg touches raw events; the dense grid
    is localCheckpoint-pinned because the lag self-join consumes it
    twice.  The 24-lag fan-out runs on the types×hours table — at
    100 TB everything after the map-side-combined hourly agg is
    constant-sized in the input volume and linear in the time span."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    dense = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce("cents", F.lit(0)).alias("c"))
        .localCheckpoint(eager=False)
    )
    lags = spark.range(1, 25).select(F.col("id").cast("int").alias("lag_h"))
    b = dense.select(
        F.col("event_type"), F.col("h").alias("hb"), F.col("c").alias("y")
    )
    joined = (
        dense.crossJoin(F.broadcast(lags))
        .withColumn(
            "hb",
            F.col("h")
            + F.col("lag_h") * F.expr("INTERVAL 1 HOUR"),
        )
        .join(b, ["event_type", "hb"])
    )
    sums = joined.groupBy("event_type", "lag_h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("c") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        "event_type",
        F.col("lag_h").cast("long").alias("lag_h"),
        "n",
        # when() without otherwise == NULLIF: zero-variance -> NULL r
        F.round(num / F.when(den != 0.0, den), 6).alias("r"),
    )


@query(
    "ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                  AS BIGINT) AS idx,
             y
      FROM hourly
    ),
    hw AS (
      SELECT event_type, idx, y, y AS l, CAST(0 AS BIGINT) AS b
      FROM series WHERE idx = 1
      UNION ALL
      SELECT s.event_type, s.idx, s.y,
             (s.y + hw.l + hw.b) // 2 AS l,
             (((s.y + hw.l + hw.b) // 2) - hw.l + hw.b) // 2 AS b
      FROM series s
      JOIN hw ON s.event_type = hw.event_type AND s.idx = hw.idx + 1
    )
    SELECT event_type, idx, y AS y_cents, l AS level_cents, b AS trend_cents
    FROM hw
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, α = β = ½) over
    each event type's hourly revenue series — the classic short-horizon
    forecaster for capacity planning and anomaly baselines.

    The recurrence l_t = (y_t + l_{t-1} + b_{t-1})/2,
    b_t = (l_t − l_{t-1} + b_{t-1})/2 is inherently SEQUENTIAL — the
    one shape no window frame expresses (every output depends on ALL
    priors through a non-associative fold).  Spark side: per-series
    ``applyInPandas`` — series are independent, so the cluster
    parallelism is the series count (here 5 types; production
    type×entity keys give thousands of groups), while the per-group
    loop is O(series length), bounded by the time span, never by event
    volume (the hourly pre-aggregation shuffles FIRST).

    Exactness discipline: α = β = ½ turns every step into integer-cent
    adds and ONE truncating halving — both engines run the identical
    integer recurrence (Python emulates DuckDB's truncate-toward-zero
    ``//``), so the hash is exact with zero float drift over ~700
    steps.  The oracle is a RECURSIVE CTE stepping all series in
    lockstep — the cross-engine pin that a window-function shortcut
    could not provide."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("h")
    series = hourly.select(
        "event_type",
        F.row_number().over(w).cast("bigint").alias("idx"),
        "y",
    )

    def _tdiv2(x: int) -> int:
        # DuckDB's // truncates toward zero; Python's floors. Match DuckDB.
        return -((-x) // 2) if x < 0 else x // 2

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        ys = [int(v) for v in pdf["y"]]
        ls, bs = [], []
        l = ys[0]
        b = 0
        ls.append(l)
        bs.append(b)
        for y in ys[1:]:
            nl = _tdiv2(y + l + b)
            nb = _tdiv2(nl - l + b)
            l, b = nl, nb
            ls.append(l)
            bs.append(b)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "idx": pdf["idx"].values,
                "y_cents": ys,
                "level_cents": ls,
                "trend_cents": bs,
            }
        )

    return series.groupBy("event_type").applyInPandas(
        _fit,
        schema=(
            "event_type string, idx bigint, y_cents bigint,"
            " level_cents bigint, trend_cents bigint"
        ),
    )


@query(
    "ts_sax",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    hourly AS (
      SELECT event_type,
             date_trunc('hour', ts) AS hour_ts,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY sum_cents, hour_ts) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM hourly
    ),
    bp AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (m + 3) // 4 THEN sum_cents END) AS b1,
             MIN(CASE WHEN rn = (m + 1) // 2 THEN sum_cents END) AS b2,
             MIN(CASE WHEN rn = (3 * m + 3) // 4 THEN sum_cents END) AS b3
      FROM ranked GROUP BY event_type
    )
    SELECT h.event_type, h.hour_ts, h.sum_cents, h.n_rows,
           CAST(CASE WHEN h.sum_cents <= bp.b1 THEN 0
                     WHEN h.sum_cents <= bp.b2 THEN 1
                     WHEN h.sum_cents <= bp.b3 THEN 2
                     ELSE 3 END AS BIGINT) AS symbol
    FROM hourly h JOIN bp USING (event_type)
    """,
)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolic discretization of the per-type hourly series —
    PAA (the hourly cents aggregate is the piecewise frame) followed by
    alphabet-4 symbolization against EMPIRICAL quartile breakpoints
    (the values at positions ⌈m/4⌉, ⌈m/2⌉, ⌈3m/4⌉ of each series'
    sorted frame sums — type-1 order statistics).  The symbol string is
    what motif mining, series indexing, and cheap similarity work on:
    downstream, two series match when their symbol sequences do.

    Classic SAX z-normalizes and cuts at N(0,1) breakpoints; this
    spelling uses per-series empirical quartiles instead, deliberately:
    the breakpoints are then EXACT INTEGERS (order statistics of exact
    cents sums) and every comparison is pure int64 in both engines —
    no mean/std float, no transcendental, nothing to tie-break.  The
    quartile cut also adapts per series, which is what z-normalization
    was for.

    Plan: ONE fact-table hash-agg onto the (type, hour) grid, then rank
    and breakpoints are WINDOW functions over that grid-sized METADATA
    (≤ types × span-hours rows) — same partition key, so one exchange,
    one sort, no self-join, no second scan.  At 100 TB only the hourly
    agg touches events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("long")
        .alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    from pyspark.sql import Window as W

    wt = W.partitionBy("event_type").orderBy("sum_cents", "hour_ts")
    full = wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = hourly.select(
        "event_type",
        "hour_ts",
        "sum_cents",
        "n_rows",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1)).over(full).alias("m"),
    )
    # breakpoints as full-frame conditional MAX over the same partition:
    # exactly one row matches each order-statistic position, so MAX just
    # plucks it — no groupBy, no rejoin, the exchange is shared
    def _bp(pos_expr: str):
        return F.max(
            F.when(F.col("rn") == F.expr(pos_expr), F.col("sum_cents"))
        ).over(full)

    sym = ranked.select(
        "event_type",
        "hour_ts",
        "sum_cents",
        "n_rows",
        _bp("(m + 3) div 4").alias("b1"),
        _bp("(m + 1) div 2").alias("b2"),
        _bp("(3 * m + 3) div 4").alias("b3"),
    )
    return sym.select(
        "event_type",
        "hour_ts",
        "sum_cents",
        "n_rows",
        F.when(F.col("sum_cents") <= F.col("b1"), 0)
        .when(F.col("sum_cents") <= F.col("b2"), 1)
        .when(F.col("sum_cents") <= F.col("b3"), 2)
        .otherwise(3)
        .cast("long")
        .alias("symbol"),
    )


_M4_WIDTH = 64  # pixel-column count: one bucket per rendered column


@query(
    "ts_m4",
    oracle=f"""
    WITH {EVENTS_ORACLE_CTE},
    ext AS (SELECT event_type, MIN(epoch_us(ts)) AS t0,
                   MAX(epoch_us(ts)) AS t1
            FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type,
             CAST(((epoch_us(e.ts) - x.t0) * {_M4_WIDTH})
                  // (x.t1 - x.t0 + 1) AS BIGINT) AS bucket,
             epoch_us(e.ts) AS us, e.event_id, e.value
      FROM events e JOIN ext x USING (event_type)
    ),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY us, event_id) AS rn_a,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY us DESC, event_id DESC) AS rn_d,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY value, us, event_id) AS rn_lo,
        row_number() OVER (PARTITION BY event_type, bucket
                           ORDER BY value DESC, us DESC, event_id DESC)
          AS rn_hi
      FROM b
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           MAX(CASE WHEN rn_a = 1 THEN us END) AS first_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS first_v,
           MAX(CASE WHEN rn_d = 1 THEN us END) AS last_us,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS last_v,
           MAX(CASE WHEN rn_lo = 1 THEN us END) AS min_v_us,
           MIN(value) AS min_v,
           MAX(CASE WHEN rn_hi = 1 THEN us END) AS max_v_us,
           MAX(value) AS max_v
    FROM r GROUP BY event_type, bucket
    """,
)
def ts_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization-driven downsampling (Jugel et al., VLDB 2014):
    per series and per pixel column, keep exactly the four extremum
    tuples — (first, last, min, max) WITH their timestamps — which is
    provably sufficient to rasterize a line chart pixel-identically to
    the full series.  The dashboard pattern at 100 TB: a billion-point
    series leaves the cluster as ≤4·W rows per series, error-free for
    rendering, no LTTB-style heuristics.

    Buckets are DATA-EXTENT-derived (floor((t−t0)·W/(t1−t0+1)) over the
    per-series [t0,t1] span — pure int64, exact on both engines), unlike
    ``ts_ohlc``'s fixed calendar hours: the x-axis IS the viewport.

    Plan: one 5-row extent aggregate broadcast back onto the fact scan,
    then ONE hash aggregate on (series, bucket) where all four extremes
    are min/max over (key, tie-break) STRUCTS — lexicographic struct
    ordering gives arg-min/arg-max with a total (value, us, event_id)
    order, so the result is tie-deterministic without ts_ohlc's two
    row_number window passes: map-side partial aggregation collapses
    each partition to ≤|series|·W structs before the only shuffle.  The
    oracle spells the identical tie-break with four rank windows
    (DuckDB's struct min/max lacks Spark's ordering guarantee).
    events.value is NULL-free by fixture contract, so struct ordering
    never compares a NULL field (verified: 0 null values at every SF).
    """
    ev = load_table(spark, sf_dir, "events")
    ext = ev.groupBy("event_type").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    b = ev.join(F.broadcast(ext), "event_type").select(
        "event_type",
        # int64 DIV keeps the bucket exact at any span — floor(double
        # division) would drift once (t-t0)*W exceeds 2^53
        F.expr(
            f"((unix_micros(ts) - t0) * {_M4_WIDTH}) DIV (t1 - t0 + 1)"
        ).alias("bucket"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("us", "event_id", "value"))
    last_s = F.max(F.struct("us", "event_id", "value"))
    lo_s = F.min(F.struct("value", "us", "event_id"))
    hi_s = F.max(F.struct("value", "us", "event_id"))
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_points"),
        first_s.getField("us").alias("first_us"),
        first_s.getField("value").alias("first_v"),
        last_s.getField("us").alias("last_us"),
        last_s.getField("value").alias("last_v"),
        lo_s.getField("us").alias("min_v_us"),
        F.min("value").alias("min_v"),
        hi_s.getField("us").alias("max_v_us"),
        F.max("value").alias("max_v"),
    )
