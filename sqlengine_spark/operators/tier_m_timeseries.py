"""Tier M (extension) — time-series resampling operators over `events`:
the hypertable-style gap-fill / forward-fill surface a metrics or
training-telemetry pipeline needs on top of plain windowed aggregation
(SURVEY §2 tier J covers the aggregations; these cover the missing-data
semantics).

Scale notes: gap-filling joins a BOUNDED dense grid (|hours in range| ×
|event types| — calendar-sized, independent of row count) against the
aggregated table, so the dense side never explodes with data volume;
forward-fill is a running window per key — one shuffle on the key, state
linear in partition size, the same shape Structured Streaming would use
with applyInPandasWithState for the incremental form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import table


@query(
    "m_ts_gapfill",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(value) * 100, 0) / 100 AS sum_value
        FROM events GROUP BY h, event_type
    )
    SELECT hours.h AS h, types.event_type AS event_type,
           COALESCE(agg.cnt, 0) AS cnt, agg.sum_value AS sum_value
    FROM hours CROSS JOIN types
    LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = types.event_type
    """,
)
def m_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample: every (hour, event_type) cell in the data's
    time range appears exactly once — missing hours materialize with
    cnt = 0 and NULL sum (the gap-fill every charting/feature pipeline
    does before a rolling computation).

    Scale: the dense grid is |hours| × |types| — calendar-bounded (720 ×
    5 here; ~9k × types for a year of hours), NOT data-bounded, so the
    cross join is safe at any ingest volume; it then left-joins the
    aggregate keyed (h, type). The aggregation itself partial-aggregates
    map-side exactly like j_tumbling_1h."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    return grid.join(hourly, ["h", "event_type"], "left").select(
        "h",
        "event_type",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        "sum_value",
    )


@query(
    "m_ts_ffill",
    oracle="""
    SELECT event_id, user_id,
           ROUND(LAST_VALUE(CASE WHEN value >= 35.0 THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 100, 0) / 100 + 0 AS ffilled
    FROM events
    """,
)
def m_ts_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last-observation-carried-forward): values below a
    quality threshold are masked to NULL, then each row carries the most
    recent surviving value in its user's event-time order (NULL until
    the first survivor). The canonical sensor/metrics repair step before
    feature extraction.

    Total order pin: (ts, event_id) — ts alone can tie. Running frame is
    explicit ROWS UNBOUNDED PRECEDING..CURRENT (CLAUDE.md rule 5).
    Scale: one shuffle on user_id; the window scans each partition once
    with O(1) carried state."""
    ev = table(spark, sf_dir, "events")
    masked = F.when(F.col("value") >= 35.0, F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        dround(F.last(masked, ignorenulls=True).over(w), 2).alias("ffilled"),
    )


@query(
    "m_ts_resample_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts) AS h, event_type,
           arg_min(value, event_id) AS open_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           arg_max(value, event_id) AS close_v,
           COUNT(*) AS n_events,
           ROUND(AVG(value) * 100, 0) / 100 AS avg_v
    FROM events
    GROUP BY h, event_type
    """,
)
def m_ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the hypertable/candlestick resample): per
    (hour, event_type) bucket — first value, max, min, last value, event
    count, and rounded mean. first/last are min_by/max_by on event_id,
    which is a valid event-time order key because the fixture stream is
    ts-ascending with event_id (FIXTURES.md: events ordered ascending)
    and unique, so ties are impossible by construction.

    Scale: ONE hash aggregation — min_by/max_by carry (value, key) pairs
    through the map-side partial aggregate, so the full OHLC tuple
    computes in a single shuffle whose cardinality is calendar-bounded
    (|hours| x |event types|), never a window sort over the raw stream.
    open/high/low/close project stored doubles untouched (no float
    arithmetic => bit-identical to the oracle); only avg_v needs the
    dround pin."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type").agg(
        F.min_by("value", "event_id").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "event_id").alias("close_v"),
        F.count("*").alias("n_events"),
        dround(F.avg("value"), 2).alias("avg_v"),
    )


@query(
    "m_ts_zscore_roll",
    oracle="""
    WITH r AS (
        SELECT event_id, event_type, value,
               AVG(value)         OVER w AS mu,
               STDDEV_SAMP(value) OVER w AS sd,
               COUNT(*)           OVER w AS n_frame
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, n_frame,
           ROUND((value - mu) / sd * 1e4, 0) / 1e4 + 0 AS z
    FROM r
    WHERE abs(ROUND((value - mu) / sd * 1e4, 0) / 1e4) > 2.5
    """,
)
def m_ts_zscore_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly detection: z-score of each event's value
    against the trailing 25-observation mean/stddev of its event type;
    emit only |z| > 2.5 outliers. The standard streaming-metrics alarm
    computed as a batch window (the incremental form is the same state
    shape as j_stateful_running: a per-key ring buffer).

    Determinism: the anomaly filter compares the ROUNDED z in both
    engines, so a 1-ulp float divergence can't flip row membership
    (it would need z within 1e-4 of the 2.5 boundary AND the two
    engines to round apart — measured clean at sf0.1). First row of
    each partition has a 1-row frame → sd NULL → NULL filter drops it
    identically in both engines.

    Scale: one shuffle on event_type, one ordered scan per partition
    with O(frame) carried state; output is filter-bounded to the
    anomalies. Low-cardinality partition keys cap parallelism at
    |event types| — at 100 TB you'd sub-key by (event_type, day) and
    stitch frame edges, documented here rather than built because the
    fixture has 5 types."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-24, W.currentRow)
    )
    z = dround((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w), 4)
    return (
        ev.select(
            "event_id",
            "event_type",
            F.count("*").over(w).alias("n_frame"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 2.5)
    )


@query(
    "m_ts_autocorr",
    oracle="""
    WITH lagged AS (
        SELECT event_type, value,
               lag(value) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS prev_value
        FROM events
    )
    SELECT event_type,
           COUNT(prev_value) AS n_pairs,
           ROUND(corr(value, prev_value) * 1e6, 0) / 1e6 + 0 AS acf1
    FROM lagged
    GROUP BY event_type
    """,
)
def m_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of value per event type: pair each
    observation with its predecessor in event-time order, then Pearson
    corr over the pairs — the first diagnostic any time-series feature
    pipeline computes (white noise ⇒ ~0, trending ⇒ → 1).

    Scale: lag is a single-shuffle window (same exchange as the
    aggregate that follows — Catalyst reuses the event_type
    partitioning), corr is an algebraic aggregate (5 co-moment sums)
    that partial-aggregates map-side. The +0 pin maps -0.0 to +0.0
    (acf of white noise straddles zero — CLAUDE.md rule 5b)."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev_value")
    )
    return lagged.groupBy("event_type").agg(
        F.count("prev_value").alias("n_pairs"),
        dround(F.corr("value", "prev_value"), 6).alias("acf1"),
    )


@query(
    "m_ts_twa",
    oracle="""
    WITH s AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                 - epoch_us(ts) AS dt
        FROM events
    )
    SELECT user_id,
           ROUND(SUM(value * dt) / SUM(dt) * 1e4, 0) / 1e4 + 0 AS twa
    FROM s WHERE dt IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def m_ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the hypertable `time_weight` aggregate):
    each observation holds until the next one, so the mean weights each
    value by its holding interval — sum(value*dt)/sum(dt) with dt from
    lead() over the per-user timeline; a user's last observation has no
    interval and is excluded. dt is integer microseconds on BOTH
    engines (unix_micros / epoch_us), so the weights are exact.

    Scale: one shuffle on user_id serves both the lead() window and the
    aggregate (same partitioning, AQE reuses the exchange); state is
    one row of lookahead. The streaming form is the same expression
    over applyInPandasWithState with the previous row as state.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    s = e.select(
        "user_id", "value", (F.lead(us).over(w) - us).alias("dt")
    ).filter(F.col("dt").isNotNull())
    return (
        s.groupBy("user_id")
        .agg(dround(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4).alias("twa"))
        .orderBy("user_id")
    )


@query(
    "m_funnel_stages",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 2 AS stage, 'click' AS event_type, COUNT(*) AS n_users FROM c
    UNION ALL
    SELECT 3 AS stage, 'purchase' AS event_type, COUNT(*) AS n_users FROM p
    ORDER BY stage
    """,
)
def m_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel analysis: users who viewed, then clicked
    strictly after their first view, then purchased strictly after that
    first qualifying click — the ordered-sequence semantics every
    product-analytics engine ships (funnel/windowFunnel). Each stage is
    a keyed MIN-aggregate joined back to the event stream.

    Scale: all three stage aggregates and both joins key on user_id —
    one partitioning reused end-to-end (AQE coalesces the exchanges);
    stage outputs shrink monotonically, and the per-stage row is a
    single global count. No window over the full stream, no fanout.
    """
    e = table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, tcol: str, prev_t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = first_after(v, "click", "t2", "t1")
    p = first_after(c, "purchase", "t3", "t2")

    def stage(df: DataFrame, n: int, etype: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(n).alias("stage"), F.lit(etype).alias("event_type"), "n_users"
        )

    return (
        stage(v, 1, "view")
        .unionAll(stage(c, 2, "click"))
        .unionAll(stage(p, 3, "purchase"))
        .orderBy("stage")
    )


@query(
    "m_cohort_retention",
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), a AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT CAST(CAST(cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           CAST((CAST(wk AS DATE) - CAST(cohort_week AS DATE)) // 7
                AS BIGINT) AS weeks_since,
           COUNT(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, weeks_since
    ORDER BY cohort_week, weeks_since
    """,
)
def m_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their
    first event (the cohort), counted in every subsequent week they
    were active — the classic retention triangle. Both engines
    date_trunc to Monday-start weeks; weeks_since is exact integer
    day-arithmetic (always a multiple of 7) so no float is involved.
    cohort_week is a derived DATE, so both engines project it as a
    yyyy-MM-dd string (CLAUDE.md rule 3 — DuckDB date_trunc at week
    granularity yields DATE where Spark yields TIMESTAMP).

    Scale: first-event cohorts and per-week activity both shuffle on
    user_id (shared partitioning); the distinct collapses each user to
    |active weeks| rows before the join, so the retention join is
    user-keyed and the final matrix is |cohorts| x |weeks| — calendar-
    sized, independent of event volume.
    """
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = e.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@query(
    "m_ts_rollup_2level",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS cnt, SUM(value) AS sv
        FROM events GROUP BY h, event_type
    )
    SELECT CAST(CAST(date_trunc('day', h) AS DATE) AS VARCHAR) AS d,
           event_type,
           CAST(SUM(cnt) AS BIGINT) AS cnt,
           ROUND(SUM(sv) * 100, 0) / 100 + 0 AS sum_value
    FROM hourly
    GROUP BY 1, event_type
    ORDER BY d, event_type
    """,
)
def m_ts_rollup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (the hypertable continuous-aggregate shape):
    the daily aggregate is computed FROM the hourly aggregate, not from
    raw events — count/sum re-aggregate losslessly, which is exactly
    why continuous-aggregate systems store those partials. The oracle
    replays the same two-level shape so both engines combine identical
    hourly partials.

    Scale: this is the 100 TB materialized-rollup pattern — raw events
    are touched once for the hourly tier (|hours|x|types| rows), and
    every coarser tier re-aggregates the one above it at calendar cost,
    independent of event volume. In Spark the second groupBy's input is
    already tiny, so AQE collapses it to a handful of partitions.
    """
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("d"),
            "event_type",
        )
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            dround(F.sum("sv"), 2).alias("sum_value"),
        )
        .orderBy("d", "event_type")
    )


@query(
    "m_event_transitions",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n,
           ROUND(COUNT(*) * 1e4 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 0)
             / 1e4 AS p
    FROM s WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY from_type, to_type
    """,
)
def m_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition (Markov) matrix: for each consecutive pair of
    events on a user's timeline, count from->to transitions and the
    per-source transition probability — the click-path building block
    behind next-action prediction and anomaly scoring. The probability
    divides exact integer counts, so both engines produce the identical
    double before rounding.

    Scale: the lead() window shuffles once on user_id with one row of
    lookahead state; the pair count partial-aggregates map-side into at
    most |types|^2 groups; the ratio window runs over those ~25 rows.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    wt = W.partitionBy("from_type")
    return (
        s.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
        .withColumn("p", dround(F.col("n") / F.sum("n").over(wt), 4))
        .orderBy("from_type", "to_type")
    )


@query(
    "m_attribution_last_touch",
    oracle="""
    WITH tl AS (
        SELECT event_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS touch
        FROM events
    )
    SELECT COALESCE(touch, 'none') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM tl WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY touch
    """,
)
def m_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding view/click (``none`` if the purchase is the
    user's first touch). One ignore-nulls last_value over the user
    timeline carries the latest marketing touch forward; counts are
    exact integers so no float policy is needed.

    Scale: single shuffle on user_id, one row of carried state per
    user — the same union-merge family as the as-of join, never a
    per-purchase lookback join; the final count collapses map-side to
    |touch types| rows.
    """
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("view", "click"), F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    return (
        e.select("event_type", touch.alias("touch"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch"))
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("touch")
    )


#: Bounded-lookback EWMA: weights for the current row and the 9 before
#: it, alpha = 0.3. A fixed tap count keeps the formula exact SQL in
#: both engines (a true recursive EWMA needs unbounded recursion that
#: neither engine's window frame expresses); 10 taps of 0.7^i leave a
#: residual weight of 0.7^10 ~ 2.8%, renormalised away below.
_EWMA_ALPHA = 0.3
_EWMA_TAPS = 10


@query(
    "m_ts_ewma",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id, event_id, value,
               {", ".join(
                   f"lag(value, {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v{i}"
                   for i in range(1, _EWMA_TAPS)
               )}
        FROM events
    )
    SELECT user_id, event_id,
           ROUND((
               (value * {_EWMA_ALPHA}
                {" ".join(
                    f"+ CASE WHEN v{i} IS NOT NULL THEN v{i} * {_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i!r} ELSE 0 END"
                    for i in range(1, _EWMA_TAPS)
                )})
               /
               ({_EWMA_ALPHA}
                {" ".join(
                    f"+ CASE WHEN v{i} IS NOT NULL THEN {_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i!r} ELSE 0 END"
                    for i in range(1, _EWMA_TAPS)
                )})
           ) * 1e6, 0) / 1e6 + 0 AS ewma
    FROM lagged
    ORDER BY user_id, event_id
    """,
)
def m_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's event
    values, 10-tap bounded lookback (see _EWMA_ALPHA note): the weighted
    sum over explicit lag() taps is the same left-to-right double
    arithmetic in both engines, so values match bit-for-bit under the
    shared round policy. Early rows renormalise over the taps that
    exist, exactly like pandas ``ewm(adjust=True)``.

    Scale: one shuffle on user_id serves all taps (one Window node, 10
    frame reads of already-sorted rows); output is map-only after the
    window. Fixed tap count = fixed state, no per-user skew term.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value") * _EWMA_ALPHA]
    wsum = [F.lit(_EWMA_ALPHA)]
    for i in range(1, _EWMA_TAPS):
        v = F.lag("value", i).over(w)
        wt = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i
        lags.append(F.when(v.isNotNull(), v * wt).otherwise(F.lit(0.0)))
        wsum.append(F.when(v.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0)))
    num = lags[0]
    for t in lags[1:]:
        num = num + t
    den = wsum[0]
    for t in wsum[1:]:
        den = den + t
    return (
        e.select(
            "user_id", "event_id", dround(num / den, 6).alias("ewma")
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "m_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.m,
               abs(e.value - m.m) AS ad
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS md
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           ROUND((d.value - d.m) / (1.4826 * mad.md) * 1e4, 0) / 1e4 + 0
             AS robust_z
    FROM dev d JOIN mad USING (event_type)
    WHERE abs(ROUND((d.value - d.m) / (1.4826 * mad.md) * 1e4, 0) / 1e4)
          > 3.5
    ORDER BY d.event_id
    """,
)
def m_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly detection: flag events whose value
    sits more than 3.5 robust z-scores from its type's median, scaled
    by 1.4826·MAD — the outlier test that, unlike mean/stddev z-scores
    (m_ts_zscore_roll), is not itself corrupted by the outliers it
    hunts. Exact interpolated medians on both engines (Spark
    `percentile` ≡ DuckDB `quantile_cont`); membership compares the
    ROUNDED score in both engines so a 1-ulp divergence cannot flip a
    row in or out (the m_ts_zscore_roll pin).

    Scale: two aggregate passes keyed event_type (exact grouped median
    sorts within each type's partition — at 100 TB swap
    `approx_percentile` in, same plan shape) and two broadcast joins
    of |types| rows; the flag filter is codegen. Nothing shuffles the
    event stream beyond the two type-keyed aggregations.
    """
    e = table(spark, sf_dir, "events")
    med = F.broadcast(
        e.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.5)).alias("m")
        )
    )
    dev = e.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("m"))
    )
    mad = F.broadcast(
        dev.groupBy("event_type").agg(
            F.percentile("ad", F.lit(0.5)).alias("md")
        )
    )
    rz = dround(
        (F.col("value") - F.col("m")) / (1.4826 * F.col("md")), 4
    )
    return (
        dev.join(mad, "event_type")
        .withColumn("robust_z", rz)
        .filter(F.abs(F.col("robust_z")) > 3.5)
        .select("event_id", "event_type", "robust_z")
        .orderBy("event_id")
    )


@query(
    "m_rolling_wau",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
        SELECT MIN(d) AS lo, MAX(d) AS hi FROM days
    ), contrib AS (
        SELECT user_id, d + CAST(k.k AS INTEGER) AS target
        FROM days, (SELECT unnest(range(0, 7)) AS k) k
    )
    SELECT CAST(target AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM contrib, bounds
    WHERE target BETWEEN bounds.lo AND bounds.hi
    GROUP BY target
    ORDER BY day
    """,
)
def m_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per calendar day — the metric
    COUNT(DISTINCT) OVER a sliding window cannot express in either
    engine: a user active on day d contributes to the seven windows
    ending d..d+6, so the distinct user-day set EXPLODES BY 7 and
    re-distincts per target day. Both engines state the identical
    contribution construction; the derived day projects as a string
    (rule 3).

    Scale: this is the scale-correct rolling-distinct plan — input is
    |distinct user-days| (already collapsed from raw events by one
    partial-agg distinct), the 7x explode is the window length (a
    constant), and the final distinct-count shuffles keyed (day, user)
    with map-side partials. The tempting alternative — a range
    self-join of days x activity — is O(|days| x |users-per-week|)
    with a weaker key; at 100 TB the contribution explode wins because
    its volume is data-proportional with a constant factor, never
    quadratic. For month windows swap k<30, or approx: per-day HLL
    sketches unioned over the window (d_agg_hll_merge's algebra).
    """
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    bounds = F.broadcast(days.agg(F.min("d").alias("lo"), F.max("d").alias("hi")))
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("k"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("k")).alias("target"))
    return (
        contrib.crossJoin(bounds)
        .filter(F.col("target").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("target"))
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(
            F.date_format("target", "yyyy-MM-dd").alias("day"),
            F.col("wau").cast("bigint").alias("wau"),
        )
        .orderBy("day")
    )


@query(
    "m_ts_interpolate",
    oracle="""
    WITH m AS (
        SELECT event_id, user_id, epoch_us(ts) AS e,
               CASE WHEN value >= 35.0 THEN value END AS mv
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, e, mv,
               last_value(mv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY e, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_v,
               last_value(CASE WHEN mv IS NOT NULL THEN e END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY e, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_e,
               first_value(mv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY e, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_v,
               first_value(CASE WHEN mv IS NOT NULL THEN e END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY e, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_e
        FROM m
    )
    SELECT event_id, user_id,
           ROUND(CASE WHEN mv IS NOT NULL THEN mv
                      ELSE prev_v + (next_v - prev_v)
                           * (CAST(e - prev_e AS DOUBLE)
                              / CAST(next_e - prev_e AS DOUBLE))
                 END * 1e4, 0) / 1e4 + 0 AS interp
    FROM w
    """,
)
def m_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of masked gaps (the repair step between
    ffill and model-grade imputation): values below the quality
    threshold become NULL, then each gap row is reconstructed on the
    straight line between its user's nearest surviving neighbors,
    weighted by exact integer-microsecond time distance. Rows with no
    surviving neighbor on one side stay NULL (strict interior
    interpolation — no extrapolation).

    Float pin: both engines compute prev + (next-prev) * (dt_num/dt_den)
    in DOUBLE with epoch-microsecond BIGINT differences cast to double,
    identical association order, then dround(4) (CLAUDE.md rule 4).
    Total order pin: (ts, event_id) — ts alone can tie (rule 5).

    Scale: one shuffle on user_id, two window passes over each
    partition with O(1) carried state (last-seen / first-ahead value
    and timestamp) — same shape as m_ts_ffill; no driver-side state,
    no UDF."""
    ev = table(spark, sf_dir, "events")
    e = F.unix_micros(F.col("ts"))
    mv = F.when(F.col("value") >= 35.0, F.col("value"))
    base = ev.select(
        "event_id", "user_id", e.alias("e"), mv.alias("mv")
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("e", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("e", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    me = F.when(F.col("mv").isNotNull(), F.col("e"))
    w = base.select(
        "event_id",
        "user_id",
        "e",
        "mv",
        F.last("mv", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(me, ignorenulls=True).over(wb).alias("prev_e"),
        F.first("mv", ignorenulls=True).over(wf).alias("next_v"),
        F.first(me, ignorenulls=True).over(wf).alias("next_e"),
    )
    interp = F.when(F.col("mv").isNotNull(), F.col("mv")).otherwise(
        F.col("prev_v")
        + (F.col("next_v") - F.col("prev_v"))
        * (
            (F.col("e") - F.col("prev_e")).cast("double")
            / (F.col("next_e") - F.col("prev_e")).cast("double")
        )
    )
    return w.select("event_id", "user_id", dround(interp, 4).alias("interp"))


@query(
    "m_ts_seasonal",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, AVG(value) AS a
        FROM events GROUP BY 1
    ),
    seas AS (
        SELECT hour(ts) AS hod, AVG(value) AS s
        FROM events GROUP BY 1
    )
    SELECT h,
           ROUND(a * 10000, 0) / 10000 + 0 AS hourly_avg,
           ROUND(s * 10000, 0) / 10000 + 0 AS seasonal_avg,
           ROUND((a - s) * 10000, 0) / 10000 + 0 AS residual
    FROM hourly JOIN seas ON hour(h) = hod
    """,
)
def m_ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition (hour-of-day profile): the seasonal
    component is the all-history average for each of the 24 clock
    hours; each observed hour's residual = its hourly average minus
    its clock-hour baseline — the de-seasonalized signal anomaly
    detectors should score INSTEAD of the raw series (a 3am spike and
    a 3pm spike differ only after the daily cycle is removed; the
    classical-decomposition moving-average variant adds a trend pass).
    Residuals straddle zero, so every rounded output applies the
    negative-zero pin (dround / ``+ 0``, CLAUDE.md rule 5b).

    Scale: two independent partial+final aggregations over one events
    scan family — |hours| and 24 groups respectively — then the dense
    hourly series joins the 24-row seasonal profile by BROADCAST;
    nothing here ever shuffles more than the hourly aggregate. The
    seasonal profile is trivially incremental (count+sum per clock
    hour), which is how the streaming variant would maintain it."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.avg("value").alias("a")
    )
    seas = ev.groupBy(F.hour("ts").alias("hod")).agg(F.avg("value").alias("s"))
    return (
        hourly.join(F.broadcast(seas), F.hour(F.col("h")) == F.col("hod"))
        .select(
            "h",
            dround(F.col("a"), 4).alias("hourly_avg"),
            dround(F.col("s"), 4).alias("seasonal_avg"),
            dround(F.col("a") - F.col("s"), 4).alias("residual"),
        )
    )


@query(
    "m_ts_changepoint",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(AVG(value) * 1e6) / 1e6 AS x
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, ROUND(AVG(x) * 1e6) / 1e6 AS mean
        FROM hourly GROUP BY 1
    ),
    cs AS (
        SELECT h.event_type, h.h,
               ROUND(SUM(x - mean) OVER (PARTITION BY h.event_type
                                         ORDER BY h.h) * 1e6) / 1e6 AS cusum,
               COUNT(*) OVER (PARTITION BY h.event_type) AS n_hours
        FROM hourly h JOIN m ON h.event_type = m.event_type
    )
    SELECT event_type, h AS changepoint_hour,
           ROUND(cusum * 10000, 0) / 10000 + 0 AS cusum_peak,
           n_hours
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY ABS(cusum) DESC, h) AS rn
          FROM cs)
    WHERE rn = 1
    """,
)
def m_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: per event type, the hour where the
    cumulative sum of (hourly mean − series mean) peaks in magnitude —
    the classical level-shift locator (a drifting series piles up
    signed deviation; the |CUSUM| apex is the most likely change
    point). Output: the detected hour, its CUSUM value, series length.

    Determinism: hourly means and the series mean are rounded to 6 dp
    FIRST, so both engines feed identical doubles into the prefix sum.
    The running values are NOT assumed bit-identical — DuckDB evaluates
    window SUMs through a segment tree, so its association order
    differs from Spark's sequential accumulation (measured on
    e_win_named_window, where the raw ulp gap straddled a ROUND-half
    boundary). Per CLAUDE.md rule 9 the prefix sum is therefore snapped
    back to its exact 6-dp grid (the true CUSUM of 6-dp inputs IS a
    6-dp multiple) before BOTH the |CUSUM| apex ranking and the 4-dp
    output rounding, so neither the picked hour nor the projected value
    can be flipped by the tree-vs-sequential ulp. Verified at sf0.01
    and sf0.1.

    Scale: one hourly partial+final agg, a |types|-row broadcast of
    means, ONE window shuffle on event_type for the prefix sum +
    ranking. Series length per key is calendar-bounded (hours), so the
    per-partition window state stays small at any ingest volume."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        dround(F.avg("value"), 6).alias("x")
    )
    means = hourly.groupBy("event_type").agg(dround(F.avg("x"), 6).alias("mean"))
    w_run = W.partitionBy("event_type").orderBy("h")
    w_all = W.partitionBy("event_type")
    cs = (
        hourly.join(F.broadcast(means), "event_type")
        .withColumn(
            "cusum", dround(F.sum(F.col("x") - F.col("mean")).over(w_run), 6)
        )
        .withColumn("n_hours", F.count("*").over(w_all))
    )
    w_rank = W.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "h")
    return (
        cs.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("changepoint_hour"),
            dround(F.col("cusum"), 4).alias("cusum_peak"),
            "n_hours",
        )
    )


#: LTTB downsampling target buckets (besides the two endpoints).
LTTB_BUCKETS = 48


@query(
    "m_ts_lttb",
    oracle=f"""
    WITH pts AS (
        SELECT date_trunc('hour', ts) AS h,
               ROUND(AVG(value) * 1e6) / 1e6 AS y
        FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM pts),
    idx AS (
        SELECT h, y,
               CAST((epoch(h) - epoch(mn)) / 3600 AS BIGINT) AS i,
               CAST((epoch(mx) - epoch(mn)) / 3600 AS BIGINT) AS n
        FROM pts CROSS JOIN bounds
    ),
    binned AS (
        SELECT h, y,
               CASE WHEN i = 0 THEN -1
                    WHEN i = n THEN {LTTB_BUCKETS}
                    ELSE CAST(FLOOR((i - 1) * {LTTB_BUCKETS}
                                    / (n - 1.0)) AS BIGINT) END AS b
        FROM idx
    ),
    extremes AS (
        SELECT h, y, b FROM (
            SELECT h, y, b,
                   row_number() OVER (PARTITION BY b
                                      ORDER BY ABS(y - avg_y) DESC, h) AS rk
            FROM (SELECT h, y, b,
                         ROUND(AVG(y) OVER (PARTITION BY b) * 1e6) / 1e6
                             AS avg_y
                  FROM binned WHERE b >= 0 AND b < {LTTB_BUCKETS})
        ) WHERE rk = 1
    )
    SELECT h, y FROM extremes
    UNION ALL
    SELECT h, y FROM binned WHERE b = -1 OR b = {LTTB_BUCKETS}
    """,
)
def m_ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsampling for visualization, LTTB-style (largest deviation
    per bucket): the hourly series collapses to ≤ LTTB_BUCKETS + 2
    points — both endpoints always kept, and from each equal-WIDTH
    TIME bucket the point FARTHEST from its bucket's mean (the
    shape-preserving pick; classic LTTB uses the largest triangle
    against the previous selection, which is inherently sequential —
    the per-bucket max-deviation variant keeps the same visual intent
    while staying one parallel window pass, the trade a distributed
    dashboard backend makes). Deterministic: y values are 6-dp-rounded
    hourly means, deviation ties break on the earlier hour.

    Plan shape: the bucket id derives from the hour OFFSET against a
    broadcast 1-row (min, max) bounds aggregate — a map expression,
    NO global index window (an earlier row_number()-over-everything
    formulation would have been the repo's only new single-partition
    sort; the time-width bucketing removes it and is the more standard
    time-series binning anyway). The only window partitions by the 48
    bucket ids.

    Float pin: the bucket mean is itself snapped to the 6-dp grid on
    BOTH sides before the deviation compare — a raw window AVG carries
    the engine-specific association ulp (DuckDB segment tree vs Spark
    sequential, CLAUDE.md rule 9), and a bucket holding two y values
    SYMMETRIC about its mean has exactly-equal true deviations, so that
    ulp could rank a different row per engine. After the snap both
    engines rank against bit-identical means of 6-dp inputs, and equal
    deviations fall to the hour tiebreak together. Bucket ids are FLOOR
    of an identical double product; hour offsets are exact integers.

    Scale: bucket assignment is map-side; one 48-key window pass picks
    extremes. |points| is calendar-bounded (hours), and the downsample
    is why the chart never ships the raw series."""
    ev = table(spark, sf_dir, "events")
    pts = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        dround(F.avg("value"), 6).alias("y")
    )
    bounds = pts.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    idx = pts.crossJoin(F.broadcast(bounds)).select(
        "h", "y",
        ((F.unix_timestamp("h") - F.unix_timestamp("mn")) / 3600)
        .cast("bigint").alias("i"),
        ((F.unix_timestamp("mx") - F.unix_timestamp("mn")) / 3600)
        .cast("bigint").alias("n"),
    )
    b = (
        F.when(F.col("i") == 0, -1)
        .when(F.col("i") == F.col("n"), LTTB_BUCKETS)
        .otherwise(
            F.floor((F.col("i") - 1) * LTTB_BUCKETS / (F.col("n") - 1.0))
        )
    )
    binned = idx.select("h", "y", b.alias("b"))
    mid = binned.filter((F.col("b") >= 0) & (F.col("b") < LTTB_BUCKETS))
    w_bucket = W.partitionBy("b")
    w_pick = W.partitionBy("b").orderBy(
        F.abs(F.col("y") - F.col("avg_y")).desc(), "h"
    )
    extremes = (
        mid.withColumn("avg_y", dround(F.avg("y").over(w_bucket), 6))
        .withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select("h", "y")
    )
    ends = binned.filter(
        (F.col("b") == -1) | (F.col("b") == LTTB_BUCKETS)
    ).select("h", "y")
    return extremes.unionAll(ends)


@query(
    "m_ts_calendar_dim",
    oracle="""
    WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS lo,
                      CAST(MAX(ts) AS DATE) AS hi
               FROM events),
    days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
             FROM b)
    SELECT CAST(d AS VARCHAR) AS day,
           year(d) AS yr, month(d) AS mo, day(d) AS dom,
           quarter(d) AS qtr, weekofyear(d) AS wk,
           dayofyear(d) AS doy,
           dayofweek(d) + 1 AS dow,
           (dayofweek(d) + 1 IN (1, 7)) AS is_weekend,
           (d = last_day(d)) AS is_month_end
    FROM days
    """,
)
def m_ts_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR DIMENSION generation — the date-spine table every
    warehouse joins facts against (fiscal rollups, weekend flags,
    month-end close): one row per day spanning the events range, with
    the standard attributes. Generated, not stored: sequence() over
    the data's own min/max dates, so the spine always covers the facts
    exactly.

    Pins: Spark dayofweek = DuckDB dayofweek + 1 (measured rule);
    weekofyear is ISO week in BOTH engines (verified on 2024-01-01..06,
    both yield week 1); day is projected as a STRING because derived
    DATE dtypes diverge in pandas canonicalization (CLAUDE.md rule 3).

    Scale: |days| is calendar-bounded (~365/year) — the generator is a
    1-row bounds aggregate exploded map-side; a decade of spine is 3.7k
    rows. Join it broadcast to any fact table (m_ts_gapfill shows the
    dense-grid variant at hour granularity)."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    return days.select(
        F.col("d").cast("string").alias("day"),
        F.year("d").alias("yr"),
        F.month("d").alias("mo"),
        F.dayofmonth("d").alias("dom"),
        F.quarter("d").alias("qtr"),
        F.weekofyear("d").alias("wk"),
        F.dayofyear("d").alias("doy"),
        F.dayofweek("d").alias("dow"),
        F.dayofweek("d").isin(1, 7).alias("is_weekend"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
    )


#: Cross-correlation lags (hours) for m_ts_crosscorr.
XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@query(
    "m_ts_crosscorr",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               ROUND(AVG(CASE WHEN event_type = 'view' THEN value END)
                     * 1e6) / 1e6 AS v,
               ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END)
                     * 1e6) / 1e6 AS p
        FROM events GROUP BY 1
    )
    SELECT lag_h,
           ROUND(corr(a.v, b.p) * 1e4) / 1e4 + 0 AS xcorr,
           COUNT(*) AS n_pairs
    FROM (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag_h) lags
    JOIN hourly a ON TRUE
    JOIN hourly b ON b.h = a.h + to_hours(lag_h)
    WHERE a.v IS NOT NULL AND b.p IS NOT NULL
    GROUP BY lag_h
    """,
)
def m_ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged CROSS-correlation between two event streams (does
    purchase activity follow view activity, and at what delay?):
    corr(view_t, purchase_{t+k}) for k ∈ ±3 hours — the lead-lag
    diagnostic behind attribution windows and demand forecasting,
    generalizing m_ts_autocorr from one series to a pair.

    Plan shape: the shifted alignment is an EQUI-JOIN of the hourly
    series against itself on h = h + k (the shift folded into the join
    key) — deliberately NOT a global lead/lag window, which would be
    the repo's only new single-partition sort (same move as m_ts_lttb);
    the 7 lags come from a tiny exploded literal array joined first,
    so one plan computes all lags. Hourly means are 6-dp-rounded
    before corr; corr itself matches DuckDB at 4 dp (the d_agg_stats
    pin), and corr values straddle zero → negative-zero guard.

    Scale: one events scan + hourly partial+final agg; the self-join
    is |hours|×|lags| on an equi key — calendar-bounded both sides.
    n_pairs differs per lag at the series edges (honest boundary
    accounting, no padding)."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        dround(F.avg(F.when(F.col("event_type") == "view", F.col("value"))), 6)
        .alias("v"),
        dround(
            F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
        ).alias("p"),
    )
    lags = spark.createDataFrame([(k,) for k in XCORR_LAGS], "lag_h int")
    a = hourly.select(F.col("h").alias("ha"), "v")
    bside = hourly.select(F.col("h").alias("hb"), "p")
    joined = (
        a.crossJoin(F.broadcast(lags))
        .join(
            bside,
            F.col("hb")
            == F.col("ha") + F.col("lag_h") * F.expr("INTERVAL 1 HOUR"),
        )
        .filter(F.col("v").isNotNull() & F.col("p").isNotNull())
    )
    return joined.groupBy("lag_h").agg(
        dround(F.corr("v", "p"), 4).alias("xcorr"),
        F.count("*").alias("n_pairs"),
    )


def daily_cents(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """Events rolled up to one row per (``keys``, day): ``x`` is the
    epoch day of ``ts`` and ``yc`` that day's value total in integer
    cents. Each value is cast-truncated to cents (identical in both
    engines, rule 6) and summed as BIGINT, so the total is exact and
    immune to summation order (rule 11e).

    Scale: one map-side-partial groupBy over all events, the only
    corpus-sized work of the day-series operators; its output is
    bounded by the calendar times the key domain."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(*keys, F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("x"))
        .agg(F.sum((F.col("value") * 100).cast("bigint")).alias("yc"))
    )


def day_series() -> Column:
    """Aggregate: a group's ``daily_cents`` rows as one day-ordered
    array ``s`` of (x, yc) structs, the input of the recurrence folds.
    The array is calendar-bounded, never corpus-sized."""
    return F.sort_array(F.collect_list(F.struct("x", "yc"))).alias("s")


@query(
    "m_ts_theilsen",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.user_id,
               CAST(b.yc - a.yc AS DOUBLE) / (100.0 * (b.x - a.x)) AS slope
        FROM daily a JOIN daily b
          ON a.user_id = b.user_id AND a.x < b.x
    ), med AS (
        SELECT user_id, median(slope) AS m FROM pairs GROUP BY user_id
    ), nd AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily GROUP BY user_id
    ), res AS (
        SELECT d.user_id, median(d.yc / 100.0 - med.m * d.x) AS b0
        FROM daily d JOIN med USING (user_id) GROUP BY d.user_id
    )
    SELECT nd.user_id, nd.n_days,
           ROUND(med.m * 1e6, 0) / 1e6 + 0 AS slope,
           ROUND(res.b0 * 1e6, 0) / 1e6 + 0 AS intercept
    FROM nd JOIN med USING (user_id) JOIN res USING (user_id)
    ORDER BY nd.user_id
    """,
)
def m_ts_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user: slope = the MEDIAN of all
    pairwise slopes between the user's daily activity totals, intercept
    = median residual at that slope — the estimator that shrugs off the
    outlier days that wreck least-squares (up to ~29% contamination),
    which is why telemetry/usage-trend pipelines prefer it for per-entity
    drift scoring.

    Determinism: the daily totals are ``daily_cents`` (exact integer
    cents) before any slope arithmetic; every slope is then the same
    exact double in both engines, so the medians (both engines
    interpolate even counts identically) and residuals agree
    bit-for-bit before the 1e-6 rounding. Slopes straddle zero, hence
    the oracle's `+ 0` (rule 5b).

    Scale: the daily rollup is ``daily_cents`` keyed by user; the pair
    stage is a per-user self-join whose fan-out is bounded by the
    CALENDAR (<= C(|days|, 2) pairs per user — 435 for a 30-day window
    — independent of event volume), shuffle-keyed on user_id; medians
    are per-user exact aggregates over those bounded
    sets. 1000 executors partition users; no stage scales with raw event
    count beyond the first rollup. DuckDB SUM(BIGINT) is HUGEINT, hence
    the oracle's outer BIGINT cast (rule 10).
    """
    # the daily rollup feeds FOUR consumers (both pair sides, n_days,
    # residuals) — localCheckpoint (never persist, CLAUDE.md rule 11a)
    # so the events scan + (user, day) agg run once per invocation
    daily = daily_cents(spark, sf_dir, "user_id").localCheckpoint()
    a = daily.toDF("user_id", "x1", "y1")
    b = daily.toDF("user_id", "x2", "y2")
    slopes = (
        a.join(b, "user_id")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "user_id",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.lit(100.0) * (F.col("x2") - F.col("x1")))
            ).alias("slope"),
        )
    )
    med = slopes.groupBy("user_id").agg(F.median("slope").alias("m"))
    nd = daily.groupBy("user_id").agg(F.count("*").alias("n_days"))
    res = (
        daily.join(med, "user_id")
        .select(
            "user_id",
            (F.col("yc") / F.lit(100.0) - F.col("m") * F.col("x")).alias(
                "r"
            ),
        )
        .groupBy("user_id")
        .agg(F.median("r").alias("b0"))
    )
    return (
        nd.join(med, "user_id")
        .join(res, "user_id")
        .select(
            "user_id",
            "n_days",
            dround(F.col("m"), 6).alias("slope"),
            dround(F.col("b0"), 6).alias("intercept"),
        )
        .orderBy("user_id")
    )


@query(
    "m_path_trigrams",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE e3 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 10
    """,
)
def m_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral PATH MINING: the top-10 most common 3-step event
    sequences across all users — the sequential-pattern signal behind
    funnel discovery and next-action models (m_event_transitions counts
    single hops; order-3 paths distinguish 'view>cart>purchase' from
    'cart>view>purchase'). Per-user event streams order by (ts,
    event_id) — the repo-standard unique tiebreak — and each position
    contributes one trigram via two LEADs sharing ONE window spec.

    Scale: one user_id-keyed shuffle for the window (both leads fold
    into a single Window node over the same frame), then the trigram
    count is a standard partial+final hash agg keyed by a short path
    string; top-10 with a unique (n, path) total order plans
    TakeOrderedAndProject. Path cardinality is |event_types|^3 — tiny
    — so the final agg is broadcast-light at any corpus size."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


@query(
    "m_yoy_growth",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, year(o.o_orderdate) AS yr,
               CAST(SUM(CAST(trunc(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), lagged AS (
        SELECT n_name, yr, cents,
               lag(cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev
        FROM rev
    )
    SELECT n_name, yr,
           ROUND(cents / 100.0 * 100, 0) / 100 AS revenue,
           ROUND((cents - prev) * 100.0 / prev * 100, 0) / 100 + 0
               AS yoy_pct
    FROM lagged
    WHERE prev IS NOT NULL
    ORDER BY n_name, yr
    """,
)
def m_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the period-over-period
    comparison pattern (LAG over a calendar-keyed rollup) every BI and
    metrics pipeline layers on top of windowed aggregation.

    Float pins: yearly revenue is summed as truncated integer CENTS
    (CLAUDE.md rule 11e — the BIGINT sum is order-immune, unlike a raw
    double SUM), so the LAG and the growth ratio start from identical
    exact integers in both engines; the single double division is then
    bit-identical. Growth straddles zero, hence dround's +0.0 and the
    oracle's ``+ 0`` (rule 5b).

    Scale: one fact shuffle for the (nation, year) rollup with map-side
    partials (dims broadcast — |customer| rows but the join key is the
    fact side's o_custkey, left to AQE/broadcast by size); the window
    then operates on |nations| x |years| rows — calendar-sized,
    independent of fact volume. This is the plan shape that survives
    100 TB: nothing after the first rollup scales with row count.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.sum(F.expr("CAST(o_totalprice * 100 AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    w = W.partitionBy("n_name").orderBy("yr")
    lagged = rev.withColumn("prev", F.lag("cents").over(w))
    return (
        lagged.filter(F.col("prev").isNotNull())
        .select(
            "n_name",
            "yr",
            dround(F.col("cents") / 100.0, 2).alias("revenue"),
            dround(
                (F.col("cents") - F.col("prev"))
                * F.lit(100.0)
                / F.col("prev"),
                2,
            ).alias("yoy_pct"),
        )
        .orderBy("n_name", "yr")
    )


@query(
    "m_ts_holt",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1
    ), s AS (
        SELECT ROW_NUMBER() OVER (ORDER BY x) AS i, x, yc FROM d
    ), h AS (
        SELECT 1 AS i, s1.x, s1.yc,
               CAST(s1.yc AS DOUBLE) AS lvl,
               CAST(s2.yc AS DOUBLE) - CAST(s1.yc AS DOUBLE) AS tr
        FROM s s1 JOIN s s2 ON s1.i = 1 AND s2.i = 2
        UNION ALL
        SELECT s.i, s.x, s.yc,
               ROUND((2e-1 * CAST(s.yc AS DOUBLE)
                      + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4,
               ROUND((1e-1 * (ROUND((2e-1 * CAST(s.yc AS DOUBLE)
                                     + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4
                              - h.lvl)
                      + 9e-1 * h.tr) * 1e4) / 1e4
        FROM h JOIN s ON s.i = h.i + 1
    )
    SELECT CAST(x AS BIGINT) AS x, yc,
           lvl + 0 AS level_s,
           tr + 0 AS trend_s,
           ROUND((lvl + tr) * 1e4) / 1e4 + 0 AS forecast_next
    FROM h
    """,
)
def m_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR (double-exponential) SMOOTHING over the global daily
    revenue series (Holt 1957; the public exponential-smoothing
    family) — level l_t = a*y_t + (1-a)(l_{t-1}+b_{t-1}), trend
    b_t = g(l_t - l_{t-1}) + (1-g)b_{t-1} with a=0.2, g=0.1, init
    l_1 = y_1, b_1 = y_2 - y_1 — the trend-aware forecasting sibling of
    m_ts_ewma, emitting the smoothed series plus the one-step-ahead
    forecast l_t + b_t per day.

    Determinism: the daily totals are ``daily_cents``; the recurrence
    is inherently sequential, so both engines replay the IDENTICAL
    iteration with level and trend
    re-quantized to 4 dp half-away EACH step (round(v*1e4)/1e4 —
    cent-scale magnitudes keep v*1e4 far below 2^53, so the quantizer
    is a true fixed-point clamp, not a no-op; the l_embedding_pca /
    l_bt_leaderboard bounded-iteration sanction). The trend can go
    negative, so every output adds +0 against the rule-5b -0.0 hash
    trap. Spark literals use e-notation (2e-1, not 0.2) because SQL
    fractional literals are DECIMAL in both engines (rule 12d).

    Spark-first shape: the recurrence runs INSIDE Catalyst as an
    aggregate() higher-order function over the sort_array'd day series
    — zero Python, zero driver loops; DuckDB replays it as a recursive
    CTE. The ``day_series`` array is one row (~30 days on the
    fixture), so the fold state is a constant; the corpus-scale work is
    the ``daily_cents`` rollup.
    """
    srow = daily_cents(spark, sf_dir).agg(day_series()).filter(F.size("s") >= 2)
    prev = "element_at(acc, -1)"
    lvl_expr = (
        f"ROUND((2e-1 * CAST(e.yc AS DOUBLE)"
        f" + 8e-1 * ({prev}.lvl + {prev}.tr)) * 1e4) / 1e4"
    )
    rec = (
        "aggregate("
        " slice(s, 2, size(s) - 1),"
        " array(named_struct('x', s[0].x, 'yc', s[0].yc,"
        "  'lvl', CAST(s[0].yc AS DOUBLE),"
        "  'tr', CAST(s[1].yc AS DOUBLE) - CAST(s[0].yc AS DOUBLE))),"
        " (acc, e) -> concat(acc, array(named_struct("
        "  'x', e.x, 'yc', e.yc,"
        f"  'lvl', {lvl_expr},"
        f"  'tr', ROUND((1e-1 * ({lvl_expr} - {prev}.lvl)"
        f"   + 9e-1 * {prev}.tr) * 1e4) / 1e4"
        " ))))"
    )
    return srow.select(F.explode(F.expr(rec)).alias("e")).select(
        F.col("e.x").cast("bigint").alias("x"),
        F.col("e.yc").alias("yc"),
        (F.col("e.lvl") + F.lit(0.0)).alias("level_s"),
        (F.col("e.tr") + F.lit(0.0)).alias("trend_s"),
        (
            F.round((F.col("e.lvl") + F.col("e.tr")) * 1e4) / 1e4
            + F.lit(0.0)
        ).alias("forecast_next"),
    )


@query(
    "m_ts_holt_winters",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1
    ), s AS (
        SELECT ROW_NUMBER() OVER (ORDER BY x) AS i, x, yc FROM d
    ), init AS (
        SELECT CAST((SELECT SUM(yc) FROM s WHERE i <= 7) AS DOUBLE)
                   / CAST(7 AS DOUBLE) AS l7,
               (CAST((SELECT SUM(yc) FROM s WHERE i BETWEEN 8 AND 14)
                     AS DOUBLE) / CAST(7 AS DOUBLE)
                - CAST((SELECT SUM(yc) FROM s WHERE i <= 7) AS DOUBLE)
                   / CAST(7 AS DOUBLE)) / CAST(7 AS DOUBLE) AS b7
    ), h AS (
        SELECT 7 AS i, CAST(NULL AS BIGINT) AS x, CAST(NULL AS BIGINT) AS yc,
               init.l7 AS lvl, init.b7 AS tr,
               (SELECT list(CAST(yc AS DOUBLE) - init.l7 ORDER BY i)
                FROM s WHERE i <= 7) AS seas,
               CAST(NULL AS DOUBLE) AS fc
        FROM init
        WHERE (SELECT MAX(i) FROM s) >= 14
        UNION ALL
        SELECT s.i, s.x, s.yc,
               ROUND((2e-1 * (CAST(s.yc AS DOUBLE) - h.seas[1])
                      + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4,
               ROUND((1e-1 * ((ROUND((2e-1 * (CAST(s.yc AS DOUBLE)
                                              - h.seas[1])
                                      + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4)
                              - h.lvl)
                      + 9e-1 * h.tr) * 1e4) / 1e4,
               h.seas[2:7] || [
                   ROUND((3e-1 * (CAST(s.yc AS DOUBLE)
                                  - (ROUND((2e-1 * (CAST(s.yc AS DOUBLE)
                                                    - h.seas[1])
                                            + 8e-1 * (h.lvl + h.tr))
                                           * 1e4) / 1e4))
                          + 7e-1 * h.seas[1]) * 1e4) / 1e4],
               ROUND(((ROUND((2e-1 * (CAST(s.yc AS DOUBLE) - h.seas[1])
                              + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4)
                      + (ROUND((1e-1 * ((ROUND((2e-1 * (CAST(s.yc AS DOUBLE)
                                                        - h.seas[1])
                                                + 8e-1 * (h.lvl + h.tr))
                                               * 1e4) / 1e4) - h.lvl)
                                + 9e-1 * h.tr) * 1e4) / 1e4)
                      + h.seas[2]) * 1e4) / 1e4
        FROM h JOIN s ON s.i = h.i + 1
    )
    SELECT CAST(x AS BIGINT) AS x, yc,
           lvl + 0 AS level_s,
           tr + 0 AS trend_s,
           seas[7] + 0 AS season_s,
           fc + 0 AS forecast_next
    FROM h WHERE i >= 8
    """,
)
def m_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS ADDITIVE (triple-exponential) SMOOTHING with a
    7-day season over the global daily revenue series (Winters 1960;
    the public exponential-smoothing family) — the seasonal extension
    of m_ts_holt: level l_t = a(y_t - s_(t-7)) + (1-a)(l_(t-1) +
    b_(t-1)), trend b_t = g(l_t - l_(t-1)) + (1-g)b_(t-1), season
    s_t = d(y_t - l_t) + (1-d)s_(t-7) with a=0.2, g=0.1, d=0.3;
    classical init from the first two weeks (l = week-1 mean, b =
    week-over-week mean slope / 7, s_i = y_i - l for days 1-7); emits
    the smoothed series from day 8 plus the one-step forecast
    l_t + b_t + s_(t-6).

    Determinism: daily totals are ``daily_cents``;
    level/trend/season are re-quantized to 4 dp half-away EACH step,
    so both engines replay the identical sequential recurrence (the
    m_ts_holt sanction); all outputs carry +0 against rule-5b -0.0
    (trend and season go negative). The seasonal lag is the structural
    novelty: Spark reads it as element_at(acc, -7).s from the fold's
    own history, DuckDB carries a 7-element seasonal list through the
    recursive CTE — two independent formulations of the same state
    machine, hash-compared.

    Spark-first shape: the recurrence runs INSIDE Catalyst as one
    aggregate() higher-order fold over the ``day_series`` of the
    ``daily_cents`` rollup — zero Python, zero driver loops (m_ts_holt
    measured 0.26x of the single-process engine at x100 on the same
    shape).
    """
    srow = daily_cents(spark, sf_dir).agg(day_series()).filter(F.size("s") >= 14)
    rec = "aggregate(slice(s, 8, size(s) - 7), transform(slice(s, 1, 7), u -> named_struct('init', true, 'x', u.x, 'yc', u.yc, 'lvl', CAST(aggregate(slice(s, 1, 7), CAST(0 AS BIGINT), (a, u) -> a + u.yc) AS DOUBLE) / CAST(7 AS DOUBLE), 'tr', ((CAST(aggregate(slice(s, 8, 7), CAST(0 AS BIGINT), (a, u) -> a + u.yc) AS DOUBLE) / CAST(7 AS DOUBLE)) - (CAST(aggregate(slice(s, 1, 7), CAST(0 AS BIGINT), (a, u) -> a + u.yc) AS DOUBLE) / CAST(7 AS DOUBLE))) / CAST(7 AS DOUBLE), 's', CAST(u.yc AS DOUBLE) - (CAST(aggregate(slice(s, 1, 7), CAST(0 AS BIGINT), (a, u) -> a + u.yc) AS DOUBLE) / CAST(7 AS DOUBLE)), 'fc', CAST(NULL AS DOUBLE))), (acc, e) -> concat(acc, array(named_struct('init', false, 'x', e.x, 'yc', e.yc, 'lvl', ROUND((2e-1 * (CAST(e.yc AS DOUBLE) - element_at(acc, -7).s) + 8e-1 * (element_at(acc, -1).lvl + element_at(acc, -1).tr)) * 1e4) / 1e4, 'tr', ROUND((1e-1 * ((ROUND((2e-1 * (CAST(e.yc AS DOUBLE) - element_at(acc, -7).s) + 8e-1 * (element_at(acc, -1).lvl + element_at(acc, -1).tr)) * 1e4) / 1e4) - element_at(acc, -1).lvl) + 9e-1 * element_at(acc, -1).tr) * 1e4) / 1e4, 's', ROUND((3e-1 * (CAST(e.yc AS DOUBLE) - (ROUND((2e-1 * (CAST(e.yc AS DOUBLE) - element_at(acc, -7).s) + 8e-1 * (element_at(acc, -1).lvl + element_at(acc, -1).tr)) * 1e4) / 1e4)) + 7e-1 * element_at(acc, -7).s) * 1e4) / 1e4, 'fc', ROUND(((ROUND((2e-1 * (CAST(e.yc AS DOUBLE) - element_at(acc, -7).s) + 8e-1 * (element_at(acc, -1).lvl + element_at(acc, -1).tr)) * 1e4) / 1e4) + (ROUND((1e-1 * ((ROUND((2e-1 * (CAST(e.yc AS DOUBLE) - element_at(acc, -7).s) + 8e-1 * (element_at(acc, -1).lvl + element_at(acc, -1).tr)) * 1e4) / 1e4) - element_at(acc, -1).lvl) + 9e-1 * element_at(acc, -1).tr) * 1e4) / 1e4) + element_at(acc, -6).s) * 1e4) / 1e4))))"
    return (
        srow.select(F.explode(F.expr(rec)).alias("e"))
        .filter(~F.col("e.init"))
        .select(
            F.col("e.x").cast("bigint").alias("x"),
            F.col("e.yc").alias("yc"),
            (F.col("e.lvl") + F.lit(0.0)).alias("level_s"),
            (F.col("e.tr") + F.lit(0.0)).alias("trend_s"),
            (F.col("e.s") + F.lit(0.0)).alias("season_s"),
            (F.col("e.fc") + F.lit(0.0)).alias("forecast_next"),
        )
    )


@query(
    "m_cohort_ltv",
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cw
        FROM events GROUP BY user_id
    ), sz AS (
        SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM f GROUP BY cw
    ), r AS (
        SELECT f.cw,
               CAST((CAST(date_trunc('week', e.ts) AS DATE)
                     - CAST(f.cw AS DATE)) // 7 AS BIGINT) AS age_week,
               CAST(SUM(CAST(trunc(e.value * 100) AS BIGINT))
                    AS BIGINT) AS week_cents
        FROM events e JOIN f ON f.user_id = e.user_id
        GROUP BY 1, 2
    ), c AS (
        SELECT cw, age_week, week_cents,
               CAST(SUM(week_cents) OVER (
                   PARTITION BY cw ORDER BY age_week
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM r
    )
    SELECT CAST(CAST(c.cw AS DATE) AS VARCHAR) AS cohort_week,
           age_week, week_cents, cum_cents, sz.cohort_users,
           ROUND(CAST(cum_cents AS DOUBLE) / CAST(sz.cohort_users AS DOUBLE)
                 / 1e2 * 1e4, 0) / 1e4 + 0 AS ltv_per_user
    FROM c JOIN sz ON sz.cw = c.cw
    ORDER BY cohort_week, age_week
    """,
)
def m_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE CURVES: users grouped by first-event week
    (the m_cohort_retention cohorts), revenue accumulated by cohort
    AGE — cumulative dollars per cohort member at each week of life,
    the monetary readout subscription/growth teams pair with the
    retention triangle (retention says who came back; LTV says what
    they were worth).

    Determinism: revenue quantizes to integer cents per event (rule
    6), so the (cohort, age) rollup and the running cumulative are
    exact BIGINT — integer window sums are immune to the rule-9
    segment-tree-vs-sequential float divergence; ltv_per_user is one
    mirrored double expression over exact integers (cents → dollars
    via / 1e2), rounded 4 dp with the +0 guard. Week arithmetic is
    Monday-truncated dates and exact multiples of 7 in both engines;
    cohort_week is a derived DATE projected as yyyy-MM-dd (rule 3).

    Scale: the first-event table and the revenue rollup share the
    user_id partitioning; after the user-keyed join everything
    aggregates to the |cohorts| x |ages| calendar grid — window and
    final join are calendar-sized, independent of event volume; the
    cohort-size table broadcasts.
    """
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    sz = f.groupBy("cw").agg(F.count("*").alias("cohort_users"))
    r = (
        e.join(f, "user_id")
        .groupBy(
            "cw",
            (F.datediff(F.date_trunc("week", "ts"), F.col("cw")) / 7)
            .cast("bigint")
            .alias("age_week"),
        )
        .agg(F.sum((F.col("value") * 100).cast("bigint")).alias("week_cents"))
    )
    wc = (
        W.partitionBy("cw")
        .orderBy("age_week")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = r.select(
        "cw",
        "age_week",
        "week_cents",
        F.sum("week_cents").over(wc).cast("bigint").alias("cum_cents"),
    )
    return (
        c.join(F.broadcast(sz), "cw")
        .select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            "age_week",
            "week_cents",
            "cum_cents",
            "cohort_users",
            dround(
                F.col("cum_cents").cast("double")
                / F.col("cohort_users").cast("double")
                / F.lit(1e2),
                4,
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "age_week")
    )


@query(
    "m_ts_forecast_eval",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1
    ), s AS (
        SELECT ROW_NUMBER() OVER (ORDER BY x) AS i, x, yc FROM d
    ), h AS (
        SELECT 1 AS i, s1.x, s1.yc,
               CAST(s1.yc AS DOUBLE) AS lvl,
               CAST(s2.yc AS DOUBLE) - CAST(s1.yc AS DOUBLE) AS tr
        FROM s s1 JOIN s s2 ON s1.i = 1 AND s2.i = 2
        UNION ALL
        SELECT s.i, s.x, s.yc,
               ROUND((2e-1 * CAST(s.yc AS DOUBLE)
                      + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4,
               ROUND((1e-1 * (ROUND((2e-1 * CAST(s.yc AS DOUBLE)
                                     + 8e-1 * (h.lvl + h.tr)) * 1e4) / 1e4
                              - h.lvl)
                      + 9e-1 * h.tr) * 1e4) / 1e4
        FROM h JOIN s ON s.i = h.i + 1
    ), fc AS (
        SELECT x, yc,
               ROUND((lvl + tr) * 1e4) / 1e4 AS fc,
               LEAD(yc) OVER (ORDER BY x) AS y_next
        FROM h
    ), e AS (
        SELECT CAST(FLOOR(ABS(CAST(y_next AS DOUBLE) - fc)
                          / CAST(y_next AS DOUBLE) * 1e9 + 0.5)
                    AS BIGINT) AS ape,
               CAST(FLOOR(ABS(CAST(y_next AS DOUBLE) - fc)
                          / ((CAST(y_next AS DOUBLE) + ABS(fc)) / 2e0)
                          * 1e9 + 0.5) AS BIGINT) AS sape,
               CAST(FLOOR(ABS(CAST(y_next AS DOUBLE) - fc) * 1e2 + 0.5)
                    AS BIGINT) AS ae
        FROM fc WHERE y_next IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_evals,
           ROUND(CAST(SUM(ape) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e9 * 1e6, 0) / 1e6 + 0 AS mape,
           ROUND(CAST(SUM(sape) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e9 * 1e6, 0) / 1e6 + 0 AS smape,
           ROUND(CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e2 * 1e4, 0) / 1e4 + 0 AS mae_cents
    FROM e
    """,
)
def m_ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST READOUT: one-step-ahead MAPE / sMAPE / MAE of
    the m_ts_holt forecasts against the NEXT day's actual revenue —
    the walk-forward evaluation a pipeline runs before trusting any
    smoother's alpha/gamma (every day's forecast uses only prior days,
    so this is a true out-of-sample backtest, not a fit statistic).

    Determinism: builds directly on m_ts_holt's output (its level/
    trend recurrence is re-quantized each step, so forecast_next is an
    exact 4-dp grid double in both engines); each per-day error ratio
    is half-up quantized to 1e-9 fixed-point BIGINT BEFORE the sum
    (rule 11e — cross-row float summation is never trusted to order),
    and the final means are one mirrored double expression. All
    outputs are non-negative ratios but carry +0 anyway.

    Scale: inherits m_ts_holt's shape — the corpus-sized work is the
    daily cents rollup (map-side-partial groupBy); the backtest join
    is a LEAD window over the calendar-bounded day series and the
    readout is a 4-scalar aggregate of a ~|days| frame.
    """
    h = m_ts_holt(spark, sf_dir)
    wo = W.orderBy("x")
    fc = h.select(
        "x",
        "yc",
        (F.round((F.col("level_s") + F.col("trend_s")) * 1e4) / 1e4).alias("fc"),
        F.lead("yc").over(wo).alias("y_next"),
    ).filter(F.col("y_next").isNotNull())
    yd = F.col("y_next").cast("double")
    err = F.abs(yd - F.col("fc"))
    e = fc.select(
        F.floor(err / yd * 1e9 + 0.5).cast("bigint").alias("ape"),
        F.floor(err / ((yd + F.abs(F.col("fc"))) / F.lit(2.0)) * 1e9 + 0.5)
        .cast("bigint")
        .alias("sape"),
        F.floor(err * 1e2 + 0.5).cast("bigint").alias("ae"),
    )
    n = F.count("*").cast("bigint")
    return e.agg(
        n.alias("n_evals"),
        dround(
            F.sum("ape").cast("double") / F.count("*").cast("double") / F.lit(1e9),
            6,
        ).alias("mape"),
        dround(
            F.sum("sape").cast("double") / F.count("*").cast("double") / F.lit(1e9),
            6,
        ).alias("smape"),
        dround(
            F.sum("ae").cast("double") / F.count("*").cast("double") / F.lit(1e2),
            4,
        ).alias("mae_cents"),
    )


@query(
    "m_ts_kalman",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS i,
               x, yc
        FROM d
    ), h AS (
        SELECT event_type, 1 AS i, x, yc,
               CAST(yc AS DOUBLE) AS lvl, 1e4 AS pv, 0e0 AS k
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i, s.x, s.yc,
               ROUND((h.lvl
                      + (ROUND((h.pv + 25e0) / (h.pv + 25e0 + 1e4) * 1e6)
                         / 1e6)
                        * (CAST(s.yc AS DOUBLE) - h.lvl)) * 1e4) / 1e4,
               ROUND(((1e0 - ROUND((h.pv + 25e0) / (h.pv + 25e0 + 1e4)
                                   * 1e6) / 1e6)
                      * (h.pv + 25e0)) * 1e4) / 1e4,
               ROUND((h.pv + 25e0) / (h.pv + 25e0 + 1e4) * 1e6) / 1e6
        FROM h JOIN s ON s.event_type = h.event_type AND s.i = h.i + 1
    )
    SELECT event_type, CAST(x AS BIGINT) AS x, yc,
           lvl + 0 AS level_s,
           pv + 0 AS var_p,
           k + 0 AS gain_k
    FROM h
    """,
)
def m_ts_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER (local-level / random-walk-plus-noise model)
    over each event type's daily revenue series (Kalman 1960; the
    public state-space filtering method): per step the prior variance
    inflates by process noise Q=25, the gain K = P/(P+R) with
    observation noise R=1e4 blends the new observation into the level
    l_t = l_{t-1} + K(y_t - l_{t-1}), and the posterior variance
    contracts to (1-K)P. Unlike m_ts_ewma's FIXED smoothing constant,
    the Kalman gain ADAPTS: it starts high (uncertain prior) and
    settles to the steady-state ratio — the optimal online denoiser a
    metrics pipeline runs over noisy daily series.

    Determinism: daily totals are ``daily_cents``; the recurrence
    replays IDENTICALLY in both engines with the gain quantized to the
    1e-6 grid and level/variance to the
    1e-4 grid each step (the m_ts_holt bounded-iteration sanction);
    every float output adds +0 (rule 5b). Literals in e-notation
    (rule 12d).

    Spark-first shape: the recurrence runs INSIDE Catalyst as an
    aggregate() higher-order fold over each type's ``day_series`` of
    the ``daily_cents`` rollup — zero Python, zero driver loops; DuckDB
    replays it as a per-key recursive CTE. One event type = one fold
    task; the type domain is bounded (|event_types| ~ 10), matching the
    m_ts_holt sanction."""
    daily = daily_cents(spark, sf_dir, "event_type")
    srow = daily.groupBy("event_type").agg(day_series())
    prev = "element_at(acc, -1)"
    k_expr = (
        f"ROUND(({prev}.pv + 25e0) / ({prev}.pv + 25e0 + 1e4) * 1e6) / 1e6"
    )
    rec = (
        "aggregate("
        " slice(s, 2, size(s) - 1),"
        " array(named_struct('x', s[0].x, 'yc', s[0].yc,"
        "  'lvl', CAST(s[0].yc AS DOUBLE), 'pv', 1e4, 'k', 0e0)),"
        " (acc, e) -> concat(acc, array(named_struct("
        "  'x', e.x, 'yc', e.yc,"
        f"  'lvl', ROUND(({prev}.lvl + ({k_expr})"
        f"   * (CAST(e.yc AS DOUBLE) - {prev}.lvl)) * 1e4) / 1e4,"
        f"  'pv', ROUND(((1e0 - ({k_expr})) * ({prev}.pv + 25e0)) * 1e4)"
        "   / 1e4,"
        f"  'k', {k_expr}"
        " ))))"
    )
    return srow.select(
        "event_type", F.explode(F.expr(rec)).alias("e")
    ).select(
        "event_type",
        F.col("e.x").cast("bigint").alias("x"),
        F.col("e.yc").alias("yc"),
        (F.col("e.lvl") + F.lit(0.0)).alias("level_s"),
        (F.col("e.pv") + F.lit(0.0)).alias("var_p"),
        (F.col("e.k") + F.lit(0.0)).alias("gain_k"),
    )


@query(
    "m_ts_cusum",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS yc
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS i,
               x, yc
        FROM d
    ), p AS (
        SELECT event_type,
               CAST(SUM(yc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
               ROUND(sqrt((CAST(COUNT(*) * SUM(yc * yc)
                                - SUM(yc) * SUM(yc) AS DOUBLE))
                          / CAST(COUNT(*) * COUNT(*) AS DOUBLE))
                     * 1e4) / 1e4 AS sd
        FROM s GROUP BY event_type
    ), h AS (
        SELECT s.event_type, s.i, s.x, s.yc, p.mu, p.sd,
               0e0 AS cpos, 0e0 AS cneg
        FROM s JOIN p ON p.event_type = s.event_type WHERE s.i = 1
        UNION ALL
        SELECT h.event_type, s.i, s.x, s.yc, h.mu, h.sd,
               ROUND(GREATEST(0e0, h.cpos + (CAST(s.yc AS DOUBLE) - h.mu
                                             - 5e-1 * h.sd)) * 1e4) / 1e4,
               ROUND(GREATEST(0e0, h.cneg - (CAST(s.yc AS DOUBLE) - h.mu
                                             + 5e-1 * h.sd)) * 1e4) / 1e4
        FROM h JOIN s ON s.event_type = h.event_type AND s.i = h.i + 1
    )
    SELECT event_type, CAST(x AS BIGINT) AS x, yc,
           cpos + 0 AS cusum_pos,
           cneg + 0 AS cusum_neg,
           CASE WHEN cpos > 4e0 * sd OR cneg > 4e0 * sd THEN 1 ELSE 0 END
               AS alarm
    FROM h
    """,
)
def m_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SIDED CUSUM CHANGE DETECTION (Page 1954; the classic
    sequential drift monitor; public method) over each event type's
    daily revenue: with per-type reference mean mu and population sd,
    the positive chart accumulates C+_t = max(0, C+_{t-1} + (y_t - mu
    - k)) and the negative chart C-_t = max(0, C-_{t-1} - (y_t - mu +
    k)) with slack k = 0.5*sd; an alarm fires when either chart
    crosses h = 4*sd — the standard (k, h) = (0.5 sigma, 4 sigma)
    tuning. The monitoring primitive a metrics pipeline runs where
    m_ts_changepoint does retrospective segmentation.

    Determinism: daily totals are ``daily_cents``; mu is one int-ratio
    division, sd one correctly-rounded sqrt over exact integer moments
    quantized to the 1e-4 grid; the recurrence replays identically in
    both engines with each chart re-quantized per step (the m_ts_holt
    sanction); chart values are >= 0 by construction and every output
    adds +0 (rule 5b).

    Spark-first shape: reference moments ride the SAME per-type
    groupBy that builds the ``day_series`` (no second scan); the
    recurrence is a zero-Python aggregate() fold over it; DuckDB
    replays it as a per-key recursive CTE. The corpus-scale work is
    the ``daily_cents`` rollup."""
    daily = daily_cents(spark, sf_dir, "event_type")
    srow = daily.groupBy("event_type").agg(
        day_series(),
        (
            F.sum("yc").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
        (
            F.round(
                F.sqrt(
                    (
                        F.count(F.lit(1)) * F.sum(F.col("yc") * F.col("yc"))
                        - F.sum("yc") * F.sum("yc")
                    ).cast("double")
                    / (F.count(F.lit(1)) * F.count(F.lit(1))).cast("double")
                )
                * 1e4
            )
            / 1e4
        ).alias("sd"),
    )
    prev = "element_at(acc, -1)"
    rec = (
        "aggregate("
        " slice(s, 2, size(s) - 1),"
        " array(named_struct('x', s[0].x, 'yc', s[0].yc,"
        "  'cpos', 0e0, 'cneg', 0e0)),"
        " (acc, e) -> concat(acc, array(named_struct("
        "  'x', e.x, 'yc', e.yc,"
        f"  'cpos', ROUND(GREATEST(0e0, {prev}.cpos"
        "    + (CAST(e.yc AS DOUBLE) - mu - 5e-1 * sd)) * 1e4) / 1e4,"
        f"  'cneg', ROUND(GREATEST(0e0, {prev}.cneg"
        "    - (CAST(e.yc AS DOUBLE) - mu + 5e-1 * sd)) * 1e4) / 1e4"
        " ))))"
    )
    return srow.select(
        "event_type", "sd", F.explode(F.expr(rec)).alias("e")
    ).select(
        "event_type",
        F.col("e.x").cast("bigint").alias("x"),
        F.col("e.yc").alias("yc"),
        (F.col("e.cpos") + F.lit(0.0)).alias("cusum_pos"),
        (F.col("e.cneg") + F.lit(0.0)).alias("cusum_neg"),
        F.when(
            (F.col("e.cpos") > 4.0 * F.col("sd"))
            | (F.col("e.cneg") > 4.0 * F.col("sd")),
            1,
        )
        .otherwise(0)
        .alias("alarm"),
    )


@query(
    "m_funnel_windowed",
    oracle="""
    WITH v AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), s1 AS (
        SELECT DISTINCT user_id FROM v
    ), s2 AS (
        SELECT DISTINCT v.user_id
        FROM v JOIN c ON c.user_id = v.user_id
                     AND c.ts > v.ts
                     AND epoch_us(c.ts) - epoch_us(v.ts) <= 3600000000
    ), s3 AS (
        -- every pairwise join edge carries an EXPLICIT user_id equality
        -- (p.user_id = c.user_id is implied but, left implicit, DuckDB
        -- reorders to a clicks-x-purchases PIECEWISE_MERGE_JOIN on the
        -- ts inequality alone: quadratic, 44 s at sf0.1 — rule 7)
        SELECT DISTINCT v.user_id
        FROM v
        JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
              AND epoch_us(c.ts) - epoch_us(v.ts) <= 3600000000
        JOIN p ON p.user_id = v.user_id AND p.user_id = c.user_id
              AND p.ts > c.ts
              AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
    )
    SELECT stage, n_users,
           CAST(n_users AS DOUBLE)
               / (SELECT COUNT(*) FROM s1) AS frac_of_stage1
    FROM (
        SELECT 1 AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, CAST(COUNT(*) AS BIGINT) FROM s3
    )
    """,
)
def m_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED FUNNEL (the ClickHouse ``windowFunnel`` semantic):
    users reaching view → click → purchase as an ORDERED chain that
    completes within a sliding 1-hour window anchored at the view —
    unlike m_funnel_stages' whole-history first-event funnel, every
    stage must happen inside the window, which is how conversion
    funnels are actually specified (a purchase a week later is not
    attributable to the session).

    Plan: one ``user_id``-keyed shuffle of the three event types, two
    running-max windows over each user's events in time order, a
    per-user flag aggregate on the same partitioning, and one global
    sum. Per row, over the frame of the user's events STRICTLY earlier
    (``rangeBetween(unboundedPreceding, -1)`` on epoch micros, so
    same-timestamp peers are out — the oracle's strict ``c.ts > v.ts``
    and ``p.ts > c.ts``):

    - ``lv`` = the latest earlier view;
    - ``lcv`` = the largest ``lv`` of an earlier click. ``lv`` never
      decreases as time grows, so this is the anchor of the latest
      earlier click, the best anchor any earlier click can give.

    A user reaches stage 1 with any view, stage 2 with a click
    ``t − lv ≤ 1h``, stage 3 with a purchase ``t − lcv ≤ 1h``; then
    ``c − v ≤ p − v ≤ 1h``, so the click is inside the hour too. A
    later view can only shrink ``t − v``, so the latest anchor decides.
    Stages 2 and 3 also need ``user_id IS NOT NULL``: the oracle's
    joins drop NULL keys, while stage 1's DISTINCT keeps the NULL
    user. A NULL ``ts`` sorts first and only frames NULL-ts rows, so
    it anchors nothing and completes nothing, as in the oracle.

    Determinism: pure timestamp-integer arithmetic (epoch micros) and
    exact integer counts — no floats until the final ratio.

    Scale: one scan and one ``user_id`` shuffle of the three event
    types; each user's sorted events stream through both windows with
    O(1) state, so nothing fans out per user-hour (the chain-join plan
    this replaced enumerated every view × click × purchase pair inside
    the hour and shuffled each event subset once per branch). The
    windows are partitioned (pin 14a), and the 3 rows come from
    ``stack`` over one 1-row aggregate: no join, no union. 3 jobs
    instead of 9; per call on a 4-vCPU host (``get_spark()``, order
    alternated) 0.296 → 0.202 s at sf0.1 (10 reps) and 0.56 → 0.38 s
    at x100 (1 M events, 4 reps), same hash at both.
    """
    hour = 3600000000
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    before = (
        W.partitionBy("user_id").orderBy("t")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    is_ = lambda kind: F.col("event_type") == kind
    flag = lambda cond: F.max(F.when(cond, 1).otherwise(0))
    keyed = F.col("user_id").isNotNull()
    users = (
        ev.withColumn("lv", F.max(F.when(is_("view"), F.col("t"))).over(before))
        .withColumn("lcv", F.max(F.when(is_("click"), F.col("lv"))).over(before))
        .groupBy("user_id")
        .agg(
            flag(is_("view")).alias("r1"),
            flag(keyed & is_("click") & (F.col("t") - F.col("lv") <= hour)).alias("r2"),
            flag(keyed & is_("purchase") & (F.col("t") - F.col("lcv") <= hour)).alias("r3"),
        )
    )
    totals = users.agg(
        *[F.coalesce(F.sum(f"r{k}"), F.lit(0)).alias(f"n{k}") for k in (1, 2, 3)]
    )
    return totals.select(
        F.expr("stack(3, 1, n1, 2, n2, 3, n3) AS (stage, n_users)"),
        "n1",
    ).select(
        "stage",
        "n_users",
        (F.col("n_users").cast("double") / F.col("n1").cast("double")).alias(
            "frac_of_stage1"
        ),
    )
