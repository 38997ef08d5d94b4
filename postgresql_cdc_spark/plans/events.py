"""Event-time queries over the ``events`` fixture: tumbling, sliding and
session windows, sessionization, funnels, retention, attribution, as-of
joins, and per-user sequence and anomaly analytics.

Every query reads events through ``common.EV`` (fixture-agnostic ``ts``);
session-derived queries build on the one canonical 30-minute gap rule
(``common.SESSIONIZED_EVENTS_CTE`` / ``sessionized_events``). All window
math happens in integer epoch-milliseconds or whole-day differences, so the
DuckDB oracles are bit-exact.

Reference parity: the reference has no event-time notion (SURVEY.md §2.2);
these are north-star extensions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators import text as tx
from postgresql_cdc_spark.plans.common import (
    D,
    DEC,
    EV,
    H60,
    SESSIONIZED_EVENTS_CTE,
    T,
    sessionized_events,
)
from postgresql_cdc_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Event-time patterns (batch analogs of the streaming operators)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 1h event-time window (same op as streaming window()).",
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            D(F.sum(DEC("value", 12, 2))).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE}
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MAX(ts_ms) - MIN(ts_ms) AS duration_ms
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30 min) via windowed cumulative flag.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionized_events(spark, sf_dir).groupBy(
        "user_id", "session_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
    )


@register(
    "asof_purchase_to_signup",
    """
    WITH tiers AS (
        SELECT user_id, ts, MAX(event_id) AS signup_event_id
        FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
    purchases AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, t.signup_event_id, p.value
    FROM purchases p ASOF JOIN tiers t
      ON p.user_id = t.user_id AND p.ts >= t.ts
    """,
    doc="as-of join: each purchase matched to the user's latest prior signup.",
)
def asof_purchase_to_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.asof import asof_join

    e = EV(spark, sf_dir)
    tiers = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases, tiers, on="user_id", left_time="ts", right_time="ts", how="inner"
    )
    return joined.select("event_id", "user_id", "signup_event_id", "value")


@register(
    "asof_tolerance_recent_signups",
    """
    WITH tiers AS (
        SELECT user_id, ts, MAX(event_id) AS signup_event_id
        FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
    purchases AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
    matched AS (
        SELECT p.event_id, p.user_id, t.signup_event_id, p.value,
               epoch_ms(p.ts) - epoch_ms(t.ts) AS lag_ms
        FROM purchases p ASOF JOIN tiers t
          ON p.user_id = t.user_id AND p.ts >= t.ts)
    SELECT event_id, user_id, signup_event_id, value
    FROM matched WHERE lag_ms <= 7 * 86400000
    """,
    doc="as-of join with a 7-day tolerance (pandas merge_asof semantics): a "
        "purchase whose nearest prior signup is older than the tolerance is "
        "unmatched and drops under 'inner'. Same single-shuffle union+window "
        "plan as the unbounded as-of; the tolerance is a post-match filter, "
        "never a range join.",
)
def asof_tolerance_recent_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.asof import asof_join

    e = EV(spark, sf_dir)
    tiers = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases, tiers, on="user_id", left_time="ts", right_time="ts",
        how="inner", tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return joined.select("event_id", "user_id", "signup_event_id", "value")


@register(
    "events_sliding_windows",
    """
    WITH e AS (SELECT epoch_ms(ts) AS ts_ms, value FROM events),
    w AS (
        SELECT ts_ms - (ts_ms % 900000) - k * 900000 AS w_start, value
        FROM e, LATERAL unnest([0, 1, 2, 3]) AS t(k)
    )
    SELECT w_start,
           w_start + 3600000 AS w_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS total_value
    FROM w
    WHERE w_start >= 0
    GROUP BY w_start
    """,
    doc="Sliding event-time windows (1 h length, 15 min slide): every event "
        "lands in 4 overlapping windows. Spark's window() explodes the "
        "assignment exactly like the oracle's unnest of the 4 window starts; "
        "output bounds in epoch-ms, sums in exact decimal.",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_millis("w.start").alias("w_start"),
            F.unix_millis("w.end").alias("w_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_session_native",
    """
    WITH flagged AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                        OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                        > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts_ms,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_id
        FROM flagged)
    SELECT user_id,
           MIN(ts_ms) AS session_start,
           MAX(ts_ms) + 1800000 AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Spark's native session_window (30 min gap): session end = last "
        "event + gap, matching the oracle's gap-flag cumulative-sum "
        "formulation. Exercises the built-in session merge operator the "
        "window-function sessionization (events_sessionize) reimplements. "
        "ts is truncated to milliseconds first so Spark's merge decisions "
        "happen at the same precision as the oracle's epoch_ms diff (both "
        "keep an event exactly at the gap in the same session — verified "
        "empirically: session_window merges when diff <= gap); without the "
        "truncation a microsecond-tail diff could split where the ms-floored "
        "oracle merges.",
)
def events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).withColumn("ts", F.timestamp_millis(F.unix_millis("ts")))
    sw = F.session_window("ts", "30 minutes")
    return (
        e.groupBy("user_id", sw.alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("s.start").alias("session_start"),
            F.unix_millis("s.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "events_value_median",
    """
    SELECT event_type,
           median(value) AS median_value,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Grouped-aggregate pandas UDAF (the one UDF surface the other "
        "queries don't touch): per-type median of event values via an "
        "Arrow-batched numpy kernel. Median interpolates (a+b)/2 in float64 "
        "identically in numpy and DuckDB, so the compare is exact. Order-"
        "statistics genuinely need the group's values together — the "
        "legitimate use of a grouped-agg UDF over built-ins.",
)
def events_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    # Spark cannot mix grouped-agg pandas UDFs with JVM aggregates in one
    # agg, so the count is a (trivial) pandas UDAF too.
    @pandas_udf("long")
    def count_udf(v: pd.Series) -> int:
        return len(v)

    e = EV(spark, sf_dir)
    return e.groupBy("event_type").agg(
        median_udf("value").alias("median_value"),
        count_udf("value").alias("n_events"),
    )


@register(
    "events_user_journeys",
    """
    WITH o AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ms(ts), event_id) AS rn,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ms(ts), event_id) AS prev_type
        FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN prev_type IS NOT NULL
                          AND prev_type <> event_type THEN 1 ELSE 0 END) AS INT)
             AS n_transitions,
           MIN(CASE WHEN rn = 1 THEN event_type END) AS first_type,
           MAX(ts_ms) - MIN(ts_ms) AS span_ms
    FROM o GROUP BY user_id
    """,
    doc="Per-user event-sequence featurization via applyInPandas (grouped "
        "map): each group arrives as one pandas frame, is sorted by "
        "(ts_ms, event_id), and reduces to sequence features — the escape "
        "hatch for per-key logic Spark expressions can't say. State is one "
        "group in memory at a time; the shuffle is the same single hash "
        "exchange a groupBy needs.",
)
def events_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.unix_millis("ts").alias("ts_ms")
    )

    def journey(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_ms", "event_id"])
        types = pdf["event_type"].to_numpy()
        transitions = int((types[1:] != types[:-1]).sum()) if len(types) > 1 else 0
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "n_transitions": [transitions],
                "first_type": [types[0]],
                "span_ms": [int(pdf["ts_ms"].max() - pdf["ts_ms"].min())],
            }
        )

    return e.groupBy("user_id").applyInPandas(
        journey,
        schema="user_id long, n_events long, n_transitions int, "
               "first_type string, span_ms long",
    )


@register(
    "events_gapfill_locf",
    """
    WITH obs AS (
        SELECT user_id AS k, date_trunc('day', ts) AS bucket, value AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id,
                              date_trunc('day', ts)) AS n_events
        FROM events
    ),
    b AS (SELECT k, bucket, v, n_events FROM obs WHERE rn = 1),
    rng AS (SELECT k, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY k),
    spine AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
              FROM rng),
    j AS (SELECT s.k, s.bucket, b.v, b.n_events
          FROM spine s LEFT JOIN b ON s.k = b.k AND s.bucket = b.bucket)
    SELECT k AS user_id,
           CAST(bucket AS VARCHAR) AS bucket_start,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           v IS NULL AS is_filled
    FROM j
    """,
    doc="Hypertable-style gap-filled rollup (TimescaleDB time_bucket_gapfill"
        " + locf): per-user DAILY buckets over each user's observed range, "
        "missing days emitted with the last observed value carried forward "
        "and n_events=0. The deterministic last observation (ordered by ts, "
        "event_id) and the verbatim value carry keep both engines "
        "bit-identical with no float arithmetic. Scale: one (key, bucket) "
        "window pass + a per-key spine explode bounded by range/bucket — "
        "the continuous-aggregate shape of any metrics store.",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.timeseries import gapfill_locf

    e = EV(spark, sf_dir)
    out = gapfill_locf(e, "ts", "user_id", "value", "event_id", unit="day")
    return out.select(
        "user_id",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
        "value",
        "n_events",
        "is_filled",
    )


@register(
    "events_retention_cohorts",
    """
    WITH activity AS (
        SELECT user_id, date_trunc('day', ts) AS d FROM events GROUP BY 1, 2
    ),
    cohort AS (SELECT user_id, MIN(d) AS c FROM activity GROUP BY 1)
    SELECT CAST(c AS VARCHAR) AS cohort_day,
           CAST(date_diff('day', c, d) AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM activity JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: users bucketed by first-activity day, "
        "counted per whole-day offset of each later active day — the "
        "dashboard behind every retention curve. Distinct (user, day) "
        "activity first, so a burst of events one day counts once. All "
        "integer day arithmetic on midnight-truncated buckets.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    activity = e.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("d").alias("c"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            # DuckDB's date_trunc('day', ts) yields a DATE, so the twin's
            # VARCHAR cast has no time part — format date-only to match.
            F.date_format("c", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("c")).cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_funnel_steps",
    """
    WITH s1 AS (SELECT user_id, MIN(epoch_ms(ts)) AS t1
                FROM events WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t2
           GROUP BY e.user_id)
    SELECT s1.user_id, s1.t1 AS view_ms, s2.t2 AS click_ms, s3.t3 AS purchase_ms
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    doc="Ordered funnel (view -> click -> purchase): per user, the first "
        "view, the first click strictly after it, and the first purchase "
        "strictly after that — users who stall mid-funnel keep NULLs, so "
        "per-stage conversion is a COUNT over this frame. Chained "
        "filtered-min aggregations joined on user (each stage only scans "
        "users who reached the previous one); integer epoch-ms throughout.",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("view_ms"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ms") > F.col("view_ms"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("click_ms"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ms") > F.col("click_ms"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("purchase_ms"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", "view_ms", "click_ms", "purchase_ms")
    )


# --- robust outlier screening (IQR fences) -----------------------------------

@register(
    "events_outliers_iqr",
    """
    WITH s AS (SELECT event_type,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events),
    q AS (SELECT event_type,
                 percentile_disc(0.25) WITHIN GROUP (ORDER BY vmic) AS p25,
                 percentile_disc(0.75) WITHIN GROUP (ORDER BY vmic) AS p75
          FROM s GROUP BY event_type)
    SELECT s.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN vmic > p75 + 3 * (p75 - p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(SUM(CASE WHEN vmic < p25 - 3 * (p75 - p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           q.p25 AS p25_micros, q.p75 AS p75_micros
    FROM s JOIN q USING (event_type)
    GROUP BY s.event_type, q.p25, q.p75
    """,
    doc="Robust outlier screening with Tukey-style IQR fences (3x) per "
        "event type — the data-quality pass that flags sensor glitches and "
        "log spam before metrics aggregation. Mean/stddev fences are "
        "float-accumulation-order dependent AND skew-sensitive; discrete "
        "quartiles over floor-quantized integer micros are exact on both "
        "engines and robust to the very outliers being hunted. Two hash "
        "aggs + one broadcast joinback of the tiny per-type fence table.",
)
def events_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    q = s.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY vmic)")
        .alias("p25"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY vmic)")
        .alias("p75"),
    )
    return (
        s.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p25", "p75")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("vmic") > F.col("p75") + 3 * (F.col("p75") - F.col("p25")),
                    1,
                ).otherwise(0)
            ).alias("n_hi"),
            F.sum(
                F.when(
                    F.col("vmic") < F.col("p25") - 3 * (F.col("p75") - F.col("p25")),
                    1,
                ).otherwise(0)
            ).alias("n_lo"),
        )
        .select(
            "event_type", "n", "n_hi", "n_lo",
            # Spark's percentile_disc yields DOUBLE even over integer input;
            # the value is an actual data element, so the bigint cast is
            # lossless and matches the oracle's integer micros.
            F.col("p25").cast("bigint").alias("p25_micros"),
            F.col("p75").cast("bigint").alias("p75_micros"),
        )
    )


# --- marketing attribution (last non-purchase touch before each purchase) ----

@register(
    "events_attribution_last_touch",
    """
    WITH o AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
                      last_value(CASE WHEN event_type <> 'purchase'
                                      THEN event_type END IGNORE NULLS)
                          OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS touch
               FROM events)
    SELECT COALESCE(touch, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM o WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch, 'none')
    """,
    doc="Last-touch attribution: each purchase credits the user's most "
        "recent preceding non-purchase event (ties broken by event_id, both "
        "engines). One user-partitioned window (IGNORE NULLS last_value "
        "over the preceding frame) + one hash agg — the window shuffles on "
        "user_id exactly once, the same partitioning every sessionization "
        "query reuses. Purchases with no prior touch attribute to 'none'.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_millis("ts").alias("ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    o = e.withColumn("touch", touch)
    return (
        o.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


# --- distribution histogram ---------------------------------------------------

@register(
    "events_value_histogram",
    """
    SELECT event_type,
           CAST(floor(value / 5.0) AS BIGINT) AS bin,
           CAST(floor(value / 5.0) * 5 AS BIGINT) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, floor(value / 5.0)
    """,
    doc="Fixed-width histogram of event values per type (width 5): the "
        "distribution summary a monitoring pipeline emits per batch. floor "
        "binning is engine-exact on doubles; one hash agg, fully partial-"
        "aggregatable, so at 100 TB it map-side combines to "
        "types x bins rows before the exchange.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    b = F.floor(F.col("value") / 5.0)
    return (
        e.groupBy(
            "event_type",
            b.cast("bigint").alias("bin"),
            (b * 5).cast("bigint").alias("bin_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", "bin", "bin_lo", "n")
    )


# --- deterministic A/B assignment + conversion lift --------------------------

@register(
    "events_ab_test_lift",
    f"""
    WITH a AS (SELECT user_id,
                      CASE WHEN {H60.format(x="'ab:' || CAST(user_id AS VARCHAR)")}
                                % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                      MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS exposed,
                      MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS converted
               FROM events GROUP BY 1, 2)
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(exposed) AS BIGINT) AS n_exposed,
           CAST(SUM(CASE WHEN exposed = 1 THEN converted ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST((1000 * SUM(CASE WHEN exposed = 1 THEN converted ELSE 0 END))
                // NULLIF(SUM(exposed), 0) AS BIGINT) AS conv_milli
    FROM a GROUP BY arm
    """,
    doc="Deterministic A/B experiment readout: users hash into stable arms "
        "(salted portable hash — assignment survives re-runs and "
        "re-sharding, same property as corpus_split_assign), and per arm "
        "the exposed-user conversion rate lands as an exact integer "
        "per-mille. Two hash aggs (user rollup, then arm rollup) — the "
        "user rollup is the same shuffle key every per-user query reuses.",
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    e = EV(spark, sf_dir)
    arm = F.when(
        h60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2 == 0,
        "A",
    ).otherwise("B")
    a = (
        e.groupBy("user_id", arm.alias("arm"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("exposed"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
        )
    )
    conv = F.sum(
        F.when(F.col("exposed") == 1, F.col("converted")).otherwise(0)
    )
    return a.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("exposed").cast("bigint").alias("n_exposed"),
        conv.cast("bigint").alias("n_converted"),
        F.expr(
            "CAST((1000 * SUM(CASE WHEN exposed = 1 THEN converted ELSE 0 END))"
            " DIV NULLIF(SUM(exposed), 0) AS BIGINT)"
        ).alias("conv_milli"),
    )


# --- session-length histogram (bounce report) --------------------------------

@register(
    "events_session_length_hist",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                        OVER (PARTITION BY user_id
                              ORDER BY epoch_ms(ts), event_id)
                        > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts_ms, event_id
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged),
    per_session AS (
        SELECT user_id, session_id, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id)
    SELECT CAST(n_events AS BIGINT) AS session_len,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM per_session GROUP BY n_events
    """,
    doc="Session-length distribution over gap-sessionized events (30 min, "
        "same boundary rules as events_sessionize): the bounce report — "
        "the session_len=1 row IS the bounce count, and the full histogram "
        "is what an engagement dashboard plots. One user-partitioned "
        "window + two hash aggs; the user shuffle is shared with every "
        "other sessionization query.",
)
def events_session_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reuse the canonical sessionizer — the "same boundary rules" promise
    # holds by construction instead of by a third hand-copied pipeline.
    per_session = events_sessionize(spark, sf_dir)
    return per_session.groupBy(
        F.col("n_events").cast("bigint").alias("session_len")
    ).agg(F.count(F.lit(1)).alias("n_sessions"))


# --- as-of join, nearest direction -------------------------------------------

@register(
    "asof_nearest_purchase_to_view",
    """
    WITH views AS (SELECT user_id, ts, MAX(event_id) AS view_event_id
                   FROM events WHERE event_type = 'view'
                   GROUP BY user_id, ts),
    purch AS (SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase'),
    cand AS (SELECT p.event_id, p.user_id, p.value, v.view_event_id,
                    abs(epoch_ms(p.ts) - epoch_ms(v.ts)) AS dist,
                    CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END AS fwd
             FROM purch p JOIN views v USING (user_id)),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                       ORDER BY dist, fwd) AS rn
          FROM cand)
    SELECT event_id, user_id, view_event_id, value
    FROM r WHERE rn = 1
    """,
    doc="merge_asof direction='nearest': each purchase matched to the "
        "user's CLOSEST view on either side of it (exact tie -> the prior "
        "one, the operator's documented rule). Same single-shuffle "
        "union+window as-of machinery — nearest adds a window over the "
        "following frame, not a second exchange; the oracle enumerates "
        "per-user candidates and argmins, tractable at gate scale only "
        "(DuckDB ASOF JOIN itself is backward-only).",
)
def asof_nearest_purchase_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.asof import asof_join

    e = EV(spark, sf_dir)
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purch, views, on="user_id", left_time="ts", right_time="ts",
        how="inner", direction="nearest",
    )
    return joined.select("event_id", "user_id", "view_event_id", "value")


# --- robust outliers: median absolute deviation ------------------------------

@register(
    "events_outliers_mad",
    """
    WITH s AS (SELECT event_type,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events),
    med AS (SELECT event_type,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic) AS med
            FROM s GROUP BY event_type),
    d AS (SELECT s.event_type, vmic, med, abs(vmic - med) AS adev
          FROM s JOIN med USING (event_type)),
    mad AS (SELECT event_type,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
            FROM d GROUP BY event_type)
    SELECT d.event_type,
           CAST(MIN(d.med) AS BIGINT) AS median_micros,
           CAST(MIN(mad.mad) AS BIGINT) AS mad_micros,
           CAST(SUM(CASE WHEN abs(d.vmic - d.med) > 10 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust outlier screening via Median Absolute Deviation (Hampel "
        "identifier, 10x fence) per event type — MAD survives up to 50% "
        "contamination where the IQR fence breaks at 25%, the standard "
        "escalation when a feed is badly polluted. Discrete medians over "
        "floor-quantized integer micros are exact on both engines (no "
        "float accumulation order). Shape: two grouped percentile passes "
        "+ two broadcast joinbacks of per-type scalars — the detail table "
        "shuffles on event_type once per pass, fully partial-aggregatable "
        "at the final count.",
)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    med = s.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)")
        .cast("bigint").alias("med")
    )
    d = s.join(F.broadcast(med), "event_type").select(
        "event_type", "vmic", "med",
        F.abs(F.col("vmic") - F.col("med")).alias("adev"),
    )
    mad = d.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .cast("bigint").alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("median_micros"),
            F.min("mad").alias("mad_micros"),
            F.sum(
                F.when(
                    F.abs(F.col("vmic") - F.col("med"))
                    > 10 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --- activity streaks (gaps and islands) -------------------------------------

@register(
    "events_activity_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id,
                         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                             AS d
                  FROM events),
    isl AS (SELECT user_id,
                   d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                       AS g
            FROM days),
    st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
           FROM isl GROUP BY user_id, g),
    mx AS (SELECT user_id, MAX(len) AS max_streak FROM st GROUP BY user_id)
    SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM mx GROUP BY max_streak
    """,
    doc="Longest consecutive-day activity streak per user, reported as a "
        "distribution (streak length -> user count): the engagement metric "
        "behind every 'N-day streak' product surface. Classic gaps-and-"
        "islands — day_number minus row_number is constant within a "
        "consecutive run — all integer arithmetic on UTC day ordinals. "
        "Shape: one distinct + one user-partitioned window + two hash "
        "aggs; the user shuffle is the same key every sessionization "
        "query reuses, and the output is bounded by max streak length.",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", (F.col("d") - F.row_number().over(w)).alias("g")
    )
    st = isl.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    mx = st.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return mx.groupBy("max_streak").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# --- rolling 7-day active users (WAU spine) ----------------------------------

@register(
    "events_rolling_wau",
    """
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                           AS d
                FROM events),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
    contrib AS (SELECT DISTINCT user_id, d + g AS target_d
                FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS g)),
    wau AS (SELECT target_d, CAST(COUNT(*) AS BIGINT) AS wau
            FROM contrib GROUP BY target_d)
    SELECT w.target_d AS day_num, w.wau
    FROM wau w CROSS JOIN bounds
    WHERE w.target_d BETWEEN bounds.d0 AND bounds.d1
    """,
    doc="Rolling 7-day active users per day (WAU) via CONTRIBUTION "
        "EXPLODE: each (user, active-day) fans out to the 7 report days "
        "it makes the user active on, a distinct collapses multi-visit "
        "weeks, and one hash agg counts per day — rolling DISTINCT is not "
        "decomposable over a window (you cannot merge adjacent days' "
        "distinct counts), so the window formulation would re-scan 7 days "
        "of raw events per day; the explode states the 7x fan-out ONCE on "
        "the deduped (user, day) table, which is already |users| x |days| "
        "bounded. Report days clamp to the observed range so edge days "
        "with partial windows still report (pandas rolling-style). "
        "Integer day ordinals, engine-exact.",
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    ud = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("d"),
    ).distinct()
    ud = ud.persist()  # consumed by bounds AND contrib; harness unpersists
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("target_d"),
    ).distinct()
    wau = contrib.groupBy("target_d").agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        wau.crossJoin(F.broadcast(bounds))
        .where(F.col("target_d").between(F.col("d0"), F.col("d1")))
        .select(F.col("target_d").alias("day_num"), "wau")
    )


# --- day-over-day rate-change alerts -----------------------------------------

@register(
    "events_rate_change_alerts",
    """
    WITH d AS (SELECT event_type,
                      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                          AS day_num,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, day_num, n,
                 lag(n) OVER (PARTITION BY event_type ORDER BY day_num)
                     AS prev_n
          FROM d)
    SELECT event_type, day_num, n, prev_n,
           CAST((1000 * (n - prev_n)) // prev_n AS BIGINT)
               AS change_permille,
           abs(1000 * (n - prev_n)) // prev_n > 300 AS alert
    FROM l WHERE prev_n IS NOT NULL
    """,
    doc="Day-over-day event-rate change monitor: per (type, day), the "
        "integer per-mille change vs the previous observed day, flagging "
        "swings beyond +/-30% — the pipeline-health alert that catches a "
        "dead producer or a runaway retry loop before downstream metrics "
        "drift. One hash agg to the tiny (type, day) table, then a window "
        "over it (hundreds of rows at any event volume). Integer "
        "arithmetic throughout; floored division keeps both engines "
        "bit-identical on negative changes too.",
)
def events_rate_change_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    d = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("day_num"),
    ).groupBy("event_type", "day_num").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day_num")
    l = d.withColumn("prev_n", F.lag("n").over(w)).where(
        F.col("prev_n").isNotNull()
    )
    change = F.expr("(1000 * (n - prev_n)) div prev_n")
    return l.select(
        "event_type", "day_num", "n", "prev_n",
        change.alias("change_permille"),
        (F.expr("abs(1000 * (n - prev_n)) div prev_n") > 300).alias("alert"),
    )


# --- hourly latency-style percentile monitoring ------------------------------

@register(
    "events_windowed_percentiles",
    """
    WITH s AS (SELECT event_type,
                      epoch_ms(ts) // 3600000 AS hour_num,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events)
    SELECT event_type, CAST(hour_num AS BIGINT) AS hour_num,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)
                AS BIGINT) AS p50_micros,
           CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY vmic)
                AS BIGINT) AS p95_micros
    FROM s GROUP BY event_type, hour_num
    """,
    doc="Hourly p50/p95 per event type — the latency-dashboard staple, "
        "computed as EXACT discrete percentiles over floor-quantized "
        "integer micros so both engines agree bit-for-bit (approximate "
        "t-digest sketches are the usual scale answer but are engine-"
        "specific and unverifiable cross-engine; the exact form shuffles "
        "once on (type, hour), whose cardinality — not raw volume — "
        "bounds every group's sort). One hash-partitioned sorted "
        "aggregate; fully parallel across the type x hour grid.",
)
def events_windowed_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    s = ev.select(
        "event_type",
        F.expr("unix_millis(ts) div 3600000").alias("hour_num"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    return s.groupBy("event_type", "hour_num").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)")
        .cast("bigint").alias("p50_micros"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY vmic)")
        .cast("bigint").alias("p95_micros"),
    )


# --- watermark lateness profile (two-phase distributed prefix-max) -----------

_ARR = H60.format(x="'arr:' || CAST(event_id AS VARCHAR)")


@register(
    "events_lateness_profile",
    f"""
    WITH o AS (SELECT event_id, {_ARR} AS arr, epoch_ms(ts) AS ts_ms
               FROM events),
    r AS (SELECT arr, event_id, ts_ms,
                 MAX(ts_ms) OVER (ORDER BY arr, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS hwm
          FROM o)
    SELECT CAST(greatest(hwm - ts_ms, 0) // 3600000 AS BIGINT) AS late_hours,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r WHERE hwm IS NOT NULL
    GROUP BY 1
    """,
    doc="Watermark design diagnostic: per event, lateness = (high-water "
        "mark of event time over all EARLIER-ARRIVING events) minus its "
        "own event time, as an hours histogram — read off the p99 to "
        "choose withWatermark() so state stays bounded while dropping "
        "almost nothing. The fixture has no arrival column (event_ids are "
        "time-ordered), so arrival order is modeled as a deterministic "
        "salted-hash shuffle of event_id — same stand-in on both engines. "
        "The running max is a GLOBAL prefix scan, which a single window "
        "funnels through one partition; the Spark side runs the classic "
        "TWO-PHASE distributed scan instead: per-chunk maxima (tiny "
        "table) -> exclusive cumulative max across chunks (window over "
        "|chunks| rows) -> broadcast back and combine with the in-chunk "
        "exclusive running max. Identical result, all heavy stages "
        "partitioned by chunk (contiguous hash ranges, uniform by "
        "construction). The oracle states the naive single window.",
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    ev = EV(spark, sf_dir)
    o = ev.select(
        "event_id", F.unix_millis("ts").alias("ts_ms"),
        h60(F.concat(F.lit("arr:"), F.col("event_id").cast("string")))
        .alias("arr"),
    ).withColumn("chunk", F.expr(f"arr div {2 ** 50}"))
    # phase 1: per-chunk max (tiny table, |chunks| rows)
    cmax = o.groupBy("chunk").agg(F.max("ts_ms").alias("cmax"))
    w_excl = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = cmax.select(
        "chunk", F.max("cmax").over(w_excl).alias("carry_in")
    )
    # phase 2: in-chunk exclusive running max, combined with the carry-in
    w_chunk = (
        Window.partitionBy("chunk")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = (
        o.join(F.broadcast(carry), "chunk")
        .withColumn("in_chunk", F.max("ts_ms").over(w_chunk))
        .select(
            "ts_ms",
            F.when(
                F.col("in_chunk").isNotNull() | F.col("carry_in").isNotNull(),
                F.greatest(
                    F.coalesce("in_chunk", "carry_in"),
                    F.coalesce("carry_in", "in_chunk"),
                ),
            ).alias("hwm"),
        )
    )
    return (
        r.where(F.col("hwm").isNotNull())
        .select(
            F.expr("greatest(hwm - ts_ms, 0L) div 3600000")
            .alias("late_hours")
        )
        .groupBy("late_hours")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# --- interval-union coverage (gaps-and-islands) ------------------------------

_COVER_MS = 300000  # each event opens a 5-minute presence interval


@register(
    "events_interval_coverage",
    f"""
    WITH iv AS (SELECT user_id, event_id,
                       epoch_ms(ts) AS t0,
                       epoch_ms(ts) + {_COVER_MS} AS t1
                FROM events),
    flagged AS (
        SELECT user_id, event_id, t0, t1,
               CASE WHEN max(t1) OVER (PARTITION BY user_id
                        ORDER BY t0, event_id ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING) >= t0
                    THEN 0 ELSE 1 END AS new_island
        FROM iv),
    islands AS (
        SELECT user_id, t0, t1,
               CAST(SUM(new_island) OVER (PARTITION BY user_id
                    ORDER BY t0, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS island
        FROM flagged),
    merged AS (
        SELECT user_id, island, MIN(t0) AS s, MAX(t1) AS e
        FROM islands GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(e - s) AS BIGINT) AS covered_ms
    FROM merged GROUP BY user_id
    """,
    doc="Interval-union coverage: each event opens a 5-minute presence "
        "interval; per user, merge overlapping/adjacent intervals and "
        "report merged-interval count and total covered milliseconds — "
        "the billing/SLA/uptime primitive (distinct from sessionization: "
        "union length, not gap-bounded grouping). Gaps-and-islands in one "
        "user-keyed window pass: running max of interval end over the "
        "open ROWS frame marks island starts, a running sum numbers "
        "islands over the SAME (t0, event_id) total order — both windows "
        "must share one total order or tie rows can be absorbed into the "
        "wrong island — and two hash aggs fold islands to per-user totals. Shape: ONE shuffle on user_id; "
        "everything after is partition-local — the island window, both "
        "aggs (map-side combinable). All-integer milliseconds, "
        "bit-identical across engines.",
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.timeseries import (
        interval_union_coverage,
    )

    ev = EV(spark, sf_dir)
    iv = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_millis(ts)").alias("t0"),
        (F.expr("unix_millis(ts)") + _COVER_MS).alias("t1"),
    )
    out = interval_union_coverage(
        iv, key="user_id", t0="t0", t1="t1", order_tiebreak="event_id"
    )
    return out.select(
        "user_id", "n_intervals", F.col("covered").alias("covered_ms")
    )


# --- seasonal-baseline anomaly detection -------------------------------------

@register(
    "events_seasonal_anomaly",
    """
    WITH s AS (SELECT event_type,
                      epoch_ms(ts) // 3600000 AS hour_num,
                      (epoch_ms(ts) // 3600000) % 168 AS how,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events),
    hourly AS (SELECT event_type, hour_num, how,
                      percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)
                        AS med_h
               FROM s GROUP BY event_type, hour_num, how),
    base AS (SELECT event_type, how,
                    percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)
                      AS med_b
             FROM s GROUP BY event_type, how),
    mad AS (SELECT s.event_type, s.how,
                   percentile_disc(0.5) WITHIN GROUP
                     (ORDER BY abs(s.vmic - b.med_b)) AS mad_b
            FROM s JOIN base b
              ON s.event_type = b.event_type AND s.how = b.how
            GROUP BY s.event_type, s.how)
    SELECT h.event_type, CAST(h.hour_num AS BIGINT) AS hour_num,
           CAST(h.med_h AS BIGINT) AS med_micros,
           CAST(b.med_b AS BIGINT) AS baseline_micros,
           CAST(m.mad_b AS BIGINT) AS mad_micros
    FROM hourly h
    JOIN base b ON h.event_type = b.event_type AND h.how = b.how
    JOIN mad  m ON h.event_type = m.event_type AND h.how = m.how
    WHERE abs(h.med_h - b.med_b) > 3 * greatest(m.mad_b, 1)
    """,
    doc="Seasonal-baseline anomaly detection: each (event_type, hour) "
        "bucket's median value is compared against the hour-of-week "
        "seasonal baseline (median over every same-slot hour) with a "
        "robust MAD threshold — the monitoring pattern that catches "
        "'this Tuesday 3pm is unlike every other Tuesday 3pm', which "
        "adjacent-bucket rate alerts (events_rate_change_alerts) are "
        "blind to. Hour-of-week comes from pure epoch arithmetic "
        "(engine-neutral, no calendar functions); medians and MAD are "
        "exact discrete percentiles over floor-quantized integer micros, "
        "so both engines agree bit-for-bit. Shape: two grouped sorted "
        "aggs keyed on (type, hour-of-week) — 168 x |types| groups — one "
        "keyed on (type, hour), and a broadcast-size join of the "
        "baseline frame back to hourly rows; no window over raw events.",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    s = ev.select(
        "event_type",
        F.expr("unix_millis(ts) div 3600000").alias("hour_num"),
        (F.expr("unix_millis(ts) div 3600000") % 168).alias("how"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    ).persist()
    hourly = s.groupBy("event_type", "hour_num", "how").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)")
        .alias("med_h")
    )
    base = s.groupBy("event_type", "how").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY vmic)")
        .alias("med_b")
    )
    mad = (
        s.join(F.broadcast(base), ["event_type", "how"])
        .select(
            "event_type", "how",
            F.abs(F.col("vmic") - F.col("med_b")).alias("dev"),
        )
        .groupBy("event_type", "how")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
            .alias("mad_b")
        )
    )
    return (
        hourly.join(F.broadcast(base), ["event_type", "how"])
        .join(F.broadcast(mad), ["event_type", "how"])
        .where(
            F.abs(F.col("med_h") - F.col("med_b"))
            > 3 * F.greatest(F.col("mad_b"), F.lit(1))
        )
        .select(
            "event_type",
            F.col("hour_num").cast("bigint").alias("hour_num"),
            F.col("med_h").cast("bigint").alias("med_micros"),
            F.col("med_b").cast("bigint").alias("baseline_micros"),
            F.col("mad_b").cast("bigint").alias("mad_micros"),
        )
    )


# --- cohort LTV curves -------------------------------------------------------

@register(
    "events_cohort_ltv",
    """
    WITH d AS (SELECT user_id, event_type,
                      epoch_ms(ts) // 86400000 AS day_num,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events),
    first_day AS (SELECT user_id, MIN(day_num) AS cohort_day
                  FROM d GROUP BY user_id),
    purch AS (SELECT f.cohort_day,
                     (d.day_num - f.cohort_day) // 7 AS week_offset,
                     d.user_id, d.vmic
              FROM d JOIN first_day f ON d.user_id = f.user_id
              WHERE d.event_type = 'purchase'),
    wk AS (SELECT cohort_day, week_offset,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
                  CAST(SUM(vmic) AS BIGINT) AS rev_micros
           FROM purch GROUP BY cohort_day, week_offset)
    SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_buyers, rev_micros,
           CAST(SUM(rev_micros) OVER (PARTITION BY cohort_day
                ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum_rev_micros
    FROM wk
    """,
    doc="Cohort LTV curves: users cohorted by first-seen day, purchase "
        "revenue rolled up per (cohort, weeks-since-first-seen) with a "
        "running cumulative — the lifetime-value complement of "
        "events_retention_cohorts (which counts presence, not value). "
        "Day/week indices come from pure epoch integer arithmetic and "
        "revenue is floor-quantized micros, so both engines agree "
        "bit-for-bit. Shape: one user-keyed agg for cohort assignment, "
        "one user-keyed join (co-partitioned with it under AQE), one "
        "(cohort, week) hash agg — map-side combinable — and a window "
        "over the tiny rollup, partitioned by cohort (never over raw "
        "events).",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    d = ev.select(
        "user_id", "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day_num"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    first_day = d.groupBy("user_id").agg(
        F.min("day_num").alias("cohort_day")
    )
    purch = (
        d.where(F.col("event_type") == "purchase")
        .join(first_day, "user_id")
        .select(
            "cohort_day",
            F.expr("(day_num - cohort_day) div 7").alias("week_offset"),
            "user_id", "vmic",
        )
    )
    wk = purch.groupBy("cohort_day", "week_offset").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_buyers"),
        F.sum("vmic").cast("bigint").alias("rev_micros"),
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return wk.select(
        F.col("cohort_day").cast("bigint").alias("cohort_day"),
        F.col("week_offset").cast("bigint").alias("week_offset"),
        "n_buyers", "rev_micros",
        F.sum("rev_micros").over(w).cast("bigint").alias("cum_rev_micros"),
    )


# --- session Markov transition matrix ----------------------------------------

@register(
    "events_markov_transitions",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE},
    typed AS (SELECT s.user_id, s.session_id, s.ts_ms, s.event_id,
                     e.event_type
              FROM sessions s JOIN events e ON s.event_id = e.event_id),
    nxt AS (SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id, session_id
                        ORDER BY ts_ms, event_id) AS to_type
            FROM typed),
    cnt AS (SELECT from_type, to_type, COUNT(*) AS n_trans
            FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS ft
            FROM cnt GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(c.n_trans AS BIGINT) AS n_trans,
           CAST((c.n_trans * 1000000) // t.ft AS BIGINT) AS p_ppm
    FROM cnt c JOIN tot t ON c.from_type = t.from_type
    """,
    doc="Session Markov transition matrix: within each canonical 30-min "
        "session (the shared sessionizer every session query builds on), "
        "count consecutive event-type transitions and report integer-ppm "
        "conditional probabilities — the behavioral model behind "
        "next-action prediction and anomalous-flow detection, and the "
        "aggregate twin of events_user_journeys (which keeps paths; this "
        "keeps the first-order chain). Shape: the sessionizer's "
        "user-keyed window, one lead() over the same partitioning (no "
        "second shuffle), then two tiny hash-aggs on the |types|^2 "
        "grid; the per-from totals join is broadcast-size. Probabilities "
        "are floor-ppm integers: bit-identical cross-engine, no float "
        "division.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    s = sessionized_events(spark, sf_dir)
    e = EV(spark, sf_dir).select("event_id", "event_type")
    typed = s.join(e, "event_id")
    # Partition the lead() by user_id ONLY — session_id is a function of
    # position within the user, so user-level partitioning is sufficient
    # and lets this window REUSE the sessionizer's (user_id) exchange
    # instead of re-shuffling on (user_id, session_id); the cross-session
    # boundary is enforced by comparing the led session_id instead.
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    nxt = typed.select(
        F.col("session_id"),
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        F.lead("session_id").over(w).alias("__to_sid"),
    )
    cnt = (
        nxt.where(
            F.col("to_type").isNotNull()
            & (F.col("__to_sid") == F.col("session_id"))
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
        .persist()
    )
    tot = cnt.groupBy("from_type").agg(
        F.sum("n_trans").cast("bigint").alias("ft")
    )
    return (
        cnt.join(F.broadcast(tot), "from_type")
        .select(
            "from_type", "to_type",
            F.col("n_trans").cast("bigint").alias("n_trans"),
            F.expr("(n_trans * 1000000) div ft").cast("bigint")
            .alias("p_ppm"),
        )
    )


# --- seasonal forecast backtest ----------------------------------------------

@register(
    "events_forecast_backtest",
    """
    WITH s AS (SELECT event_type,
                      epoch_ms(ts) // 3600000 AS hour_num,
                      CAST(floor(value * 1000000) AS BIGINT) AS vmic
               FROM events),
    hourly AS (SELECT event_type, hour_num,
                      CAST(SUM(vmic) AS BIGINT) AS actual
               FROM s GROUP BY event_type, hour_num),
    j AS (SELECT a.event_type,
                 abs(a.actual - f.actual) AS abs_err
          FROM hourly a
          JOIN hourly f ON a.event_type = f.event_type
                       AND f.hour_num = a.hour_num - 168)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(abs_err) AS BIGINT) AS sum_abs_err,
           CAST(SUM(abs_err) // COUNT(*) AS BIGINT) AS mae_micros
    FROM j GROUP BY event_type
    """,
    doc="Seasonal-naive forecast backtest: predict each hour's total as "
        "the same hour LAST WEEK and score MAE per event type — the "
        "baseline every forecasting deployment must beat, and the "
        "backtest harness pattern (join actuals to lagged actuals, "
        "score, aggregate) that applies unchanged to real models. The "
        "hour-168 join is a self-equi-join on the ALREADY-REDUCED "
        "(type, hour) rollup — |types| x |hours| rows, not raw events — "
        "co-partitioned on event_type. Integer micros throughout; MAE "
        "reported as floor division (exact cross-engine).",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    s = ev.select(
        "event_type",
        F.expr("unix_millis(ts) div 3600000").alias("hour_num"),
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    hourly = (
        s.groupBy("event_type", "hour_num")
        .agg(F.sum("vmic").cast("bigint").alias("actual"))
        .persist()
    )
    a, f_ = hourly.alias("a"), hourly.alias("f")
    j = a.join(
        f_,
        (F.col("a.event_type") == F.col("f.event_type"))
        & (F.col("f.hour_num") == F.col("a.hour_num") - 168),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.actual") - F.col("f.actual")).alias("abs_err"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("abs_err").cast("bigint").alias("sum_abs_err"),
        F.expr("sum(abs_err) div count(*)").cast("bigint")
        .alias("mae_micros"),
    )


# --- bot / automation detection ----------------------------------------------

@register(
    "events_bot_detection",
    """
    WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
               FROM events),
    g AS (SELECT user_id,
                 (ts_ms - lag(ts_ms) OVER (PARTITION BY user_id
                      ORDER BY ts_ms, event_id)) // 1000 AS gap_s
          FROM e),
    s AS (SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(gap_s) AS BIGINT) AS sum_g,
                 CAST(SUM(gap_s * gap_s) AS BIGINT) AS sum_g2
          FROM g WHERE gap_s IS NOT NULL
          GROUP BY user_id),
    f AS (SELECT user_id, n_gaps,
                 n_gaps * sum_g2 = sum_g * sum_g AS is_metronomic,
                 CASE WHEN sum_g > 0
                      THEN (n_gaps * 3600 * 1000) // sum_g
                      ELSE 1000000000 END AS rate_milli_per_hour
          FROM s WHERE n_gaps >= 5)
    SELECT user_id, n_gaps, is_metronomic, rate_milli_per_hour,
           is_metronomic OR rate_milli_per_hour > 3600000 AS is_flagged
    FROM f
    """,
    doc="Bot/automation detection — the crawl-hygiene screen a "
        "training-data pipeline runs before user-generated content is "
        "trusted: per user with >= 5 inter-event gaps, (a) METRONOMIC "
        "regularity — zero variance of second-quantized gaps, tested as "
        "the EXACT integer identity n*sum(g^2) == (sum g)^2 (no float "
        "variance, no epsilon; humans never fire on a perfect clock), "
        "and (b) super-human sustained rate (> 1000 events/hour in "
        "milli-events-per-hour integers). Gaps quantize to seconds "
        "before squaring so sum_g2 stays far inside int64 at any "
        "realistic activity span. Shape: one user-keyed window for gaps "
        "+ one user-keyed hash agg — the same single shuffle every "
        "per-user profile query pays; both flags are projections over "
        "the aggregate.",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    e = ev.select(
        "user_id", F.expr("unix_millis(ts)").alias("ts_ms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    g = (
        e.select(
            "user_id",
            (F.col("ts_ms") - F.lag("ts_ms").over(w)).alias("gap_ms"),
        )
        .select("user_id", F.expr("gap_ms div 1000").alias("gap_s"))
        .where(F.col("gap_s").isNotNull())
    )
    s = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("sum_g"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("sum_g2"),
    )
    f = s.where(F.col("n_gaps") >= 5).select(
        "user_id", "n_gaps",
        (F.col("n_gaps") * F.col("sum_g2")
         == F.col("sum_g") * F.col("sum_g")).alias("is_metronomic"),
        F.when(
            F.col("sum_g") > 0,
            F.expr("(n_gaps * 3600 * 1000) div sum_g"),
        ).otherwise(F.lit(1000000000)).cast("bigint")
        .alias("rate_milli_per_hour"),
    )
    return f.select(
        "user_id", "n_gaps", "is_metronomic", "rate_milli_per_hour",
        (F.col("is_metronomic") | (F.col("rate_milli_per_hour") > 3600000))
        .alias("is_flagged"),
    )


# --- DAU/MAU stickiness ------------------------------------------------------

@register(
    "events_dau_mau_stickiness",
    """
    WITH d AS (SELECT user_id,
                      epoch_ms(ts) // 86400000 AS day_num,
                      epoch_ms(ts) // 86400000 // 30 AS month_num
               FROM events),
    dau AS (SELECT day_num, month_num,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
            FROM d GROUP BY day_num, month_num),
    mau AS (SELECT month_num,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
            FROM d GROUP BY month_num)
    SELECT CAST(dau.day_num AS BIGINT) AS day_num, dau.dau, mau.mau,
           CAST((1000 * dau.dau) // mau.mau AS BIGINT) AS stickiness_milli
    FROM dau JOIN mau ON dau.month_num = mau.month_num
    """,
    doc="DAU/MAU stickiness: daily active users over the active-user "
        "count of the surrounding 30-epoch-day period, in integer "
        "per-mille — the engagement-health ratio product dashboards "
        "track (a day where most of the period's users show up reads "
        "near 1000). Periods are epoch-arithmetic 30-day blocks, not "
        "calendar months, so both engines bucket identically with zero "
        "calendar/timezone surface. Shape: two count-distinct hash aggs "
        "on (day, period) and (period) — the second's input is the "
        "already-deduplicated first in spirit, both map-side partial — "
        "and a broadcast-size join on the period key.",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir)
    d = ev.select(
        "user_id",
        F.expr("unix_millis(ts) div 86400000").alias("day_num"),
        F.expr("unix_millis(ts) div 86400000 div 30").alias("month_num"),
    )
    dau = d.groupBy("day_num", "month_num").agg(
        F.count_distinct("user_id").cast("bigint").alias("dau")
    )
    mau = d.groupBy("month_num").agg(
        F.count_distinct("user_id").cast("bigint").alias("mau")
    )
    return (
        dau.join(F.broadcast(mau), "month_num")
        .select(
            F.col("day_num").cast("bigint").alias("day_num"),
            "dau", "mau",
            F.expr("(1000 * dau) div mau").cast("bigint")
            .alias("stickiness_milli"),
        )
    )


# --- heavy-hitter concentration curve ----------------------------------------

@register(
    "events_heavy_hitters",
    """
    WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
    r AS (SELECT user_id, n_events,
                 ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rnk,
                 CAST(SUM(n_events) OVER (ORDER BY n_events DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_events
          FROM u)
    SELECT CAST(r.rnk AS BIGINT) AS rnk, r.user_id, r.n_events,
           r.cum_events,
           CAST((1000000 * r.cum_events) // tot.t AS BIGINT)
             AS cum_share_ppm
    FROM r CROSS JOIN tot
    WHERE r.rnk <= 20
    """,
    doc="Heavy-hitter concentration curve: the top-20 users by event "
        "count with running cumulative coverage in integer ppm — answers "
        "'what fraction of traffic do the K loudest sources produce', "
        "the skew-awareness report that sizes per-key salting, rate "
        "limits, and abuse review queues (reading the curve at K IS the "
        "salting decision the engine's salted-agg queries then apply). "
        "Shape: one user hash agg, then ranking windows over the "
        "ALREADY-REDUCED |users| rollup — at 100 TB the window input is "
        "users, not events, and top-20 prunes via per-partition heaps; "
        "the totals frame is a one-row broadcast.",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = EV(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    tot = u.agg(F.sum("n_events").cast("bigint").alias("t"))
    base = W.orderBy(F.desc("n_events"), F.asc("user_id"))
    r = u.select(
        "user_id", "n_events",
        F.row_number().over(base).cast("bigint").alias("rnk"),
        F.sum("n_events")
        .over(base.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_events"),
    ).where(F.col("rnk") <= 20)
    return r.crossJoin(F.broadcast(tot)).select(
        "rnk", "user_id", "n_events", "cum_events",
        F.expr("(1000000 * cum_events) div t").cast("bigint")
        .alias("cum_share_ppm"),
    )


# --- funnel time-to-convert distribution -------------------------------------

@register(
    "events_funnel_time_to_convert",
    """
    WITH s1 AS (SELECT user_id, MIN(epoch_ms(ts)) AS t1
                FROM events WHERE event_type = 'view' GROUP BY user_id),
    s3 AS (SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t3
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s1.t1
           GROUP BY e.user_id),
    d AS (SELECT (s3.t3 - s1.t1) // 60000 // 30 * 30 AS bucket_minutes
          FROM s1 JOIN s3 ON s1.user_id = s3.user_id)
    SELECT CAST(bucket_minutes AS BIGINT) AS bucket_minutes,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY bucket_minutes
    """,
    doc="Funnel latency distribution: time from first view to first "
        "subsequent purchase per converting user, as a 30-minute-bucket "
        "histogram — the latency complement of events_funnel_steps "
        "(which reports WHO converts; this reports HOW LONG conversion "
        "takes, the number a checkout-flow owner actually tunes "
        "against). Same chained filtered-min shape as the funnel "
        "(stage-2 scans only users who reached stage 1), then a "
        "map-side-combinable histogram over the bounded bucket domain; "
        "integer epoch-ms throughout.",
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    s1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .where(F.col("ms") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ms").alias("t3"))
    )
    d = s1.join(s3, "user_id").select(
        F.expr("(t3 - t1) div 60000 div 30 * 30").alias("bucket_minutes")
    )
    return d.groupBy("bucket_minutes").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    ).select(
        F.col("bucket_minutes").cast("bigint").alias("bucket_minutes"),
        "n_users",
    )


# --- session bounce rate -----------------------------------------------------

@register(
    "events_bounce_rate",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE},
    per_sess AS (SELECT user_id, session_id,
                        MIN(ts_ms) AS start_ms,
                        COUNT(*) AS n_events
                 FROM sessions GROUP BY user_id, session_id)
    SELECT CAST(start_ms // 86400000 AS BIGINT) AS day_num,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST((1000000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS bounce_ppm
    FROM per_sess GROUP BY day_num
    """,
    doc="Daily bounce rate: share of single-event sessions per "
        "session-start day, in integer ppm — the engagement-quality "
        "staple, built on THE canonical 30-minute sessionizer every "
        "session query shares (a boundary-rule change propagates here "
        "by construction). Shape: the sessionizer's one user-keyed "
        "window, a (user, session) rollup that stays in the same "
        "partitioning, then a |days|-sized histogram agg — nothing "
        "beyond the shuffle sessionization already pays.",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = sessionized_events(spark, sf_dir)
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.min("ts_ms").alias("start_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    g = per_sess.groupBy(
        F.expr("start_ms div 86400000").alias("day_num")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
    )
    return g.select(
        F.col("day_num").cast("bigint").alias("day_num"),
        "n_sessions", "n_bounces",
        F.expr("(1000000 * n_bounces) div n_sessions").cast("bigint")
        .alias("bounce_ppm"),
    )


# --- MATCH_RECOGNIZE-style sequence matching ---------------------------------

# Browse-to-buy run: a view, then any noise of clicks/errors, closed by a
# purchase. The character classes are DISJOINT from the terminator 'p' on
# purpose: with disjoint classes the greedy match is unique, so Java-regex
# (Spark, backtracking leftmost-first) and RE2 (DuckDB, leftmost-longest)
# provably agree — the one regex-engine divergence class this query could
# otherwise hit. Event types map to their (unique) first letters:
# signup->s, error->e, click->c, view->v, purchase->p.
_SEQ_PAT = "v[ce]*p"


@register(
    "events_sequence_match",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE},
    typed AS (
        SELECT s.user_id, s.session_id, s.ts_ms, s.event_id,
               substr(e.event_type, 1, 1) AS ch
        FROM sessions s JOIN events e USING (event_id)),
    seqs AS (
        SELECT user_id, session_id,
               string_agg(ch, '' ORDER BY ts_ms, event_id) AS seq
        FROM typed GROUP BY user_id, session_id)
    SELECT user_id, session_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, '{_SEQ_PAT}')) AS BIGINT)
               AS n_matches,
           regexp_extract(seq, '{_SEQ_PAT}', 0) AS first_match
    FROM seqs
    WHERE len(regexp_extract_all(seq, '{_SEQ_PAT}')) > 0
    """,
    doc="MATCH_RECOGNIZE emulation (SQL:2016 row-pattern matching, which "
        "Spark lacks): per session, encode the event-type sequence as a "
        "character string in deterministic (ts, event_id) order and run "
        "the row-pattern as a regex — here `view (click|error)* purchase`"
        ", reporting match count and the first matched run. The encode-"
        "then-regex rewrite is the standard scalable emulation: one "
        "session-keyed ordered aggregation (the sequence string is "
        "bounded by session length, not table size) and a per-row regex "
        "— no self-joins, no per-event state machine. Pattern classes "
        "are kept disjoint from the terminator so backtracking (Java) "
        "and leftmost-longest (RE2) regex semantics provably coincide.",
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    se = sessionized_events(spark, sf_dir)
    ty = EV(spark, sf_dir).select(
        "event_id", F.substring("event_type", 1, 1).alias("ch")
    )
    j = se.join(ty, "event_id")
    seqs = j.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts_ms", "event_id", "ch"))
                ),
                lambda x: x["ch"],
            ),
            "",
        ).alias("seq")
    )
    n = F.regexp_count(F.col("seq"), F.lit(_SEQ_PAT))
    return (
        seqs.select(
            "user_id",
            "session_id",
            F.length("seq").cast("bigint").alias("seq_len"),
            n.cast("bigint").alias("n_matches"),
            F.regexp_extract("seq", _SEQ_PAT, 0).alias("first_match"),
        )
        .where(F.col("n_matches") > 0)
    )


# --- gap-fill with linear interpolation --------------------------------------

# Interpolated value in MICRO-dollars, computed entirely in BIGINT
# arithmetic with one integer floor division — no doubles anywhere, so no
# round() half-boundary can diverge between engines (a 6-dp double round
# hit exactly that on the first run: 65.4046875 rounds differently under
# Spark's BigDecimal HALF_UP vs DuckDB's float-multiply round). The
# rational midpoint (prev*(gap-off) + next*off)/gap is scaled to micros
# BEFORE the division; all quantities are non-negative so floor == trunc
# and Spark's `div` matches DuckDB's `//`.
_INTERP_MICROS = (
    "(prev_c * ((next_hr - prev_hr) - (hr - prev_hr)) "
    "+ next_c * (hr - prev_hr)) * 10000 {div} (next_hr - prev_hr)"
)


@register(
    "events_gapfill_interpolate",
    f"""
    WITH hourly AS (
        SELECT user_id, epoch_ms(ts) // 3600000 AS hr,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS hr_cents
        FROM events GROUP BY 1, 2),
    span AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
             FROM hourly GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr
             FROM span),
    j AS (SELECT g.user_id, g.hr, h.hr_cents
          FROM grid g LEFT JOIN hourly h USING (user_id, hr)),
    f AS (SELECT user_id, hr, hr_cents,
            LAST_VALUE(hr_cents IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY hr
               ROWS UNBOUNDED PRECEDING) AS prev_c,
            LAST_VALUE(CASE WHEN hr_cents IS NOT NULL THEN hr END
                       IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY hr
               ROWS UNBOUNDED PRECEDING) AS prev_hr,
            FIRST_VALUE(hr_cents IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
            FIRST_VALUE(CASE WHEN hr_cents IS NOT NULL THEN hr END
                        IGNORE NULLS) OVER
              (PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr
          FROM j)
    SELECT user_id, hr,
           CAST(CASE WHEN hr_cents IS NOT NULL
                THEN hr_cents * 10000
                ELSE {_INTERP_MICROS.format(div="//")} END AS BIGINT)
               AS val_micros,
           CAST(CASE WHEN hr_cents IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_gap
    FROM f
    """,
    doc="Hypertable gap-fill with LINEAR INTERPOLATION (TimescaleDB "
        "time_bucket_gapfill + interpolate(); the companion of "
        "events_gapfill_locf's carry-forward): per-user HOURLY buckets "
        "over the observed span, missing hours filled by the straight "
        "line between the neighboring observed buckets. Bucket sums are "
        "exact cents and the interpolation is pure BIGINT arithmetic "
        "emitted in micro-dollars (one integer floor division — no "
        "double round() boundary to diverge between engines). "
        "Grid = sequence-explode of per-user [min,max] hour (never a "
        "calendar cross-join); fills = the same two ignore-nulls window "
        "passes as LOCF, all partitioned by user — no global window, "
        "no shuffle beyond the user-key exchange, linear at any scale. "
        "Interior gaps always have both neighbors by construction.",
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id",
        F.expr("unix_millis(ts) div 3600000").alias("hr"),
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    hourly = e.groupBy("user_id", "hr").agg(
        F.sum("cents").alias("hr_cents")
    )
    span = hourly.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    j = grid.join(hourly, ["user_id", "hr"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("hr_cents").isNotNull(), F.col("hr"))
    f = j.select(
        "user_id",
        "hr",
        "hr_cents",
        F.last("hr_cents", ignorenulls=True).over(wp).alias("prev_c"),
        F.last(obs_hr, ignorenulls=True).over(wp).alias("prev_hr"),
        F.first("hr_cents", ignorenulls=True).over(wn).alias("next_c"),
        F.first(obs_hr, ignorenulls=True).over(wn).alias("next_hr"),
    )
    return f.select(
        "user_id",
        "hr",
        F.when(F.col("hr_cents").isNotNull(), F.col("hr_cents") * 10000)
        .otherwise(F.expr(_INTERP_MICROS.format(div="div")))
        .cast("bigint")
        .alias("val_micros"),
        F.when(F.col("hr_cents").isNull(), 1).otherwise(0)
        .cast("int")
        .alias("is_gap"),
    )


# --- sweep-line peak concurrency ---------------------------------------------

@register(
    "events_peak_concurrency",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE},
    iv AS (SELECT user_id, session_id,
                  min(ts_ms) AS s_ms, max(ts_ms) + 1 AS e_ms
           FROM sessions GROUP BY 1, 2),
    cp AS (SELECT s_ms AS ms, 1 AS delta FROM iv
           UNION ALL
           SELECT e_ms AS ms, -1 AS delta FROM iv),
    net AS (SELECT ms, CAST(SUM(delta) AS BIGINT) AS net_d
            FROM cp GROUP BY ms),
    run AS (SELECT ms, ms // 3600000 AS hr,
                   CAST(SUM(net_d) OVER (ORDER BY ms
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
            FROM net)
    SELECT hr, CAST(MAX(conc) AS BIGINT) AS peak,
           COUNT(*) AS n_change_ms
    FROM run GROUP BY hr
    """,
    doc="Sweep-line peak concurrency: how many sessions are open "
        "simultaneously, reported as the per-hour maximum (capacity "
        "planning's load profile; the counting dual of "
        "events_interval_coverage's union length). Sessions become "
        "+1/-1 deltas at start and end+1 (end-inclusive intervals); "
        "deltas are netted per millisecond FIRST, which removes any "
        "intra-timestamp ordering ambiguity, then prefix-summed. The "
        "Spark plan decomposes the global prefix sum the distributed "
        "way (the classic scan decomposition): per-hour running totals "
        "within hour-keyed partitions plus an hour-level carry-in from "
        "the TWO-LEVEL seam stitch (operators/seams.py) over the per-"
        "hour net table, so the only residual unpartitioned window sees "
        "the per-8192-hour rollup — no task scales with the span even "
        "over a century of hours; the DuckDB oracle states the same "
        "semantics as one global cumulative sum. Change points are 2x "
        "sessions, orders of magnitude smaller than events, and every "
        "wide op is keyed.",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    se = sessionized_events(spark, sf_dir)
    iv = se.groupBy("user_id", "session_id").agg(
        F.min("ts_ms").alias("s_ms"),
        (F.max("ts_ms") + 1).alias("e_ms"),
    )
    cp = iv.select(F.col("s_ms").alias("ms"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e_ms").alias("ms"), F.lit(-1).alias("delta"))
    )
    net = cp.groupBy("ms").agg(F.sum("delta").cast("bigint").alias("net_d"))
    net = net.withColumn("hr", F.expr("ms div 3600000"))

    # Distributed prefix sum: (1) per-hour partial running sums stay inside
    # hour-keyed partitions; (2) the carry-in cumulates per-hour nets with
    # the TWO-LEVEL seam stitch (operators/seams.py) — the residual
    # unpartitioned window sees only the per-8192-hour rollup, so no task
    # scales with the span even over a century of hours.
    hour_net = net.groupBy("hr").agg(F.sum("net_d").alias("h_net"))
    from postgresql_cdc_spark.operators.seams import (
        two_level_exclusive_prefix,
    )

    carry = two_level_exclusive_prefix(
        hour_net, "hr", {"h_net": "carry"}
    ).select("hr", "carry")
    w_in_hr = (
        Window.partitionBy("hr")
        .orderBy("ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = net.join(carry, "hr").select(
        "hr",
        "ms",
        (F.col("carry") + F.sum("net_d").over(w_in_hr)).alias("conc"),
    )
    return run.groupBy("hr").agg(
        F.max("conc").cast("bigint").alias("peak"),
        F.count(F.lit(1)).alias("n_change_ms"),
    )


# --- time-weighted average (TWAP) --------------------------------------------

@register(
    "events_twap_daily",
    """
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
               epoch_ms(ts) // 86400000 AS day_idx,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
    seg AS (
        SELECT user_id, day_idx, ts_ms, cents,
               LEAD(ts_ms) OVER (PARTITION BY user_id, day_idx
                                 ORDER BY ts_ms, event_id) - ts_ms AS dur
        FROM e),
    agg AS (
        SELECT user_id, day_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(ts_ms) - MIN(ts_ms) AS BIGINT) AS span_ms,
               CAST(SUM(CASE WHEN dur IS NOT NULL THEN cents * dur END)
                    AS BIGINT) AS integral
        FROM seg GROUP BY 1, 2)
    SELECT user_id, day_idx, n_events, span_ms,
           CAST(integral * 1000 // span_ms AS BIGINT) AS twap_millicents
    FROM agg WHERE span_ms > 0
    """,
    doc="Time-weighted average price (TimescaleDB time_weight / kdb+ "
        "twap): per user-day, the step-function (LOCF) integral of the "
        "value series divided by the observed span — the correct average "
        "for irregularly-sampled series where the plain AVG over-weights "
        "bursts. Integral = sum(cents x ms-until-next-event), exact "
        "BIGINT throughout; the quotient is emitted in millicents via "
        "integer division (all quantities non-negative, so trunc == "
        "floor on both engines). One user/day-keyed LEAD window + one "
        "hash agg — the window partition is a user-day, never global, "
        "so the plan is scan-shaped at 100 TB. Single-event days (zero "
        "span) are excluded: a point has no time-weighted mean.",
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.expr("unix_millis(ts) div 86400000").alias("day_idx"),
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id", "day_idx").orderBy("ts_ms", "event_id")
    seg = e.withColumn("dur", F.lead("ts_ms").over(w) - F.col("ts_ms"))
    agg = seg.groupBy("user_id", "day_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("ts_ms") - F.min("ts_ms")).cast("bigint").alias("span_ms"),
        F.sum(
            F.when(F.col("dur").isNotNull(), F.col("cents") * F.col("dur"))
        ).cast("bigint").alias("integral"),
    )
    return agg.where(F.col("span_ms") > 0).select(
        "user_id",
        "day_idx",
        "n_events",
        "span_ms",
        F.expr("CAST(integral * 1000 div span_ms AS BIGINT)").alias(
            "twap_millicents"
        ),
    )


# --- multi-touch linear attribution ------------------------------------------

@register(
    "events_attribution_linear",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events),
    seg AS (
        SELECT user_id, event_id, ts_ms, event_type, is_p,
               CAST(COALESCE(SUM(is_p) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS grp
        FROM e),
    converted AS (
        SELECT DISTINCT user_id, grp FROM seg WHERE is_p = 1),
    touches AS (
        SELECT s.user_id, s.grp, s.event_type,
               ROW_NUMBER() OVER (PARTITION BY s.user_id, s.grp
                                  ORDER BY s.ts_ms, s.event_id) AS tr,
               COUNT(*) OVER (PARTITION BY s.user_id, s.grp) AS t
        FROM seg s JOIN converted c
          ON s.user_id = c.user_id AND s.grp = c.grp
        WHERE s.is_p = 0),
    credited AS (
        SELECT user_id, grp, event_type,
               CAST(1000000 // t
                    + CASE WHEN tr = 1 THEN 1000000 % t ELSE 0 END
                    AS BIGINT) AS credit
        FROM touches),
    per_conv AS (
        SELECT event_type, user_id, grp,
               CAST(SUM(credit) AS BIGINT) AS credit
        FROM credited GROUP BY 1, 2, 3)
    SELECT event_type, CAST(SUM(credit) AS BIGINT) AS micro_credits,
           COUNT(*) AS n_conversions_touched
    FROM per_conv GROUP BY 1
    """,
    doc="Multi-touch LINEAR attribution (the equal-credit companion of "
        "events_attribution_last_touch): each purchase distributes "
        "exactly 1,000,000 micro-credits equally across the touchpoint "
        "events since the user's previous purchase, integer-exactly — "
        "quotient per touch, remainder to the EARLIEST touch, so credits "
        "sum to 1e6 per conversion by construction (float split would "
        "neither sum exactly nor compare across engines). Conversion "
        "segments come from an exclusive-prefix purchase count (purchase "
        "#p and its preceding touches share segment p-1); trailing "
        "touches with no closing purchase drop out via the semi-join "
        "shape on converted segments. All windows are user- or "
        "user-segment-keyed; the final rollup counts conversions per "
        "type from a pre-aggregated per-conversion table — no COUNT "
        "DISTINCT over composite keys. Scan-shaped at any scale.",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_type",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_p"
        ),
    )
    w_ex = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.withColumn(
        "grp",
        F.coalesce(F.sum("is_p").over(w_ex), F.lit(0)).cast("bigint"),
    )
    converted = (
        seg.where(F.col("is_p") == 1).select("user_id", "grp").distinct()
    )
    w_rank = Window.partitionBy("user_id", "grp").orderBy("ts_ms", "event_id")
    w_cnt = Window.partitionBy("user_id", "grp")
    touches = (
        seg.where(F.col("is_p") == 0)
        .join(converted, ["user_id", "grp"])
        .withColumn("tr", F.row_number().over(w_rank))
        .withColumn("t", F.count(F.lit(1)).over(w_cnt))
    )
    credited = touches.select(
        "user_id",
        "grp",
        "event_type",
        (
            F.expr("1000000 div t")
            + F.when(F.col("tr") == 1, F.expr("1000000 % t")).otherwise(0)
        )
        .cast("bigint")
        .alias("credit"),
    )
    per_conv = credited.groupBy("event_type", "user_id", "grp").agg(
        F.sum("credit").cast("bigint").alias("credit")
    )
    return per_conv.groupBy("event_type").agg(
        F.sum("credit").cast("bigint").alias("micro_credits"),
        F.count(F.lit(1)).alias("n_conversions_touched"),
    )


# --- distributed Gini concentration ------------------------------------------

# G = (2*S1 - (n+1)*sy) / (n*sy), S1 = sum of rank*value over ascending
# value order. Exact BIGINT numerator/denominator, ONE IEEE division.
_GINI = "CAST(2 * s1 - (n + 1) * sy AS DOUBLE) / CAST(n * sy AS DOUBLE)"


@register(
    "events_value_gini",
    f"""
    WITH e AS (
        SELECT event_type, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
    ranked AS (
        SELECT event_type, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY cents, event_id) AS BIGINT)
                   AS rk
        FROM e),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS sy,
               CAST(SUM(rk * cents) AS BIGINT) AS s1
        FROM ranked GROUP BY 1)
    SELECT event_type, n, sy AS sum_cents, {_GINI} AS gini
    FROM sums WHERE sy > 0
    """,
    doc="Gini concentration of event value per event type (whale-"
        "detection / revenue-concentration metric): the rank-formula "
        "Gini G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over "
        "ascending values, exact BIGINT sums then ONE IEEE division. "
        "Rank ties on equal cents are harmless: swapping equal values "
        "between adjacent ranks leaves sum(i*x_i) unchanged, so the "
        "result is deterministic even though the tie order isn't. The "
        "Spark plan does NOT lean on a 5-partition global-ish window "
        "(which would crush a 100-TB scan into one task per type): it "
        "uses the distributed sort-rank decomposition — per-row ranks "
        "come from a window partitioned by (type, $10 value bucket) "
        "plus a per-bucket carry-in cumulated over the tiny "
        "(type x bucket) count table, the same scan decomposition as "
        "events_peak_concurrency. The oracle states the plain global "
        "rank formula; equality of the two IS the test.",
)
def events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "event_type",
        "event_id",
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    # distributed rank: bucket by $10 bands, rank within (type, bucket),
    # add the count of all rows in lower buckets of the same type.
    e = e.withColumn("bkt", F.expr("cents div 1000"))
    bcounts = e.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("bn")
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = bcounts.select(
        "event_type",
        "bkt",
        (F.sum("bn").over(w_carry) - F.col("bn")).alias("carry"),
    )
    w_in = Window.partitionBy("event_type", "bkt").orderBy(
        "cents", "event_id"
    )
    ranked = (
        e.join(F.broadcast(carry), ["event_type", "bkt"])
        .withColumn(
            "rk",
            (F.col("carry") + F.row_number().over(w_in)).cast("bigint"),
        )
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("rk") * F.col("cents")).cast("bigint").alias("s1"),
    )
    return sums.where(F.col("sy") > 0).select(
        "event_type", "n", F.col("sy").alias("sum_cents"),
        F.expr(_GINI).alias("gini"),
    )


# --- exact Mann-Whitney rank-sum A/B test ------------------------------------

# z = (U - nA*nB/2) / sqrt(nA*nB*(nA+nB+1)/12), the no-tie normal
# approximation, from DOUBLED quantities so every intermediate is exact
# BIGINT until the two divisions and the sqrt (all exactly rounded).
_MWU_Z = (
    "(CAST(u2 AS DOUBLE) / 2.0 - CAST(na * nb AS DOUBLE) / 2.0) "
    "/ sqrt(CAST(na * nb * (na + nb + 1) AS DOUBLE) / 12.0)"
)


@register(
    "events_ab_rank_sum",
    f"""
    WITH outcomes AS (
        SELECT user_id,
               CASE WHEN ({H60.format(x="'ab:' || CAST(user_id AS VARCHAR)")})
                         % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents
        FROM events GROUP BY 1),
    ranked AS (
        SELECT arm, cents,
               CAST(2 * RANK() OVER (ORDER BY cents)
                    + COUNT(*) OVER (PARTITION BY cents) - 1 AS BIGINT)
                   AS mid2
        FROM outcomes),
    sums AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN mid2 END) AS BIGINT) AS r2a,
               CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS na,
               CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS nb
        FROM ranked),
    u AS (SELECT na, nb, r2a - na * (na + 1) AS u2 FROM sums)
    SELECT na, nb, u2, {_MWU_Z} AS z
    FROM u
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) A/B readout on per-user "
        "purchase totals — the nonparametric companion of "
        "events_ab_test_lift (same salted-hash arm assignment), robust "
        "to the heavy-tailed revenue distributions where a mean lift is "
        "whale-driven. Tie-safe EXACT integer ranks: doubled midranks "
        "2*rank + ties - 1 keep the half-integer tie averages in BIGINT, "
        "so U2 = 2*U is exact and engine-comparable; the z-score kernel "
        "(no-tie variance, documented) is shared-source IEEE with one "
        "sqrt. The oracle states the textbook global RANK(); the Spark "
        "plan computes identical midranks WITHOUT a one-partition sort: "
        "per-value counts roll up into value-buckets whose carry-in "
        "cumulates over a tiny bucket table (sort-rank decomposition), "
        "and ties collapse into one arithmetic term per distinct value.",
)
def events_ab_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    outcomes = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (DEC("value", 12, 2) * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cents")
        )
        .select(
            F.when(
                tx.h60(
                    F.concat(F.lit("ab:"), F.col("user_id").cast("string"))
                )
                % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "cents",
        )
    )
    # distinct-value rollup: (cents, per-arm counts); ranks follow from
    # counts of strictly-smaller values, never a per-row global window.
    # Skinny and read twice (bucket counts, ranked join): persist so the
    # per-user groupBy upstream never recomputes (dedup.py contract).
    vals = (
        outcomes.groupBy("cents")
        .agg(
            F.count(F.when(F.col("arm") == "A", 1)).alias("ca"),
            F.count(F.lit(1)).alias("c"),
        )
        .withColumn("bkt", F.expr("cents div 10000"))
        .persist()
    )
    bcounts = vals.groupBy("bkt").agg(F.sum("c").alias("bn"))
    # exclusive prefix over the $100-bucket table, stitched TWO-LEVEL
    # (operators/seams.py): the residual unpartitioned window sees only the
    # super-bucket rollup — value-range/8192^2 rows at any range, so no
    # single task holds a table that scales with the data.
    from postgresql_cdc_spark.operators.seams import (
        two_level_exclusive_prefix,
    )

    carry = two_level_exclusive_prefix(
        bcounts, "bkt", {"bn": "carry"}
    ).select("bkt", "carry")
    w_in = Window.partitionBy("bkt").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = vals.join(carry, "bkt").withColumn(
        "before", F.col("carry") + F.sum("c").over(w_in) - F.col("c")
    )
    # all `ca` ties of value v share doubled midrank 2*(before+1) + c - 1
    sums = ranked.agg(
        F.sum(
            F.col("ca") * (2 * (F.col("before") + 1) + F.col("c") - 1)
        )
        .cast("bigint")
        .alias("r2a"),
        F.sum("ca").cast("bigint").alias("na"),
        (F.sum("c") - F.sum("ca")).cast("bigint").alias("nb"),
    )
    u = sums.select(
        "na", "nb", (F.col("r2a") - F.col("na") * (F.col("na") + 1)).alias("u2")
    )
    return u.select("na", "nb", "u2", F.expr(_MWU_Z).alias("z"))


# --- clamped (floored) running balance ---------------------------------------

@register(
    "events_floored_running_balance",
    """
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN -CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    ELSE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
               END AS delta
        FROM events),
    pre AS (
        SELECT user_id, ts_ms, event_id, delta,
               CAST(SUM(delta) OVER (PARTITION BY user_id
                                     ORDER BY ts_ms, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS prefix
        FROM e),
    run AS (
        SELECT user_id, delta, prefix,
               CAST(MIN(prefix) OVER (PARTITION BY user_id
                                      ORDER BY ts_ms, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS runmin,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts_ms DESC, event_id DESC) AS rev
        FROM pre)
    SELECT user_id,
           CAST(MAX(CASE WHEN rev = 1 THEN
                prefix - CASE WHEN runmin < 0 THEN runmin ELSE 0 END END)
                AS BIGINT) AS final_balance,
           CAST(MIN(runmin) AS BIGINT) AS min_prefix,
           CAST(SUM(CASE WHEN delta < 0 AND prefix =
                    CASE WHEN runmin < 0 THEN runmin ELSE 0 END
                    AND prefix <= 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_hits,
           COUNT(*) AS n_events
    FROM run GROUP BY user_id
    """,
    doc="Running balance with a FLOOR AT ZERO (prepaid-wallet / inventory "
        "semantics: purchases debit, other activity credits, and the "
        "balance can never go negative) — the textbook example of a "
        "clamped prefix scan that looks inherently sequential. The "
        "scalable identity: with a floor-only clamp, "
        "balance_i = prefix_i - min(0, running_min(prefix_i)) — the "
        "clamp lifts the series by its worst historical deficit — so "
        "TWO ordinary user-keyed cumulative windows replace any "
        "row-at-a-time state machine, exactly (all BIGINT cents). A "
        "floor HIT is a debit row whose prefix touches the current "
        "waterline while non-positive; the per-user rollup reports "
        "final clamped balance, deepest deficit, hit count.",
)
def events_floored_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cents = (DEC("value", 12, 2) * 100).cast("bigint")
    e = EV(spark, sf_dir).select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.when(F.col("event_type") == "purchase", -cents)
        .otherwise(cents)
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rev = Window.partitionBy("user_id").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    run = (
        e.withColumn("prefix", F.sum("delta").over(w).cast("bigint"))
        .withColumn("runmin", F.min("prefix").over(w).cast("bigint"))
        .withColumn("rev", F.row_number().over(w_rev))
    )
    waterline = F.when(F.col("runmin") < 0, F.col("runmin")).otherwise(0)
    return run.groupBy("user_id").agg(
        F.max(
            F.when(F.col("rev") == 1, F.col("prefix") - waterline)
        )
        .cast("bigint")
        .alias("final_balance"),
        F.min("runmin").cast("bigint").alias("min_prefix"),
        F.sum(
            F.when(
                (F.col("delta") < 0)
                & (F.col("prefix") == waterline)
                & (F.col("prefix") <= 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_floor_hits"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "events_cusum_user_drift",
    """
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
    med AS (
        SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                    AS BIGINT) AS med
        FROM e),
    pre0 AS (
        SELECT user_id, ts_ms, event_id, med,
               CAST(SUM(cents - med) OVER (PARTITION BY user_id
                    ORDER BY ts_ms, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
        FROM e CROSS JOIN med),
    pre AS (
        SELECT user_id, ts_ms, event_id, med, prefix,
               CAST(MIN(prefix) OVER (PARTITION BY user_id
                    ORDER BY ts_ms, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin
        FROM pre0),
    s AS (
        SELECT user_id, med,
               prefix - CASE WHEN runmin < 0 THEN runmin ELSE 0 END AS cusum,
               LAG(prefix - CASE WHEN runmin < 0 THEN runmin ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
                   AS prev
        FROM pre)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN COALESCE(prev, 0) < 2 * med
                          AND cusum >= 2 * med THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms
    FROM s GROUP BY user_id
    """,
    doc="Per-user CUSUM drift alarm (Page's sequential changepoint test, "
        "the monitoring kernel behind spend-anomaly and metric-drift "
        "alerting): accumulate max(0, S + (x - ref)) over each user's "
        "event sequence and raise an alarm whenever the statistic "
        "crosses the decision band H = 2*ref upward. Fully integer-"
        "exact: the reference is the global PERCENTILE_DISC median (a "
        "data element, so deltas are BIGINT cents — a mean reference "
        "would drag every delta through a division), and the clamped "
        "recursion is replaced by the floored-prefix identity "
        "S = prefix - min(0, runmin) (property-tested in "
        "test_extensions_kernels), so the 'inherently sequential' "
        "statistic is two user-keyed cumulative windows plus a LAG for "
        "upward-crossing detection — no state machine, no UDF. Reports "
        "per user: events, high-water CUSUM, alarm count.",
)
def events_cusum_user_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    med = e.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("med")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pre = (
        e.crossJoin(F.broadcast(med))
        .withColumn(
            "prefix",
            F.sum(F.col("cents") - F.col("med")).over(w).cast("bigint"),
        )
        .withColumn("runmin", F.min("prefix").over(w).cast("bigint"))
    )
    cusum = F.col("prefix") - F.when(
        F.col("runmin") < 0, F.col("runmin")
    ).otherwise(0)
    s = pre.select(
        "user_id",
        "med",
        cusum.alias("cusum"),
        F.lag(cusum).over(w_lag).alias("prev"),
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("cusum").cast("bigint").alias("max_cusum"),
        F.sum(
            F.when(
                (F.coalesce(F.col("prev"), F.lit(0)) < 2 * F.col("med"))
                & (F.col("cusum") >= 2 * F.col("med")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alarms"),
    )
