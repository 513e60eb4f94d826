"""Event-stream analytics over the `events` table: sessionization and
funnel conversion — the batch forms of the canonical streaming
workloads (the reference's DStream examples are exactly this class of
job), expressed with window functions so they scale as one shuffle on
user_id.

- queueing: M/M/1 metrics and Erlang-B blocking on hourly arrivals;
- survival: two-group log-rank test, restricted mean survival time;
- event-series statistics: error-event c-chart, inter-event burstiness,
  Markov predictability, partial correlation, adstock regression, and
  A/D line and force index on daily event bars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import (
    DEC38,
    duck_sql,
    spark_sql,
    sql_ss_div,
)
from spark_lever_spark.registry import register


@register(
    "sessionize_events",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> new-session
    flag -> running sum = session number -> per-session rollup. One
    shuffle on user_id serves both window passes and the final group-by
    (same partitioning, Catalyst reuses the exchange). The streaming
    twin is `session_window_agg` (streaming/core.py)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap as a timestamp-interval comparison, exactly what the oracle
    # does: full microsecond precision (cast('long') floors to whole
    # seconds and misclassifies gaps in (1800.0, 1801.0)s), and — unlike
    # unix_micros, which rejects TIMESTAMP_NTZ — valid for either
    # timestamp type, so the query survives the driver regenerating the
    # parquet with a different physical timestamp encoding.
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    sessions = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_no")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS viewed,
       (SELECT COUNT(*) FROM c) AS clicked_after_view,
       (SELECT COUNT(*) FROM p) AS purchased_after_click
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first view -> first later click -> first later
    purchase, counted as users surviving each stage. Three aggregations
    all partitioned on user_id — one logical shuffle key end to end."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("viewed"))
        .crossJoin(c.agg(F.count("*").alias("clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("purchased_after_click")))
    )


@register(
    "anomaly_hourly_event_rate",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*) AS cnt
  FROM events GROUP BY event_type, hour
),
stats AS (
  SELECT event_type,
         count(*) AS n_hours,
         CAST(SUM(cnt) AS BIGINT) AS s1,
         CAST(SUM(cnt * cnt) AS BIGINT) AS s2
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour, h.cnt,
       round(((CAST(h.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n_hours)
         / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n_hours)
                / (s.n_hours - 1))) * 1000000) / 1000000 AS z_score,
       abs((CAST(h.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n_hours)
         / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n_hours)
                / (s.n_hours - 1))) > 2.0 AS is_anomaly
FROM hourly h JOIN stats s ON h.event_type = s.event_type
ORDER BY h.event_type, h.hour
""",
)
def anomaly_hourly_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection: z-score of each (event_type, hour)
    count against that type's mean/std across hours, flag |z| > 2 —
    the alerting primitive over any metric stream.

    Cross-engine exactness: variance is NOT stddev_samp (both engines
    use different streaming accumulations — last-ulp divergence would
    flip rounded digits and threshold flags). Instead the per-type
    moments are exact BIGINT sums (S1, S2) and the z-score is one
    textual IEEE formula evaluated identically in both engines; the
    final rounding is the round_to form (functions/exact.py doctrine).
    Scale shape: hourly agg shuffles once on (type, hour); the 5-row
    stats table broadcasts back."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_hours")
    ) / (F.col("n_hours") - 1)
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    return j.select(
        "event_type",
        "hour",
        "cnt",
        (F.round(z * 1000000) / 1000000).alias("z_score"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    ).orderBy("event_type", "hour")


@register(
    "retention_cohorts_daily",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events
  GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       CAST(day_offset AS INT) AS day_offset,
       count(*) AS n_active_users
FROM activity
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
""",
)
def retention_cohorts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    on each subsequent active day-offset — the product-analytics table
    behind every retention curve.

    Scale shape: the firsts table is one agg on user_id; the
    activity join co-partitions on the same user_id key (no broadcast
    needed or wanted — firsts is proportional to the user base); the
    distinct collapses (user, day) activity before the final small agg.
    Three shuffles total, all on keys that AQE can coalesce."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "debounce_events_10m",
    oracle="""
WITH ordered AS (
  SELECT event_id, user_id, event_type, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT event_id, user_id, event_type, ts
FROM ordered
WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 10 MINUTE
ORDER BY user_id, event_type, ts, event_id
""",
)
def debounce_events_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / burst suppression: keep only the FIRST event of each
    (user, type) burst — an event survives iff no same-key event
    occurred within the previous 10 minutes. The telemetry dedup that
    turns retry storms and double-clicks into single signals. Same
    interval-comparison discipline as sessionize (survives either
    physical timestamp encoding); one shuffle on the (user, type)
    window key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.withColumn("prev_ts", prev)
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 10 MINUTES"))
        )
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("user_id", "event_type", "ts", "event_id")
    )


@register(
    "session_path_trigrams",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
),
steps AS (
  SELECT user_id, session_no, event_type, ts, event_id,
         LEAD(event_type, 1) OVER w2 AS e2,
         LEAD(event_type, 2) OVER w2 AS e3
  FROM sessions
  WINDOW w2 AS (PARTITION BY user_id, session_no ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
FROM steps
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 25
""",
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path analysis: the 25 most common 3-step event-type
    sequences WITHIN sessions (sequences never cross a 30-min session
    boundary — that is what distinguishes a path from an n-gram over
    the raw stream). Sessionize, lead twice inside the session, count
    paths. All three window passes and the sessionize share the
    user_id-rooted partitioning; the path count is a tiny agg."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    sessions = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    steps = sessions.select(
        "event_type",
        F.lead("event_type", 1).over(w2).alias("e2"),
        F.lead("event_type", 2).over(w2).alias("e3"),
    )
    return (
        steps.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(25)
    )


@register(
    "funnel_windowed_1h",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 1 HOUR
      GROUP BY e.user_id)
SELECT (SELECT COUNT(*) FROM v) AS viewed,
       (SELECT COUNT(*) FROM c) AS clicked_within_1h,
       (SELECT COUNT(*) FROM p) AS purchased_within_1h
""",
)
def funnel_windowed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with per-step time windows: each step counts
    only within 1 hour of the previous step's completion — the form
    product analytics actually reports (an unbounded funnel credits
    conversions weeks later). Same chain shape as the unbounded
    funnel: per-user first-view agg, conditional min per following
    step, scalar counts broadcast together."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    hour = F.expr("INTERVAL 1 HOUR")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + hour)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("viewed"))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("clicked_within_1h"))))
        .crossJoin(
            F.broadcast(p.agg(F.count("*").alias("purchased_within_1h")))
        )
    )


@register(
    "mode_event_type_per_user",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id < 100
  GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rk
  FROM counts
)
SELECT user_id, event_type AS mode_type, n AS mode_count
FROM ranked WHERE rk = 1
ORDER BY user_id
""",
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent event type per user
    with an explicit (count desc, type asc) tie-break — the built-in
    mode() aggregate returns an ARBITRARY value on ties in both
    engines, which can never hash-match, so the argmax is spelled as
    count + ranked window. Shuffles: one for the count, one window on
    user_id (AQE-coalesced); WindowGroupLimit prunes to rk=1 map-side."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("user_id")
    )


@register(
    "running_distinct_users_daily",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
  GROUP BY user_id
),
per_day AS (
  SELECT first_day, count(*) AS new_users FROM firsts GROUP BY first_day
)
SELECT CAST(first_day AS VARCHAR) AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM per_day
ORDER BY first_day
""",
)
def running_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve. Computing
    a running COUNT(DISTINCT) directly re-deduplicates the whole
    history per day; the scalable identity is: a user is new exactly
    once, so cumulative-distinct == running sum of first-seen counts.
    One agg on user_id, one tiny per-day rollup, one prefix sum over
    days (the single-partition window runs over #days rows, not
    events)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = firsts.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_day.withColumn(
            "cumulative_users", F.sum("new_users").over(w)
        )
        .select(
            F.col("first_day").cast("string").alias("day"),
            "new_users",
            "cumulative_users",
        )
        .orderBy("day")
    )


@register(
    "peak_concurrency_by_type",
    oracle="""
WITH deltas AS (
  SELECT event_type, ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 5 MINUTE, -1 FROM events
),
running AS (
  SELECT event_type, t, d,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS concurrent
  FROM deltas
)
SELECT event_type,
       CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
FROM running
GROUP BY event_type
ORDER BY event_type
""",
)
def peak_concurrency_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the +1/-1 sweep: each event opens a
    5-minute interval; emit +1 at start and -1 at end, prefix-sum in
    time order, take the max — the capacity-planning primitive
    (simultaneous sessions/connections) computed without any
    interval-vs-interval join. Tie order pinned (end before start at
    the same instant via d ascending: -1 sorts first), so concurrency
    at a shared boundary never double-counts.

    Scale shape: event_type is a LOW-cardinality key, so a window
    partitioned on it alone would route each type's entire sweep
    through ONE task. The prefix sum is therefore 2-passed on
    (type, day) — local running sums inside each day partition plus
    broadcast per-day net offsets (the grank.py broadcast-offset
    doctrine; day binning is monotone in t, so
    local + offset == the single-task running sum, bit-identical).
    Parallelism scales with types × days instead of types."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("d")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
    )
    deltas = starts.unionAll(ends).withColumn(
        "b", F.date_trunc("day", F.col("t"))
    )
    w_loc = (
        Window.partitionBy("event_type", "b")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("lr", F.sum("d").over(w_loc))
    per_bin = local.groupBy("event_type", "b").agg(F.sum("d").alias("net"))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bin.select(
        "event_type",
        "b",
        F.coalesce(F.sum("net").over(w_off), F.lit(0)).alias("off"),
    )
    running = local.join(F.broadcast(offsets), ["event_type", "b"]).select(
        "event_type", (F.col("lr") + F.col("off")).alias("concurrent")
    )
    return (
        running.groupBy("event_type")
        .agg(
            F.max("concurrent").alias("peak_concurrent"),
            (F.count("*") / 2).cast("long").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


@register(
    "longest_daily_streak_per_user",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id < 100
),
grp AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, count(*) AS streak_len, min(day) AS streak_start
  FROM grp GROUP BY user_id, anchor
),
best AS (
  SELECT user_id, streak_len, streak_start,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY streak_len DESC, streak_start) AS rk
  FROM streaks
)
SELECT user_id, streak_len, CAST(streak_start AS VARCHAR) AS streak_start
FROM best WHERE rk = 1
ORDER BY user_id
""",
)
def longest_daily_streak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — gaps-and-
    islands on the calendar: for consecutive days, (day - row_number)
    is constant, so grouping by that anchor yields the streaks without
    any self-join. The engagement metric every product dashboard
    carries. Ties broken by earliest streak. Two windows + two aggs,
    all partitioned on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("streak_len"), F.min("day").alias("streak_start")
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    return (
        streaks.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "streak_len",
            F.col("streak_start").cast("string").alias("streak_start"),
        )
        .orderBy("user_id")
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS from_type, ts, event_id,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) * 1000000) / 1000000
         AS p
FROM counts
ORDER BY from_type, to_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over each user's event stream:
    count (from, to) adjacent pairs, row-normalize per from-state —
    the Markov-chain summary behind next-event prediction features and
    behavioral fingerprinting. The lead window shuffles once on
    user_id; the matrix itself is |types|^2 rows, and the
    row-normalizing window runs over that tiny aggregate. Probabilities
    are one rounded IEEE division of exact counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    w_row = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w_row) * 1000000
            )
            / 1000000,
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "ab_split_lift",
    oracle="""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 = 0 THEN 'A' ELSE 'B' END AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT bucket,
       count(*) AS n_purchases,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       round(CAST(SUM(cents) AS DOUBLE) / count(*) * 10000) / 10000
         AS avg_cents
FROM assigned
GROUP BY bucket
ORDER BY bucket
""",
)
def ab_split_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B assignment + per-arm metrics: users hash into
    arms by md5 parity (stable across sessions, engines, and reruns —
    the property that makes an experiment analyzable at all), then
    exact per-arm purchase metrics. The experimentation primitive;
    significance testing composes from these exact moments (see
    anomaly_hourly_event_rate for the exact-variance pattern).
    Map-side assignment, one aggregation shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bucket = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assigned = ev.select(
        "user_id",
        bucket.alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    n = F.count("*")
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("total_cents"),
            (F.round(F.sum("cents").cast("double") / n * 10000) / 10000).alias(
                "avg_cents"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "time_in_state_by_type",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
),
intervals AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from, event_id) AS valid_to
  FROM changes
)
SELECT event_type,
       count(*) AS n_intervals,
       CAST(SUM(datediff('microsecond', valid_from, valid_to)) AS BIGINT)
         AS total_us,
       CAST(floor(CAST(SUM(datediff('microsecond', valid_from, valid_to))
                       AS DOUBLE) / count(*)) AS BIGINT) AS avg_us
FROM intervals
WHERE valid_to IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def time_in_state_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state rollup over the SCD2 validity intervals
    (scd2_event_type_history's closed intervals aggregated per state):
    how long users dwell in each event-type run — the state-machine
    duration metric behind support/ops SLAs. Exact integer
    microseconds; closed intervals only (open tails have no duration
    yet). Shares the scd2 single-shuffle shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    iv = changes.withColumn(
        "valid_to", F.lead("valid_from").over(w2)
    ).filter(F.col("valid_to").isNotNull())
    dur = F.unix_micros(F.col("valid_to")) - F.unix_micros(F.col("valid_from"))
    n = F.count("*")
    return (
        iv.groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(dur).alias("total_us"),
            F.floor(F.sum(dur).cast("double") / n).cast("long").alias(
                "avg_us"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "sessionize_capped_events",
    oracle="""
WITH RECURSIVE e AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, ts, rn, 0 AS sid, ts AS sstart FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts, e.rn,
         CASE WHEN e.ts - r.ts > INTERVAL 30 MINUTE
                OR e.ts - r.sstart > INTERVAL 4 HOUR
              THEN r.sid + 1 ELSE r.sid END,
         CASE WHEN e.ts - r.ts > INTERVAL 30 MINUTE
                OR e.ts - r.sstart > INTERVAL 4 HOUR
              THEN e.ts ELSE r.sstart END
  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, CAST(sid AS BIGINT) AS sid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end
FROM r GROUP BY user_id, sid
ORDER BY user_id, sid
""",
)
def sessionize_capped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH an inactivity gap (30 min) and a
    max-duration cap (4 h since session start) — the variant plain
    gaps-and-islands cannot express, because the cap references the
    running session's own start (a sequential dependency). Runs as a
    per-user HOF prefix scan over the sorted event array: one shuffle
    to group, O(events-per-user) state — the same bounded-scan doctrine
    as the EWMA operator (at 100 TB, pre-partition by (user, coarse
    time) if single users exceed memory). The oracle replays the exact
    recursion as a recursive CTE; timestamps ride as exact integer
    microseconds through the scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        "event_id",
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("tus", "event_id"))).alias("s")
    )
    gap_us = 30 * 60 * 1_000_000
    cap_us = 4 * 3600 * 1_000_000

    def step(acc, s):
        last = F.element_at(acc, -1)
        is_new = (s["tus"] - last["tus"] > gap_us) | (
            s["tus"] - last["sstart"] > cap_us
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["tus"].alias("tus"),
                    F.when(F.size(acc) == 0, F.lit(0).cast("long"))
                    .otherwise(
                        F.when(is_new, last["sid"] + 1).otherwise(last["sid"])
                    )
                    .alias("sid"),
                    F.when(F.size(acc) == 0, s["tus"])
                    .otherwise(F.when(is_new, s["tus"]).otherwise(last["sstart"]))
                    .alias("sstart"),
                )
            ),
        )
    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<tus bigint, sid bigint, sstart bigint>>)"
        ),
        step,
    )
    return (
        per_user.select("user_id", F.explode(scan).alias("r"))
        .groupBy("user_id", F.col("r.sid").alias("sid"))
        .agg(
            F.count("*").alias("n_events"),
            F.timestamp_micros(F.min("r.tus")).alias("session_start"),
            F.timestamp_micros(F.max("r.tus")).alias("session_end"),
        )
        .orderBy("user_id", "sid")
    )


@register(
    "funnel_time_to_convert",
    oracle="""
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
  FROM events GROUP BY user_id
),
d AS (
  SELECT epoch_us(first_buy) - epoch_us(first_view) AS dus
  FROM f WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy >= first_view
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(CAST(quantile_cont(dus, 0.5) AS DOUBLE) / 1000000 * 100) / 100
         AS p50_sec,
       round(CAST(quantile_cont(dus, 0.9) AS DOUBLE) / 1000000 * 100) / 100
         AS p90_sec,
       round(CAST(quantile_cont(dus, 0.99) AS DOUBLE) / 1000000 * 100) / 100
         AS p99_sec
FROM d
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: per user, time from FIRST view to
    FIRST purchase (converters only), summarized as exact interpolated
    p50/p90/p99 — the 'how long does conversion take' readout product
    teams pair with the funnel counts above. One groupBy(user) with
    conditional-min partials (map-side combinable), then percentiles
    over exact integer microsecond deltas — interpolation arithmetic
    on int64 inputs is identical across engines (the percentiles_exact
    doctrine on time instead of money)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_buy"
        ),
    )
    d = f.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        (
            F.unix_micros(F.col("first_buy")) - F.unix_micros(F.col("first_view"))
        ).alias("dus")
    )
    def psec(q: float):
        return F.round(F.percentile("dus", q) / 1000000 * 100) / 100
    return d.agg(
        F.count("*").alias("n_converted"),
        psec(0.5).alias("p50_sec"),
        psec(0.9).alias("p90_sec"),
        psec(0.99).alias("p99_sec"),
    )


@register(
    "ab_chi_square",
    oracle="""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
           AS arm_a,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           > SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN arm_a AND converted THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN arm_a AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN NOT arm_a AND converted THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN NOT arm_a AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM u
)
SELECT a, b, c, d,
       CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN 0.0
            ELSE round(CAST(a + b + c + d AS DOUBLE)
                 * CAST(a * d - b * c AS DOUBLE)
                 * CAST(a * d - b * c AS DOUBLE)
                 / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
                 * 1000000) / 1000000
       END AS chi2
FROM c
""",
)
def ab_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the A/B split
    (companion to ab_split_lift, same md5-parity arms): the 2x2
    contingency counts are exact int64 aggregates, and the closed-form
    chi2 = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) is evaluated with the
    SAME cast-and-multiply order in both engines — bit-identical
    before 1e-6 rounding (the denominator exceeds int64 range, so each
    factor is cast to double FIRST; the numerator difference ad−bc
    stays exact in int64). One user-grain aggregation, one scalar
    reduce — the experiment readout costs two shuffles at any scale."""
    ev = load_table(spark, sf_dir, "events")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    u = ev.groupBy("user_id").agg(
        F.first(arm_a).alias("arm_a"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        ).alias("converted"),
    )
    cnt = u.agg(
        F.sum(F.when(F.col("arm_a") & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("arm_a") & ~F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("arm_a") & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("arm_a") & ~F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    det = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    chi2 = (
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
        * det.cast("double")
        * det.cast("double")
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
        )
    )
    degenerate = (
        (F.col("a") + F.col("b") == 0)
        | (F.col("c") + F.col("d") == 0)
        | (F.col("a") + F.col("c") == 0)
        | (F.col("b") + F.col("d") == 0)
    )
    return cnt.select(
        "a", "b", "c", "d",
        F.when(degenerate, F.lit(0.0))
        .otherwise(F.round(chi2 * 1000000) / 1000000)
        .alias("chi2"),
    )


@register(
    "cohort_ltv_curve",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('month', min(ts)) AS DATE) AS cohort
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
monthly AS (
  SELECT f.cohort, e.user_id,
         CAST((EXTRACT(year FROM e.ts) - EXTRACT(year FROM f.cohort)) * 12
              + (EXTRACT(month FROM e.ts) - EXTRACT(month FROM f.cohort))
              AS BIGINT) AS age_months,
         CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN firsts f ON f.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
agg AS (
  SELECT cohort, age_months,
         CAST(SUM(cents) AS BIGINT) AS month_cents
  FROM monthly GROUP BY cohort, age_months
),
sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users FROM firsts
       GROUP BY cohort)
SELECT CAST(a.cohort AS VARCHAR) AS cohort, a.age_months, s.cohort_users,
       CAST(SUM(a.month_cents) OVER (PARTITION BY a.cohort ORDER BY a.age_months
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_cents,
       round(CAST(SUM(a.month_cents) OVER (PARTITION BY a.cohort
                                           ORDER BY a.age_months
                                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / 100 / CAST(s.cohort_users AS DOUBLE) * 1000000) / 1000000
         AS ltv_per_user
FROM agg a JOIN sz s ON s.cohort = a.cohort
ORDER BY cohort, age_months
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users cohort by first-purchase month, and
    each cohort's CUMULATIVE purchase value per user unfolds by
    account age — the growth-accounting readout that pairs with
    retention_cohorts_daily (which counts activity; this follows the
    money). Exact cents through the monthly rollup; the cumulative
    window runs over the bounded (cohort, age) lattice; the per-user
    LTV ratio divides exact integers. Cohort assignment is one
    min-aggregation join — the same first-touch shuffle retention
    already pays."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    firsts = purchases.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("cohort")
    )
    monthly = (
        purchases.join(firsts, "user_id")
        .select(
            "cohort",
            (
                (F.year("ts") - F.year("cohort")) * 12
                + (F.month("ts") - F.month("cohort"))
            )
            .cast("long")
            .alias("age_months"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("cohort", "age_months")
        .agg(F.sum("cents").alias("month_cents"))
    )
    sz = firsts.groupBy("cohort").agg(F.count("*").alias("cohort_users"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("month_cents").over(w)
    return (
        monthly.join(sz, "cohort")
        .select(
            F.col("cohort").cast("string").alias("cohort"),
            "age_months",
            "cohort_users",
            cum.alias("cum_cents"),
            (
                F.round(
                    cum.cast("double")
                    / 100
                    / F.col("cohort_users").cast("double")
                    * 1000000
                )
                / 1000000
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age_months")
    )


@register(
    "attribution_last_touch_1h",
    oracle="""
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('view','click','signup')
              THEN event_type END AS touch_ch,
         CASE WHEN event_type IN ('view','click','signup')
              THEN ts END AS touch_ts,
         event_type
  FROM events
),
w AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(touch_ch IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_ch,
         last_value(touch_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_ts
  FROM u
)
SELECT CASE WHEN last_ts IS NOT NULL AND last_ts > ts - INTERVAL 1 HOUR
            THEN last_ch ELSE 'UNATTRIBUTED' END AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM w WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY channel
""",
)
def attribution_last_touch_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    LATEST view/click/signup touch in the preceding hour (else
    UNATTRIBUTED), rolled up to purchases per channel. Expressed in
    the union-window as-of doctrine (asof_purchase_last_view): touches
    and purchases interleave in ONE per-user ordered stream and a
    running last-non-null carries the candidate touch — a single
    user_id shuffle, no join, no per-purchase probe. Determinism: the
    (ts, event_id) order is unique; a touch sharing a purchase's exact
    timestamp attributes only if its event_id sorts first — spec'd
    identically in the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    is_touch = F.col("event_type").isin("view", "click", "signup")
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(is_touch, F.col("event_type")).alias("touch_ch"),
        F.when(is_touch, F.col("ts")).alias("touch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "event_type",
        "ts",
        F.last("touch_ch", ignorenulls=True).over(w).alias("last_ch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_ts"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_ts").isNotNull()
                & (F.col("last_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR")),
                F.col("last_ch"),
            )
            .otherwise(F.lit("UNATTRIBUTED"))
            .alias("channel")
        )
        .groupBy("channel")
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("channel")
    )


@register(
    "funnel_pattern_match",
    oracle="""
WITH seqs AS (
  SELECT user_id,
         string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id
),
pats AS (
  SELECT * FROM (VALUES
    ('view_click_purchase',
     '\\bview\\b.*\\bclick\\b.*\\bpurchase\\b'),
    ('signup_then_purchase', '\\bsignup\\b.*\\bpurchase\\b'),
    ('error_then_purchase', '\\berror\\b.*\\bpurchase\\b')
  ) p(pattern, rx)
)
SELECT p.pattern,
       CAST(SUM(CASE WHEN regexp_matches(s.seq, p.rx)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(SUM(CASE WHEN regexp_matches(s.seq, p.rx)
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS match_share
FROM seqs s CROSS JOIN pats p
GROUP BY p.pattern ORDER BY p.pattern
""",
)
def funnel_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern funnels: each user's
    chronological event-type sequence becomes one string and funnel
    definitions become ordered regex patterns (word-bounded, so token
    names never substring-match) — the declarative alternative to
    hand-built k-step funnels when the pattern is ad hoc. Three
    patterns evaluate in one pass. Determinism: the sequence string
    is built under the unique (ts, event_id) order; the regex subset
    used (\\b, literals, .*) behaves identically in Java regex and
    RE2. Scale shape: one user_id aggregation builds the sequences
    (bounded by events-per-user), patterns are a 3-row broadcast, the
    match is map-side."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            " ",
        ).alias("seq")
    )
    pats = F.array(
        *[
            F.struct(F.lit(n).alias("pattern"), F.lit(rx).alias("rx"))
            for n, rx in (
                (
                    "view_click_purchase",
                    r"\bview\b.*\bclick\b.*\bpurchase\b",
                ),
                ("signup_then_purchase", r"\bsignup\b.*\bpurchase\b"),
                ("error_then_purchase", r"\berror\b.*\bpurchase\b"),
            )
        ]
    )
    exploded = seqs.select("seq", F.explode(pats).alias("p")).select(
        "seq", F.col("p.pattern").alias("pattern"), F.col("p.rx").alias("rx")
    )
    return (
        exploded.groupBy("pattern")
        .agg(
            F.sum(
                F.when(F.expr("regexp_like(seq, rx)"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_matched"),
            F.count("*").alias("n_users"),
        )
        .select(
            "pattern",
            "n_matched",
            "n_users",
            (
                F.round(
                    F.col("n_matched").cast("double")
                    / F.col("n_users").cast("double")
                    * 1000000
                )
                / 1000000
            ).alias("match_share"),
        )
        .orderBy("pattern")
    )


@register(
    "attribution_position_based",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase' AND user_id < 100
),
t AS (
  SELECT user_id, event_id AS touch_id, ts AS t_ts
  FROM events WHERE event_type IN ('view', 'click', 'signup')
    AND user_id < 100
),
cand AS (
  SELECT p.purchase_id, p.user_id, t.touch_id, t.t_ts,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.t_ts, t.touch_id) AS pos,
         count(*) OVER (PARTITION BY p.purchase_id) AS n
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR AND t.t_ts < p.p_ts
),
credit AS (
  SELECT purchase_id, user_id, touch_id, pos, n,
         CASE
           WHEN n = 1 THEN 1000
           WHEN n = 2 THEN 500
           WHEN pos = 1 OR pos = n THEN 400
           ELSE 200 // (n - 2)
                + CASE WHEN pos - 1 <= 200 % (n - 2) THEN 1 ELSE 0 END
         END AS credit_milli
  FROM cand
)
SELECT purchase_id, user_id, touch_id, CAST(pos AS BIGINT) AS pos,
       CAST(n AS BIGINT) AS n_touches,
       CAST(credit_milli AS BIGINT) AS credit_milli
FROM credit ORDER BY purchase_id, pos
""",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution — the
    industry-standard sibling of attribution_last_touch_1h: each
    purchase's credit (1000 milli-units, EXACT integers so credit
    always sums to exactly 1000 per purchase) splits 40/20/40: first
    touch 400, last touch 400, the middle 200 shared across interior
    touches by LARGEST-REMAINDER (earlier positions absorb the
    leftover milli-units — the prorate_fee_largest_remainder doctrine
    applied to marketing spend); 1 touch takes all, 2 touches split
    500/500. Touch set = view/click/signup in the purchase's
    preceding hour. Shape: one user-keyed band join (each purchase
    meets only its 1-hour candidate window), per-purchase position
    window keyed on purchase_id (high-cardinality). Scoped to
    user_id < 100 to bound the checked output."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("t_ts"),
    )
    cand = p.join(
        t,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("t_ts") < F.col("p_ts")),
    )
    wp = Window.partitionBy("purchase_id")
    pos = cand.withColumns(
        {
            "pos": F.row_number().over(wp.orderBy("t_ts", "touch_id")),
            "n": F.count("*").over(wp),
        }
    )
    mid_base = F.floor(F.lit(200) / (F.col("n") - 2)).cast("long")
    mid_rem = (200 % (F.col("n") - 2)).cast("long")
    credit = (
        F.when(F.col("n") == 1, F.lit(1000))
        .when(F.col("n") == 2, F.lit(500))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(400))
        .otherwise(
            mid_base
            + F.when(F.col("pos") - 1 <= mid_rem, 1).otherwise(0)
        )
    )
    return pos.select(
        "purchase_id",
        "user_id",
        "touch_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("n").cast("long").alias("n_touches"),
        credit.cast("long").alias("credit_milli"),
    ).orderBy("purchase_id", "pos")


@register(
    "wilson_ci_conversion_daily",
    oracle="""
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
agg AS (
  SELECT c.day, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM c LEFT JOIN p ON p.day = c.day AND p.user_id = c.user_id
  GROUP BY c.day
)
SELECT day, n, x,
       CAST(x AS DOUBLE) / n AS phat,
       ((CAST(x AS DOUBLE) / n + (1.96 * 1.96) / (2 * n))
        - 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                      * (1 - CAST(x AS DOUBLE) / n) / n
                      + (1.96 * 1.96) / (4 * n * n)))
       / (1 + (1.96 * 1.96) / n) AS wilson_lo,
       ((CAST(x AS DOUBLE) / n + (1.96 * 1.96) / (2 * n))
        + 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                      * (1 - CAST(x AS DOUBLE) / n) / n
                      + (1.96 * 1.96) / (4 * n * n)))
       / (1 + (1.96 * 1.96) / n) AS wilson_hi
FROM agg ORDER BY day
""",
)
def wilson_ci_conversion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click->purchase conversion rate with the WILSON 95 %
    score interval — the interval that behaves at small n and extreme
    p where the naive Wald CI collapses (the A/B-readout statistic
    alongside ab_chi_square). n = distinct clicking users per day,
    x = those who also purchased that day (exact integer counts, one
    keyed left join of two per-(day, user) distinct sets). Float
    parity: the CI is a fixed arithmetic EXPRESSION TREE over (x, n)
    written structurally identically in both engines — every op
    (divide, multiply, sqrt) is IEEE-correctly-rounded, so identical
    trees on identical integers give bit-identical doubles; z enters
    as the literal product 1.96*1.96, never a precomputed rounded
    constant."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("p_day"),
            F.col("user_id").alias("p_user"),
        )
        .distinct()
    )
    agg = (
        c.join(
            p,
            (F.col("p_day") == F.col("day"))
            & (F.col("p_user") == F.col("user_id")),
            "left",
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("p_user").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
    )
    phat = F.col("x").cast("double") / F.col("n")
    z2 = F.lit(1.96) * F.lit(1.96)
    center = phat + z2 / (2 * F.col("n"))
    margin = F.lit(1.96) * F.sqrt(
        phat * (1 - phat) / F.col("n")
        + z2 / (4 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return agg.select(
        "day",
        "n",
        "x",
        phat.alias("phat"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# round-9 additions: transition matrices and conversion-delay quantiles
# ---------------------------------------------------------------------------


@register(
    "markov_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS from_1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS to_type
  FROM events
),
trigrams AS (
  SELECT from_1, from_2, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE from_2 IS NOT NULL AND to_type IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT from_1, from_2, to_type, n,
       CAST(sum(n) OVER (PARTITION BY from_1, from_2) AS BIGINT)
         AS from_total,
       CAST(n AS DOUBLE)
         / sum(n) OVER (PARTITION BY from_1, from_2) AS prob
FROM trigrams
ORDER BY from_1, from_2, to_type
""",
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-order Markov transition matrix: the state is the last
    TWO events, the output the conditional distribution of the third —
    P(next | prev_pair). This is the capability the first-order
    `event_transition_matrix` (events.py:656) cannot express: paths
    like view->cart->purchase vs search->cart->purchase get distinct
    rows here but collapse to the same cart->purchase cell there
    (higher-order context is what makes next-event prediction features
    non-trivial). Two stacked leads on ONE user-keyed window (a single
    shuffle — Spark plans both leads in the same Window node), one
    trigram-count group-by, and the per-(s1,s2) total as a window over
    that <= |types|^3-row aggregate — NOT a self-join, which Catalyst
    does not subplan-dedupe and would scan raw events twice. The
    probability is ONE double division of two exact int64 counts —
    bit-identical cross-engine per the exact.py doctrine; no decision
    depends on it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_1"),
        F.lead("event_type", 1).over(w).alias("from_2"),
        F.lead("event_type", 2).over(w).alias("to_type"),
    ).filter(F.col("from_2").isNotNull() & F.col("to_type").isNotNull())
    trigrams = seq.groupBy("from_1", "from_2", "to_type").agg(
        F.count("*").alias("n")
    )
    w_tot = Window.partitionBy("from_1", "from_2")
    return (
        trigrams.withColumn("from_total", F.sum("n").over(w_tot))
        .select(
            "from_1",
            "from_2",
            "to_type",
            "n",
            "from_total",
            (F.col("n").cast("double") / F.col("from_total")).alias("prob"),
        )
        .orderBy("from_1", "from_2", "to_type")
    )


@register(
    "time_to_convert_quantiles",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY user_id
),
conv AS (
  SELECT f.user_id,
         min(e.ts) AS first_purchase,
         f.first_view
  FROM firsts f
  JOIN events e ON e.user_id = f.user_id
   AND e.event_type = 'purchase' AND e.ts >= f.first_view
  WHERE f.first_view IS NOT NULL
  GROUP BY f.user_id, f.first_view
),
delays AS (
  SELECT user_id,
         date_diff('microsecond', first_view, first_purchase) AS d_us
  FROM conv
),
r AS (
  SELECT user_id, d_us,
         row_number() OVER (ORDER BY d_us, user_id) AS rk,
         count(*) OVER () AS n
  FROM delays
)
SELECT CAST(max(n) AS BIGINT) AS n_converted,
       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN d_us // 1000000 END)
            AS BIGINT) AS p50_seconds,
       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN d_us // 1000000 END)
            AS BIGINT) AS p90_seconds
FROM r
""",
)
def time_to_convert_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact conversion-delay quantiles: per user, the gap between
    FIRST view and the first purchase at-or-after it; p50/p90 of
    those gaps under discrete-quantile semantics (value AT rank
    (n+1) div 2 resp. ceil(0.9n), ties by user_id). The delay domain
    is per-user (one row per converted user), so the quantile pass
    rides the 2-pass grank — no global sort even when 'users' means
    billions. The view->purchase pairing is one user-keyed equi-join
    with the at-or-after predicate as a residual filter and a min
    aggregate, never a per-user subquery loop. Delays are exact int64
    microseconds; the seconds conversion is integer division at
    output time (floor — delays are non-negative, so floor == trunc
    and both engines' // agree)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("first_view")
        )
        .filter(F.col("first_view").isNotNull())
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_u"), F.col("ts").alias("p_ts")
    )
    conv = (
        firsts.join(p, F.col("_u") == F.col("user_id"))
        .filter(F.col("p_ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    delays = conv.select(
        "user_id",
        (
            F.unix_micros(F.col("first_purchase").cast("timestamp"))
            - F.unix_micros(F.col("first_view").cast("timestamp"))
        ).alias("d_us"),
    )
    from spark_lever_spark.operators.grank import with_global_rank

    r = with_global_rank(delays, F.col("d_us"), ["user_id"])
    return r.agg(
        F.max("_n_tot").alias("n_converted"),
        F.max(
            F.when(
                F.expr("_rk = (_n_tot + 1) div 2"),
                F.expr("d_us div 1000000"),
            )
        ).alias("p50_seconds"),
        F.max(
            F.when(
                F.expr("_rk = (9 * _n_tot + 9) div 10"),
                F.expr("d_us div 1000000"),
            )
        ).alias("p90_seconds"),
    )


@register(
    "attribution_time_decay",
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase' AND user_id < 100
),
t AS (
  SELECT user_id, event_id AS touch_id, ts AS t_ts
  FROM events WHERE event_type IN ('view', 'click', 'signup')
    AND user_id < 100
),
cand AS (
  SELECT p.purchase_id, p.user_id, t.touch_id,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.t_ts, t.touch_id) AS pos,
         CAST(date_diff('second', t.t_ts, p.p_ts) AS BIGINT) // 600
             AS decay_k
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.t_ts >= p.p_ts - INTERVAL 1 HOUR AND t.t_ts < p.p_ts
),
wtd AS (
  SELECT purchase_id, user_id, touch_id, pos, decay_k,
         CAST(32 // power(2, decay_k) AS BIGINT) AS wt
  FROM cand
),
base AS (
  SELECT *, SUM(wt) OVER (PARTITION BY purchase_id) AS tot_w,
         1000 * wt AS num
  FROM wtd
),
shares AS (
  SELECT *, num // tot_w AS floor_share, num % tot_w AS rem,
         SUM(num // tot_w) OVER (PARTITION BY purchase_id) AS floor_sum
  FROM base
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY purchase_id
                               ORDER BY rem DESC, pos) AS rrank
  FROM shares
)
SELECT purchase_id, user_id, touch_id, CAST(pos AS BIGINT) AS pos,
       CAST(decay_k AS BIGINT) AS decay_k, CAST(wt AS BIGINT) AS wt,
       CAST(floor_share + CASE WHEN rrank <= 1000 - floor_sum
                               THEN 1 ELSE 0 END AS BIGINT)
           AS credit_milli
FROM ranked ORDER BY purchase_id, pos
""",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — the third classic credit
    model beside last-touch and U-shaped: a touch's weight HALVES
    every 10 minutes of distance from the conversion
    (w = 2^(5 - floor(dt/600s)), so the 1-hour window spans exact
    integer weights 32 down to 1 — no pow() ever reaches the
    engines' float paths as a ranked value). Each purchase's 1000
    milli-units are then split by `prorate_largest_remainder`
    (operators/alloc.py), so per-purchase credit sums to EXACTLY
    1000 like its attribution siblings — the invariant a spend
    report must keep when it re-aggregates by channel. Same scale
    shape as the siblings: one user-keyed band join bounded by the
    hour window, purchase_id-keyed windows afterwards."""
    from spark_lever_spark.operators.alloc import prorate_largest_remainder

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("t_ts"),
    )
    cand = p.join(
        t,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("t_ts") < F.col("p_ts")),
    )
    wp = Window.partitionBy("purchase_id")
    wtd = cand.withColumns(
        {
            "pos": F.row_number().over(wp.orderBy("t_ts", "touch_id")),
            "decay_k": F.expr(
                "CAST(unix_timestamp(p_ts) - unix_timestamp(t_ts)"
                " AS BIGINT) div 600"
            ),
        }
    ).withColumn(
        "wt", F.expr("CAST(32 div shiftleft(1, CAST(decay_k AS INT))"
                     " AS BIGINT)")
    ).withColumn("amount", F.lit(1000).cast("long"))
    out = prorate_largest_remainder(
        wtd, key="purchase_id", weight_col="wt", amount_col="amount",
        order_col="pos",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "touch_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("decay_k").cast("long").alias("decay_k"),
        F.col("wt").cast("long").alias("wt"),
        F.col("alloc").alias("credit_milli"),
    ).orderBy("purchase_id", "pos")


@register(
    "event_type_diversity_impurity",
    oracle="""
WITH per_type AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM per_type GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       CAST((n_events * n_events - sum_sq) * 1000000
            // (n_events * n_events) AS BIGINT) AS impurity_ppm
FROM per_user ORDER BY user_id
""",
)
def event_type_diversity_impurity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral-diversity score per user as EXACT Gini impurity of
    the event-type mix: 1 - Σp_i² = (n² - Σc_i²)/n², published in
    integer ppm — the diversity metric entropy usually serves, chosen
    because impurity is a RATIONAL in the counts (entropy's logs are
    banned from hash-gated outputs; impurity ranks mixes the same
    way for the segmentation use case: 0 = single-behavior user,
    -> 1 = uniform across types). Distinct from gini_customer_revenue
    (a Lorenz concentration over a continuous amount); this is
    multinomial impurity over categorical counts. Two stacked
    aggregations on (user, type) then (user) — both map-side
    combinable; the integer products stay < 2^63 for any user under
    3 billion events."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "(n_events * n_events - sum_sq) * 1000000"
            " div (n_events * n_events)"
        ).alias("impurity_ppm"),
    ).orderBy("user_id")


def _wilson_bound(x: str, n: str, sign: str) -> str:
    """Wilson score bound as a SQL expression STRING over integer
    columns ``x``/``n`` — one source of truth rendered into both the
    DuckDB oracle and the Spark plan (`F.expr`), so the two engines
    evaluate structurally identical IEEE expression trees (the
    wilson_ci_conversion_daily float-parity doctrine)."""
    p = f"(CAST({x} AS DOUBLE) / {n})"
    return (
        f"(({p} + (1.96 * 1.96) / (2 * {n})) {sign} 1.96 * "
        f"sqrt({p} * (1 - {p}) / {n} + (1.96 * 1.96) / (4 * {n} * {n})))"
        f" / (1 + (1.96 * 1.96) / {n})"
    )


_NEWCOMBE_EXPRS = {
    "p1": "CAST(x1 AS DOUBLE) / n1",
    "p2": "CAST(x2 AS DOUBLE) / n2",
    "l1": _wilson_bound("x1", "n1", "-"),
    "u1": _wilson_bound("x1", "n1", "+"),
    "l2": _wilson_bound("x2", "n2", "-"),
    "u2": _wilson_bound("x2", "n2", "+"),
}

_NEWCOMBE_DELTA = (
    f"({_NEWCOMBE_EXPRS['p2']}) - ({_NEWCOMBE_EXPRS['p1']})"
)
_NEWCOMBE_LO = (
    f"({_NEWCOMBE_DELTA}) - sqrt("
    f"(({_NEWCOMBE_EXPRS['p2']}) - ({_NEWCOMBE_EXPRS['l2']})) * "
    f"(({_NEWCOMBE_EXPRS['p2']}) - ({_NEWCOMBE_EXPRS['l2']})) + "
    f"(({_NEWCOMBE_EXPRS['u1']}) - ({_NEWCOMBE_EXPRS['p1']})) * "
    f"(({_NEWCOMBE_EXPRS['u1']}) - ({_NEWCOMBE_EXPRS['p1']})))"
)
_NEWCOMBE_HI = (
    f"({_NEWCOMBE_DELTA}) + sqrt("
    f"(({_NEWCOMBE_EXPRS['u2']}) - ({_NEWCOMBE_EXPRS['p2']})) * "
    f"(({_NEWCOMBE_EXPRS['u2']}) - ({_NEWCOMBE_EXPRS['p2']})) + "
    f"(({_NEWCOMBE_EXPRS['p1']}) - ({_NEWCOMBE_EXPRS['l1']})) * "
    f"(({_NEWCOMBE_EXPRS['p1']}) - ({_NEWCOMBE_EXPRS['l1']})))"
)


@register(
    "newcombe_diff_ci_ab",
    oracle=f"""
WITH clickers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
),
buyers AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
base AS (
  SELECT c.user_id % 2 AS arm,
         CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
  FROM clickers c LEFT JOIN buyers b ON b.user_id = c.user_id
),
agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x2
  FROM base
)
SELECT n1, x1, n2, x2,
       {_NEWCOMBE_DELTA} AS delta,
       {_NEWCOMBE_LO} AS ci_lo,
       {_NEWCOMBE_HI} AS ci_hi,
       CAST(({_NEWCOMBE_LO}) > 0 OR ({_NEWCOMBE_HI}) < 0 AS BOOLEAN)
           AS significant
FROM agg
""",
)
def newcombe_diff_ci_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B difference-of-proportions CI by NEWCOMBE's hybrid score
    method (Newcombe 1998, method 10) — the interval real experiment
    platforms report for rate LIFTS, combining each arm's Wilson
    bounds: lo = d - sqrt((p2-l2)^2 + (u1-p1)^2), hi symmetric.
    Completes the A/B readout family: ab_chi_square tests
    independence, wilson_ci bounds one arm, this bounds the
    DIFFERENCE (the decision quantity). Arms split by user_id parity
    (a row property); conversion = clicking user who ever purchased,
    from one distinct-users left join. Float parity: the whole CI is
    rendered from ONE shared expression-string builder into both
    engines' plans (`_wilson_bound`), so the IEEE trees are
    structurally identical over the same four exact int64s — the
    established wilson_ci doctrine extended to a composed statistic."""
    ev = load_table(spark, sf_dir, "events")
    clickers = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"))
        .distinct()
    )
    base = clickers.join(
        buyers, clickers["user_id"] == buyers["b_user"], "left"
    ).select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("b_user").isNotNull(), 1).otherwise(0).alias("conv"),
    )
    agg = base.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "x1"
        ),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "x2"
        ),
    )
    return agg.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.expr(_NEWCOMBE_DELTA).alias("delta"),
        F.expr(_NEWCOMBE_LO).alias("ci_lo"),
        F.expr(_NEWCOMBE_HI).alias("ci_hi"),
        F.expr(
            f"({_NEWCOMBE_LO}) > 0 OR ({_NEWCOMBE_HI}) < 0"
        ).alias("significant"),
    )


@register(
    "session_path_rle_patterns",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE),
                            event_type ORDER BY ts, event_id) AS rnt
  FROM events
),
runs AS (
  SELECT user_id, day, event_type,
         rn - rnt AS island,
         CAST(count(*) AS BIGINT) AS run_len,
         min(rn) AS start_rn
  FROM ev GROUP BY user_id, day, event_type, rn - rnt
),
paths AS (
  SELECT user_id, day,
         string_agg(event_type || '*' || run_len, '>' ORDER BY start_rn)
             AS pattern
  FROM runs GROUP BY user_id, day
)
SELECT pattern, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY pattern
HAVING count(*) >= 2
ORDER BY n_sessions DESC, pattern
LIMIT 50
""",
)
def session_path_rle_patterns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-path mining with RUN-LENGTH abstraction: each user-day
    session becomes its compressed journey string
    ("view*3>click*2>purchase*1"), and the corpus's recurring journey
    shapes surface as the top-50 patterns — burst-invariant where
    session_path_trigrams is burst-sensitive (five consecutive views
    and two collapse to the same "view*k" step, which is what a UX
    analyst means by "the browse-then-buy path"). Runs are found by
    the classic gaps-and-islands identity (global rank minus
    per-type rank is constant within a run — two windows, zero
    self-joins); the per-session pattern string is an ORDERED
    aggregation (array_sort on (start, text) structs here,
    string_agg ORDER BY in the oracle — the listagg parity idiom);
    patterns then roll up on the pattern-string aggregate domain.
    The top-50 is a TakeOrdered, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "day", "event_type").orderBy(
        "ts", "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "event_type",
    ).withColumns(
        {
            "rn": F.row_number().over(w_all),
            "rnt": F.row_number().over(w_typ),
        }
    )
    runs = ranked.groupBy(
        "user_id", "day", "event_type", (F.col("rn") - F.col("rnt")).alias("island")
    ).agg(
        F.count("*").alias("run_len"),
        F.min("rn").alias("start_rn"),
    )
    paths = (
        runs.select(
            "user_id",
            "day",
            F.struct(
                "start_rn",
                F.concat_ws(
                    "*", F.col("event_type"), F.col("run_len").cast("string")
                ).alias("step"),
            ).alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["step"]
                ),
                ">",
            ).alias("pattern")
        )
    )
    return (
        paths.groupBy("pattern")
        .agg(F.count("*").alias("n_sessions"))
        .where(F.col("n_sessions") >= 2)
        .orderBy(F.col("n_sessions").desc(), "pattern")
        .limit(50)
    )


@register(
    "growth_accounting_monthly",
    oracle="""
WITH activity AS (
  SELECT DISTINCT o_custkey AS cust,
         EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS mi
  FROM orders
),
firsts AS (SELECT cust, min(mi) AS first_mi FROM activity GROUP BY cust),
flags AS (
  SELECT a.cust, a.mi,
         CASE WHEN a.mi = f.first_mi THEN 1 ELSE 0 END AS is_new,
         CASE WHEN p.cust IS NOT NULL THEN 1 ELSE 0 END AS is_retained
  FROM activity a
  JOIN firsts f ON f.cust = a.cust
  LEFT JOIN activity p ON p.cust = a.cust AND p.mi = a.mi - 1
),
churn AS (
  SELECT a.mi + 1 AS mi, CAST(count(*) AS BIGINT) AS n_churned
  FROM activity a
  LEFT JOIN activity nxt ON nxt.cust = a.cust AND nxt.mi = a.mi + 1
  WHERE nxt.cust IS NULL
    AND a.mi + 1 IN (SELECT DISTINCT mi FROM activity)
  GROUP BY a.mi + 1
),
monthly AS (
  SELECT mi,
         CAST(count(*) AS BIGINT) AS n_active,
         CAST(SUM(is_new) AS BIGINT) AS n_new,
         CAST(SUM(is_retained) AS BIGINT) AS n_retained,
         CAST(SUM(CASE WHEN is_new = 0 AND is_retained = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM flags GROUP BY mi
)
SELECT CAST(m.mi // 12 AS BIGINT) * 100 + (m.mi % 12) + 1 AS yyyymm,
       m.n_active, m.n_new, m.n_retained, m.n_resurrected,
       CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
FROM monthly m LEFT JOIN churn c ON c.mi = m.mi
ORDER BY m.mi
""",
)
def growth_accounting_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MAU GROWTH ACCOUNTING — the monthly active-customer
    decomposition every growth team reports: active = new (first-ever
    month) + retained (also active last month) + resurrected (active
    before, skipped last month), with churned = last month's actives
    who went silent — the identity actives(m) - actives(m-1) =
    new + resurrected - churned. Where retention_cohorts_daily tracks
    one cohort forward, this decomposes EVERY month's headline number
    into its flow components. All flows are exact int64 counts from
    calendar equi-joins on the distinct (customer, month-index)
    activity set — the aggregate domain is customers x months; no
    window ever sees raw order rows."""
    o = load_table(spark, sf_dir, "orders")
    mi = (
        F.year(F.to_date("o_orderdate")) * 12
        + F.month(F.to_date("o_orderdate"))
        - 1
    ).cast("long")
    activity = o.select(
        F.col("o_custkey").alias("cust"), mi.alias("mi")
    ).distinct()
    firsts = activity.groupBy("cust").agg(F.min("mi").alias("first_mi"))
    prev = activity.select(
        F.col("cust").alias("p_cust"), (F.col("mi") + 1).alias("p_mi")
    )
    flags = (
        activity.join(firsts, "cust")
        .join(
            prev,
            (F.col("p_cust") == F.col("cust"))
            & (F.col("p_mi") == F.col("mi")),
            "left",
        )
        .select(
            "cust",
            "mi",
            F.when(F.col("mi") == F.col("first_mi"), 1)
            .otherwise(0)
            .alias("is_new"),
            F.when(F.col("p_cust").isNotNull(), 1).otherwise(0).alias(
                "is_retained"
            ),
        )
    )
    months = activity.select("mi").distinct()
    nxt = activity.select(
        F.col("cust").alias("n_cust"), (F.col("mi") - 1).alias("n_mi")
    )
    churn = (
        activity.join(
            nxt,
            (F.col("n_cust") == F.col("cust"))
            & (F.col("n_mi") == F.col("mi")),
            "left",
        )
        .where(F.col("n_cust").isNull())
        .select((F.col("mi") + 1).alias("mi"))
        .join(months, "mi", "left_semi")
        .groupBy("mi")
        .agg(F.count("*").alias("n_churned"))
    )
    monthly = flags.groupBy("mi").agg(
        F.count("*").alias("n_active"),
        F.sum("is_new").alias("n_new"),
        F.sum("is_retained").alias("n_retained"),
        F.sum(
            F.when(
                (F.col("is_new") == 0) & (F.col("is_retained") == 0), 1
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    return (
        monthly.join(churn, "mi", "left")
        .select(
            (
                F.expr("mi div 12") * 100 + (F.col("mi") % 12) + 1
            ).alias("yyyymm"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias(
                "n_churned"
            ),
        )
        .orderBy("yyyymm")
    )


@register(
    "conversion_window_sensitivity",
    oracle="""
WITH clicks AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
),
firsts AS (
  SELECT c.click_id,
         min(date_diff('second', c.c_ts, p.p_ts)) AS delta_s
  FROM clicks c JOIN purch p
    ON p.user_id = c.user_id
   AND p.p_ts > c.c_ts
   AND p.p_ts <= c.c_ts + INTERVAL 4 HOUR
  GROUP BY c.click_id
),
base AS (SELECT CAST(count(*) AS BIGINT) AS n_clicks FROM clicks)
SELECT b.n_clicks,
       CAST(SUM(CASE WHEN delta_s <= 900 THEN 1 ELSE 0 END) AS BIGINT)
           AS conv_15m,
       CAST(SUM(CASE WHEN delta_s <= 3600 THEN 1 ELSE 0 END) AS BIGINT)
           AS conv_1h,
       CAST(count(*) AS BIGINT) AS conv_4h,
       CAST(SUM(CASE WHEN delta_s <= 900 THEN 1 ELSE 0 END)
            * 1000000 // b.n_clicks AS BIGINT) AS rate_15m_ppm,
       CAST(SUM(CASE WHEN delta_s <= 3600 THEN 1 ELSE 0 END)
            * 1000000 // b.n_clicks AS BIGINT) AS rate_1h_ppm,
       CAST(count(*) * 1000000 // b.n_clicks AS BIGINT) AS rate_4h_ppm
FROM firsts CROSS JOIN base b
GROUP BY b.n_clicks
""",
)
def conversion_window_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution-window SENSITIVITY sweep: the click->purchase
    conversion rate under 15-minute, 1-hour, and 4-hour windows in
    ONE pass — the robustness check an experimenter runs before
    committing to a window definition (funnel_time_to_convert
    characterizes the delay DISTRIBUTION under one window; this shows
    how the headline rate moves with the window choice — a rate that
    doubles from 15m to 4h means the window IS the result). One
    user-keyed band join bounded by the WIDEST window, min-delta per
    click, then conditional aggregation classifies every narrower
    window from the same pass — windows are thresholds on one delta
    column, never extra joins. Rates are exact int64 ppm."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    firsts = (
        clicks.join(
            purch,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 4 HOUR")),
        )
        .groupBy("click_id")
        .agg(
            F.min(
                F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
            ).alias("delta_s")
        )
    )
    base = clicks.agg(F.count("*").alias("n_clicks"))
    return (
        firsts.crossJoin(F.broadcast(base))
        .groupBy("n_clicks")
        .agg(
            F.sum(F.when(F.col("delta_s") <= 900, 1).otherwise(0)).alias(
                "conv_15m"
            ),
            F.sum(F.when(F.col("delta_s") <= 3600, 1).otherwise(0)).alias(
                "conv_1h"
            ),
            F.count("*").alias("conv_4h"),
        )
        .select(
            "n_clicks",
            "conv_15m",
            "conv_1h",
            "conv_4h",
            F.expr("conv_15m * 1000000 div n_clicks").alias("rate_15m_ppm"),
            F.expr("conv_1h * 1000000 div n_clicks").alias("rate_1h_ppm"),
            F.expr("conv_4h * 1000000 div n_clicks").alias("rate_4h_ppm"),
        )
    )


@register(
    "slo_burn_rate_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1
),
win AS (
  SELECT x, n_events, n_errors,
         CAST(SUM(n_events) OVER w7 AS BIGINT) AS n_events_7d,
         CAST(SUM(n_errors) OVER w7 AS BIGINT) AS n_errors_7d
  FROM daily
  WINDOW w7 AS (ORDER BY x RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(x AS BIGINT) AS x, n_events, n_errors,
       CAST(n_errors * 5 * 1000000 // n_events AS BIGINT)
           AS burn_1d_ppm,
       CAST(n_errors_7d * 5 * 1000000 // n_events_7d AS BIGINT)
           AS burn_7d_ppm,
       CAST(n_errors * 5 * 10 > n_events * 12
            AND n_errors_7d * 5 > n_events_7d
            AS BOOLEAN) AS page_alert
FROM win ORDER BY x
""",
)
def slo_burn_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET BURN RATE with multi-window paging (the SRE
    workbook rule): against an 80% success SLO
    (budget sized to this corpus's steady ~20% error mix, the way a
    real SLO is sized to normal operations — percent-level budgets
    with the canonical 14.4x/6x constants are degenerate here: every
    day pages), burn rate = error_rate / (1 − SLO) = errors·5/total;
    a page fires only when BOTH the fast 1-day window burns > 1.2x
    AND the trailing 7-day window is at or above budget — the
    two-window AND that kills one-bad-day false pages while still
    catching sustained budget exhaustion. All rates are exact
    integer ppm floors; the alert predicates are integer
    cross-multiplications (errors·50 > n·12), so the paging
    decision can never flip on a float ulp. The 7-day trailing sums
    ride a calendar RANGE frame on the bounded daily domain —
    hysteresis_alerts_daily suppresses by state, debounce by time,
    this by BUDGET."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    w7 = Window.orderBy("x").rangeBetween(-6, Window.currentRow)
    win = daily.withColumns(
        {
            "n_events_7d": F.sum("n_events").over(w7),
            "n_errors_7d": F.sum("n_errors").over(w7),
        }
    )
    return win.select(
        "x",
        "n_events",
        "n_errors",
        F.expr("n_errors * 5 * 1000000 div n_events").alias(
            "burn_1d_ppm"
        ),
        F.expr("n_errors_7d * 5 * 1000000 div n_events_7d").alias(
            "burn_7d_ppm"
        ),
        (
            (F.col("n_errors") * 5 * 10 > F.col("n_events") * 12)
            & (F.col("n_errors_7d") * 5 > F.col("n_events_7d"))
        ).alias("page_alert"),
    ).orderBy("x")


@register(
    "cuped_adjusted_ab",
    oracle="""
WITH bounds AS (
  SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) + 15
      AS split_x
  FROM events
),
per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                   AND date_diff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) < b.split_x
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                   AND date_diff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) >= b.split_x
                  THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events CROSS JOIN bounds b GROUP BY user_id
),
pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM per_user
),
theta AS (
  SELECT CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS th,
         CAST(sx AS DOUBLE) / n AS xbar_pool
  FROM pooled
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user GROUP BY arm
)
SELECT CAST(a.arm AS BIGINT) AS arm, a.n,
       round(CAST(a.sy AS DOUBLE) / a.n * 1000000) / 1000000
           AS ybar,
       round((CAST(a.sy AS DOUBLE) / a.n
              - t.th * (CAST(a.sx AS DOUBLE) / a.n - t.xbar_pool))
             * 1000000) / 1000000 AS ybar_cuped,
       round(CAST(a.n * a.syy - a.sy * a.sy AS DOUBLE)
             / CAST(a.n * a.n AS DOUBLE) * 1000000) / 1000000
           AS var_y,
       round((CAST(a.n * a.syy - a.sy * a.sy AS DOUBLE)
                / CAST(a.n * a.n AS DOUBLE)
              - 2 * t.th * CAST(a.n * a.sxy - a.sx * a.sy AS DOUBLE)
                / CAST(a.n * a.n AS DOUBLE)
              + t.th * t.th
                * CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)
                / CAST(a.n * a.n AS DOUBLE))
             * 1000000) / 1000000 AS var_y_cuped
FROM arms a CROSS JOIN theta t
ORDER BY a.arm
""",
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13) — the
    experimentation-platform standard: adjust each arm's metric by a
    pre-period covariate, y_adj = y − θ(x − x̄_pool) with pooled
    θ = cov(x,y)/var(x), so the same lift is measured with (often
    far) less variance. Metric = post-period purchases per user
    (day 16+ of the observed span — the split derives from the data,
    so a regenerated corpus keeps both periods non-empty), covariate
    = pre-period purchases, arms by user parity.
    Exactness is the whole design: a row-wise y_adj would need a
    float SUM over users (accumulation-order-dependent, unhashable),
    so the adjusted mean and variance are expanded ALGEBRAICALLY —
    var(y_adj) = var(y) − 2θ·cov(x,y) + θ²·var(x) — into fixed IEEE
    trees over per-arm exact int64 moments and the one pooled θ
    division. One user-keyed aggregation, one tiny arm rollup, a
    1-row broadcast of θ."""
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    day_x = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    bounds = ev.agg((F.min(day_x) + 15).alias("split_x"))
    per_user = (
        ev.select("user_id", is_purchase.alias("isp"), day_x.alias("dx"))
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") < F.col("split_x")), 1
                ).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") >= F.col("split_x")), 1
                ).otherwise(0)
            ).alias("y"),
        )
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar_pool"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nn = (F.col("n") * F.col("n")).cast("double")
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    ) / nn
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / nn
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / nn
    ybar = F.col("sy").cast("double") / F.col("n")
    xbar = F.col("sx").cast("double") / F.col("n")
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            F.col("arm").cast("long").alias("arm"),
            "n",
            (F.round(ybar * 1000000) / 1000000).alias("ybar"),
            (
                F.round(
                    (ybar - F.col("th") * (xbar - F.col("xbar_pool")))
                    * 1000000
                )
                / 1000000
            ).alias("ybar_cuped"),
            (F.round(var_y * 1000000) / 1000000).alias("var_y"),
            (
                F.round(
                    (
                        var_y
                        - 2 * F.col("th") * cov
                        + F.col("th") * F.col("th") * var_x
                    )
                    * 1000000
                )
                / 1000000
            ).alias("var_y_cuped"),
        )
        .orderBy("arm")
    )


@register(
    "diff_in_diff_purchases",
    oracle="""
WITH bounds AS (
  SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) + 15
      AS split_x
  FROM events
),
per_user AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                   AND date_diff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) < b.split_x
                  THEN 1 ELSE 0 END) AS BIGINT) AS pre,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                   AND date_diff('day', DATE '1970-01-01',
                                 CAST(ts AS DATE)) >= b.split_x
                  THEN 1 ELSE 0 END) AS BIGINT) AS post
  FROM events CROSS JOIN bounds b GROUP BY user_id
),
cells AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)
             AS s_pre0,
         CAST(SUM(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)
             AS s_post0,
         CAST(SUM(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)
             AS s_pre1,
         CAST(SUM(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)
             AS s_post1
  FROM per_user
)
SELECT n0, n1, s_pre0, s_post0, s_pre1, s_post1,
       round((CAST(s_post1 AS DOUBLE) / n1
              - CAST(s_pre1 AS DOUBLE) / n1
              - (CAST(s_post0 AS DOUBLE) / n0
                 - CAST(s_pre0 AS DOUBLE) / n0))
             * 1000000) / 1000000 AS did_per_user
FROM cells
""",
)
def diff_in_diff_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental workhorse
    when only the treatment arm changes at the split: the treatment
    effect is (treat_post − treat_pre) − (ctrl_post − ctrl_pre), so
    any shared time trend cancels under the parallel-trends
    assumption (CUPED reduces variance of a randomized readout; DiD
    removes BIAS from a shared temporal shock — different tools,
    same 2x2 skeleton). Cells are exact int64 purchase sums per
    (arm, period) over per-user counts; the estimate is one fixed
    IEEE tree of four single divisions. The data-derived day-16
    split matches cuped_adjusted_ab so the two readouts describe the
    same experiment."""
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    day_x = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    bounds = ev.agg((F.min(day_x) + 15).alias("split_x"))
    per_user = (
        ev.select("user_id", is_purchase.alias("isp"), day_x.alias("dx"))
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") < F.col("split_x")), 1
                ).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") >= F.col("split_x")), 1
                ).otherwise(0)
            ).alias("post"),
        )
        .select((F.col("user_id") % 2).alias("arm"), "pre", "post")
    )
    cells = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("pre")).otherwise(0)).alias(
            "s_pre0"
        ),
        F.sum(
            F.when(F.col("arm") == 0, F.col("post")).otherwise(0)
        ).alias("s_post0"),
        F.sum(F.when(F.col("arm") == 1, F.col("pre")).otherwise(0)).alias(
            "s_pre1"
        ),
        F.sum(
            F.when(F.col("arm") == 1, F.col("post")).otherwise(0)
        ).alias("s_post1"),
    )
    did = (
        F.col("s_post1").cast("double") / F.col("n1")
        - F.col("s_pre1").cast("double") / F.col("n1")
        - (
            F.col("s_post0").cast("double") / F.col("n0")
            - F.col("s_pre0").cast("double") / F.col("n0")
        )
    )
    return cells.select(
        "n0",
        "n1",
        "s_pre0",
        "s_post0",
        "s_pre1",
        "s_post1",
        (F.round(did * 1000000) / 1000000).alias("did_per_user"),
    )


@register(
    "mcnemar_paired_conversion",
    oracle="""
WITH bounds AS (
  SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) + 15
      AS split_x
  FROM events
),
per_user AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase'
              AND date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  < b.split_x THEN 1 ELSE 0 END) AS pre,
         SUM(CASE WHEN event_type = 'purchase'
              AND date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  >= b.split_x THEN 1 ELSE 0 END) AS post
  FROM events CROSS JOIN bounds b GROUP BY user_id
),
cells AS (
  SELECT CAST(SUM(CASE WHEN post > pre THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up,
         CAST(SUM(CASE WHEN post < pre THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
         CAST(SUM(CASE WHEN post = pre THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tie
  FROM per_user
)
SELECT n_up, n_down, n_tie,
       round(CAST((n_up - n_down) * (n_up - n_down) AS DOUBLE)
             / CAST(n_up + n_down AS DOUBLE)
             * 1000000) / 1000000 AS mcnemar_chi2,
       CAST((n_up - n_down) * (n_up - n_down) > 4 * (n_up + n_down)
            AS BOOLEAN) AS significant_05
FROM cells
""",
)
def mcnemar_paired_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRED SIGN TEST via McNemar's statistic: did each user's
    purchase COUNT rise or fall between the pre and post period —
    the within-subject design ab_chi_square (independent groups)
    cannot analyze: only DISCORDANT users (up vs down) carry signal,
    χ² = (b−c)²/(b+c) over the two flip directions, ties drop out.
    (A coarser ever-purchased pairing is degenerate on this corpus —
    every active user purchases in both halves, so b = c = 0; the
    count-direction pairing keeps the cells populated at any SF.)
    Completes the experimentation shelf: chi-square (unpaired),
    Wilson/Newcombe (rate CIs), CUPED (variance), DiD (shared-trend
    bias), McNemar/sign (paired change). Cells are exact int64 from
    one user-keyed aggregation; the α = 0.05 verdict is the integer
    cross-multiplication (b−c)² > 4(b+c) — 3.84 rounded UP so
    significance is never claimed on a float ulp."""
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    day_x = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    bounds = ev.agg((F.min(day_x) + 15).alias("split_x"))
    per_user = (
        ev.select("user_id", is_purchase.alias("isp"), day_x.alias("dx"))
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") < F.col("split_x")), 1
                ).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(
                    F.col("isp") & (F.col("dx") >= F.col("split_x")), 1
                ).otherwise(0)
            ).alias("post"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when(F.col("post") > F.col("pre"), 1).otherwise(0)).alias(
            "n_up"
        ),
        F.sum(F.when(F.col("post") < F.col("pre"), 1).otherwise(0)).alias(
            "n_down"
        ),
        F.sum(F.when(F.col("post") == F.col("pre"), 1).otherwise(0)).alias(
            "n_tie"
        ),
    )
    d = F.col("n_up") - F.col("n_down")
    tot = F.col("n_up") + F.col("n_down")
    return cells.select(
        "n_up",
        "n_down",
        "n_tie",
        (
            F.round((d * d).cast("double") / tot.cast("double") * 1000000)
            / 1000000
        ).alias("mcnemar_chi2"),
        (d * d > 4 * tot).alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# Survival analysis and segment migration
# ---------------------------------------------------------------------------


@register(
    "km_life_table_customer_tenure",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS first_d,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY 1
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS end_d FROM orders),
lab AS (
  SELECT date_diff('day', first_d, last_d) // 90 AS bucket,
         CASE WHEN date_diff('day', last_d,
                             (SELECT end_d FROM horizon)) >= 180
              THEN 1 ELSE 0 END AS churned
  FROM per_cust
),
per_bucket AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(SUM(churned) AS BIGINT) AS n_events,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM lab GROUP BY 1
),
risk AS (
  SELECT bucket, n_events, n_censored,
         CAST(SUM(n_events + n_censored)
              OVER (ORDER BY bucket DESC) AS BIGINT) AS n_risk
  FROM per_bucket
)
SELECT bucket, n_risk, n_events, n_censored,
       CAST(n_events * 1000000 AS BIGINT) // n_risk AS hazard_ppm
FROM risk ORDER BY bucket
""",
)
def km_life_table_customer_tenure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KAPLAN-MEIER life table over customer TENURE (days between a
    customer's first and last order, bucketed per quarter) with
    right-CENSORING done correctly — the survival-analysis primitive
    (churn modeling's foundation) the repo's retention curves don't
    cover: a customer whose last order is within 180 days of the
    observation horizon has NOT churned, they are censored — counting
    them as deaths is the classic churn-rate bias. Per 90-day bucket:
    customers still at risk (suffix sum over the ~30-row bucket
    aggregate domain), churn events, censored exits, and the discrete
    hazard d/n as exact ppm (one int64 floor-division; Spark `div` ==
    DuckDB `//`). The observation horizon is a 1-row broadcast
    scalar. Scale: one customer-keyed aggregation of the fact table,
    then bucket-domain arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("end_d"))
    lab = per_cust.join(F.broadcast(horizon)).select(
        (F.datediff("last_d", "first_d") / 90)
        .cast("long")
        .alias("bucket"),
        F.when(F.datediff("end_d", "last_d") >= 180, 1)
        .otherwise(0)
        .alias("churned"),
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum("churned").alias("n_events"),
        F.sum(1 - F.col("churned")).alias("n_censored"),
    )
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_bucket.withColumn(
        "n_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w)
    )
    return risk.select(
        "bucket",
        "n_risk",
        "n_events",
        "n_censored",
        F.expr("n_events * 1000000 div n_risk").alias("hazard_ppm"),
    ).orderBy("bucket")


@register(
    "segment_migration_matrix",
    oracle="""
WITH cm AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1)
              AS BIGINT) AS mx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev
  FROM orders GROUP BY 1, 2
),
banded AS (
  SELECT o_custkey, mx,
         CASE WHEN rev < 10000000 THEN 'B0_LOW'
              WHEN rev < 30000000 THEN 'B1_MID'
              WHEN rev < 60000000 THEN 'B2_HIGH'
              ELSE 'B3_TOP' END AS band
  FROM cm
),
bounds AS (SELECT min(mx) AS mn, max(mx) AS mxx FROM cm),
moves AS (
  SELECT COALESCE(p.band, 'NONE') AS from_band,
         COALESCE(c.band, 'NONE') AS to_band
  FROM banded c
  FULL OUTER JOIN banded p
    ON p.o_custkey = c.o_custkey AND p.mx = c.mx - 1
  WHERE (c.mx IS NULL OR c.mx > (SELECT mn FROM bounds))
    AND (p.mx IS NULL OR p.mx < (SELECT mxx FROM bounds))
)
SELECT from_band, to_band, CAST(count(*) AS BIGINT) AS n_transitions
FROM moves GROUP BY 1, 2 ORDER BY from_band, to_band
""",
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer SEGMENT-MIGRATION matrix — month-over-month flows
    between fixed monthly-revenue bands including entry ('NONE' ->
    band: a customer inactive last month) and exit (band -> 'NONE') —
    the transition table behind every growth-accounting sankey
    (growth_accounting_monthly is the scalar rollup; this is the full
    matrix it summarizes). Consecutive months meet through a FULL
    OUTER calendar equi-join on (customer, month-1); boundary months
    are clipped by 1-row broadcast min/max scalars so the first month
    mints no fake entries and the last no fake exits. Bands are fixed
    exact-cents thresholds (not per-month quantiles), so a row's
    segment is a pure map-side property and the only shuffles are the
    (customer, month) aggregation and the self equi-join. Matrix
    domain: at most (bands+1)^2 rows."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("mx"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev"))
    banded = cm.select(
        "o_custkey",
        "mx",
        F.when(F.col("rev") < 10000000, "B0_LOW")
        .when(F.col("rev") < 30000000, "B1_MID")
        .when(F.col("rev") < 60000000, "B2_HIGH")
        .otherwise("B3_TOP")
        .alias("band"),
    )
    bounds = cm.agg(F.min("mx").alias("mn"), F.max("mx").alias("mxx"))
    c = banded.alias("c")
    p = banded.select(
        F.col("o_custkey").alias("pk"),
        (F.col("mx") + 1).alias("mx_next"),
        F.col("band").alias("band_prev"),
    )
    moves = (
        c.join(
            p,
            (F.col("c.o_custkey") == F.col("pk"))
            & (F.col("c.mx") == F.col("mx_next")),
            "full_outer",
        )
        .join(F.broadcast(bounds))
        .filter(
            (F.col("c.mx").isNull() | (F.col("c.mx") > F.col("mn")))
            & (
                F.col("mx_next").isNull()
                | (F.col("mx_next") - 1 < F.col("mxx"))
            )
        )
        .select(
            F.coalesce(F.col("band_prev"), F.lit("NONE")).alias(
                "from_band"
            ),
            F.coalesce(F.col("c.band"), F.lit("NONE")).alias("to_band"),
        )
    )
    return (
        moves.groupBy("from_band", "to_band")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("from_band", "to_band")
    )


@register(
    "wilcoxon_signed_rank_daily",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'view'
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN event_type = 'click'
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS b
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
),
d AS (
  SELECT day, a - b AS diff, abs(a - b) AS ad
  FROM daily WHERE a <> b
),
r AS (
  SELECT diff, ad,
         CAST(2 * rank() OVER (ORDER BY ad)
              + count(*) OVER (PARTITION BY ad) - 1 AS BIGINT) AS r2
  FROM d
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS tc FROM d GROUP BY ad
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT)
             AS w2_plus,
         (SELECT CAST(SUM(tc * tc * tc - tc) AS BIGINT) FROM t)
             AS tie_term
  FROM r
)
SELECT n, w2_plus, tie_term,
       round((CAST(w2_plus - n * (n + 1) / 2 AS DOUBLE))
             / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie_term
                         AS DOUBLE) / 12.0) * 1000000) / 1000000
           AS wilcoxon_z
FROM s
""",
)
def wilcoxon_signed_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON signed-rank test on PAIRED daily view-vs-click revenue
    — the paired-sample rank test completing the nonparametric
    family: Mann-Whitney U handles two independent samples,
    McNemar's paired binary outcomes; this is the paired CONTINUOUS
    case (does the view series systematically exceed the click
    series, judged by ranked magnitudes of the daily differences?).
    Zero differences drop per the classic procedure; |d| ranks are
    tie-averaged via the exact DOUBLED-rank integers (2*rank_min +
    tie_count - 1 — the Spearman idiom), so W+ (doubled), the
    normal-approximation mean n(n+1)/2, and the tie-corrected
    variance (2n(n+1)(2n+1) - Σ(t³-t))/12 are ALL exact int64; z is
    one exact-int division + sqrt, rounded at 1e-6. The day domain is
    aggregate-bounded, so windows over it are scale-free; the fact
    table is touched once."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", cents(F.col("value")))
            .otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(F.col("event_type") == "click", cents(F.col("value")))
            .otherwise(0)
        ).alias("b"),
    )
    d = daily.filter(F.col("a") != F.col("b")).select(
        (F.col("a") - F.col("b")).alias("diff"),
        F.abs(F.col("a") - F.col("b")).alias("ad"),
    )
    r = d.select(
        "diff",
        (
            2 * F.rank().over(Window.orderBy("ad"))
            + F.count("*").over(Window.partitionBy("ad"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    ties = (
        d.groupBy("ad")
        .agg(F.count("*").alias("tc"))
        .agg(
            F.sum(
                F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")
            ).alias("tie_term")
        )
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r2")).otherwise(0)).alias(
            "w2_plus"
        ),
    ).join(F.broadcast(ties))
    z = (
        (F.col("w2_plus") - F.col("n") * (F.col("n") + 1) / 2).cast(
            "double"
        )
    ) / F.sqrt(
        (
            2 * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
            - F.col("tie_term")
        ).cast("double")
        / 12.0
    )
    return s.select(
        "n",
        "w2_plus",
        "tie_term",
        (F.round(z * 1000000) / 1000000).alias("wilcoxon_z"),
    )


@register(
    "pettitt_changepoint_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day,
         CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY yc)
              + count(*) OVER (PARTITION BY event_type, yc) - 1
              AS BIGINT) AS r2,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY day)
             AS t
  FROM daily
),
u AS (
  SELECT event_type, day, n, t,
         CAST(SUM(r2) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING)
              - t * (n + 1) AS BIGINT) AS u_t
  FROM r
),
k AS (
  SELECT event_type, day, abs(u_t) AS au,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(u_t) DESC, day) AS rn
  FROM u WHERE t < n
)
SELECT event_type, day AS change_day, CAST(au AS BIGINT) AS k_stat
FROM k WHERE rn = 1 ORDER BY event_type
""",
)
def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT changepoint test (Pettitt 1979) per event type — the
    rank-based (outlier-robust) single-changepoint locator
    complementing cusum_changepoint_daily's mean-shift CUSUM: U_t =
    2*W_t - t(n+1) where W_t is the running sum of the series' ranks,
    and the change point maximizes |U_t| (ties pinned to the earliest
    day). Tie-averaged ranks use the exact doubled-rank integers, and
    because the doubled cumsum minus t(n+1) IS U_t, every statistic
    is exact int64 end-to-end — no Mann-Whitney pair grid (the naive
    Pettitt is O(n²) sign comparisons; the rank-cumsum identity makes
    it one sort's worth of work). All windows run on the per-type day
    aggregate domain. Emits the argmax day and K = max|U_t| per
    type."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(cents(F.col("value"))).alias("yc"))
    r = daily.select(
        "event_type",
        "day",
        (
            2 * F.rank().over(
                Window.partitionBy("event_type").orderBy("yc")
            )
            + F.count("*").over(
                Window.partitionBy("event_type", "yc")
            )
            - 1
        )
        .cast("long")
        .alias("r2"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("t"),
    )
    u = r.select(
        "event_type",
        "day",
        "n",
        "t",
        (
            F.sum("r2").over(
                Window.partitionBy("event_type")
                .orderBy("day")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("t") * (F.col("n") + 1)
        )
        .cast("long")
        .alias("u_t"),
    )
    k = (
        u.filter(F.col("t") < F.col("n"))
        .select(
            "event_type",
            "day",
            F.abs("u_t").alias("au"),
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy(
                    F.abs("u_t").desc(), "day"
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return k.select(
        "event_type",
        F.col("day").alias("change_day"),
        F.col("au").alias("k_stat"),
    ).orderBy("event_type")


@register(
    "dau_wau_mau_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x
  FROM events
),
spine AS (SELECT DISTINCT x FROM ud),
mau AS (
  SELECT t.x, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM spine t JOIN ud u ON u.x BETWEEN t.x - 27 AND t.x
  GROUP BY t.x
),
wau AS (
  SELECT t.x, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM spine t JOIN ud u ON u.x BETWEEN t.x - 6 AND t.x
  GROUP BY t.x
),
dau AS (
  SELECT x, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY x
)
SELECT CAST(DATE '1970-01-01' + INTERVAL (d.x) DAY AS TIMESTAMP) AS day,
       d.dau, w.wau, m.mau,
       d.dau * 1000000 // m.mau AS stickiness_ppm
FROM dau d JOIN wau w ON w.x = d.x JOIN mau m ON m.x = d.x
ORDER BY day
""",
)
def dau_wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DAU / WAU / MAU and the DAU/MAU 'stickiness' ratio per
    observed day — the growth-team headline that
    running_distinct_users_daily (cumulative distinct) and
    sketch_rolling_distinct_3d (approximate 3-day HLL) bracket but
    never state exactly. Each distinct (user, day) activity pair is
    FANNED OUT to the ≤28 report days it supports (explode of a
    28-element literal range — a bounded map-side multiplier, NOT a
    range join: no broadcast-nested-loop appears at any SF), then one
    distinct-aggregate per horizon; the three horizons reuse the SAME
    fanned frame with conditional distincts. Report days are
    restricted to days that actually occur (inner join to the
    user-day spine). Stickiness is an exact int64 ppm ratio."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).distinct()
    fan = ud.select(
        "user_id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("k"),
    ).select(
        "user_id",
        F.col("x").alias("src_x"),
        (F.col("x") + F.col("k")).alias("x"),
        F.col("k"),
    )
    per_day = fan.groupBy("x").agg(
        F.count_distinct(
            F.when(F.col("k") == 0, F.col("user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(F.col("k") <= 6, F.col("user_id"))
        ).alias("wau"),
        F.count_distinct("user_id").alias("mau"),
    )
    spine = ud.select("x").distinct()
    return (
        per_day.join(spine, "x")
        .select(
            F.timestamp_seconds(F.col("x") * 86400).alias("day"),
            "dau",
            "wau",
            "mau",
            F.expr("dau * 1000000 div mau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


@register(
    "bounce_rate_daily_sessions",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no,
         ts
  FROM ordered
),
per_sess AS (
  SELECT user_id, session_no,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day
  FROM sess GROUP BY 1, 2
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       CAST(1000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS bounce_milli
FROM per_sess GROUP BY day ORDER BY day
""",
)
def bounce_rate_daily_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAILY BOUNCE RATE — share of sessions that contain exactly one
    event, the canonical web-analytics engagement metric sitting one
    rollup above sessionize_events: same 30-min-gap sessionization
    (identical lag → new-session flag → running sum, so the session
    boundaries are THE same sessions every other session query in this
    repo reports), bucketed by the session's START day, with the rate
    as an exact int64 milli floor-division. Scale: one shuffle on
    user_id serves both window passes and the per-session rollup; the
    day-grain aggregate is calendar-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_trunc("day", F.min("ts")).alias("day"),
    )
    return (
        per_sess.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(
                F.when(F.col("n_events") == 1, 1).otherwise(0)
            ).alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("1000 * n_bounces div n_sessions").alias(
                "bounce_milli"
            ),
        )
        .orderBy("day")
    )


@register(
    "entry_exit_matrix_sessions",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
),
fl AS (
  SELECT DISTINCT user_id, session_no,
         first_value(event_type) OVER ws AS entry_type,
         last_value(event_type) OVER ws AS exit_type
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_no ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
m AS (
  SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
  FROM fl GROUP BY 1, 2
)
SELECT entry_type, exit_type, n_sessions,
       CAST(n_sessions * 1000000
            // SUM(n_sessions) OVER (PARTITION BY entry_type)
            AS BIGINT) AS row_share_ppm
FROM m ORDER BY entry_type, exit_type
""",
)
def entry_exit_matrix_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SESSION ENTRY→EXIT MATRIX: which event type OPENS a session
    crossed with which type CLOSES it, with each row's share of its
    entry class — the landing/parting-page analysis that
    session_path_trigrams (interior transitions) and
    markov_transition_matrix (step-wise) don't answer: 'of sessions
    that start with a view, how many END on a purchase?'. Sessions are
    the repo-standard 30-min-gap ones; first/last events are
    deterministic under the (ts, event_id) total order via
    first/last_value over an unbounded frame (both engines identical).
    Scale: the session pass is the one user_id shuffle; the matrix is
    |event_type|² ≤ ~25 rows, and the row-normalizing window runs on
    that bounded domain. Shares are exact int64 ppm floor-divisions."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = (
        Window.partitionBy("user_id", "session_no")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fl = sess.select(
        "user_id",
        "session_no",
        F.first("event_type").over(ws).alias("entry_type"),
        F.last("event_type").over(ws).alias("exit_type"),
    ).distinct()
    m = fl.groupBy("entry_type", "exit_type").agg(
        F.count("*").alias("n_sessions")
    )
    wrow = Window.partitionBy("entry_type")
    return m.select(
        "entry_type",
        "exit_type",
        "n_sessions",
        F.expr(
            "n_sessions * 1000000"
            " div (SUM(n_sessions) OVER (PARTITION BY entry_type))"
        ).alias("row_share_ppm"),
    ).orderBy("entry_type", "exit_type")


@register(
    "littles_law_daily_events",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
),
iv AS (
  SELECT MIN(ts) AS s, MAX(ts) AS e
  FROM sess GROUP BY user_id, session_no
),
arrivals AS (
  SELECT CAST(date_trunc('day', s) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS n_started,
         CAST(SUM(date_diff('second', s, e)) AS BIGINT)
             AS started_dur_secs
  FROM iv GROUP BY 1
),
clipped AS (
  SELECT CAST(dts AS TIMESTAMP) AS day,
         date_diff('second',
                   greatest(s, CAST(dts AS TIMESTAMP)),
                   least(e, CAST(dts AS TIMESTAMP) + INTERVAL 1 DAY))
             AS secs
  FROM iv,
       UNNEST(generate_series(date_trunc('day', s),
                              date_trunc('day', e),
                              INTERVAL 1 DAY)) AS t(dts)
),
occupancy AS (
  SELECT day, CAST(SUM(secs) AS BIGINT) AS occupied_secs
  FROM clipped GROUP BY 1
)
SELECT a.day, a.n_started, a.started_dur_secs,
       COALESCE(o.occupied_secs, 0) AS occupied_secs,
       CASE WHEN a.started_dur_secs > 0 THEN
         CAST(COALESCE(o.occupied_secs, 0) * 1000000
              // a.started_dur_secs AS BIGINT)
       END AS littles_ratio_ppm
FROM arrivals a LEFT JOIN occupancy o ON o.day = a.day
ORDER BY a.day
""",
)
def littles_law_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LITTLE'S LAW AUDIT per day (L = λ·W, the queueing identity):
    measure each day's session OCCUPANCY seconds (L·86400, by clipping
    every session interval to the days it spans — the sweep that
    interval_union_active_time does for one user, here day-bucketed
    corpus-wide) against arrivals × mean duration (λ·W·86400 =
    total duration of sessions STARTED that day), publishing the ppm
    ratio — ≈1e6 when flow is balanced, drifting when sessions pile
    across midnight. Durations are whole-second floors on BOTH ends
    (Spark timestamp long-cast diff == DuckDB date_diff('second'),
    boundary-crossing counts), so the identity is exact integer
    arithmetic end to end. Scale: sessionization is the one user_id
    shuffle; the day-spine explode fans each interval out ≤ days-
    spanned times (sessions are minutes long — fan-out ~1), and both
    rollups live on the calendar-bounded day domain."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    arrivals = iv.groupBy(
        F.date_trunc("day", F.col("s")).alias("day")
    ).agg(
        F.count("*").alias("n_started"),
        F.sum(
            F.col("e").cast("long") - F.col("s").cast("long")
        ).alias("started_dur_secs"),
    )
    clipped = iv.select(
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("s")),
                F.date_trunc("day", F.col("e")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("dts"),
    ).select(
        F.col("dts").alias("day"),
        (
            F.least(
                F.col("e"), F.col("dts") + F.expr("INTERVAL 1 DAY")
            ).cast("long")
            - F.greatest(F.col("s"), F.col("dts")).cast("long")
        ).alias("secs"),
    )
    occupancy = clipped.groupBy(F.col("day").alias("oday")).agg(
        F.sum("secs").alias("occupied_secs")
    )
    return (
        arrivals.join(
            occupancy, F.col("day") == F.col("oday"), "left"
        )
        .select(
            "day",
            "n_started",
            "started_dur_secs",
            F.coalesce(F.col("occupied_secs"), F.lit(0)).alias(
                "occupied_secs"
            ),
            F.when(
                F.col("started_dur_secs") > 0,
                F.expr(
                    "coalesce(occupied_secs, 0) * 1000000"
                    " div started_dur_secs"
                ),
            ).alias("littles_ratio_ppm"),
        )
        .orderBy("day")
    )


@register(
    "nelson_aalen_tenure",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS first_d,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY 1
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS end_d FROM orders),
lab AS (
  SELECT date_diff('day', first_d, last_d) // 90 AS bucket,
         CASE WHEN date_diff('day', last_d,
                             (SELECT end_d FROM horizon)) >= 180
              THEN 1 ELSE 0 END AS churned
  FROM per_cust
),
per_bucket AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(SUM(churned) AS BIGINT) AS n_events,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM lab GROUP BY 1
),
risk AS (
  SELECT bucket, n_events, n_censored,
         CAST(SUM(n_events + n_censored)
              OVER (ORDER BY bucket DESC) AS BIGINT) AS n_risk
  FROM per_bucket
),
hz AS (
  SELECT bucket, n_risk, n_events,
         CAST(n_events * 1000000 AS BIGINT) // n_risk AS hazard_ppm
  FROM risk
)
SELECT bucket, n_risk, n_events, hazard_ppm,
       CAST(SUM(hazard_ppm) OVER (ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_hazard_ppm
FROM hz ORDER BY bucket
""",
)
def nelson_aalen_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative-hazard estimator over customer tenure —
    the integrated-risk companion to km_life_table_customer_tenure
    (the KM life table reports each bucket's discrete hazard d/n;
    Nelson-Aalen accumulates H(t) = Σ_{b<=t} d_b/n_b, the quantity
    whose slope changes reveal WHEN churn risk regime-shifts, and the
    standard input to proportional-hazards eyeballing). Same
    right-censoring discipline (a customer last seen within 180 days
    of the horizon is censored, not churned), same 90-day buckets, so
    the two estimators are directly overlayable. H accumulates the
    per-bucket FLOORED ppm hazards (each an exact int64
    floor-division; the running sum is then exact integer addition —
    deterministic in both engines, error bounded by #buckets ppm).
    Scale: one customer-keyed aggregation, then suffix-sum and
    prefix-sum windows on the ~30-row bucket domain."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("end_d"))
    lab = per_cust.join(F.broadcast(horizon)).select(
        (F.datediff("last_d", "first_d") / 90)
        .cast("long")
        .alias("bucket"),
        F.when(F.datediff("end_d", "last_d") >= 180, 1)
        .otherwise(0)
        .alias("churned"),
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum("churned").alias("n_events"),
        F.sum(1 - F.col("churned")).alias("n_censored"),
    )
    w_desc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hz = per_bucket.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc),
    ).select(
        "bucket",
        "n_risk",
        "n_events",
        F.expr("n_events * 1000000 div n_risk").alias("hazard_ppm"),
    )
    w_asc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hz.select(
        "bucket",
        "n_risk",
        "n_events",
        "hazard_ppm",
        F.sum("hazard_ppm").over(w_asc).alias("cum_hazard_ppm"),
    ).orderBy("bucket")


@register(
    "cochran_q_event_types",
    oracle="""
WITH daily_type AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         event_type AS j,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
dd AS (
  SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_days FROM daily_type
),
totals AS (
  SELECT j, CAST(SUM(c) AS BIGINT) AS tot FROM daily_type GROUP BY j
),
succ AS (
  SELECT dt.d, dt.j
  FROM daily_type dt JOIN totals t ON t.j = dt.j
                     CROSS JOIN dd
  WHERE dt.c * dd.n_days > t.tot
),
cj AS (
  SELECT CAST(count(*) AS BIGINT) AS k_types,
         CAST(SUM(cnt) AS BIGINT) AS n_succ,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sum_c2
  FROM (SELECT j, CAST(count(*) AS BIGINT) AS cnt FROM succ GROUP BY j
        UNION ALL
        SELECT t.j, 0 FROM totals t
        WHERE t.j NOT IN (SELECT DISTINCT j FROM succ))
),
ri AS (
  SELECT CAST(COALESCE(SUM(cnt * cnt), 0) AS BIGINT) AS sum_r2
  FROM (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM succ GROUP BY d)
)
SELECT cj.k_types, dd.n_days, cj.n_succ,
       (cj.k_types - 1) * (cj.k_types * cj.sum_c2
                           - cj.n_succ * cj.n_succ) AS q_num,
       cj.k_types * cj.n_succ - ri.sum_r2 AS q_den,
       CASE WHEN cj.k_types * cj.n_succ - ri.sum_r2 > 0
            THEN CAST((cj.k_types - 1)
                      * (cj.k_types * cj.sum_c2
                         - cj.n_succ * cj.n_succ) * 1000
                      // (cj.k_types * cj.n_succ - ri.sum_r2)
                      AS BIGINT)
       END AS q_milli
FROM cj CROSS JOIN dd CROSS JOIN ri
""",
)
def cochran_q_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q TEST over the day × event-type binary design — 'do
    the k event types run hot on the SAME days?': block i = calendar
    day, treatment j = event type, success x_ij = 1 when the type's
    count that day strictly exceeds its own all-days mean (c·D > total
    — an exact integer cross-multiplication, no division, and a
    threshold that stays meaningful at every SF where a fixed absolute
    count would saturate). Q = (k−1)(kΣC_j² − N²)/(kN − ΣR_i²) is a
    pure rational in exact counts; numerator (Cauchy-Schwarz) and
    denominator (R_i ≤ k) are both non-negative, so the single milli
    floor-division is floor≡trunc in both engines; an all-hot/all-cold
    degenerate design (den = 0) → NULL under the ANSI guard. Types
    that never beat their mean enter with C_j = 0 (the UNION ALL
    backfill) — dropping them would bias kΣC_j². Scale: ONE
    map-side-combinable (day,type) aggregation of the fact table
    (~2.4k days × bounded type domain); everything after runs on that
    bounded grid, and Q's components are exact int64 through SF ~10⁶
    (N ≤ days×types ≈ 2.4k·k; kΣC_j² ~ k·(2.4k)²·k — table-size
    independent, the counts are DAYS, not events)."""
    ev = load_table(spark, sf_dir, "events")
    daily_type = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        F.col("event_type").alias("j"),
    ).agg(F.count("*").alias("c"))
    dd = daily_type.agg(
        F.countDistinct("d").alias("n_days")
    )
    totals = daily_type.groupBy("j").agg(F.sum("c").alias("tot"))
    succ = (
        daily_type.join(totals.withColumnRenamed("j", "jt"),
                        F.col("j") == F.col("jt"))
        .crossJoin(F.broadcast(dd))
        .filter(F.col("c") * F.col("n_days") > F.col("tot"))
        .select("d", "j")
    )
    per_type = totals.select("j").join(
        succ.groupBy("j").agg(F.count("*").alias("cnt")), "j", "left"
    ).select("j", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    cj = per_type.agg(
        F.count("*").alias("k_types"),
        F.sum("cnt").alias("n_succ"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_c2"),
    )
    ri = succ.groupBy("d").agg(F.count("*").alias("cnt")).agg(
        F.coalesce(F.sum(F.col("cnt") * F.col("cnt")), F.lit(0))
        .cast("long")
        .alias("sum_r2")
    )
    v = cj.crossJoin(dd).crossJoin(ri)
    q_num = (F.col("k_types") - 1) * (
        F.col("k_types") * F.col("sum_c2")
        - F.col("n_succ") * F.col("n_succ")
    )
    q_den = F.col("k_types") * F.col("n_succ") - F.col("sum_r2")
    return v.select(
        "k_types",
        "n_days",
        "n_succ",
        q_num.alias("q_num"),
        q_den.alias("q_den"),
        F.when(
            q_den > 0, F.expr(
                "CAST((k_types - 1) * (k_types * sum_c2"
                " - n_succ * n_succ) * 1000"
                " div (k_types * n_succ - sum_r2) AS BIGINT)"
            )
        ).alias("q_milli"),
    )


@register(
    "attribution_shapley_channels",
    oracle="""
WITH peruser AS (
  SELECT user_id,
         CAST(bit_or(CASE event_type WHEN 'click' THEN 1
                     WHEN 'error' THEN 2 WHEN 'signup' THEN 4
                     WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT) AS mask,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
),
obs AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS users,
         CAST(SUM(conv) AS BIGINT) AS convs
  FROM peruser GROUP BY mask
),
spine AS (
  SELECT CAST(range AS BIGINT) AS s,
         CAST(((range >> 0) & 1) + ((range >> 1) & 1)
              + ((range >> 2) & 1) + ((range >> 3) & 1) AS BIGINT) AS pc
  FROM range(16)
),
v AS (
  SELECT spine.s, spine.pc,
         COALESCE(CAST(obs.convs * 1000000 // obs.users AS BIGINT), 0)
             AS v_micro
  FROM spine LEFT JOIN obs ON obs.mask = spine.s
),
ch AS (
  SELECT CAST(range AS BIGINT) AS i,
         CASE range WHEN 0 THEN 'click' WHEN 1 THEN 'error'
              WHEN 2 THEN 'signup' ELSE 'view' END AS channel
  FROM range(4)
),
contrib AS (
  SELECT ch.i, ch.channel,
         CAST(CASE v0.pc WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
              ELSE 6 END AS BIGINT)
             * (v1.v_micro - v0.v_micro) AS w_gain
  FROM ch JOIN v v0 ON ((v0.s >> ch.i) & 1) = 0
  JOIN v v1 ON v1.s = (v0.s | (1 << ch.i))
),
touch AS (
  SELECT ch.i,
         CAST(SUM(obs.users) FILTER (((obs.mask >> ch.i) & 1) = 1)
              AS BIGINT) AS users_touched,
         CAST(SUM(obs.convs) FILTER (((obs.mask >> ch.i) & 1) = 1)
              AS BIGINT) AS convs_touched
  FROM ch CROSS JOIN obs GROUP BY ch.i
)
SELECT c.channel,
       CAST(round(CAST(SUM(c.w_gain) AS DOUBLE) / 24.0) AS BIGINT)
           AS shapley_micro,
       CAST(COALESCE(max(t.users_touched), 0) AS BIGINT)
           AS users_touched,
       CAST(COALESCE(max(t.convs_touched), 0) AS BIGINT)
           AS convs_touched
FROM contrib c LEFT JOIN touch t ON t.i = c.i
GROUP BY c.channel ORDER BY c.channel
""",
)
def attribution_shapley_channels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHAPLEY-VALUE channel attribution (the game-theoretic credit
    split — Shapley 1953, popularized for marketing by Google's DDA —
    that last-touch / position-based / time-decay attribution
    approximate): each user's touched channel SET (the 4 non-purchase
    event types, encoded as a 4-bit mask via bit_or) defines the
    coalition they observed, the characteristic function v(S) is the
    OBSERVED conversion rate of users with exactly that touch set
    (micro floor-division; unobserved subsets contribute v = 0,
    documented), and each channel's Shapley value is the
    marginal-gain sum φ_i = Σ_{S∌i} |S|!·(3−|S|)!·(v(S∪i)−v(S)) / 4!.
    The factorial weights {6,2,2,6} keep every term an exact integer
    on the ×24 grid; the single division by 24.0 happens once, in
    double, on an exactly-representable integer — bit-identical, then
    half-away-rounded to micro in both engines. popcount is spelled
    as four explicit shift-and-masks (portable; no bit_count builtin
    dependency). Scale: ONE user-grain shuffle (bit_or + max are
    map-side combinable), then everything lives on the 16-row subset
    spine × 4 channels — broadcast-sized no matter the SF."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    peruser = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(CASE event_type WHEN 'click' THEN 1"
            " WHEN 'error' THEN 2 WHEN 'signup' THEN 4"
            " WHEN 'view' THEN 8 ELSE 0 END)"
        )
        .cast("long")
        .alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    obs = peruser.groupBy("mask").agg(
        F.count("*").alias("users"), F.sum("conv").alias("convs")
    )
    spine = spark.range(16).select(
        F.col("id").alias("s"),
        F.expr(
            "CAST(((id >> 0) & 1) + ((id >> 1) & 1) + ((id >> 2) & 1)"
            " + ((id >> 3) & 1) AS BIGINT)"
        ).alias("pc"),
    )
    v = spine.join(F.broadcast(obs), spine.s == obs.mask, "left").select(
        "s",
        "pc",
        F.coalesce(
            F.expr("CAST(convs * 1000000 div users AS BIGINT)"), F.lit(0)
        ).alias("v_micro"),
    )
    ch = spark.range(4).select(
        F.col("id").alias("i"),
        F.when(F.col("id") == 0, "click")
        .when(F.col("id") == 1, "error")
        .when(F.col("id") == 2, "signup")
        .otherwise("view")
        .alias("channel"),
    )
    v0 = v.select(
        F.col("s").alias("s0"), F.col("pc").alias("pc0"),
        F.col("v_micro").alias("vm0"),
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("v_micro").alias("vm1"))
    contrib = (
        ch.join(F.broadcast(v0), F.expr("((s0 >> i) & 1) = 0"))
        .join(F.broadcast(v1), F.expr("s1 = (s0 | (1 << i))"))
        .select(
            "i",
            "channel",
            (
                F.when(F.col("pc0") == 0, 6)
                .when(F.col("pc0") == 1, 2)
                .when(F.col("pc0") == 2, 2)
                .otherwise(6)
                .cast("long")
                * (F.col("vm1") - F.col("vm0"))
            ).alias("w_gain"),
        )
    )
    touch = (
        ch.crossJoin(F.broadcast(obs))
        .groupBy(F.col("i").alias("ti"))
        .agg(
            F.sum(
                F.when(F.expr("((mask >> i) & 1) = 1"), F.col("users"))
            ).alias("users_touched"),
            F.sum(
                F.when(F.expr("((mask >> i) & 1) = 1"), F.col("convs"))
            ).alias("convs_touched"),
        )
    )
    return (
        contrib.groupBy("i", "channel")
        .agg(F.sum("w_gain").alias("phi24"))
        .join(F.broadcast(touch), F.col("i") == F.col("ti"), "left")
        .select(
            "channel",
            F.round(F.col("phi24").cast("double") / 24.0)
            .cast("long")
            .alias("shapley_micro"),
            F.coalesce(F.col("users_touched"), F.lit(0))
            .cast("long")
            .alias("users_touched"),
            F.coalesce(F.col("convs_touched"), F.lit(0))
            .cast("long")
            .alias("convs_touched"),
        )
        .orderBy("channel")
    )


_ABS_STATES = ("click", "error", "signup", "view")  # transient, sorted


def _absorbing_det_expr(cols: list[list[str]], wide: str) -> str:
    """4x4 determinant as an explicit 24-term SQL expression over cell
    expressions ``cols[i][j]`` — the SAME string runs in DuckDB (wide =
    HUGEINT) and Spark (wide = DECIMAL(38,0)), generated from one
    source so the Leibniz expansion cannot diverge."""
    import itertools

    terms = []
    for perm in itertools.permutations(range(4)):
        inv = sum(
            1
            for i in range(4)
            for j in range(i + 1, 4)
            if perm[i] > perm[j]
        )
        sign = "-" if inv % 2 else "+"
        prod = (
            f"CAST({cols[0][perm[0]]} AS {wide})"
            + "".join(f" * {cols[i][perm[i]]}" for i in range(1, 4))
        )
        terms.append(f"{sign} {prod}")
    return "(" + " ".join(terms) + ")"


def _absorbing_exprs(wide: str) -> dict[str, str]:
    """All Cramer determinants for the absorbing-chain solve, over the
    one-row count columns r{i}, c{i}{j}, cp{i} (1-indexed)."""
    a = [
        [
            f"(r{i} - c{i}{i})" if i == j else f"(0 - c{i}{j})"
            for j in range(1, 5)
        ]
        for i in range(1, 5)
    ]
    out = {"det_a": _absorbing_det_expr(a, wide)}
    for k in range(4):
        steps = [row[:] for row in a]
        probs = [row[:] for row in a]
        for i in range(4):
            steps[i][k] = f"r{i + 1}"
            probs[i][k] = f"cp{i + 1}"
        out[f"det_t{k + 1}"] = _absorbing_det_expr(steps, wide)
        out[f"det_p{k + 1}"] = _absorbing_det_expr(probs, wide)
    return out


def _absorbing_count_sqls() -> list[str]:
    sqls = []
    for i, a in enumerate(_ABS_STATES, start=1):
        sqls.append(
            f"CAST(SUM(CASE WHEN a = '{a}' THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS r{i}"
        )
        sqls.append(
            f"CAST(SUM(CASE WHEN a = '{a}' AND b = 'purchase'"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS cp{i}"
        )
        for j, bst in enumerate(_ABS_STATES, start=1):
            sqls.append(
                f"CAST(SUM(CASE WHEN a = '{a}' AND b = '{bst}'"
                f" THEN 1 ELSE 0 END) AS BIGINT) AS c{i}{j}"
            )
    return sqls


def _absorbing_oracle() -> str:
    counts = ",\n         ".join(_absorbing_count_sqls())
    d = _absorbing_exprs("HUGEINT")
    rows = []
    for k, st in enumerate(_ABS_STATES, start=1):
        rows.append(
            f"SELECT '{st}' AS state, r{k} AS n_out,"
            f" CASE WHEN {d['det_a']} > 0 THEN"
            f" CAST({d[f'det_t{k}']} * 1000000 // {d['det_a']}"
            f" AS BIGINT) END AS expected_steps_micro,"
            f" CASE WHEN {d['det_a']} > 0 THEN"
            f" CAST({d[f'det_p{k}']} * 1000000 // {d['det_a']}"
            f" AS BIGINT) END AS absorb_prob_ppm FROM agg"
        )
    union = "\nUNION ALL ".join(rows)
    return f"""
WITH tr AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS a,
         event_type AS b
  FROM events
),
t2 AS (SELECT a, b FROM tr WHERE a IS NOT NULL AND a <> 'purchase'),
agg AS (
  SELECT {counts}
  FROM t2
)
{union}
ORDER BY state
"""


@register(
    "absorbing_markov_sessions",
    oracle=_absorbing_oracle(),
)
def absorbing_markov_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABSORBING MARKOV CHAIN analysis of the event stream with
    purchase as the absorbing state — the closed-form answer to 'how
    many more steps until this user converts, starting from state X,
    and with what probability': where markov_transition_matrix
    publishes the raw P and funnel_* count fixed paths, this solves
    the fundamental-matrix system (I−Q)t = 1 and (I−Q)p = R exactly.
    The solve is CRAMER'S RULE on the row-cleared integer system
    (multiply row i by its out-count r_i, so A = diag(r)−C and the
    right-hand sides are integer vectors): five 4×4 determinants,
    each a 24-term Leibniz expansion generated from ONE Python source
    and run verbatim in both engines (HUGEINT ⟷ decimal(38,0) —
    terms ≤ counts⁴, inside 10³⁸ to ~10⁸ transitions per state).
    (I−Q) is a nonsingular M-matrix when absorption is reachable, so
    det > 0 and the micro/ppm floor-divisions run on non-negative
    operands (CASE-guarded otherwise). Scale: ONE user-keyed window
    pass to extract transitions, one 20-column conditional aggregate
    to a single broadcast row — the matrix algebra never touches the
    cluster."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t2 = (
        ev.select(
            F.lag("event_type").over(w).alias("a"),
            F.col("event_type").alias("b"),
        )
        .filter(F.col("a").isNotNull() & (F.col("a") != "purchase"))
    )
    agg = t2.selectExpr("a", "b").groupBy().agg(
        *[F.expr(s) for s in _absorbing_count_sqls()]
    )
    d = _absorbing_exprs("DECIMAL(38,0)")
    rows = None
    for k, st in enumerate(_ABS_STATES, start=1):
        r = agg.select(
            F.lit(st).alias("state"),
            F.col(f"r{k}").alias("n_out"),
            F.expr(
                f"CASE WHEN {d['det_a']} > 0 THEN"
                f" CAST({d[f'det_t{k}']} * 1000000 div {d['det_a']}"
                f" AS BIGINT) END"
            ).alias("expected_steps_micro"),
            F.expr(
                f"CASE WHEN {d['det_a']} > 0 THEN"
                f" CAST({d[f'det_p{k}']} * 1000000 div {d['det_a']}"
                f" AS BIGINT) END"
            ).alias("absorb_prob_ppm"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("state")


@register(
    "competing_risks_daily_events",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(ts) AS first_ts,
         max(ts) AS last_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS ta,
         min(CASE WHEN event_type = 'error' THEN ts END) AS tb
  FROM events GROUP BY user_id
),
lab AS (
  SELECT user_id,
         CASE
           WHEN ta IS NOT NULL AND (tb IS NULL OR ta <= tb)
             THEN date_diff('day', first_ts, ta)
           WHEN tb IS NOT NULL
             THEN date_diff('day', first_ts, tb)
           ELSE date_diff('day', first_ts, last_ts)
         END AS bucket,
         CASE
           WHEN ta IS NOT NULL AND (tb IS NULL OR ta <= tb) THEN 1
           WHEN tb IS NOT NULL THEN 2
           ELSE 0
         END AS cause
  FROM per_user
),
per_bucket AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS ev_purchase,
         CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS ev_error,
         CAST(SUM(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS censored
  FROM lab GROUP BY 1
),
risk AS (
  SELECT bucket, ev_purchase, ev_error, censored,
         CAST(SUM(ev_purchase + ev_error + censored)
              OVER (ORDER BY bucket DESC) AS BIGINT) AS n_risk
  FROM per_bucket
)
SELECT bucket, n_risk, ev_purchase, ev_error, censored,
       CAST(ev_purchase * 1000000 // n_risk AS BIGINT)
           AS hazard_purchase_ppm,
       CAST(ev_error * 1000000 // n_risk AS BIGINT)
           AS hazard_error_ppm
FROM risk ORDER BY bucket
""",
)
def competing_risks_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPETING-RISKS life table (Aalen-Johansen inputs) for the two
    terminal outcomes of a user journey — FIRST PURCHASE vs FIRST
    ERROR, whichever strikes first from the user's own start: the
    survival family's missing member (km_life_table = single risk,
    nelson_aalen = its cumulative hazard; competing risks is what you
    need when one event REMOVES the user from risk of the other —
    treating errors as censoring would bias conversion hazard up,
    the classic Fine-Gray complaint). Per user: entry = first event,
    outcome = earlier of first purchase / first error (exact-tie →
    purchase, documented), else censored at last activity. The table
    publishes per-day-bucket risk sets (reverse cumulative — the KM
    doctrine), per-cause event counts, and the two cause-specific
    hazards as exact ppm floor-divisions — hazards rather than CIF
    products, so everything stays integer (the km_life_table
    exactness pattern). Scale: one user-keyed aggregation, one
    bounded bucket rollup, one reverse cumsum window on the bounded
    bucket domain."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("ta"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("tb"),
    )
    a_wins = F.col("ta").isNotNull() & (
        F.col("tb").isNull() | (F.col("ta") <= F.col("tb"))
    )
    lab = per_user.select(
        F.when(a_wins, F.datediff(F.to_date("ta"), F.to_date("first_ts")))
        .when(
            F.col("tb").isNotNull(),
            F.datediff(F.to_date("tb"), F.to_date("first_ts")),
        )
        .otherwise(
            F.datediff(F.to_date("last_ts"), F.to_date("first_ts"))
        )
        .cast("long")
        .alias("bucket"),
        F.when(a_wins, 1)
        .when(F.col("tb").isNotNull(), 2)
        .otherwise(0)
        .alias("cause"),
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("long")
        .alias("ev_purchase"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("long")
        .alias("ev_error"),
        F.sum(F.when(F.col("cause") == 0, 1).otherwise(0))
        .cast("long")
        .alias("censored"),
    )
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_bucket.withColumn(
        "n_risk",
        F.sum(
            F.col("ev_purchase") + F.col("ev_error") + F.col("censored")
        ).over(w),
    )
    return risk.select(
        "bucket",
        "n_risk",
        "ev_purchase",
        "ev_error",
        "censored",
        F.expr("CAST(ev_purchase * 1000000 div n_risk AS BIGINT)").alias(
            "hazard_purchase_ppm"
        ),
        F.expr("CAST(ev_error * 1000000 div n_risk AS BIGINT)").alias(
            "hazard_error_ppm"
        ),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Queueing and survival: M/M/1 metrics, two-group log-rank test
# ---------------------------------------------------------------------------


@register(
    "mm1_queue_metrics_hourly",
    oracle="""
WITH slot AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
days AS (
  SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd
  FROM events
),
mu AS (SELECT CAST(max(c) + 1 AS BIGINT) AS m FROM slot),
hourly AS (
  SELECT h, CAST(SUM(c) AS BIGINT) AS arrivals FROM slot GROUP BY h
)
SELECT hourly.h AS hour, hourly.arrivals, days.nd AS n_days,
       mu.m AS mu_per_slot,
       CAST(hourly.arrivals * 1000000 // (days.nd * mu.m) AS BIGINT)
           AS rho_ppm,
       CAST(CAST(hourly.arrivals AS HUGEINT) * hourly.arrivals * 1000
            // (days.nd * mu.m
                * (days.nd * mu.m - hourly.arrivals)) AS BIGINT)
           AS lq_milli,
       CAST(hourly.arrivals * 1000
            // (mu.m * (days.nd * mu.m - hourly.arrivals)) AS BIGINT)
           AS wq_milli_slots
FROM hourly CROSS JOIN days CROSS JOIN mu
ORDER BY hourly.h
""",
)
def mm1_queue_metrics_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M/M/1 STEADY-STATE QUEUEING METRICS per hour-of-day — the
    capacity-planning readout littles_law_daily_events leaves
    implicit: with the hourly arrival rate λ_h = arrivals/n_days
    (absent slots count as zero arrivals — the day spine is the
    distinct-day count, not the observed-slot count) and a service
    rate μ = the busiest observed slot + 1 (data-derived, so ρ < 1
    by construction and the queue is stable at every hour), publish
    utilization ρ = λ/μ, queue length Lq = ρ²/(1−ρ), and wait
    Wq = Lq/λ — each an EXACT rational of integer counts: ρ_ppm =
    a·10⁶ div (D·μ), Lq_milli = a²·10³ div (D·μ·(D·μ−a)),
    Wq = a·10³ div (μ·(D·μ−a)) slot-lengths. The M/M/1 idealization
    is the point — it turns two count aggregates into the standard
    what-if dial. Scale: one (day,hour) rollup, a 24-row output."""
    ev = load_table(spark, sf_dir, "events")
    slot = ev.groupBy(
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("long").alias("h"),
    ).agg(F.count("*").alias("c"))
    days = ev.agg(
        F.count_distinct(F.to_date("ts")).alias("nd")
    )
    mu = slot.agg((F.max("c") + 1).alias("m"))
    hourly = slot.groupBy("h").agg(F.sum("c").alias("arrivals"))
    return (
        hourly.crossJoin(F.broadcast(days))
        .crossJoin(F.broadcast(mu))
        .select(
            F.col("h").alias("hour"),
            "arrivals",
            F.col("nd").alias("n_days"),
            F.col("m").alias("mu_per_slot"),
            F.expr(
                "CAST(arrivals * 1000000 div (nd * m) AS BIGINT)"
            ).alias("rho_ppm"),
            F.expr(
                f"CAST(CAST(arrivals AS {DEC38}) * arrivals * 1000"
                f" div (nd * m * (nd * m - arrivals)) AS BIGINT)"
            ).alias("lq_milli"),
            F.expr(
                "CAST(arrivals * 1000"
                " div (m * (nd * m - arrivals)) AS BIGINT)"
            ).alias("wq_milli_slots"),
        )
        .orderBy("hour")
    )


@register(
    "logrank_test_segments",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS first_d,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY 1
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS end_d FROM orders),
lab AS (
  SELECT CAST(date_diff('day', p.first_d, p.last_d) // 90 AS BIGINT)
             AS bucket,
         CASE WHEN date_diff('day', p.last_d,
                             (SELECT end_d FROM horizon)) >= 180
              THEN 1 ELSE 0 END AS churned,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp
  FROM per_cust p JOIN customer c ON c.c_custkey = p.o_custkey
),
per_bucket AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN grp = 1 THEN churned ELSE 0 END)
              AS BIGINT) AS e1,
         CAST(SUM(CASE WHEN grp = 0 THEN churned ELSE 0 END)
              AS BIGINT) AS e0,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 - churned ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 - churned ELSE 0 END)
              AS BIGINT) AS x0
  FROM lab GROUP BY bucket
),
risk AS (
  SELECT bucket, e1, e0,
         CAST(SUM(e1 + x1) OVER (ORDER BY bucket DESC) AS BIGINT)
             AS n1,
         CAST(SUM(e1 + x1 + e0 + x0) OVER (ORDER BY bucket DESC)
              AS BIGINT) AS n
  FROM per_bucket
),
terms AS (
  SELECT bucket,
         e1 * 1000 - CAST((e1 + e0) * n1 * 1000 // n AS BIGINT)
             AS oe_milli,
         CASE WHEN n > 1 THEN
           CAST(CAST(e1 + e0 AS HUGEINT) * n1 * (n - n1)
                * (n - e1 - e0) * 1000000
                // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
         END AS v_micro
  FROM risk
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(SUM(oe_milli) AS BIGINT) AS oe_milli,
         CAST(COALESCE(SUM(v_micro), 0) AS BIGINT) AS v_micro
  FROM terms
)
SELECT n_buckets, oe_milli, v_micro,
       CASE WHEN v_micro > 0
            THEN CAST(CAST(oe_milli AS HUGEINT) * oe_milli * 1000
                      // v_micro AS BIGINT)
       END AS chi2_milli
FROM agg
""",
)
def logrank_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-GROUP LOG-RANK TEST on customer tenure — the standard
    survival-curve comparison (Mantel-Cox): does the BUILDING
    segment churn on a different schedule than everyone else? Reuses
    km_life_table_customer_tenure's exact censoring semantics
    (90-day tenure buckets, churned = last order ≥ 180 days before
    the horizon) and adds the inference layer the life table lacks:
    per bucket, observed group-1 events minus the hypergeometric
    expectation d·n1/n (milli-floored per term — discrete variant)
    and the hypergeometric variance d·n1·(n−n1)·(n−d)/(n²·(n−1))
    (micro-floored; single-subject buckets contribute NULL→skipped
    identically in both engines), then χ² = (O−E)²/V as one more
    exact floor-division. The customer table is fact-sized and joins
    SHUFFLED per doctrine (never broadcast). Scale: one
    customer-grain rollup, bucket-domain suffix sums, 1-row out."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("end_d"))
    lab = (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.datediff("last_d", "first_d") / 90)
            .cast("long")
            .alias("bucket"),
            F.when(F.datediff("end_d", "last_d") >= 180, 1)
            .otherwise(0)
            .alias("churned"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("grp"),
        )
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("grp") == 1, F.col("churned")).otherwise(0)
        ).alias("e1"),
        F.sum(
            F.when(F.col("grp") == 0, F.col("churned")).otherwise(0)
        ).alias("e0"),
        F.sum(
            F.when(F.col("grp") == 1, 1 - F.col("churned")).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("grp") == 0, 1 - F.col("churned")).otherwise(0)
        ).alias("x0"),
    )
    wd = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_bucket.select(
        "bucket",
        "e1",
        "e0",
        F.sum(F.col("e1") + F.col("x1")).over(wd).alias("n1"),
        F.sum(
            F.col("e1") + F.col("x1") + F.col("e0") + F.col("x0")
        )
        .over(wd)
        .alias("n"),
    )
    terms = risk.select(
        F.expr(
            "e1 * 1000 - CAST((e1 + e0) * n1 * 1000 div n AS BIGINT)"
        ).alias("oe_milli"),
        F.expr(
            f"CASE WHEN n > 1 THEN"
            f" CAST(CAST(e1 + e0 AS {DEC38}) * n1 * (n - n1)"
            f" * (n - e1 - e0) * 1000000"
            f" div (CAST(n AS {DEC38}) * n * (n - 1)) AS BIGINT) END"
        ).alias("v_micro"),
    )
    agg = terms.agg(
        F.count("*").alias("n_buckets"),
        F.sum("oe_milli").alias("oe_milli"),
        F.coalesce(F.sum("v_micro"), F.lit(0)).cast("long").alias(
            "v_micro"
        ),
    )
    return agg.select(
        "n_buckets",
        "oe_milli",
        "v_micro",
        F.expr(
            f"CASE WHEN v_micro > 0"
            f" THEN CAST(CAST(oe_milli AS {DEC38}) * oe_milli * 1000"
            f" div v_micro AS BIGINT) END"
        ).alias("chi2_milli"),
    )


# ---------------------------------------------------------------------------
# Statistical process control: attribute charts + zone rules
# ---------------------------------------------------------------------------


_CCHART_UCL = (
    "CAST(floor((1000 * CAST(tt AS DOUBLE)"
    " + 3000 * sqrt(CAST(tt AS DOUBLE) * nd)) / nd) AS BIGINT)"
)
_CCHART_LCL = (
    "GREATEST(CAST(0 AS BIGINT),"
    " CAST(floor((1000 * CAST(tt AS DOUBLE)"
    " - 3000 * sqrt(CAST(tt AS DOUBLE) * nd)) / nd) AS BIGINT))"
)


@register(
    "c_chart_daily_error_events",
    oracle="""
WITH days AS (
  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             AS x
  FROM events
),
err AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'error' GROUP BY 1
),
grid AS (
  SELECT d.x, COALESCE(e.c, 0) AS c FROM days d LEFT JOIN err e
  ON e.x = d.x
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS tt
  FROM grid
)
SELECT grid.x, grid.c,
       CAST(1000 * g.tt // g.nd AS BIGINT) AS cbar_milli,
       """ + _CCHART_UCL + """ AS ucl_milli,
       """ + _CCHART_LCL + """ AS lcl_milli,
       CAST(CASE WHEN grid.c * 1000 > """ + _CCHART_UCL + """
                 THEN 1 ELSE 0 END AS INT) AS above_ucl,
       CAST(CASE WHEN grid.c * 1000 < """ + _CCHART_LCL + """
                 THEN 1 ELSE 0 END AS INT) AS below_lcl
FROM grid, g ORDER BY grid.x
""",
)
def c_chart_daily_error_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """c-CHART (Poisson count control chart) of daily error events —
    Shewhart limits c̄ ± 3·√c̄ on the COUNT scale, plotted over the
    full observed event-day spine (days with zero errors count as 0,
    via one distinct-days LEFT JOIN — dropping them would bias c̄
    up). Exactness: √c̄ = √(T/n) = √(T·n)/n, so each limit is one
    double expression over two exact integers, one sqrt, one
    division, one floor onto the milli grid (same SQL text both
    engines); c̄ itself is the exact non-negative milli
    floor-division, and violations compare cᵢ·1000 against the
    milli-grid limits (the grid is the contract). Scale:
    calendar-bounded day domain; one rollup + 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    days = ev.select(day.alias("x")).distinct()
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(day.alias("x"))
        .agg(F.count("*").alias("c"))
    )
    grid = days.join(err, "x", "left").select(
        "x", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    g = grid.agg(F.count("*").alias("nd"), F.sum("c").alias("tt"))
    return (
        grid.crossJoin(F.broadcast(g))
        .selectExpr(
            "x",
            "c",
            "CAST(1000 * tt div nd AS BIGINT) AS cbar_milli",
            _CCHART_UCL + " AS ucl_milli",
            _CCHART_LCL + " AS lcl_milli",
            "CAST(CASE WHEN c * 1000 > " + _CCHART_UCL
            + " THEN 1 ELSE 0 END AS INT) AS above_ucl",
            "CAST(CASE WHEN c * 1000 < " + _CCHART_LCL
            + " THEN 1 ELSE 0 END AS INT) AS below_lcl",
        )
        .orderBy("x")
    )


# ---------------------------------------------------------------------------
# Unit-root test + loss-system queueing
# ---------------------------------------------------------------------------


def _erlang_step(k: int) -> str:
    """b_k = a·b_{k−1}/(k + a·b_{k−1}) on the micro grid with a =
    An/Ad: one per-step floored division (documented discrete
    recursion — the keltner/ewma fixed-point doctrine)."""
    return (
        f"CAST(CAST(an AS {{I}}) * b{k - 1} * 1000000"
        f" {{D}} (CAST({k} AS {{I}}) * ad * 1000000"
        f" + CAST(an AS {{I}}) * b{k - 1}) AS BIGINT) AS b{k}"
    )


@register(
    "erlang_b_blocking_hourly",
    oracle="""
WITH hr AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
load AS (
  SELECT CAST(SUM(c) AS BIGINT) AS an,
         CAST(count(*) AS BIGINT) AS ad
  FROM hr
),
r0 AS (SELECT an, ad, CAST(1000000 AS BIGINT) AS b0 FROM load),
""" + ",\n".join(
        f"r{k} AS (SELECT an, ad, "
        + ", ".join([f"b{j}" for j in range(0, k)])
        + ", "
        + duck_sql(_erlang_step(k))
        + f" FROM r{k - 1})"
        for k in range(1, 9)
    ) + """
SELECT CAST(c AS INT) AS servers,
       CAST(1000 * an // ad AS BIGINT) AS offered_load_milli,
       CAST(CASE c """ + " ".join(
        f"WHEN {k} THEN b{k}" for k in range(1, 9)
    ) + """ END AS BIGINT) AS blocking_micro
FROM r8, (SELECT unnest([1,2,3,4,5,6,7,8]) AS c)
ORDER BY servers
""",
)
def erlang_b_blocking_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ERLANG-B BLOCKING PROBABILITY at c = 1..8 servers for the
    event stream — the loss-system sizing table (M/M/c/c: arrivals
    that find all servers busy are DROPPED, the capacity-planning
    complement to mm1_queue_metrics_hourly's infinite queue):
    offered load a = mean events per hour (the exact rational
    T/H, one service per hour), and B(c,a) via the numerically
    stable Erlang-B recursion B_k = a·B_{k−1}/(k + a·B_{k−1}) —
    factorials never materialize. Each step is ONE per-step-floored
    micro division (the documented discrete recursion, exact
    HUGEINT ⟷ decimal(38,0) products; 8 unrolled steps — a query
    constant), identical expression text in both engines. Scale:
    one hour rollup (calendar-bounded), then 1-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h")
    ).agg(F.count("*").alias("c"))
    load = hr.agg(
        F.sum("c").alias("an"), F.count("*").alias("ad")
    )
    r = load.selectExpr(
        "an", "ad", "CAST(1000000 AS BIGINT) AS b0"
    )
    for k in range(1, 9):
        r = r.selectExpr(
            "an", "ad", f"b{k - 1}", spark_sql(_erlang_step(k))
        ) if k == 1 else r.selectExpr(
            "an", "ad", *[f"b{j}" for j in range(1, k)],
            spark_sql(_erlang_step(k)),
        )
    cs = spark.range(1).selectExpr(
        "explode(array(1,2,3,4,5,6,7,8)) AS c"
    )
    return (
        r.crossJoin(F.broadcast(cs))
        .selectExpr(
            "CAST(c AS INT) AS servers",
            "CAST(1000 * an div ad AS BIGINT) AS offered_load_milli",
            "CAST(CASE c "
            + " ".join(f"WHEN {k} THEN b{k}" for k in range(1, 9))
            + " END AS BIGINT) AS blocking_micro",
        )
        .orderBy("servers")
    )


# ---------------------------------------------------------------------------
# Lexical concentration, temporal burstiness, ranking stability
# ---------------------------------------------------------------------------


_BURST_B = (
    "CASE WHEN n > 1 AND s > 0 THEN CAST(floor("
    "(sqrt(CAST(CAST(n AS {I}) * q - CAST(s AS {I}) * s AS DOUBLE))"
    " - CAST(s AS DOUBLE)) * 1000"
    " / (sqrt(CAST(CAST(n AS {I}) * q - CAST(s AS {I}) * s AS DOUBLE))"
    " + CAST(s AS DOUBLE))) AS BIGINT) END"
)
_BURST_M = (
    "CASE WHEN CAST(m AS {I}) * qa - CAST(sa AS {I}) * sa > 0"
    " AND CAST(m AS {I}) * qb - CAST(sb AS {I}) * sb > 0"
    " THEN CAST(floor("
    "CAST(CAST(m AS {I}) * sab - CAST(sa AS {I}) * sb AS DOUBLE) * 1000"
    " / (sqrt(CAST(CAST(m AS {I}) * qa - CAST(sa AS {I}) * sa"
    " AS DOUBLE))"
    " * sqrt(CAST(CAST(m AS {I}) * qb - CAST(sb AS {I}) * sb"
    " AS DOUBLE)))) AS BIGINT) END"
)


@register(
    "interevent_burstiness_memory_types",
    oracle="""
WITH seq AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP))
         - lag(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY event_type
                 ORDER BY ts, event_id) AS gap
  FROM events
),
gaps AS (
  SELECT event_type, gap,
         lead(gap) OVER (PARTITION BY event_type ORDER BY gap_rn)
             AS gap2
  FROM (
    SELECT event_type, gap,
           row_number() OVER (PARTITION BY event_type ORDER BY gap)
               AS gap_rn
    FROM seq WHERE gap IS NOT NULL
  )
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(gap) AS BIGINT) AS s,
         CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q
  FROM gaps GROUP BY 1
),
lagmom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(gap) AS BIGINT) AS sa,
         CAST(SUM(gap2) AS BIGINT) AS sb,
         CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS qa,
         CAST(SUM(CAST(gap2 AS HUGEINT) * gap2) AS HUGEINT) AS qb,
         CAST(SUM(CAST(gap AS HUGEINT) * gap2) AS HUGEINT) AS sab
  FROM gaps WHERE gap2 IS NOT NULL GROUP BY 1
)
SELECT mom.event_type, mom.n AS n_gaps,
       """ + duck_sql(_BURST_B) + """ AS burstiness_milli,
       """ + duck_sql(_BURST_M) + """ AS sorted_memory_milli
FROM mom JOIN lagmom ON lagmom.event_type = mom.event_type
ORDER BY mom.event_type
""",
)
def interevent_burstiness_memory_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GOH–BARABÁSI BURSTINESS + a sorted-gap memory coefficient of
    inter-event times per event type — the two-parameter temporal-
    pattern fingerprint (B = (σ−μ)/(σ+μ): −1 periodic, 0 Poisson,
    →1 bursty; the companion correlation reads how gap magnitudes
    cluster). Gaps are exact epoch-microsecond differences on a
    deterministic (ts, event_id) order; B collapses to
    (√(nQ−S²) − S)/(√(nQ−S²) + S) — exact HUGEINT ⟷ decimal(38,0)
    moments, ONE shared double tree. The memory coefficient here is
    computed over GAP-SORTED consecutive pairs (a deterministic,
    order-free discrete variant — chronological lag-correlation
    would hinge on timestamp tie order; sorted-neighbor correlation
    reads the same magnitude-clustering signal reproducibly, and is
    documented as such). Scale: per-type lag/lead windows (types
    are a bounded domain), two rollups."""
    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(
                F.unix_micros(F.col("ts").cast("timestamp"))
            ).over(wt)
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_rn")
    gaps = seq.select(
        "event_type",
        "gap",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("gap"))
        .alias("gap_rn"),
    ).select(
        "event_type",
        "gap",
        F.lead("gap").over(wr).alias("gap2"),
    )
    mom = gaps.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap").cast(DEC38) * F.col("gap")).alias("q"),
    )
    lagmom = (
        gaps.filter(F.col("gap2").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("m"),
            F.sum("gap").alias("sa"),
            F.sum("gap2").alias("sb"),
            F.sum(F.col("gap").cast(DEC38) * F.col("gap")).alias("qa"),
            F.sum(F.col("gap2").cast(DEC38) * F.col("gap2")).alias(
                "qb"
            ),
            F.sum(F.col("gap").cast(DEC38) * F.col("gap2")).alias(
                "sab"
            ),
        )
    )
    return (
        mom.join(lagmom, "event_type")
        .selectExpr(
            "event_type",
            "n AS n_gaps",
            spark_sql(_BURST_B) + " AS burstiness_milli",
            spark_sql(_BURST_M) + " AS sorted_memory_milli",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Linear-counting sketch audit + integer adstock regression
# ---------------------------------------------------------------------------


@register(
    "adstock_regression_daily",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT d, clicks, purchases, row_number() OVER (ORDER BY d) AS rn
  FROM (
    SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS clicks,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS purchases
    FROM events GROUP BY 1)
),
rec AS (
  SELECT d, rn, clicks, purchases,
         CAST(clicks * 1000 AS BIGINT) AS z
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT dd.d, dd.rn, dd.clicks, dd.purchases,
         CAST(dd.clicks * 1000 + 7 * rec.z // 10 AS BIGINT)
  FROM daily dd JOIN rec ON dd.rn = rec.rn + 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS sx,
         CAST(SUM(purchases) AS BIGINT) AS sy,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(z AS HUGEINT) * purchases) AS HUGEINT) AS sxy
  FROM rec
)
SELECT n,
       CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                 > 0
            THEN CAST(floor(
                 CAST(CAST(n AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS DOUBLE) * 1000000000
                 / CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                 AS BIGINT)
       END AS beta_nano_per_milli,
       CAST(sx // n AS BIGINT) AS mean_adstock_milli,
       CAST(sy * 1000 // n AS BIGINT) AS mean_purchases_milli
FROM mom
""",
)
def adstock_regression_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GEOMETRIC ADSTOCK REGRESSION — the marketing-mix primitive:
    carryover-transform daily clicks (adstock zₜ = xₜ + 0.7·zₜ₋₁,
    the retention-decay model of advertising memory) and regress
    daily purchases on the transformed series. The recursion runs
    ENTIRELY on the milli-integer grid (zₜ = 1000·xₜ + ⌊7·zₜ₋₁/10⌋
    — the documented per-step-floored discrete variant, so no float
    ever enters the scan; non-negative operands keep Spark div =
    DuckDB //), via the keltner prefix-scan machinery on Spark and
    a recursive CTE oracle; the OLS slope is the standard Cramer
    ratio of exact HUGEINT ⟷ decimal(38,0) moments with ONE double
    division, floored to nano units (purchases per milli-adstock).
    Scale: one day rollup, one calendar-bounded scan, one 1-row
    reduce."""
    ev = load_table(spark, sf_dir, "events")
    dc = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicks"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases"),
    )
    allrows = dc.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("d", "clicks", "purchases"))
        ).alias("srt")
    )

    scan = F.aggregate(
        F.col("srt"),
        F.expr(
            "CAST(array() AS array<struct<d bigint,"
            " purchases bigint, z bigint>>)"
        ),
        lambda acc, srow: F.concat(
            acc,
            F.array(
                F.struct(
                    srow["d"].alias("d"),
                    srow["purchases"].alias("purchases"),
                    F.when(
                        F.size(acc) == 0,
                        srow["clicks"] * F.lit(1000),
                    )
                    .otherwise(
                        srow["clicks"] * F.lit(1000)
                        + F.floor(
                            F.lit(7)
                            * F.element_at(acc, -1)["z"]
                            / F.lit(10)
                        )
                    )
                    .cast("long")
                    .alias("z"),
                )
            ),
        ),
    )
    rec = allrows.select(F.explode(scan).alias("r")).select(
        F.col("r.purchases").alias("purchases"),
        F.col("r.z").alias("z"),
    )
    mom = rec.agg(
        F.count("*").alias("n"),
        F.sum("z").alias("sx"),
        F.sum("purchases").alias("sy"),
        F.sum(F.col("z").cast(DEC38) * F.col("z")).alias("sxx"),
        F.sum(F.col("z").cast(DEC38) * F.col("purchases")).alias("sxy"),
    )
    return mom.selectExpr(
        "n",
        f"CASE WHEN CAST(n AS {DEC38}) * sxx - CAST(sx AS {DEC38}) * sx"
        " > 0 THEN CAST(floor("
        f"CAST(CAST(n AS {DEC38}) * sxy - CAST(sx AS {DEC38}) * sy"
        " AS DOUBLE) * 1000000000"
        f" / CAST(CAST(n AS {DEC38}) * sxx - CAST(sx AS {DEC38}) * sx"
        " AS DOUBLE)) AS BIGINT) END AS beta_nano_per_milli",
        "CAST(sx div n AS BIGINT) AS mean_adstock_milli",
        "CAST(sy * 1000 div n AS BIGINT) AS mean_purchases_milli",
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF surface + partial correlation
# ---------------------------------------------------------------------------


_PC_R = (
    "CAST({d} AS DOUBLE)"
    " / sqrt(CAST({va} AS DOUBLE) * CAST({vb} AS DOUBLE))"
)
_PC_RXY = _PC_R.format(d="dxy", va="vx", vb="vy")
_PC_RXZ = _PC_R.format(d="dxz", va="vx", vb="vz")
_PC_RZY = _PC_R.format(d="dzy", va="vz", vb="vy")
_PC_SEL = (
    "CASE WHEN vx > 0 AND vy > 0 AND vz > 0"
    f" AND (1 - ({_PC_RXZ}) * ({_PC_RXZ}))"
    f" * (1 - ({_PC_RZY}) * ({_PC_RZY})) > 0"
    f" THEN CAST(floor((({_PC_RXY}) - ({_PC_RXZ}) * ({_PC_RZY}))"
    f" * 1000 / sqrt((1 - ({_PC_RXZ}) * ({_PC_RXZ}))"
    f" * (1 - ({_PC_RZY}) * ({_PC_RZY})))) AS BIGINT) END"
)


@register(
    "partial_correlation_daily_events",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS z
  FROM events GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(z * y) AS BIGINT) AS szy
  FROM daily
),
d AS (
  SELECT n,
         CAST(n * sxy - sx * sy AS HUGEINT) AS dxy,
         CAST(n * sxz - sx * sz AS HUGEINT) AS dxz,
         CAST(n * szy - sz * sy AS HUGEINT) AS dzy,
         CAST(n * sxx - sx * sx AS HUGEINT) AS vx,
         CAST(n * syy - sy * sy AS HUGEINT) AS vy,
         CAST(n * szz - sz * sz AS HUGEINT) AS vz
  FROM mom
)
SELECT n AS n_days,
       """ + _PC_SEL + """ AS partial_corr_milli
FROM d
""",
)
def partial_correlation_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTIAL CORRELATION of daily clicks and purchases CONTROLLING
    for views — the confounder-adjusted association (first-order
    pcor = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²))): raw click↔
    purchase correlation is inflated by overall traffic; partialling
    out the view count reads the direct association — the
    observational-causal primitive between rolling_corr (raw) and
    granger (lagged). All three correlations come from ONE pass of
    exact int64/HUGEINT moments; the pcor is a single fixed double
    tree (identical text both engines — the granger staged-
    expression rule), milli-floored, with variance and denominator
    CASE guards degrading to NULL identically. Scale: one day-grain
    rollup + one 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("z"),
    )
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
    )
    d = mom.selectExpr(
        "n",
        f"CAST(n * sxy - sx * sy AS {DEC38}) AS dxy",
        f"CAST(n * sxz - sx * sz AS {DEC38}) AS dxz",
        f"CAST(n * szy - sz * sy AS {DEC38}) AS dzy",
        f"CAST(n * sxx - sx * sx AS {DEC38}) AS vx",
        f"CAST(n * syy - sy * sy AS {DEC38}) AS vy",
        f"CAST(n * szz - sz * sz AS {DEC38}) AS vz",
    )
    return d.selectExpr(
        "n AS n_days", _PC_SEL + " AS partial_corr_milli"
    )


# ---------------------------------------------------------------------------
# Restricted mean survival time (KM product on the micro grid)
# ---------------------------------------------------------------------------


@register(
    "rmst_customer_tenure",
    oracle="""
WITH RECURSIVE per_cust AS MATERIALIZED (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS first_d,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY 1
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS end_d
            FROM orders),
lab AS (
  SELECT date_diff('day', first_d, last_d) // 90 AS bucket,
         CASE WHEN date_diff('day', last_d,
                             (SELECT end_d FROM horizon)) >= 180
              THEN 1 ELSE 0 END AS churned
  FROM per_cust
),
per_bucket AS MATERIALIZED (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(SUM(churned) AS BIGINT) AS d,
         CAST(SUM(1 - churned) AS BIGINT) AS c
  FROM lab GROUP BY 1
),
risk AS MATERIALIZED (
  SELECT bucket, d,
         CAST(SUM(d + c) OVER (ORDER BY bucket DESC) AS BIGINT) AS n,
         row_number() OVER (ORDER BY bucket) AS rn
  FROM per_bucket
),
km AS (
  SELECT bucket, rn, d, n,
         CAST((1000000 * (n - d)) // n AS BIGINT) AS s
  FROM risk WHERE rn = 1
  UNION ALL
  SELECT r.bucket, r.rn, r.d, r.n,
         CAST((km.s * (r.n - r.d)) // r.n AS BIGINT)
  FROM risk r JOIN km ON r.rn = km.rn + 1
)
SELECT bucket, n AS n_risk, d AS n_events,
       s AS survival_ppm,
       CAST(SUM(s * 90) OVER (ORDER BY bucket) AS BIGINT)
           AS rmst_ppm_days
FROM km ORDER BY bucket
""",
)
def rmst_customer_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME over customer tenure — the
    clinically-preferred summary when hazards aren't proportional
    (RMST(τ) = ∫₀τ S(t)dt — "expected retained days within τ"),
    built ON the km_life_table machinery (same 90-day buckets, same
    censoring rule): the KM product S(t) = Π(1 − dᵢ/nᵢ) runs as a
    per-step micro-floored integer recursion (sₖ = ⌊sₖ₋₁·(nₖ−dₖ)/nₖ⌋
    — the documented discrete product, all non-negative so Spark
    div = DuckDB //; a recursive CTE on the ≤ ~30-bucket domain in
    the oracle, the keltner collect-sorted scan on Spark), and RMST
    is the exact running Σ s·90 in ppm-days. Scale: one customer
    rollup, then bucket-domain algebra."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("end_d"))
    lab = per_cust.join(F.broadcast(horizon)).select(
        (F.datediff("last_d", "first_d") / 90)
        .cast("long")
        .alias("bucket"),
        F.when(F.datediff("end_d", "last_d") >= 180, 1)
        .otherwise(0)
        .alias("churned"),
    )
    per_bucket = lab.groupBy("bucket").agg(
        F.sum("churned").alias("d"),
        F.sum(1 - F.col("churned")).alias("c"),
    )
    wdesc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_bucket.select(
        "bucket",
        "d",
        F.sum(F.col("d") + F.col("c")).over(wdesc).alias("n"),
    )
    allrows = risk.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("bucket", "d", "n"))
        ).alias("srt")
    )
    def _exact_div(num, den):
        # exact non-negative integer floor-division on Column longs:
        # (num - num % den) is exactly divisible, so the double
        # division is exact (operands < 2^53) — floor(a/b) alone
        # could round up across an integer boundary
        return ((num - num % den) / den).cast("long")

    scan = F.aggregate(
        F.col("srt"),
        F.expr(
            "CAST(array() AS array<struct<bucket bigint, d bigint,"
            " n bigint, s bigint>>)"
        ),
        lambda acc, r: F.concat(
            acc,
            F.array(
                F.struct(
                    r["bucket"].alias("bucket"),
                    r["d"].alias("d"),
                    r["n"].alias("n"),
                    F.when(
                        F.size(acc) == 0,
                        _exact_div(
                            F.lit(1000000).cast("long")
                            * (r["n"] - r["d"]),
                            r["n"],
                        ),
                    )
                    .otherwise(
                        _exact_div(
                            F.element_at(acc, -1)["s"]
                            * (r["n"] - r["d"]),
                            r["n"],
                        )
                    )
                    .cast("long")
                    .alias("s"),
                )
            ),
        ),
    )
    km = allrows.select(F.explode(scan).alias("r")).select(
        F.col("r.bucket").alias("bucket"),
        F.col("r.n").alias("n_risk"),
        F.col("r.d").alias("n_events"),
        F.col("r.s").alias("survival_ppm"),
    )
    return km.select(
        "bucket",
        "n_risk",
        "n_events",
        "survival_ppm",
        F.sum(F.col("survival_ppm") * 90)
        .over(Window.orderBy("bucket"))
        .alias("rmst_ppm_days"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Markov next-event predictability
# ---------------------------------------------------------------------------


@register(
    "markov_predictability_event_types",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
tr AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
),
st AS (
  SELECT from_type,
         CAST(SUM(c) AS BIGINT) AS n_s,
         CAST(MAX(c) AS BIGINT) AS c_max,
         CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS rep2
  FROM tr GROUP BY 1
),
rows_out AS (
  SELECT from_type, n_s, c_max,
         CAST(c_max * 1000000 // n_s AS BIGINT) AS greedy_acc_ppm,
         CASE WHEN n_s > 1
              THEN CAST(rep2 * 1000000
                   // (CAST(n_s AS HUGEINT) * (n_s - 1)) AS BIGINT)
         END AS renyi2_ppm
  FROM st
  UNION ALL
  SELECT '__ALL__',
         CAST(SUM(n_s) AS BIGINT),
         CAST(SUM(c_max) AS BIGINT),
         CAST(SUM(c_max) * 1000000 // SUM(n_s) AS BIGINT),
         CAST(SUM(rep2 * 1000000
              // (CAST(n_s AS HUGEINT) * (n_s - 1)) * n_s)
              // SUM(n_s) AS BIGINT)
  FROM st WHERE n_s > 1
)
SELECT from_type, n_s AS n_transitions, c_max AS modal_count,
       greedy_acc_ppm, renyi2_ppm
FROM rows_out ORDER BY from_type
""",
)
def markov_predictability_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEXT-EVENT PREDICTABILITY of the event-type Markov chain —
    what markov_transition_matrix's raw probabilities don't
    summarize: per source state, the GREEDY accuracy (share of
    transitions the argmax predictor gets right — the ceiling of
    any deterministic next-event model) and the Rényi-2 collision
    rate Σc(c−1)/n(n−1) (probability two random transitions from
    this state agree — the log-free entropy surrogate, same kernel
    as the permutation census). The '__ALL__' row weights per-state
    values by transition mass: greedy accuracy aggregates EXACTLY
    (Σ modal counts / Σ n), the pooled Rényi-2 is the n_s-weighted
    mean of the per-state ppm values (per-term floored, the
    documented grid). Scale: one per-user lead window, bounded
    type-pair rollups."""
    ev = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(wt).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tr = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("c")
    )
    st = tr.groupBy("from_type").agg(
        F.sum("c").alias("n_s"),
        F.max("c").alias("c_max"),
        F.sum(F.col("c").cast(DEC38) * (F.col("c") - 1)).alias("rep2"),
    )
    per_state = st.selectExpr(
        "from_type",
        "n_s",
        "c_max",
        "CAST(c_max * 1000000 div n_s AS BIGINT) AS greedy_acc_ppm",
        "CASE WHEN n_s > 1 THEN CAST(rep2 * 1000000"
        f" div (CAST(n_s AS {DEC38}) * (n_s - 1)) AS BIGINT)"
        " END AS renyi2_ppm",
    )
    overall = st.filter("n_s > 1").agg(
        F.sum("n_s").alias("n_s"),
        F.sum("c_max").alias("c_max"),
        F.expr(
            "CAST(SUM(c_max) * 1000000 div SUM(n_s) AS BIGINT)"
        ).alias("greedy_acc_ppm"),
        F.expr(
            "CAST(SUM(rep2 * 1000000"
            f" div (CAST(n_s AS {DEC38}) * (n_s - 1)) * n_s)"
            " div SUM(n_s) AS BIGINT)"
        ).alias("renyi2_ppm"),
    ).selectExpr(
        "'__ALL__' AS from_type",
        "n_s",
        "c_max",
        "greedy_acc_ppm",
        "renyi2_ppm",
    )
    return (
        per_state.unionByName(overall)
        .selectExpr(
            "from_type",
            "n_s AS n_transitions",
            "c_max AS modal_count",
            "greedy_acc_ppm",
            "renyi2_ppm",
        )
        .orderBy("from_type")
    )


# ---------------------------------------------------------------------------
# Accumulation/Distribution line + Force Index on the event bars
# ---------------------------------------------------------------------------

# Daily event-value bars (the atr_sma14_daily construction): hi/lo =
# window extrema of value cents, close = max_by on the deterministic
# event_id key, volume = event count.
_EVENT_BARS_CTE = """
bars AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS hi,
         CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS lo,
         CAST(arg_max(CAST(round(value * 100) AS BIGINT), event_id)
              AS BIGINT) AS cl,
         CAST(count(*) AS BIGINT) AS vol
  FROM events GROUP BY 1
)
"""


def _event_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.max(F.round(F.col("value") * 100).cast("long")).alias("hi"),
        F.min(F.round(F.col("value") * 100).cast("long")).alias("lo"),
        F.expr(
            "max_by(CAST(round(value * 100) AS BIGINT), event_id)"
        ).alias("cl"),
        F.count("*").alias("vol"),
    )


_ADL_TERM = sql_ss_div("(2 * cl - lo - hi) * vol", "hi - lo", 1000000)


@register(
    "accumulation_distribution_daily",
    oracle="""
WITH
""" + _EVENT_BARS_CTE + """,
clv AS (
  SELECT d, hi, lo, cl, vol,
         CASE WHEN hi > lo THEN """ + duck_sql(_ADL_TERM) + """
              ELSE 0 END AS mf_micro
  FROM bars
)
SELECT d, hi AS high_cents, lo AS low_cents, cl AS close_cents,
       vol AS volume, mf_micro AS money_flow_micro,
       CAST(SUM(mf_micro) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS adl_micro
FROM clv ORDER BY d
""",
)
def accumulation_distribution_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ACCUMULATION/DISTRIBUTION LINE over daily event-value bars —
    the volume-flow pressure gauge (Chaikin's money-flow volume
    CLV·V = ((C−L)−(H−C))/(H−L)·V accumulated): where OBV signs the
    WHOLE day's volume by the close-over-close direction,
    A/D weights it by WHERE in the range the close landed —
    divergence between the two is the classic exhaustion signal,
    and chaikin_money_flow is this same term windowed instead of
    accumulated. Bars are the atr_sma14 construction (extrema +
    deterministic max_by close + count volume); each money-flow
    term is ONE SIGN-SPLIT micro floor-division (the published
    grid, flat bars contribute exactly 0 via the same CASE), the
    line one prefix-sum window of exact integers. Scale:
    calendar-bounded day domain — one rollup, one window."""
    bars = _event_bars(spark, sf_dir)
    clv = bars.selectExpr(
        "d",
        "hi",
        "lo",
        "cl",
        "vol",
        "CASE WHEN hi > lo THEN " + spark_sql(_ADL_TERM)
        + " ELSE CAST(0 AS BIGINT) END AS mf_micro",
    )
    return clv.select(
        "d",
        F.col("hi").alias("high_cents"),
        F.col("lo").alias("low_cents"),
        F.col("cl").alias("close_cents"),
        F.col("vol").alias("volume"),
        F.col("mf_micro").alias("money_flow_micro"),
        F.sum("mf_micro")
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("adl_micro"),
    ).orderBy("d")


_FI_SEL = sql_ss_div("s13", "13", 1)


@register(
    "force_index_13_daily",
    oracle="""
WITH
""" + _EVENT_BARS_CTE + """,
fi AS (
  SELECT d,
         CAST((cl - LAG(cl) OVER (ORDER BY d)) * vol AS BIGINT)
             AS force_raw
  FROM bars
),
win AS (
  SELECT d, force_raw,
         CAST(SUM(force_raw) OVER (ORDER BY d ROWS BETWEEN 12
              PRECEDING AND CURRENT ROW) AS BIGINT) AS s13,
         CAST(count(force_raw) OVER (ORDER BY d ROWS BETWEEN 12
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt
  FROM fi WHERE force_raw IS NOT NULL
)
SELECT d, force_raw AS force_cents_vol,
       """ + duck_sql(_FI_SEL) + """ AS force_index_sma13
FROM win WHERE cnt = 13 ORDER BY d
""",
)
def force_index_13_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ELDER'S FORCE INDEX (13-period, SMA form) over daily event
    bars — price change × volume, the three-ingredient momentum
    gauge (direction, extent, volume) of 'Trading for a Living',
    here with the SMA smoothing variant (documented — Elder's EMA-13
    needs the float recursion; the SMA form keeps every published
    value an exact integer: raw force is one int64 product per day,
    the smoother one SIGN-SPLIT floor-division by the constant 13
    on a full-window count guard). Complements
    accumulation_distribution_daily (range position × volume) with
    close-over-close × volume. Scale: one rollup, one lag, one row
    window."""
    bars = _event_bars(spark, sf_dir)
    wl = Window.orderBy("d")
    fi = bars.select(
        "d",
        (
            (F.col("cl") - F.lag("cl").over(wl)) * F.col("vol")
        ).alias("force_raw"),
    ).filter(F.col("force_raw").isNotNull())
    w13 = Window.orderBy("d").rowsBetween(-12, 0)
    win = fi.select(
        "d",
        "force_raw",
        F.sum("force_raw").over(w13).alias("s13"),
        F.count("force_raw").over(w13).alias("cnt"),
    )
    return (
        win.filter(F.col("cnt") == 13)
        .selectExpr(
            "d",
            "force_raw AS force_cents_vol",
            spark_sql(_FI_SEL) + " AS force_index_sma13",
        )
        .orderBy("d")
    )
