"""Time-series bar aggregation (OHLC) over the events stream.

The classic downsampling operator finance/monitoring pipelines run over
tick streams: per (series, time bucket), the first/last/extreme values
and volume. The reference's DStream surface could express only the
associative pieces (min/max/sum via reduceByKeyAndWindow) — open/close
need ORDER-aware aggregation, which this engine gets from ranked
windows partitioned by the (series, bucket) key: high-cardinality
partitions, no global sort, scale-linear.

Exactness: prices ride as exact integer cents; open/close are
first_value/last_value under the unique (ts, event_id) order, identical
in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


@register(
    "ohlc_hourly_bars",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
w AS (
  SELECT event_type, h, c,
         first_value(c) OVER (PARTITION BY event_type, h
                              ORDER BY ts, event_id) AS o,
         last_value(c) OVER (PARTITION BY event_type, h
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS cl
  FROM e
)
SELECT event_type, h AS window_start,
       CAST(max(o) AS BIGINT) AS open_c,
       CAST(max(c) AS BIGINT) AS high_c,
       CAST(min(c) AS BIGINT) AS low_c,
       CAST(max(cl) AS BIGINT) AS close_c,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(c) AS BIGINT) AS volume_c
FROM w GROUP BY event_type, h
ORDER BY event_type, h
""",
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type: open/close = first/last value
    (exact cents, unique (ts, event_id) order), high/low = extremes,
    plus count and volume. One shuffle on the (series, hour) key; the
    ordered window runs inside each bucket — at 100 TB the bucket
    count scales with series x time, never a global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    w = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    ranked = ev.select(
        "event_type",
        "h",
        "c",
        F.first("c").over(w).alias("o"),
        F.last("c")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("cl"),
    )
    return (
        ranked.groupBy("event_type", F.col("h").alias("window_start"))
        .agg(
            F.max("o").alias("open_c"),
            F.max("c").alias("high_c"),
            F.min("c").alias("low_c"),
            F.max("cl").alias("close_c"),
            F.count("*").alias("n_events"),
            F.sum("c").alias("volume_c"),
        )
        .orderBy("event_type", "window_start")
    )


@register(
    "ship_latency_business_days",
    oracle="""
WITH p AS (SELECT CAST(0 AS INT) AS r, 0 AS c UNION ALL SELECT 1, 1
           UNION ALL SELECT 2, 2 UNION ALL SELECT 3, 2
           UNION ALL SELECT 4, 2 UNION ALL SELECT 5, 3
           UNION ALL SELECT 6, 4),
lat AS (
  SELECT o.o_orderpriority,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           AS e1,
         date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
           AS e2
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
bd AS (
  SELECT o_orderpriority,
         (5 * ((e2 + 1) // 7) + p2.c) - (5 * ((e1 + 1) // 7) + p1.c)
           AS bdays
  FROM lat
  JOIN p p1 ON p1.r = CAST((e1 + 1) % 7 AS INT)
  JOIN p p2 ON p2.r = CAST((e2 + 1) % 7 AS INT)
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(bdays) AS BIGINT) AS total_bdays,
       round(CAST(SUM(bdays) AS DOUBLE) / count(*) * 10000) / 10000
         AS avg_bdays,
       CAST(max(bdays) AS BIGINT) AS max_bdays
FROM bd GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def ship_latency_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency in BUSINESS days (weekends excluded) per
    priority — the SLA the calendar-day percentiles
    (ship_latency_by_priority) overstate across weekends. Weekday
    arithmetic is closed-form over exact epoch-day integers: with
    W(e) = 5*(e div 7) + P[e mod 7] counting weekdays strictly before
    epoch day e (P is the 7-entry prefix table for a week anchored on
    Thursday = epoch day 0), business days in (order, ship] =
    W(ship+1) − W(order+1). No engine dayofweek() is consulted —
    Spark's is 1=Sunday, DuckDB's 0=Sunday; the epoch formula cannot
    disagree. One fact-fact equi-join + map-side arithmetic."""
    _P = [0, 1, 2, 2, 2, 3, 4]  # weekdays in the first r days (Thu-anchored)

    def wd(e):  # weekdays strictly before epoch day e
        return F.lit(5) * F.floor(e / 7).cast("long") + F.element_at(
            F.array(*[F.lit(c) for c in _P]), (e % 7).cast("int") + 1
        ).cast("long")

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("e2"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("e1"),
    )
    bd = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        (wd(F.col("e2") + 1) - wd(F.col("e1") + 1)).alias("bdays"),
    )
    return (
        bd.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("bdays").alias("total_bdays"),
            (
                F.round(
                    F.sum("bdays").cast("double")
                    / F.count("*").cast("double")
                    * 10000
                )
                / 10000
            ).alias("avg_bdays"),
            F.max("bdays").alias("max_bdays"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "mom_revenue_growth_by_nation",
    oracle="""
WITH monthly AS (
  SELECT n.n_name AS nation, date_trunc('month', CAST(o.o_orderdate AS DATE))
           AS month,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
)
SELECT nation, CAST(CAST(month AS DATE) AS VARCHAR) AS month, cents,
       lag(cents) OVER (PARTITION BY nation ORDER BY month) AS prev_cents,
       round(CASE WHEN lag(cents) OVER (PARTITION BY nation ORDER BY month)
                       IS NULL THEN NULL
                  ELSE (CAST(cents AS DOUBLE)
                        / lag(cents) OVER (PARTITION BY nation ORDER BY month)
                        - 1.0) END * 1000000) / 1000000 AS mom_growth
FROM monthly
ORDER BY nation, month
""",
)
def mom_revenue_growth_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the
    period-over-period lag metric every BI layer computes. Revenue
    aggregates to exact cents at (nation, month) grain BEFORE the lag
    window (the window runs over the bounded aggregated calendar,
    never orders), and growth divides exact int64 cents in one IEEE
    division with the round_to form. First month per nation reports
    NULL growth — spec'd identically in both engines."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias(
            "month"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        # customer is fact-sized at target scale (scale doctrine in
        # hhi_concentration_monthly) — shuffled equi-join; only the
        # 25-row nation dim broadcasts.
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), "month")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("nation").orderBy("month")
    prev = F.lag("cents").over(w)
    growth = F.when(
        prev.isNull(), F.lit(None).cast("double")
    ).otherwise(F.col("cents").cast("double") / prev - 1.0)
    return monthly.select(
        "nation",
        F.col("month").cast("string").alias("month"),
        "cents",
        prev.alias("prev_cents"),
        (F.round(growth * 1000000) / 1000000).alias("mom_growth"),
    ).orderBy("nation", "month")
