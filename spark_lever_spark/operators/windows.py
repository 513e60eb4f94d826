"""SQL window functions (beyond-reference superset).

The reference had NO window functions (no OVER in its parser —
SURVEY.md §2.F: they arrived in Spark 1.4). This engine exposes the
full `pyspark.sql.Window` surface as a documented superset:
ranking (row_number/rank/dense_rank/ntile), offsets (lag/lead),
frames (running aggregates), per-partition top-k.

Determinism: every window ORDER BY carries a unique tiebreaker so
results are reproducible across engines and partitionings.

Scale note: window partitions shuffle on partitionBy keys — a window
partitioned by a high-cardinality key scales linearly; an
*unpartitioned* ordered window funnels everything to one task and is
only used in tests on bounded dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.operators.grank import ntile_from_rank, with_global_rank
from spark_lever_spark.registry import register


@register(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the canonical distributed
    groupwise-top-k (one shuffle on the partition key, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "window_rank_dense",
    oracle="""
SELECT s_nationkey, s_suppkey,
       CAST(rank()       OVER (PARTITION BY s_nationkey ORDER BY round(s_acctbal*100) DESC) AS INT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY s_nationkey ORDER BY round(s_acctbal*100) DESC) AS INT) AS drnk
FROM supplier
ORDER BY s_nationkey, rnk, s_suppkey
""",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank with real ties (rounded balance)."""
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc(F.round(F.col("s_acctbal") * 100))
    )
    return (
        supp.select(
            "s_nationkey",
            "s_suppkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .orderBy("s_nationkey", "rnk", "s_suppkey")
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
            lag(o_orderdate)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS INT) AS days_since_prev,
       lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS next_orderkey
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets: days between consecutive orders per customer."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("days_since_prev"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(round(o_totalprice*100)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / 100 AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (
                F.round(F.sum(F.round(F.col("o_totalprice") * 100)).over(w)) / 100
            ).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_moving_avg",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(avg(round(o_totalprice*100)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 100 AS avg3
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row moving average (bounded ROWS frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            (
                F.round(F.avg(F.round(F.col("o_totalprice") * 100)).over(w)) / 100
            ).alias("avg3"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_ntile_quartiles",
    oracle="""
SELECT quartile, count(*) AS cnt, round(min(c_acctbal)*100)/100 AS lo,
       round(max(c_acctbal)*100)/100 AS hi
FROM (
  SELECT c_acctbal,
         CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
  FROM customer
) GROUP BY quartile ORDER BY quartile
""",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing → quartile summary (DoubleRDD-stats analog).

    Scale-safe form: instead of an unpartitioned ``ntile(4) OVER
    (ORDER BY ...)`` over the full table (single-task sort), global
    ranks come from the 2-pass broadcast-bounds rank (grank.py) and the
    ntile bucket is recovered as a pure function of (rank, n) — exact
    ntile semantics, identical buckets, no task sees more than ~1/64 of
    the rows (pinned in test_plans.py)."""
    cust = load_table(spark, sf_dir, "customer")
    ranked = with_global_rank(
        cust.select("c_acctbal", "c_custkey"),
        F.col("c_acctbal"),
        ["c_custkey"],
    )
    return (
        ranked.select(
            "c_acctbal",
            ntile_from_rank(F.col("_rk"), F.col("_n_tot"), 4)
            .cast("int")
            .alias("quartile"),
        )
        .groupBy("quartile")
        .agg(
            F.count("*").alias("cnt"),
            (F.round(F.min("c_acctbal") * 100) / 100).alias("lo"),
            (F.round(F.max("c_acctbal") * 100) / 100).alias("hi"),
        )
        .orderBy("quartile")
    )


@register(
    "window_percent_rank_cume",
    oracle="""
SELECT s_suppkey,
       round(s_acctbal * 100) / 100 AS s_acctbal,
       round(percent_rank() OVER w * 1000000) / 1000000 AS pct_rank,
       round(cume_dist() OVER w * 1000000) / 1000000 AS cume,
       CAST(ntile(10) OVER w AS INT) AS decile
FROM supplier
WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
ORDER BY s_acctbal, s_suppkey
""",
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / decile ntile in one window — the
    relative-standing trio (completes the ranking family next to
    rank/dense_rank/row_number). Exact cross-engine: both ranks are
    integer-derived ratios ((rank-1)/(n-1), rank/n) computed with one
    IEEE division, rounded with the round_to form.

    Scale-safe form: the ORDER BY key set is unique (suppkey tiebreak),
    so rank == row_number, percent_rank == (rk-1)/(n-1) and cume_dist
    == rk/n exactly — all three plus ntile(10) derive from the 2-pass
    broadcast-bounds global rank (grank.py) with no unpartitioned
    window over the base table (pinned in test_plans.py)."""
    sup = load_table(spark, sf_dir, "supplier")
    ranked = with_global_rank(
        sup.select("s_suppkey", "s_acctbal"),
        F.col("s_acctbal"),
        ["s_suppkey"],
    )
    rk = F.col("_rk").cast("double")
    n = F.col("_n_tot").cast("double")
    return ranked.select(
        "s_suppkey",
        (F.round(F.col("s_acctbal") * 100) / 100).alias("s_acctbal"),
        (
            F.round(
                F.when(n > 1, (rk - 1) / (n - 1)).otherwise(F.lit(0.0))
                * 1000000
            )
            / 1000000
        ).alias("pct_rank"),
        (F.round(rk / n * 1000000) / 1000000).alias("cume"),
        ntile_from_rank(F.col("_rk"), F.col("_n_tot"), 10)
        .cast("int")
        .alias("decile"),
    ).orderBy("s_acctbal", "s_suppkey")


@register(
    "window_range_interval_trailing",
    oracle="""
SELECT user_id, ts, event_id,
       CAST(round(SUM(value) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) * 100) AS BIGINT) AS trailing_1h_cents,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_1h_events
FROM events
WHERE user_id < 20
ORDER BY user_id, ts, event_id
""",
)
def window_range_interval_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame bounded by a TIME interval (trailing 1-hour sum and
    count per user) — the value-based frame ROWS frames cannot express
    when events are irregular: the window widens and narrows with event
    density. The rolling-feature primitive for fraud/rate features.

    Rounding note: the trailing sum accumulates doubles in ORDER BY
    order inside both engines' window frames (same sequential order by
    construction), and the per-window sums here are small enough that
    cents-rounding the RESULT is exact — pinned by the oracle hash."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    # RANGE-with-interval frames are SQL-only surface in Spark (the
    # PySpark Window API takes long offsets); express the frame in SQL.
    return spark.sql(
        """
        SELECT user_id, ts, event_id,
               CAST(round(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
               ) * 100) AS BIGINT) AS trailing_1h_cents,
               COUNT(*) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
               ) AS trailing_1h_events
        FROM {ev}
        ORDER BY user_id, ts, event_id
        """,
        ev=ev,
    )


@register(
    "share_of_total_by_nation",
    oracle="""
WITH rev AS (
  SELECT n_name,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, rev_cents,
       round(CAST(rev_cents AS DOUBLE)
             / SUM(rev_cents) OVER () * 1000000) / 1000000 AS share,
       CAST(row_number() OVER (ORDER BY rev_cents DESC, n_name) AS INT)
         AS rev_rank
FROM rev
ORDER BY rev_rank
""",
)
def share_of_total_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: each nation's share of total revenue via
    an unpartitioned window sum over the AGGREGATED rows (25 nations),
    not the fact table — percent-of-total costs one tiny window after
    the rollup. Exact integer-cents revenue; the share is one IEEE
    division rounded with the round_to form. Dims arrive broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from spark_lever_spark.functions.exact import cents

    rev = (
        # customer is fact-sized at target scale (scale doctrine in
        # hhi_concentration_monthly) — shuffled equi-join; only the
        # 25-row nation dim broadcasts.
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"))
    )
    w_tot = Window.partitionBy()
    w_rank = Window.orderBy(F.desc("rev_cents"), "n_name")
    return (
        rev.withColumn(
            "share",
            F.round(
                F.col("rev_cents").cast("double")
                / F.sum("rev_cents").over(w_tot)
                * 1000000
            )
            / 1000000,
        )
        .withColumn("rev_rank", F.row_number().over(w_rank))
        .select("n_name", "rev_cents", "share", "rev_rank")
        .orderBy("rev_rank")
    )


@register(
    "revenue_mom_delta",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY month
)
SELECT CAST(month AS VARCHAR) AS month, rev_cents,
       CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS BIGINT)
         AS mom_delta_cents,
       CASE WHEN lag(rev_cents) OVER (ORDER BY month) IS NULL THEN NULL
            ELSE round(CAST(rev_cents AS DOUBLE)
                       / lag(rev_cents) OVER (ORDER BY month) * 10000)
                 / 10000 END AS mom_ratio
FROM monthly
ORDER BY month
""",
)
def revenue_mom_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta and ratio — the period-over-
    period comparison every finance dashboard opens with. The lag
    window runs over the monthly AGGREGATE (tens of rows), so the
    single-partition window is free; revenue is exact integer cents,
    the ratio one rounded IEEE division."""
    orders = load_table(spark, sf_dir, "orders")
    from spark_lever_spark.functions.exact import cents

    monthly = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"))
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return (
        monthly.withColumn(
            "mom_delta_cents", F.col("rev_cents") - prev
        )
        .withColumn(
            "mom_ratio",
            F.when(prev.isNull(), F.lit(None).cast("double")).otherwise(
                F.round(F.col("rev_cents").cast("double") / prev * 10000)
                / 10000
            ),
        )
        .select(
            F.col("month").cast("string").alias("month"),
            "rev_cents",
            "mom_delta_cents",
            "mom_ratio",
        )
        .orderBy("month")
    )


@register(
    "exact_global_deciles",
    oracle="""
WITH d AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         l_orderkey, l_linenumber
  FROM lineitem
),
r AS (
  SELECT v,
         row_number() OVER (ORDER BY v, l_orderkey, l_linenumber) AS rk,
         count(*) OVER () AS n
  FROM d
)
SELECT CAST(t.q AS INT) AS decile,
       CAST((t.q * n + 99) // 100 AS BIGINT) AS target_rank,
       v AS value_cents
FROM r, (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)) t(q)
WHERE rk = (t.q * n + 99) // 100
ORDER BY decile
""",
)
def exact_global_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global deciles of l_extendedprice — what
    approx_percentile_prices estimates, computed precisely, and the
    showcase for why the 2-pass rank exists: the naive form (a global
    sort + row_number) funnels the whole fact table through one task;
    here ``with_global_rank`` (operators/grank.py) attaches exact
    ranks with per-task memory FLAT in table size, and decile
    selection is a pure map-side filter — each row checks its own rank
    against the 9 target ranks ceil(q*N/100) computed from the total
    (no join, no second pass). Exact integer cents, discrete-quantile
    semantics (the value AT rank ceil(qN/100), ties broken by
    (orderkey, linenumber) — spec'd identically in the oracle's
    row_number)."""
    from spark_lever_spark.functions.exact import cents
    from spark_lever_spark.operators.grank import with_global_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        cents(F.col("l_extendedprice")).alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_global_rank(li, F.col("v"), ["l_orderkey", "l_linenumber"])
    targets = F.array(
        *[
            ((F.lit(q) * F.col("_n_tot") + 99) / 100).cast("long")
            for q in range(10, 100, 10)
        ]
    )
    # posexplode the 9 (decile, target_rank) pairs and equi-filter on
    # the row's own rank: when n < 10 several deciles share one target
    # rank, and array_position (first match only) would emit a single
    # row where the oracle's VALUES join emits one per decile (ADVICE
    # round 8). The explode is on hit rows only (<= 9 after the
    # array_contains pre-filter), so the map-side-selection scale story
    # is unchanged.
    sel = (
        ranked.withColumn("_tg", targets)
        .filter(F.array_contains(F.col("_tg"), F.col("_rk")))
        .select(
            "v",
            "_rk",
            F.posexplode(F.col("_tg")).alias("_pos", "_target"),
        )
        .filter(F.col("_rk") == F.col("_target"))
    )
    return sel.select(
        ((F.col("_pos") + 1) * 10).cast("int").alias("decile"),
        F.col("_rk").alias("target_rank"),
        F.col("v").alias("value_cents"),
    ).orderBy("decile")


@register(
    "window_last_ignore_nulls",
    oracle="""
WITH v AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END AS pv
  FROM events WHERE user_id < 50
)
SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
       last_value(pv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_purchase_cents
FROM v ORDER BY user_id, ts, event_id
""",
)
def window_last_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``last_value(... IGNORE NULLS)`` — the gap-carry window
    expression (SQL:2011 null treatment clause): every event carries
    the most recent PURCHASE amount for its user, NULL until the
    first purchase happens. This is forward-fill as a single window
    expression (contrast resample_hourly_ffill, which densifies onto
    a grid first) — the form feature pipelines use to attach
    'last-known X' to every fact row. One user-keyed window, exact
    cents, deterministic (ts, event_id) order; rows before any
    purchase stay NULL in both engines, pinning the
    no-default-fill semantics."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase", cents(F.col("value"))
        ).alias("pv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return v.select(
        "user_id",
        "ts",
        "event_id",
        F.last("pv", ignorenulls=True).over(w).alias("last_purchase_cents"),
    ).orderBy("user_id", "ts", "event_id")


@register(
    "qq_deciles_mktsegments",
    oracle="""
WITH j AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS v,
         c.c_mktsegment AS seg
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
r AS (
  SELECT seg, v,
         row_number() OVER (PARTITION BY seg ORDER BY v, o_orderkey)
             AS rk,
         count(*) OVER (PARTITION BY seg) AS n
  FROM j
),
sel AS (
  SELECT seg, CAST(t.q AS INT) AS decile, v
  FROM r, (VALUES (10), (20), (30), (40), (50), (60), (70), (80),
                  (90)) t(q)
  WHERE rk = (t.q * n + 99) // 100
)
SELECT b.decile,
       b.v AS building_cents,
       m.v AS machinery_cents,
       b.v - m.v AS gap_cents
FROM sel b JOIN sel m
  ON m.decile = b.decile AND b.seg = 'BUILDING' AND m.seg = 'MACHINERY'
ORDER BY b.decile
""",
)
def qq_deciles_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q (quantile-quantile) comparison of order values between the
    BUILDING and MACHINERY market segments at each exact decile — the
    full distributional-shift profile that scalar two-sample tests
    compress away (ks_statistic_sources reports only the max CDF gap;
    mann_whitney_u_sources only a rank sum; the Q-Q table says WHERE
    in the distribution the segments diverge). Per segment the decile
    is the exact value AT rank ceil(q*n/100) — exact_global_deciles'
    discrete-quantile semantics, ties broken by orderkey — computed
    with the 2-pass grank per segment (each pass a map-side binned
    rank, never a single-task sort), then the two 9-row decile frames
    meet in a trivially-broadcast equi-join. Exact int64 cents
    throughout; gap is an integer subtraction."""
    from spark_lever_spark.functions.exact import cents
    from spark_lever_spark.operators.grank import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # customer is fact-sized at target scale (scale doctrine in
    # hhi_concentration_monthly) — shuffled equi-join, never broadcast.
    j = o.join(c, o.o_custkey == c.c_custkey).filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )

    def seg_deciles(seg: str, out: str):
        s = j.filter(F.col("c_mktsegment") == seg).select(
            cents(F.col("o_totalprice")).alias("v"), "o_orderkey"
        )
        ranked = with_global_rank(s, F.col("v"), ["o_orderkey"])
        targets = F.array(
            *[
                ((F.lit(q) * F.col("_n_tot") + 99) / 100).cast("long")
                for q in range(10, 100, 10)
            ]
        )
        return (
            ranked.withColumn("_tg", targets)
            .filter(F.array_contains(F.col("_tg"), F.col("_rk")))
            .select(
                "v",
                "_rk",
                F.posexplode(F.col("_tg")).alias("_pos", "_target"),
            )
            .filter(F.col("_rk") == F.col("_target"))
            .select(
                ((F.col("_pos") + 1) * 10).cast("int").alias("decile"),
                F.col("v").alias(out),
            )
        )

    b = seg_deciles("BUILDING", "building_cents")
    m = seg_deciles("MACHINERY", "machinery_cents")
    return (
        b.join(m, "decile")
        .select(
            "decile",
            "building_cents",
            "machinery_cents",
            (F.col("building_cents") - F.col("machinery_cents")).alias(
                "gap_cents"
            ),
        )
        .orderBy("decile")
    )
