"""Temporal joins: as-of join and bucketed range join.

Neither exists in the reference (its join surface is equi/theta only,
SURVEY.md §2.F "Range / as-of / interval joins: absent") nor as a
Spark built-in — both are implemented as compositions of DataFrame
primitives chosen for their shuffle shape at 100 TB:

- ``asof_join``: union-and-window. Tagging both inputs, unioning, and
  taking ``last(..., ignorenulls=True)`` over a per-key time-ordered
  window costs exactly ONE hash shuffle on the key — versus the
  broadcast-nested-loop plan a naive ``ts <= ts`` join condition
  produces (quadratic per key) or a per-key ``collect_list`` UDF
  (memory-unbounded per group).
- ``range_join_bucketed``: explode the left interval onto fixed-width
  buckets and equi-join on (key, bucket). Turns an inequality join
  that Catalyst can only BNL into a hash join whose fan-out is
  ``interval/bucket_width`` — tune the width to the query's interval,
  not the data size, so the plan is scale-invariant.

Daily-series statistics over exact int64 revenue cents per epoch day
(the doctrine of functions/exact.py):

- outlier and trend tests: Grubbs, Dixon Q, Cox-Stuart, Buishand range,
  Siegel repeated medians, turning points, records, Cowles-Jones ratio;
- technical indicators: Williams %R, MFI, CCI, Keltner channel, DPO,
  Chande momentum, Stochastic RSI, KST;
- serial correlation and stationarity: Ljung-Box, variance ratio,
  dominant ACF cycle, square-wave periodogram, KPSS, Dickey-Fuller,
  ARCH LM, sample entropy, permutation patterns, seasonal strength;
- risk ratios: Sortino, VaR/CVaR, Omega, Calmar, Kelly, and beta,
  information ratio, capture ratios and drawdown spells against the
  shipped-lineitem series;
- control charts and shape audits: Western Electric rules, EWMA chart,
  Chebyshev coverage, Gini mean difference, up/down streak census;
- forecast and ranking monitors: Theil U, tracking signal, monthly
  pivot points, monthly top-k part stability, chain-ladder factors.
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


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_on: str,
    right_on: str,
    value_cols: list[str] | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_on`` <= ``left_on`` (< when ``allow_exact_matches=False``)
    within the same ``by`` group; nulls when no such row (left-join
    semantics, matching DuckDB ``ASOF LEFT JOIN``).

    ``value_cols`` are the right columns carried over (default: all
    non-key, non-time columns; include ``right_on`` itself to get the
    matched timestamp). The matched columns come atomically from ONE
    right row via a struct, so a null value inside a right row never
    bleeds an older row's value through ``ignorenulls``. Right rows
    must be unique per (by, right_on) for a deterministic result —
    the same precondition DuckDB's ASOF JOIN has.
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*by, right_on)]
    struct_fields = list(dict.fromkeys([right_on, *value_cols]))
    left_payload = [c for c in left.columns if c not in (*by, left_on)]

    rrows = right.select(
        *by,
        F.col(right_on).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        F.struct(*[F.col(c) for c in struct_fields]).alias("__r"),
    )
    rtype = rrows.schema["__r"].dataType
    lrows = left.select(
        *by,
        F.col(left_on).alias("__t"),
        F.lit(1).alias("__side"),
        *left_payload,
        F.lit(None).cast(rtype).alias("__r"),
    )
    # At equal timestamps the right row sorts before the left iff exact
    # matches count (window frame is "rows up to current").
    side_order = F.col("__side").asc() if allow_exact_matches else F.col("__side").desc()
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("__t").asc(), side_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = lrows.unionByName(rrows).withColumn(
        "__r", F.last("__r", ignorenulls=True).over(w)
    )
    return matched.filter(F.col("__side") == 1).select(
        *by,
        F.col("__t").alias(left_on),
        *left_payload,
        *[F.col(f"__r.{c}").alias(c) for c in value_cols],
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    lo: str,
    hi: str,
    right_on: str,
    bucket_width: int,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
) -> DataFrame:
    """Inner-join left rows to right rows with ``right_on`` inside
    [lo, hi] (bounds configurable), accelerated by equi-joining on
    fixed-width buckets of the time axis (``bucket_width`` in the
    units of ``cast(col as double)`` — seconds for timestamps).

    Each right row lands in exactly one bucket, each left interval
    explodes onto the buckets it overlaps, so every qualifying pair
    meets exactly once: no post-join dedup needed. Output = all left
    columns + all right columns (caller aliases collisions away).
    """

    def _axis(df: DataFrame, col: str):
        # Spark forbids TIMESTAMP_NTZ -> numeric casts outright
        # (CAST_WITHOUT_SUGGESTION); hop through TIMESTAMP first — exact
        # under the engine's pinned-UTC session TZ. The catalog already
        # normalizes NTZ away, but callers may hand us their own frames.
        from pyspark.sql import types as T

        c = F.col(col)
        if isinstance(df.schema[col].dataType, T.TimestampNTZType):
            c = c.cast("timestamp")
        return c.cast("double")

    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(_axis(left, lo) / bucket_width),
                F.floor(_axis(left, hi) / bucket_width),
            )
        ),
    )
    rb = right.withColumn(
        "__bucket", F.floor(_axis(right, right_on) / bucket_width)
    )
    lo_ok = F.col(right_on) >= F.col(lo) if lo_inclusive else F.col(right_on) > F.col(lo)
    hi_ok = F.col(right_on) <= F.col(hi) if hi_inclusive else F.col(right_on) < F.col(hi)
    return lb.join(rb, [*by, "__bucket"]).filter(lo_ok & hi_ok).drop("__bucket")


@register(
    "asof_purchase_last_view",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts AS last_view_ts, event_id AS last_view_id
           FROM events WHERE event_type = 'view')
SELECT p.user_id, p.purchase_ts, p.purchase_id,
       v.last_view_ts, v.last_view_id
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND v.last_view_ts <= p.purchase_ts
ORDER BY p.purchase_id
""",
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the user's latest at-or-before view
    (classic last-touch attribution). One shuffle on user_id; the
    DuckDB oracle is a native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("last_view_ts"),
        F.col("event_id").alias("last_view_id"),
    )
    out = asof_join(
        p,
        v,
        by=["user_id"],
        left_on="purchase_ts",
        right_on="last_view_ts",
        value_cols=["last_view_ts", "last_view_id"],
    )
    return out.select(
        "user_id", "purchase_ts", "purchase_id", "last_view_ts", "last_view_id"
    ).orderBy("purchase_id")


@register(
    "range_join_views_before_purchase",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view')
SELECT p.purchase_id, p.user_id, p.purchase_ts,
       COUNT(v.view_ts) AS n_views_24h
FROM p LEFT JOIN v
  ON v.user_id = p.user_id
 AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOUR
 AND v.view_ts < p.purchase_ts
GROUP BY p.purchase_id, p.user_id, p.purchase_ts
ORDER BY p.purchase_id
""",
)
def range_join_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views within the 24 h before each purchase, per purchase —
    an interval join the oracle runs as an inequality join but Spark
    runs as a bucketed hash join (1 h buckets -> 25-way left fan-out,
    constant in data size). Purchases with zero prior views are kept
    with n_views_24h = 0 via the aggregate-then-left-join-back step."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    pw = p.withColumn(
        "lo", F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
    ).withColumn("hi", F.col("purchase_ts"))
    pairs = range_join_bucketed(
        pw,
        v,
        by=["user_id"],
        lo="lo",
        hi="hi",
        right_on="view_ts",
        bucket_width=3600,
        lo_inclusive=True,
        hi_inclusive=False,
    )
    counts = pairs.groupBy("purchase_id").agg(
        F.count("*").alias("n_views_24h")
    )
    return (
        p.join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            F.coalesce("n_views_24h", F.lit(0)).alias("n_views_24h"),
        )
        .orderBy("purchase_id")
    )


def resample_ffill(
    df: DataFrame,
    by: list[str],
    ts_col: str,
    value_cols: list[str],
    step: str = "INTERVAL 1 HOUR",
    unit: str = "hour",
) -> DataFrame:
    """Per-key fixed-step resampling with forward fill: build each
    key's grid from its own [trunc(min ts), trunc(max ts)] span via
    ``sequence`` + explode (no driver loop, no cross join against a
    global calendar), then as-of join the original rows onto the grid.
    Two hash shuffles on the key total — the bounds aggregation and the
    as-of window — regardless of grid resolution or data size. Grid
    points before a key's first event carry nulls (nothing to fill
    from)."""
    bounds = df.groupBy(*by).agg(
        F.date_trunc(unit, F.min(ts_col)).alias("__h0"),
        F.date_trunc(unit, F.max(ts_col)).alias("__h1"),
    )
    grid = bounds.select(
        *by,
        F.explode(
            F.sequence("__h0", "__h1", F.expr(step))
        ).alias("grid_ts"),
    )
    return asof_join(
        grid,
        df.select(*by, ts_col, *value_cols),
        by=by,
        left_on="grid_ts",
        right_on=ts_col,
        value_cols=[ts_col, *value_cols],
    )


@register(
    "resample_hourly_ffill",
    oracle="""
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 20),
bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS grid_ts
  FROM bounds
)
SELECT g.user_id, g.grid_ts, e.ts AS last_event_ts, e.value AS last_value
FROM grid g ASOF LEFT JOIN ev e
  ON g.user_id = e.user_id AND e.ts <= g.grid_ts
ORDER BY g.user_id, g.grid_ts
""",
)
def resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly forward-fill resample of each user's event `value` —
    the gap-filling step a telemetry/training pipeline runs before
    windowed feature extraction. Oracle: generate_series + native ASOF
    LEFT JOIN."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select("user_id", "ts", "value")
    )
    out = resample_ffill(
        ev, by=["user_id"], ts_col="ts", value_cols=["value"]
    )
    return out.select(
        "user_id",
        "grid_ts",
        F.col("ts").alias("last_event_ts"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id", "grid_ts")


@register(
    "scd2_event_type_history",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts AS valid_from, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_id) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from, event_id) IS NULL
         AS is_current
FROM changes
ORDER BY user_id, valid_from, event_id
""",
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension construction from an event log: collapse
    each user's event stream into contiguous (event_type, valid_from,
    valid_to, is_current) validity intervals — the
    slowly-changing-dimension snapshot a warehouse derives from CDC.

    One shuffle: both windows partition by user_id, so the second
    window reuses the first's hash partitioning (no extra exchange).
    At 100 TB the change-row filter runs before the second window, so
    state per user shrinks from all events to distinct runs."""
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
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        changes.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select(
            "user_id",
            "event_type",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


@register(
    "twap_user_value",
    oracle="""
WITH seq AS (
  SELECT user_id, value, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events WHERE user_id < 50
),
seg AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         datediff('microsecond', ts, next_ts) AS dur_us
  FROM seq WHERE next_ts IS NOT NULL
)
SELECT user_id,
       CAST(SUM(cents * dur_us) AS BIGINT) AS weighted_cents_us,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       CAST(SUM(cents * dur_us) AS DOUBLE) / SUM(dur_us) AS twap_cents
FROM seg GROUP BY user_id
ORDER BY user_id
""",
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation is
    weighted by how long it was the latest one (duration to the next
    event) — the TWAP/TWA primitive for telemetry and pricing streams
    where sampling is irregular and a plain AVG over-weights bursts.

    Exactness: durations are integer microseconds, values integer
    cents, so the weighted sum is pure 64-bit arithmetic; only the
    final ratio is a double (one identical IEEE division per group in
    both engines). One shuffle on user_id; the window and the
    aggregation share its partitioning."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", "value", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            (
                F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
            ).alias("dur_us"),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dur_us")).alias("weighted_cents_us"),
            F.sum("dur_us").alias("total_us"),
        )
        .withColumn(
            "twap_cents",
            F.col("weighted_cents_us").cast("double") / F.col("total_us"),
        )
        .orderBy("user_id")
    )


@register(
    "interval_union_active_time",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
  FROM events WHERE user_id < 50
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              OR max(e) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
),
grp AS (
  SELECT user_id, s, e,
         SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
merged AS (
  SELECT user_id, g, min(s) AS ms, max(e) AS me
  FROM grp GROUP BY user_id, g
)
SELECT user_id,
       count(*) AS n_intervals,
       CAST(SUM(datediff('microsecond', ms, me)) AS BIGINT) AS active_us
FROM merged
GROUP BY user_id
ORDER BY user_id
""",
)
def interval_union_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event opens a 5-minute activity
    interval; overlapping intervals merge, and the user's total active
    time is the union's length — the classic sweep-line problem
    (utilization metering, billing) solved with windows, not joins:
    flag interval starts that clear the running max end (gaps), prefix-
    sum the flags into island ids, aggregate per island, sum exact
    integer microseconds. One shuffle on user_id shared by both
    windows and the final rollup."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
        )
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_grp",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
            1,
        ).otherwise(0),
    )
    grp = marked.withColumn("g", F.sum("new_grp").over(w_cum))
    merged = grp.groupBy("user_id", "g").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(
                F.unix_micros(F.col("me")) - F.unix_micros(F.col("ms"))
            ).alias("active_us"),
        )
        .orderBy("user_id")
    )


@register(
    "ewma_daily_event_value",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
           / count(*) AS x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
r AS (
  SELECT event_type, day, rn, x, x AS e FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.day, d.rn, d.x, 0.3 * d.x + 0.7 * r.e
  FROM daily d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       round(x * 1000000) / 1000000 AS daily_mean,
       round(e * 1000000) / 1000000 AS ewma
FROM r ORDER BY event_type, day
""",
)
def ewma_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.3) of the daily mean event value per type — the
    standard time-decayed smoother pandas/Flink users reach for and a
    window/HOF gap in the reference's 1.3 surface (no window functions
    at all there; SURVEY §2.F).

    The recursion e_t = a*x_t + (1-a)*e_{t-1} is inherently sequential,
    so it runs AFTER the daily pre-aggregation collapses the raw table
    to (type, day) rows — at 100 TB that's the one big shuffle-agg
    (map-side combinable, exact integer cents), and the scan state per
    group is bounded by the calendar, not the data. Spark side: one
    sort_array + F.aggregate prefix scan per group (pure JVM HOFs);
    DuckDB side: the same recursion as a recursive CTE. Both engines
    feed the scan bit-identical doubles (exact cents / counts
    divisions) and apply IEEE ops in the same order, so the outputs
    hash-match at the 1e-6 grid without tolerance games."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100
                / F.count("*")
            ).alias("x")
        )
    )
    per_type = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    # prefix scan: acc is the growing array of (day, x, e) structs;
    # e_1 = x_1, e_t = 0.3*x_t + 0.7*e_{t-1} (same op order as oracle)
    scan = F.aggregate(
        F.col("s"),
        F.expr("CAST(array() AS array<struct<day date, x double, e double>>)"),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.struct(
                    s["day"].alias("day"),
                    s["x"].alias("x"),
                    F.when(F.size(acc) == 0, s["x"])
                    .otherwise(
                        F.lit(0.3) * s["x"]
                        + F.lit(0.7) * F.element_at(acc, -1)["e"]
                    )
                    .alias("e"),
                )
            ),
        ),
    )
    return (
        per_type.select("event_type", F.explode(scan).alias("r"))
        .select(
            "event_type",
            F.col("r.day").cast("string").alias("day"),
            (F.round(F.col("r.x") * 1000000) / 1000000).alias("daily_mean"),
            (F.round(F.col("r.e") * 1000000) / 1000000).alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "interpolate_linear_hourly",
    oracle="""
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 20),
bounds AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g
  FROM bounds
),
pv AS (
  SELECT g.user_id, g.g, max(e.ts) AS pt, arg_max(e.value, e.ts) AS pval
  FROM grid g JOIN ev e ON e.user_id = g.user_id AND e.ts <= g.g
  GROUP BY g.user_id, g.g
),
nv AS (
  SELECT g.user_id, g.g, min(e.ts) AS nt, arg_min(e.value, e.ts) AS nval
  FROM grid g JOIN ev e ON e.user_id = g.user_id AND e.ts > g.g
  GROUP BY g.user_id, g.g
)
SELECT g.user_id, CAST(g.g AS TIMESTAMP) AS grid_ts,
       CASE WHEN pv.pt = g.g THEN round(pv.pval * 1000000) / 1000000
            ELSE round((pv.pval + (nv.nval - pv.pval)
                   * (CAST(epoch_us(g.g) - epoch_us(pv.pt) AS DOUBLE)
                      / CAST(epoch_us(nv.nt) - epoch_us(pv.pt) AS DOUBLE)))
                  * 1000000) / 1000000
       END AS value_interp
FROM grid g
LEFT JOIN pv ON pv.user_id = g.user_id AND pv.g = g.g
LEFT JOIN nv ON nv.user_id = g.user_id AND nv.g = g.g
ORDER BY g.user_id, grid_ts
""",
)
def interpolate_linear_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly LINEAR interpolation of each user's event value — the
    gap-fill companion to resample_hourly_ffill for signals where
    step-hold is wrong (sensor readings, prices). Spark side: the grid
    and the events union into ONE per-user sorted window pass; the
    bracketing events come from two frames over the same sort (last
    event <= t, first event > t), so the whole operator costs one
    data shuffle regardless of grid resolution. The interpolated value
    mixes exact integer microsecond offsets into one double expression
    evaluated in the same op order as the oracle — bit-identical before
    the 1e-6 presentation rounding. Boundary semantics: grid points at
    or after an event take the event side (fraction 0); points before
    the first / after the last event are null."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select("user_id", "ts", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("g"),
    )
    evs = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("side"),
        F.struct("ts", "value").alias("e"),
    )
    grids = grid.select(
        "user_id",
        F.col("g").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("struct<ts:timestamp,value:double>").alias("e"),
    )
    u = evs.unionByName(grids)
    # events sort before an equal-ts grid point: prev is inclusive (<=),
    # next frame starts after the current row so it stays strict (>)
    order = [F.col("t").asc(), F.col("side").asc()]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marked = u.select(
        "user_id",
        "t",
        "side",
        F.last("e", ignorenulls=True).over(w_prev).alias("p"),
        F.first("e", ignorenulls=True).over(w_next).alias("nx"),
    ).filter(F.col("side") == 1)
    frac = (
        F.unix_micros(F.col("t")) - F.unix_micros(F.col("p.ts"))
    ).cast("double") / (
        F.unix_micros(F.col("nx.ts")) - F.unix_micros(F.col("p.ts"))
    ).cast("double")
    interp = F.col("p.value") + (F.col("nx.value") - F.col("p.value")) * frac
    # a grid point landing exactly on an event needs no right bracket —
    # without this, the grid point at the LAST event would null out
    value = F.when(
        F.col("p.ts") == F.col("t"), F.round(F.col("p.value") * 1000000) / 1000000
    ).otherwise(F.round(interp * 1000000) / 1000000)
    return marked.select(
        "user_id",
        F.col("t").alias("grid_ts"),
        value.alias("value_interp"),
    ).orderBy("user_id", "grid_ts")


@register(
    "trend_slope_daily_value",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(x * yc) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
         AS slope_cents_per_day,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) * 1000000) / 1000000 AS intercept_cents
FROM m ORDER BY event_type
""",
)
def trend_slope_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope + intercept of daily value vs time)
    computed from EXACT integer moment sums — the cross-engine-safe
    replacement for regr_slope/regr_intercept, whose float partial
    sums are accumulation-order-dependent and therefore can't be
    hash-gated. x = epoch-day index, y = exact daily cents, so n, Σx,
    Σy, Σxy, Σx² are all exact int64 (partial-aggregable map-side —
    the sufficient-statistics pattern that makes regression one
    shuffle at any scale); the closed-form slope/intercept are then
    single double divisions of exact integers, bit-identical in both
    engines before presentation rounding."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    x = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("long")
    m = daily.select("event_type", x.alias("x"), "yc").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("x") * F.col("yc")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "event_type",
        "n",
        (F.round(slope * 1000000) / 1000000).alias("slope_cents_per_day"),
        (F.round(intercept * 1000000) / 1000000).alias("intercept_cents"),
    ).orderBy("event_type")


@register(
    "rolling_corr_click_purchase",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY CAST(ts AS DATE)
),
w AS (
  SELECT day, x, y,
         CAST(count(*) OVER win AS BIGINT) AS n,
         CAST(SUM(x) OVER win AS BIGINT) AS sx,
         CAST(SUM(y) OVER win AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER win AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER win AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER win AS BIGINT) AS syy
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS VARCHAR) AS day, n,
       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
            ELSE round(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1000000) / 1000000
       END AS r2_signed
FROM w ORDER BY day
""",
)
def rolling_corr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day ROLLING Pearson correlation between daily click and
    purchase value — the co-movement monitor a metrics platform runs,
    hash-gateable where F.corr cannot be (float partial sums are
    accumulation-order-dependent): every windowed moment (n, Σx, Σy,
    Σxy, Σx², Σy²) is an exact int64 sum of exact daily cents, and the
    reported statistic is the sqrt-free SIGNED r² (monotone in r),
    assembled from those integers with one double cast per factor —
    identical op order in both engines. The rolling frame runs over
    the bounded calendar domain. Int64 headroom covers daily sums to
    ~1e9 cents; beyond that promote the moment sums to DECIMAL with
    the same shape."""
    ev = load_table(spark, sf_dir, "events")
    cents_v = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", cents_v).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents_v).otherwise(0)
        ).alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        F.count("*").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r2s = (
        F.when(num >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * num.cast("double")
        * num.cast("double")
        / (denx.cast("double") * deny.cast("double"))
    )
    return w.select(
        F.col("day").cast("string").alias("day"),
        "n",
        F.when((denx == 0) | (deny == 0), F.lit(None).cast("double"))
        .otherwise(F.round(r2s * 1000000) / 1000000)
        .alias("r2_signed"),
    ).orderBy("day")


@register(
    "holt_linear_daily_value",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
           / count(*) AS x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(ts AS DATE)) AS rn,
         CAST(ts AS DATE) AS day
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
r AS (
  SELECT event_type, day, rn, x, x AS lvl, CAST(0.0 AS DOUBLE) AS trend
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.event_type, d.day, d.rn, d.x,
         0.3 * d.x + 0.7 * (r.lvl + r.trend),
         0.1 * (0.3 * d.x + 0.7 * (r.lvl + r.trend) - r.lvl) + 0.9 * r.trend
  FROM daily d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       round(lvl * 1000000) / 1000000 AS level,
       round(trend * 1000000) / 1000000 AS trend,
       round((lvl + trend) * 1000000) / 1000000 AS forecast_next
FROM r ORDER BY event_type, day
""",
)
def holt_linear_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=0.3 β=0.1)
    of the daily mean event value per type — the trend-aware successor
    to the EWMA operator, carrying TWO recursively-coupled states:
    l_t = αx_t + (1−α)(l_{t−1}+b_t−1), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}.
    Same execution doctrine as ewma_daily_event_value: daily pre-agg
    collapses the raw table, then a per-group HOF prefix scan carries
    (level, trend) through the calendar in ONE pass; DuckDB replays
    the identical recursion as a recursive CTE on bit-identical exact
    cents inputs, same IEEE op order — hash-exact at the 1e-6 grid.
    forecast_next = l_t + b_t is the one-step-ahead prediction."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100
            / F.count("*")
        ).alias("x")
    )
    per_type = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    def step(acc, s):
        last = F.element_at(acc, -1)
        new_lvl = F.lit(0.3) * s["x"] + F.lit(0.7) * (
            last["lvl"] + last["trend"]
        )
        new_trend = (
            F.lit(0.1) * (new_lvl - last["lvl"]) + F.lit(0.9) * last["trend"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["day"].alias("day"),
                    s["x"].alias("x"),
                    F.when(F.size(acc) == 0, s["x"]).otherwise(new_lvl).alias(
                        "lvl"
                    ),
                    F.when(F.size(acc) == 0, F.lit(0.0))
                    .otherwise(new_trend)
                    .alias("trend"),
                )
            ),
        )
    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<day date, x double, "
            "lvl double, trend double>>)"
        ),
        step,
    )
    r6 = lambda c: F.round(c * 1000000) / 1000000  # noqa: E731
    return (
        per_type.select("event_type", F.explode(scan).alias("r"))
        .select(
            "event_type",
            F.col("r.day").cast("string").alias("day"),
            r6(F.col("r.lvl")).alias("level"),
            r6(F.col("r.trend")).alias("trend"),
            r6(F.col("r.lvl") + F.col("r.trend")).alias("forecast_next"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "rolling_median_daily_value",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       round(CAST(quantile_cont(cents, 0.5) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE))
         / 100 AS rolling_median
FROM daily ORDER BY event_type, day
""",
)
def rolling_median_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day ROLLING MEDIAN of daily value per event type — the robust
    smoother that shrugs off the spikes EWMA/Holt chase (the standard
    pre-filter before anomaly thresholds). percentile runs as a true
    WINDOW aggregate over exact integer cents, so the midpoint
    interpolation arithmetic is identical across engines
    (percentiles_exact doctrine in a rolling frame); the frame covers
    the bounded per-type calendar, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        (F.round(F.percentile("cents", 0.5).over(w)) / 100).alias(
            "rolling_median"
        ),
    ).orderBy("event_type", "day")


@register(
    "seasonal_dow_index",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
dow AS (
  SELECT event_type, CAST(isodow(day) AS INT) AS dow,
         CAST(SUM(cents) AS BIGINT) AS dow_cents,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type, isodow(day)
),
tot AS (
  SELECT event_type, CAST(SUM(dow_cents) AS BIGINT) AS all_cents,
         CAST(SUM(n_days) AS BIGINT) AS all_days
  FROM dow GROUP BY event_type
)
SELECT d.event_type, d.dow, d.n_days,
       round(CAST(d.dow_cents AS DOUBLE) / CAST(d.n_days AS DOUBLE)
             / (CAST(t.all_cents AS DOUBLE) / CAST(t.all_days AS DOUBLE))
             * 1000000) / 1000000 AS seasonal_index
FROM dow d JOIN tot t ON t.event_type = d.event_type
ORDER BY d.event_type, d.dow
""",
)
def seasonal_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type (mean daily value on
    each ISO weekday relative to the overall daily mean — the
    multiplicative seasonality factor a forecaster divides out before
    trend fitting with the Holt operator above). All ratios divide
    exact int64 sums in the same op order both engines; the per-type
    rollup runs over the bounded (type, dow) domain."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    dow = daily.groupBy(
        "event_type", F.dayofweek("day").alias("dow_sun1")
    ).agg(
        F.sum("cents").alias("dow_cents"), F.count("*").alias("n_days")
    ).select(
        "event_type",
        # Spark dayofweek is 1=Sunday; convert to ISO 1=Monday..7=Sunday
        F.when(F.col("dow_sun1") == 1, 7)
        .otherwise(F.col("dow_sun1") - 1)
        .cast("int")
        .alias("dow"),
        "dow_cents",
        "n_days",
    )
    tot = dow.groupBy("event_type").agg(
        F.sum("dow_cents").alias("all_cents"),
        F.sum("n_days").alias("all_days"),
    )
    idx = (
        F.col("dow_cents").cast("double") / F.col("n_days").cast("double")
    ) / (F.col("all_cents").cast("double") / F.col("all_days").cast("double"))
    return (
        dow.join(tot, "event_type")
        .select(
            "event_type",
            "dow",
            "n_days",
            (F.round(idx * 1000000) / 1000000).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


@register(
    "running_balance_clamped",
    oracle="""
WITH RECURSIVE led AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN -CAST(round(value * 100) AS BIGINT)
              ELSE CAST(round(value * 100) AS BIGINT) END AS delta,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 20
),
r AS (
  SELECT user_id, rn, delta,
         greatest(CAST(0 AS BIGINT), delta) AS bal
  FROM led WHERE rn = 1
  UNION ALL
  SELECT l.user_id, l.rn, l.delta,
         greatest(CAST(0 AS BIGINT), r.bal + l.delta)
  FROM led l JOIN r ON l.user_id = r.user_id AND l.rn = r.rn + 1
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(bal) AS BIGINT) AS peak_balance_cents,
       CAST(SUM(CASE WHEN bal = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_floor_hits,
       CAST(max(CASE WHEN rn = (SELECT max(rn) FROM led l2
                                WHERE l2.user_id = r.user_id)
                     THEN bal END) AS BIGINT) AS final_balance_cents
FROM r GROUP BY user_id ORDER BY user_id
""",
)
def running_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped running balance (a ledger with a zero floor: credits
    add, purchases debit, balance can never go negative) — the
    prototypical NON-LINEAR sequential recursion: b_t =
    max(0, b_{t−1} + δ_t) has no windowed closed form because every
    clamp erases history, so it joins the EWMA/Holt/capped-session
    family of per-key HOF prefix scans (exact integer cents through
    the whole scan — zero float anywhere). Inventory stockouts and
    prepaid-account metering are this exact operator. Output per user:
    event count, peak, floor-hit count, final balance."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    delta = F.when(
        F.col("event_type") == "purchase",
        -F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.round(F.col("value") * 100).cast("long"))
    led = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        "event_id",
        delta.alias("delta"),
    )
    per_user = led.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("tus", "event_id", "delta"))).alias(
            "s"
        )
    )
    def step(acc, s):
        last = F.element_at(acc, -1)
        prev = F.when(F.size(acc) == 0, F.lit(0).cast("long")).otherwise(
            last["bal"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    F.greatest(
                        F.lit(0).cast("long"), prev + s["delta"]
                    ).alias("bal")
                )
            ),
        )
    scan = F.aggregate(
        F.col("s"),
        F.expr("CAST(array() AS array<struct<bal bigint>>)"),
        step,
    )
    exploded = per_user.select(
        "user_id", F.posexplode(scan).alias("pos", "r")
    )
    n_per_user = per_user.select(
        "user_id", F.size("s").cast("long").alias("n_events")
    )
    agg = exploded.groupBy("user_id").agg(
        F.max("r.bal").alias("peak_balance_cents"),
        F.sum(F.when(F.col("r.bal") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_floor_hits"),
        F.max(F.struct(F.col("pos"), F.col("r.bal").alias("bal")))["bal"].alias(
            "final_balance_cents"
        ),
    )
    return (
        n_per_user.join(agg, "user_id")
        .select(
            "user_id",
            "n_events",
            "peak_balance_cents",
            "n_floor_hits",
            "final_balance_cents",
        )
        .orderBy("user_id")
    )


@register(
    "asof_nearest_event_join",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
           FROM events WHERE event_type = 'click'),
cand AS (
  SELECT p.purchase_id, p.user_id, p.p_ts, c.click_id, c.c_ts,
         abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)) AS abs_us,
         epoch_us(c.c_ts) - epoch_us(p.p_ts) AS delta_us,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)),
                                     c.c_ts, c.click_id) AS rn
  FROM p JOIN c ON c.user_id = p.user_id
   AND c.c_ts BETWEEN p.p_ts - INTERVAL 30 MINUTE
                  AND p.p_ts + INTERVAL 30 MINUTE
)
SELECT purchase_id, user_id, p_ts, click_id, c_ts,
       CAST(trunc(CAST(delta_us AS DOUBLE) / 1000000) AS BIGINT)
           AS delta_seconds
FROM cand WHERE rn = 1 ORDER BY purchase_id
""",
)
def asof_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join: each purchase matched to the closest
    click by the same user within +/- 30 minutes, in EITHER direction
    (ties -> the earlier click, then the lower event id) — the
    bidirectional sibling of asof_purchase_last_view's backward-only
    semantics, i.e. pandas ``merge_asof(direction='nearest')``
    distributed. Shape: one user-keyed band join (each purchase meets
    only the clicks inside its 1-hour band — never the user's full
    history), then a per-purchase argmin via min-of-struct
    (lexicographic (|delta|, ts, id) — no second window over the
    candidates). delta_seconds is signed (negative = click before
    purchase), floor-divided from exact integer microseconds."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    delta_us = F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("p_ts"))
    cand = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE")
        )
        & (
            F.col("c_ts")
            <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTE")
        ),
    ).select(
        "purchase_id",
        "user_id",
        "p_ts",
        F.struct(
            F.abs(delta_us).alias("abs_us"),
            F.col("c_ts").alias("c_ts"),
            F.col("click_id").alias("click_id"),
            delta_us.alias("delta_us"),
        ).alias("k"),
    )
    best = cand.groupBy("purchase_id", "user_id", "p_ts").agg(
        F.min("k").alias("k")
    )
    return best.select(
        "purchase_id",
        "user_id",
        "p_ts",
        F.col("k.click_id").alias("click_id"),
        F.col("k.c_ts").alias("c_ts"),
        # truncate toward zero (both engines: double division of exact
        # ints < 2^53, then int cast) — floor would skew negative deltas
        (F.col("k.delta_us") / 1000000).cast("long").alias("delta_seconds"),
    ).orderBy("purchase_id")


def fifo_match(
    buys: DataFrame, sells: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Distributed FIFO matching core: ``buys``/``sells`` carry
    (key, id, ts, qty) with qty > 0; returns one row per
    (buy_id, sell_id) consumption with its exact matched quantity.

    Cumulative quantities turn every lot and sell into a half-open
    interval on the key's consumption axis; "sell s drew
    min(hi)-max(lo) units of lot b" is interval intersection. Whale
    keys (one key holding most lots) set the design: the interval
    predicate no longer rides as a post-join filter on the bare key equi-join —
    that enumerated O(n_buys x n_sells) candidates per key, per-key
    QUADRATIC on a whale key. Both sides now explode onto a per-key
    1-D GRID of the consumption axis (the grid_join_value_time_
    neighbors doctrine, operators/joins.py): cell width = the key's
    average interval length, so each FIFO interval — the per-side
    intervals are consecutive, non-overlapping partitions of the axis
    — lands in O(1) cells on average and the (key, cell) equi-join
    enumerates only O(n + output) candidates. Pairs co-resident in
    several cells are kept exactly once, in the FIRST overlapping
    cell (greatest(lo)/C — no distinct shuffle); intervals past the
    matched region [0, min(total supply, total demand)) are pruned
    before exploding, so an unmatched whale tail costs nothing.
    Property contracts (conservation per lot/sell, total =
    min(supply, demand), exact equality with a sequential FIFO
    simulator, whale-key candidate bound) are pinned by hypothesis
    tests in tests/test_temporal.py."""

    def legs(df: DataFrame, id_alias: str):
        return df.select(
            key,
            F.col("id").alias(id_alias),
            "ts",
            "qty",
        ).select(
            key,
            id_alias,
            (F.sum("qty").over(
                Window.partitionBy(key).orderBy("ts", id_alias)
            ) - F.col("qty")).alias("lo"),
            F.sum("qty").over(
                Window.partitionBy(key).orderBy("ts", id_alias)
            ).alias("hi"),
        )

    b = legs(buys, "buy_id").withColumnsRenamed({"lo": "b_lo", "hi": "b_hi"})
    s2 = (
        legs(sells, "sell_id")
        .withColumnsRenamed({"lo": "s_lo", "hi": "s_hi"})
        .withColumnRenamed(key, "_s_key")
    )
    # per-key grid stats: matched region _m = min(total bought, total
    # sold); cell width _c = average interval length over both sides
    # (>= 1). All long arithmetic, `div` not float floor (exact for
    # the full int64 range).
    stats = (
        b.groupBy(key)
        .agg(F.max("b_hi").alias("_tb"), F.count("*").alias("_nb"))
        .join(
            s2.groupBy("_s_key").agg(
                F.max("s_hi").alias("_ts"), F.count("*").alias("_ns")
            ),
            F.col("_s_key") == F.col(key),
        )
        .select(
            key,
            F.least("_tb", "_ts").alias("_m"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("least(_tb, _ts) div (_nb + _ns)"),
            ).alias("_c"),
        )
    )

    def gridded(df: DataFrame, join_key: str, lo: str, hi: str) -> DataFrame:
        st = stats if join_key == key else stats.withColumnRenamed(
            key, join_key
        )
        return (
            df.join(st, join_key)
            # interval starts past the matched region -> can never
            # intersect the other side; prune BEFORE the explode
            .filter(F.col(lo) < F.col("_m"))
            .withColumn("_hic", F.least(F.col(hi), F.col("_m")))
            .withColumn(
                "_cell",
                F.explode(
                    F.sequence(
                        F.expr(f"{lo} div _c"), F.expr(f"(_hic - 1) div _c")
                    )
                ),
            )
            .drop("_hic", "_m")
        )

    bg = gridded(b, key, "b_lo", "b_hi")
    sg = gridded(s2, "_s_key", "s_lo", "s_hi").drop("_c")
    return (
        bg.join(
            sg,
            (F.col("_s_key") == F.col(key))
            & (sg["_cell"] == bg["_cell"])
            & (F.col("s_lo") < F.col("b_hi"))
            & (F.col("b_lo") < F.col("s_hi"))
            # emit each pair exactly once: in the first cell the
            # overlap touches
            & (bg["_cell"] == F.expr("greatest(b_lo, s_lo) div _c")),
        )
        .select(
            key,
            "buy_id",
            "sell_id",
            (F.least("b_hi", "s_hi") - F.greatest("b_lo", "s_lo")).alias(
                "matched_qty"
            ),
        )
    )


@register(
    "fifo_lot_matching",
    oracle="""
WITH buys AS (
  SELECT user_id, event_id AS buy_id, ts,
         CAST(round(value * 100) AS BIGINT) AS qty
  FROM events WHERE event_type = 'click' AND user_id < 100
),
sells AS (
  SELECT user_id, event_id AS sell_id, ts,
         CAST(round(value * 100) AS BIGINT) AS qty
  FROM events WHERE event_type = 'purchase' AND user_id < 100
),
b AS (
  SELECT user_id, buy_id,
         SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, buy_id) - qty
             AS b_lo,
         SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, buy_id) AS b_hi
  FROM buys
),
s AS (
  SELECT user_id, sell_id,
         SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, sell_id) - qty
             AS s_lo,
         SUM(qty) OVER (PARTITION BY user_id ORDER BY ts, sell_id) AS s_hi
  FROM sells
)
SELECT b.user_id AS user_id, b.buy_id AS buy_id, s.sell_id AS sell_id,
       CAST(least(b.b_hi, s.s_hi) - greatest(b.b_lo, s.s_lo) AS BIGINT)
           AS matched_qty
FROM b JOIN s ON s.user_id = b.user_id
 AND s.s_lo < b.b_hi AND b.b_lo < s.s_hi
ORDER BY user_id, buy_id, sell_id
""",
)
def fifo_lot_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — the inventory/cost-basis allocator: each
    user's purchases (sells) consume their clicks (buy lots) strictly
    in time order, and the output says which sell drew how much from
    which lot. The classic elegant distributed formulation: cumulative
    quantities turn every lot and every sell into a half-open INTERVAL
    on the user's consumption axis ([cum_before, cum_after)), and
    "sell s consumed min(hi)-max(lo) units of lot b" is exactly
    interval intersection — so the whole matcher is two user-keyed
    running sums plus ONE user-keyed band join, no iteration, no
    per-user loop, exact int64 cents throughout. Windows partition on
    user_id (high-cardinality); each sell meets only the lots its
    interval overlaps, so join fan-out is output-sized. The unmatched
    tail (sells beyond total bought, lots never consumed) simply
    produces no intervals to intersect. Scoped to user_id < 100 to
    keep the checked output bounded."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    from spark_lever_spark.functions.exact import cents

    def leg(event_type: str):
        return ev.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.col("event_id").alias("id"),
            "ts",
            cents(F.col("value")).alias("qty"),
        )

    return fifo_match(leg("click"), leg("purchase")).orderBy(
        "user_id", "buy_id", "sell_id"
    )


# ---------------------------------------------------------------------------
# gap interpolation and interval concurrency
# ---------------------------------------------------------------------------


@register(
    "linear_interpolate_hourly_gaps",
    oracle="""
WITH obs AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(max(round(value * 100)) AS BIGINT) AS v
  FROM events
  WHERE event_type = 'purchase' AND value >= 180
  GROUP BY 1
),
cal AS (
  SELECT unnest(generate_series((SELECT min(h) FROM obs),
                                (SELECT max(h) FROM obs),
                                INTERVAL 1 HOUR)) AS h
),
j AS (
  SELECT cal.h, obs.v,
         CAST(date_diff('hour', TIMESTAMP '2024-01-01', cal.h) AS BIGINT)
             AS hi
  FROM cal LEFT JOIN obs ON obs.h = cal.h
),
spans AS (
  SELECT h, hi, v,
         max(CASE WHEN v IS NOT NULL THEN hi END)
             OVER (ORDER BY hi ROWS UNBOUNDED PRECEDING) AS h1,
         last_value(v IGNORE NULLS)
             OVER (ORDER BY hi ROWS UNBOUNDED PRECEDING) AS v1,
         min(CASE WHEN v IS NOT NULL THEN hi END)
             OVER (ORDER BY hi ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS h2,
         first_value(v IGNORE NULLS)
             OVER (ORDER BY hi ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS v2
  FROM j
)
SELECT CAST(h AS TIMESTAMP) AS hour,
       CAST(CASE WHEN v IS NOT NULL THEN v
            ELSE v1 + CAST(trunc(CAST((v2 - v1) * (hi - h1) AS DOUBLE)
                                 / (h2 - h1)) AS BIGINT) END
            AS BIGINT) AS value_cents,
       CAST(v IS NULL AS BOOLEAN) AS is_interpolated
FROM spans ORDER BY hour
""",
)
def linear_interpolate_hourly_gaps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear interpolation over time-series gaps — the resampling
    sibling of the LOCF/ffill operator: the hourly max of large
    purchases (a sparse series: most hours have no observation) is
    densified onto the full hour calendar, and every missing hour gets
    v1 + (v2-v1)*(h-h1)/(h2-h1) from its bracketing observations.
    EXACT arithmetic: values are int64 cents, hours are int64 epoch
    indexes, and the one division is a truncating division of exact
    int64 products (< 2^53; Spark (x/y).cast('long') paired with
    DuckDB trunc(), the documented cross-engine pair — floor would
    differ on negative slopes). Shape: the series is an AGGREGATE
    domain (<= span hours regardless of raw volume), the calendar is
    one sequence() explode of a 1-row min/max aggregate, and the
    bracketing scan is two ordered windows over that bounded domain —
    the raw 100 TB table is touched by exactly one groupBy."""
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 180))
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.max(F.round(F.col("value") * 100)).cast("long").alias("v"))
    )
    mm = obs.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    cal = mm.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    j = cal.join(obs, "h", "left").withColumn(
        "hi",
        (
            F.unix_micros(F.col("h").cast("timestamp"))
            - F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
        )
        / F.lit(3600000000)
    ).withColumn("hi", F.col("hi").cast("long"))
    wp = Window.orderBy("hi").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("hi").rowsBetween(0, Window.unboundedFollowing)
    spans = j.select(
        "h",
        "hi",
        "v",
        F.max(F.when(F.col("v").isNotNull(), F.col("hi"))).over(wp).alias("h1"),
        F.last("v", ignorenulls=True).over(wp).alias("v1"),
        F.min(F.when(F.col("v").isNotNull(), F.col("hi"))).over(wn).alias("h2"),
        F.first("v", ignorenulls=True).over(wn).alias("v2"),
    )
    interp = F.col("v1") + (
        ((F.col("v2") - F.col("v1")) * (F.col("hi") - F.col("h1")))
        / (F.col("h2") - F.col("h1"))
    ).cast("long")
    return spans.select(
        F.col("h").alias("hour"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(interp)
        .cast("long")
        .alias("value_cents"),
        F.col("v").isNull().alias("is_interpolated"),
    ).orderBy("hour")


@register(
    "interval_max_concurrency_daily",
    oracle="""
WITH iv AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT d, lo AS t, 1 AS delta FROM iv WHERE lo < hi
  UNION ALL
  SELECT d, hi AS t, -1 AS delta FROM iv WHERE lo < hi
),
grouped AS (
  SELECT d, t, delta, CAST(sum(delta) AS BIGINT) AS net
  FROM bounds GROUP BY d, t, delta
),
run AS (
  SELECT d, t, delta,
         CAST(sum(net) OVER (PARTITION BY d ORDER BY t, delta
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS conc
  FROM grouped
),
best AS (
  SELECT d, t, conc,
         row_number() OVER (PARTITION BY d
                            ORDER BY conc DESC, t, delta) AS rn
  FROM run
)
SELECT CAST(d AS TIMESTAMP) AS day, CAST(conc AS BIGINT) AS max_concurrent,
       CAST(t AS TIMESTAMP) AS at_ts
FROM best WHERE rn = 1 ORDER BY day
""",
)
def interval_max_concurrency_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximum interval overlap (peak concurrency) per day — the
    sweep-line classic: each user's daily activity span [first event,
    last event) becomes a +1/-1 boundary pair, and peak concurrency is
    the max prefix sum of boundaries ordered by (ts, delta) — the -1
    first at equal timestamps encodes half-open intervals (a span
    ending exactly when another starts never overlaps it).
    Determinism subtlety the oracle mirrors exactly: boundaries are
    pre-aggregated to (day, ts, delta) NET rows before the running
    sum, because a prefix sum over DUPLICATE (ts, delta) keys has
    order-dependent intermediate values — the aggregated domain makes
    every prefix value well-defined in both engines. Zero-width spans
    (single-event users) are dropped up front: they can never overlap
    anything. Day-partitioned windows over the boundary aggregate;
    the raw table is touched by one (user, day) groupBy."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).filter(
        F.col("lo") < F.col("hi")
    )
    bounds = iv.select(
        "d", F.col("lo").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("d", F.col("hi").alias("t"), F.lit(-1).alias("delta"))
    )
    grouped = bounds.groupBy("d", "t", "delta").agg(
        F.sum("delta").alias("net")
    )
    w = Window.partitionBy("d").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = grouped.withColumn("conc", F.sum("net").over(w))
    best = run.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("d").orderBy(
                F.desc("conc"), "t", "delta"
            )
        ),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("d").alias("day"),
        F.col("conc").cast("long").alias("max_concurrent"),
        F.col("t").alias("at_ts"),
    ).orderBy("day")


@register(
    "missing_days_spine",
    oracle="""
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS mn,
         CAST(max(o_orderdate) AS DATE) AS mx
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
             AS day
  FROM bounds
),
active AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
)
SELECT CAST(date_trunc('month', s.day) AS TIMESTAMP) AS month,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN a.day IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_active,
       CAST(sum(CASE WHEN a.day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing
FROM spine s LEFT JOIN active a ON a.day = s.day
GROUP BY 1 ORDER BY month
""",
)
def missing_days_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification — the gap AUDIT every pipeline
    needs before time-series features: generate the full day spine
    between the data's min and max date (F.sequence + explode over a
    broadcast 1-row bounds aggregate), left-join the observed distinct
    days, and report active/missing days per month. The spine is
    calendar-domain (days between bounds — thousands of rows at any
    data size), so it BROADCASTS against the aggregate-domain distinct
    days; raw orders are scanned twice only in the two 1-pass
    aggregates (bounds, distinct days), never joined row-level. The
    inverse of resample_hourly_ffill: this one tells you WHERE the
    holes are instead of filling them."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day")
    )
    bounds = o.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    )
    active = o.distinct().withColumn("active", F.lit(1))
    return (
        spine.join(active, "day", "left")
        .groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.coalesce("active", F.lit(0))).alias("n_active"),
            F.sum(
                F.when(F.col("active").isNull(), 1).otherwise(0)
            ).alias("n_missing"),
        )
        .orderBy("month")
    )


@register(
    "theil_sen_daily_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
slopes AS (
  SELECT d1.event_type,
         CAST(d2.yc - d1.yc AS DOUBLE) / CAST(d2.x - d1.x AS DOUBLE)
             AS slope
  FROM daily d1 JOIN daily d2
    ON d2.event_type = d1.event_type AND d2.x > d1.x
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope)
             AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM slopes
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_pairs,
       round(SUM(slope) / count(*) * 1000000) / 1000000
           AS ts_slope_cents_per_day
FROM ranked
WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
GROUP BY event_type ORDER BY event_type
""",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of
    daily value vs time, per event type — the estimator that survives
    up to ~29% outlier days, where `trend_slope_daily_value`'s OLS
    slope (same daily domain) is dragged arbitrarily far by one bad
    day. The O(days^2) pair grid is formed strictly on the AGGREGATE
    domain: days are bounded by calendar time, not data volume, so at
    100 TB the grid is the same size as at sf0.001 — the raw shuffle
    is one (event_type, day) aggregation with map-side partials.
    Each pairwise slope is ONE double division of exact int64s
    (bit-identical cross-engine); the median picks the middle one or
    two of those doubles by rank (avg of 2 known-order doubles is
    exact-safe), then presentation-rounds to 1e-6."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    daily = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "yc",
    )
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    slopes = d1.join(
        d2,
        (F.col("d2.event_type") == F.col("d1.event_type"))
        & (F.col("d2.x") > F.col("d1.x")),
    ).select(
        F.col("d1.event_type").alias("event_type"),
        (
            (F.col("d2.yc") - F.col("d1.yc")).cast("double")
            / (F.col("d2.x") - F.col("d1.x")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    mid = ranked.where(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("n").alias("n_pairs"),
            (
                F.round(F.sum("slope") / F.count("*") * 1000000) / 1000000
            ).alias("ts_slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


@register(
    "seasonal_naive_error_ratio",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
e7 AS (
  SELECT d.event_type, CAST(count(*) AS BIGINT) AS n7,
         CAST(SUM(abs(d.yc - p.yc)) AS BIGINT) AS sae7_cents
  FROM daily d JOIN daily p
    ON p.event_type = d.event_type AND p.x = d.x - 7
  GROUP BY d.event_type
),
e1 AS (
  SELECT d.event_type, CAST(count(*) AS BIGINT) AS n1,
         CAST(SUM(abs(d.yc - p.yc)) AS BIGINT) AS sae1_cents
  FROM daily d JOIN daily p
    ON p.event_type = d.event_type AND p.x = d.x - 1
  GROUP BY d.event_type
)
SELECT e7.event_type AS event_type, n7, sae7_cents, n1, sae1_cents,
       round(CAST(sae7_cents * n1 AS DOUBLE)
             / CAST(sae1_cents * n7 AS DOUBLE) * 1000000) / 1000000
           AS seasonal_vs_naive_ratio
FROM e7 JOIN e1 ON e1.event_type = e7.event_type
ORDER BY e7.event_type
""",
)
def seasonal_naive_error_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecastability diagnostic: mean absolute error of the
    SEASONAL-naive predictor (value 7 days ago) versus the plain
    naive predictor (value yesterday), per event type — ratio < 1
    means the series has real weekly structure worth modeling, the
    denominator role MASE gives the naive forecast (Hyndman &
    Koehler 2006). Both error sums live on the (event_type, day)
    aggregate domain and are EXACT int64 cents; the lags are calendar
    equi-joins on x-7 / x-1 (not row-offset lags, so date gaps never
    silently shift the season). The published ratio cross-multiplies
    the two exact (sum, count) pairs into one int64-vs-int64 double
    division — bit-identical cross-engine before 1e-6 rounding."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "yc",
        )
    )

    def lag_err(k: int, n_name: str, s_name: str) -> DataFrame:
        d, p = daily.alias("d"), daily.alias("p")
        return (
            d.join(
                p,
                (F.col("p.event_type") == F.col("d.event_type"))
                & (F.col("p.x") == F.col("d.x") - k),
            )
            .groupBy(F.col("d.event_type").alias("event_type"))
            .agg(
                F.count("*").alias(n_name),
                F.sum(F.abs(F.col("d.yc") - F.col("p.yc"))).alias(s_name),
            )
        )

    e7 = lag_err(7, "n7", "sae7_cents")
    e1 = lag_err(1, "n1", "sae1_cents")
    ratio = (F.col("sae7_cents") * F.col("n1")).cast("double") / (
        F.col("sae1_cents") * F.col("n7")
    ).cast("double")
    return (
        e7.join(e1, "event_type")
        .select(
            "event_type",
            "n7",
            "sae7_cents",
            "n1",
            "sae1_cents",
            (F.round(ratio * 1000000) / 1000000).alias(
                "seasonal_vs_naive_ratio"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "max_drawdown_daily_value",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
curve AS (
  SELECT event_type, x,
         SUM(yc) OVER (PARTITION BY event_type ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily
),
dd AS (
  SELECT event_type, x, cum,
         MAX(cum) OVER (PARTITION BY event_type ORDER BY x
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM curve
),
ranked AS (
  SELECT event_type, x, cum, peak, peak - cum AS drawdown,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY peak - cum DESC, x) AS rn
  FROM dd
)
SELECT event_type,
       CAST(drawdown AS BIGINT) AS max_drawdown_cents,
       CAST(x AS BIGINT) AS trough_x,
       CAST(peak AS BIGINT) AS peak_cents,
       round(CAST(drawdown AS DOUBLE) / CAST(peak AS DOUBLE)
             * 1000000) / 1000000 AS drawdown_frac
FROM ranked WHERE rn = 1 ORDER BY event_type
""",
)
def max_drawdown_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximum drawdown of the cumulative daily-value curve per event
    type — the peak-to-trough risk metric (with trough day, peak
    level, and drawdown fraction) that EWMA/Holt smoothing cannot
    see because it is an extremum of a PATH, not a moment. Three
    stacked prefix scans on the bounded (event_type, day) aggregate
    domain: cumulative sum -> running max -> rank by gap, all exact
    int64 cents inside one per-type window partitioning (a single
    shuffle whose width is calendar days, invariant in corpus size);
    the only double is the final fraction — one division of two
    exact int64s, then 1e-6 presentation rounding."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    daily = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "yc",
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = daily.withColumn("cum", F.sum("yc").over(wcum)).withColumn(
        "peak", F.max(F.sum("yc").over(wcum)).over(wcum)
    )
    ranked = curve.withColumn(
        "drawdown", F.col("peak") - F.col("cum")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("drawdown").desc(), "x"
            )
        ),
    )
    frac = F.col("drawdown").cast("double") / F.col("peak").cast("double")
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("drawdown").alias("max_drawdown_cents"),
            F.col("x").alias("trough_x"),
            F.col("peak").alias("peak_cents"),
            (F.round(frac * 1000000) / 1000000).alias("drawdown_frac"),
        )
        .orderBy("event_type")
    )


@register(
    "interval_overlap_join_bursts",
    oracle="""
WITH a AS (
  SELECT event_id AS a_id, user_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) - 600 AS s_a,
         date_diff('second', TIMESTAMP '1970-01-01', ts) + 600 AS e_a
  FROM events WHERE event_type = 'click' AND user_id < 50
),
b AS (
  SELECT event_id AS b_id, user_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) - 600 AS s_b,
         date_diff('second', TIMESTAMP '1970-01-01', ts) + 600 AS e_b
  FROM events WHERE event_type = 'purchase' AND user_id < 50
)
SELECT a.a_id, b.b_id, a.user_id,
       CAST(least(a.e_a, b.e_b) - greatest(a.s_a, b.s_b) AS BIGINT)
           AS overlap_seconds
FROM a JOIN b ON b.user_id = a.user_id
WHERE least(a.e_a, b.e_b) > greatest(a.s_a, b.s_b)
ORDER BY a_id, b_id
""",
)
def interval_overlap_join_bursts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERVAL-OVERLAP JOIN with overlap duration: pair every click
    burst (click ± 10 min) with every purchase burst (purchase ±
    10 min) of the same user that it overlaps, reporting the overlap
    in exact integer seconds — the temporal-join primitive behind
    "was the user mid-session when the purchase happened"
    (PostgreSQL's `&&` range join / IEJoin's overlap case). Catalyst
    can only nested-loop a raw (start < end AND end > start)
    condition, so both interval sets are exploded onto fixed 1200-s
    grid cells and the join runs as a HASH join on (user, cell); a
    pair whose overlap spans several cells is emitted exactly once by
    the first-overlap-cell rule (cell = greatest(s_a, s_b) div W —
    the same dedup the FIFO grid join uses, fifo_lot_matching). The
    fan-out per interval is span/W + 1 = 2 cells, a query constant:
    the plan is scale-invariant and the oracle's quadratic per-user
    formulation is exactly what the grid is NOT doing."""
    width = 1200
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)

    def bursts(etype: str, id_alias: str, s: str, e: str) -> DataFrame:
        sec = F.unix_timestamp("ts").cast("long")
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            "user_id",
            (sec - 600).alias(s),
            (sec + 600).alias(e),
        )

    a = bursts("click", "a_id", "s_a", "e_a")
    b = bursts("purchase", "b_id", "s_b", "e_b")
    a_cells = a.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.expr(f"s_a div {width}"), F.expr(f"e_a div {width}")
            )
        ),
    )
    b_cells = b.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.expr(f"s_b div {width}"), F.expr(f"e_b div {width}")
            )
        ),
    )
    joined = a_cells.join(b_cells, ["user_id", "cell"]).where(
        (F.least("e_a", "e_b") > F.greatest("s_a", "s_b"))
        & (
            F.col("cell")
            == F.expr(f"greatest(s_a, s_b) div {width}")
        )
    )
    return joined.select(
        "a_id",
        "b_id",
        "user_id",
        (F.least("e_a", "e_b") - F.greatest("s_a", "s_b"))
        .cast("long")
        .alias("overlap_seconds"),
    ).orderBy("a_id", "b_id")


@register(
    "rolling_ols_trend_14d",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', o_orderdate) AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT priority, x,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(yc) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * yc) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY priority ORDER BY x
               RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT priority, CAST(x AS BIGINT) AS x, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
           AS slope_cents_per_day
FROM m WHERE n >= 10
ORDER BY priority, x
""",
)
def rolling_ols_trend_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 14-calendar-day OLS trend per order priority — the
    local-trend feature a forecasting pipeline computes at every day
    (where `trend_slope_daily_value` fits ONE global line, this
    emits the slope as of each day over its trailing two weeks). The
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulate as exact
    int64 window sums over a RANGE frame keyed on the epoch-day
    integer — RANGE, not ROWS, so date gaps shrink the sample instead
    of silently stretching the window (the row-frame bug every naive
    rolling regression ships with); the closed-form slope is then one
    double division of exact int64 cross terms per row. Frames under
    10 observations are suppressed. One shuffle on the (priority)
    partitioning; the frame arithmetic is map-side within the sorted
    partition at any scale."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yc")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("x")
        .rangeBetween(-13, Window.currentRow)
    )
    m = daily.select(
        "priority",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("yc").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("yc")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    return (
        m.where(F.col("n") >= 10)
        .select(
            "priority",
            "x",
            "n",
            (F.round(slope * 1000000) / 1000000).alias(
                "slope_cents_per_day"
            ),
        )
        .orderBy("priority", "x")
    )


@register(
    "business_seconds_click_bursts",
    oracle="""
WITH b AS (
  SELECT event_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) - 600 AS s,
         date_diff('second', TIMESTAMP '1970-01-01', ts) + 600 AS e
  FROM events
),
per_day AS (
  SELECT b.event_id, b.event_type,
         greatest(0, least(b.e, d.d * 86400 + 61200)
                     - greatest(b.s, d.d * 86400 + 32400))
         * CASE WHEN (d.d + 4) % 7 BETWEEN 1 AND 5 THEN 1 ELSE 0 END
             AS ov
  FROM b, LATERAL (
    SELECT unnest(range(b.s // 86400, b.e // 86400 + 1)) AS d
  ) d
),
per_event AS (
  SELECT event_id, event_type, SUM(ov) AS biz
  FROM per_day GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN biz > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_business,
       CAST(SUM(biz) AS BIGINT) AS total_biz_seconds
FROM per_event GROUP BY event_type ORDER BY event_type
""",
)
def business_seconds_click_bursts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Business-hours interval clipping: how much of each event's
    ±10-minute activity burst falls inside Mon–Fri 09:00–17:00 UTC —
    the calendar-intersection primitive under SLA accounting and
    staffing analytics (`ship_latency_business_days` counts whole
    business DAYS; this clips arbitrary intervals to business SECONDS,
    which needs interval×calendar intersection, not date arithmetic).
    Pure integer epoch math: a burst explodes onto its covered epoch
    days (fan-out span/86400 + 1 = at most 2 — a query constant),
    each day contributes max(0, min(e, 17:00) - max(s, 09:00))
    gated by the weekday test (epoch day + 4) mod 7 in 1..5 — no
    timestamp/timezone functions anywhere near the arithmetic, so
    both engines compute identical int64s. Map-only until the final
    event_type rollup."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts").cast("long")
    b = ev.select(
        "event_id",
        "event_type",
        (sec - 600).alias("s"),
        (sec + 600).alias("e"),
    )
    per_day = b.withColumn(
        "d", F.explode(F.sequence(F.expr("s div 86400"), F.expr("e div 86400")))
    ).select(
        "event_id",
        "event_type",
        (
            F.greatest(
                F.lit(0).cast("long"),
                F.least(F.col("e"), F.col("d") * 86400 + 61200)
                - F.greatest(F.col("s"), F.col("d") * 86400 + 32400),
            )
            * F.when(
                ((F.col("d") + 4) % 7).between(1, 5), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("ov"),
    )
    per_event = per_day.groupBy("event_id", "event_type").agg(
        F.sum("ov").alias("biz")
    )
    return (
        per_event.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("biz") > 0, 1).otherwise(0)).alias(
                "n_in_business"
            ),
            F.sum("biz").alias("total_biz_seconds"),
        )
        .orderBy("event_type")
    )


@register(
    "xmr_control_chart_daily",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
mr AS (
  SELECT event_type, x, yc,
         abs(yc - lag(yc) OVER (PARTITION BY event_type ORDER BY x))
             AS mrange
  FROM daily
),
lim AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS BIGINT) AS sx,
         CAST(SUM(mrange) AS BIGINT) AS smr,
         CAST(SUM(yc) AS DOUBLE) / count(*)
           + 2.66 * (CAST(SUM(mrange) AS DOUBLE) / (count(*) - 1))
             AS ucl,
         CAST(SUM(yc) AS DOUBLE) / count(*)
           - 2.66 * (CAST(SUM(mrange) AS DOUBLE) / (count(*) - 1))
             AS lcl
  FROM mr GROUP BY event_type
)
SELECT l.event_type, l.n,
       round(CAST(l.sx AS DOUBLE) / l.n * 1000000) / 1000000
           AS xbar_cents,
       round(CAST(l.smr AS DOUBLE) / (l.n - 1) * 1000000) / 1000000
           AS mrbar_cents,
       round(l.ucl * 1000000) / 1000000 AS ucl_cents,
       round(l.lcl * 1000000) / 1000000 AS lcl_cents,
       CAST(SUM(CASE WHEN CAST(d.yc AS DOUBLE) > l.ucl
                       OR CAST(d.yc AS DOUBLE) < l.lcl
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_control
FROM lim l JOIN daily d ON d.event_type = l.event_type
GROUP BY l.event_type, l.n, l.sx, l.smr, l.ucl, l.lcl
ORDER BY l.event_type
""",
)
def xmr_control_chart_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) CONTROL CHART per event type —
    Shewhart statistical process control for daily value totals: the
    limits x̄ ± 2.66·mR̄ (2.66 = 3/d2 for n=2 subgroups) plus the
    out-of-control day count — the ops-monitoring primitive behind
    "is today's revenue swing noise or signal", complementary to
    cusum_changepoint_daily (CUSUM finds sustained LEVEL SHIFTS; the
    XmR chart flags INDIVIDUAL excursions against short-term
    variation). Exactness: x̄ and mR̄ are single divisions of exact
    int64 sums; the limits are identical two-term IEEE trees; the
    flag compare uses the UNROUNDED limits on both engines (rounding
    is presentation-only). Shapes: one (type, day) aggregation, one
    row-lag window on the bounded daily domain, and a broadcast-size
    limits join back to the daily rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "yc",
        )
    )
    w = Window.partitionBy("event_type").orderBy("x")
    mr = daily.withColumn(
        "mrange", F.abs(F.col("yc") - F.lag("yc").over(w))
    )
    xbar = F.col("sx").cast("double") / F.col("n")
    mrbar = F.col("smr").cast("double") / (F.col("n") - 1)
    lim = mr.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("yc").alias("sx"),
        F.sum("mrange").alias("smr"),
    ).select(
        "event_type",
        "n",
        "sx",
        "smr",
        (xbar + 2.66 * mrbar).alias("ucl"),
        (xbar - 2.66 * mrbar).alias("lcl"),
    )
    joined = lim.join(daily, "event_type")
    return (
        joined.groupBy(
            "event_type", "n", "sx", "smr", "ucl", "lcl"
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("yc").cast("double") > F.col("ucl"))
                    | (F.col("yc").cast("double") < F.col("lcl")),
                    1,
                ).otherwise(0)
            ).alias("n_out_of_control")
        )
        .select(
            "event_type",
            "n",
            (
                F.round(F.col("sx").cast("double") / F.col("n") * 1000000)
                / 1000000
            ).alias("xbar_cents"),
            (
                F.round(
                    F.col("smr").cast("double") / (F.col("n") - 1) * 1000000
                )
                / 1000000
            ).alias("mrbar_cents"),
            (F.round(F.col("ucl") * 1000000) / 1000000).alias("ucl_cents"),
            (F.round(F.col("lcl") * 1000000) / 1000000).alias("lcl_cents"),
            "n_out_of_control",
        )
        .orderBy("event_type")
    )


@register(
    "ffill_ttl_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', o_orderdate) AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
  FROM orders GROUP BY 1, 2
),
bounds AS (
  SELECT min(x) AS mn, max(x) AS mx FROM daily
),
spine AS (
  SELECT p.priority, s.x
  FROM (SELECT DISTINCT priority FROM daily) p
  CROSS JOIN (SELECT unnest(range(mn, mx + 1)) AS x FROM bounds) s
),
filled AS (
  SELECT sp.priority, sp.x, d.yc,
         last_value(d.yc IGNORE NULLS) OVER w AS carry,
         last_value(CASE WHEN d.yc IS NOT NULL THEN sp.x END
                    IGNORE NULLS) OVER w AS last_obs_x
  FROM spine sp LEFT JOIN daily d
    ON d.priority = sp.priority AND d.x = sp.x
  WINDOW w AS (PARTITION BY sp.priority ORDER BY sp.x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
status AS (
  SELECT priority, x, yc, carry, last_obs_x,
         CASE WHEN yc IS NOT NULL THEN 'observed'
              WHEN carry IS NULL THEN 'leading_null'
              WHEN x - last_obs_x <= 3 THEN 'filled'
              ELSE 'expired' END AS st,
         CASE WHEN yc IS NOT NULL THEN yc
              WHEN carry IS NOT NULL AND x - last_obs_x <= 3 THEN carry
              END AS value_out
  FROM filled
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN st = 'observed' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_observed,
       CAST(SUM(CASE WHEN st = 'filled' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_filled,
       CAST(SUM(CASE WHEN st = 'expired' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_expired,
       CAST(SUM(CASE WHEN st = 'leading_null' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leading_null,
       CAST(SUM(coalesce(value_out, 0)) AS BIGINT) AS sum_series_cents
FROM status GROUP BY priority ORDER BY priority
""",
)
def ffill_ttl_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill WITH A TTL: densify daily revenue onto the full
    calendar spine and carry the last observation forward AT MOST 3
    days — after that the series goes NULL ('expired') instead of
    repeating stale data forever, which is the guard plain LOCF
    (resample_hourly_ffill) lacks and every staleness-sensitive
    consumer (pricing, risk) requires. Two carries in ONE window pass
    (the value and the x it was observed at — the TTL test is pure
    integer day arithmetic on the second carry); the spine is a
    bounds-broadcast sequence explode, never a stored calendar. The
    published per-priority audit (observed/filled/expired/leading
    counts + the exact cents checksum of the emitted series) pins
    every branch of the TTL state machine in both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("yc")
    )
    bounds = daily.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    spine = (
        daily.select("priority")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "priority",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("x"),
        )
    )
    joined = spine.join(daily, ["priority", "x"], "left")
    w = (
        Window.partitionBy("priority")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = joined.withColumns(
        {
            "carry": F.last("yc", ignorenulls=True).over(w),
            "last_obs_x": F.last(
                F.when(F.col("yc").isNotNull(), F.col("x")),
                ignorenulls=True,
            ).over(w),
        }
    )
    st = (
        F.when(F.col("yc").isNotNull(), F.lit("observed"))
        .when(F.col("carry").isNull(), F.lit("leading_null"))
        .when(F.col("x") - F.col("last_obs_x") <= 3, F.lit("filled"))
        .otherwise(F.lit("expired"))
    )
    value_out = F.when(F.col("yc").isNotNull(), F.col("yc")).when(
        F.col("carry").isNotNull()
        & (F.col("x") - F.col("last_obs_x") <= 3),
        F.col("carry"),
    )
    status = filled.select(
        "priority", st.alias("st"), value_out.alias("value_out")
    )
    return (
        status.groupBy("priority")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(F.when(F.col("st") == "observed", 1).otherwise(0)).alias(
                "n_observed"
            ),
            F.sum(F.when(F.col("st") == "filled", 1).otherwise(0)).alias(
                "n_filled"
            ),
            F.sum(F.when(F.col("st") == "expired", 1).otherwise(0)).alias(
                "n_expired"
            ),
            F.sum(
                F.when(F.col("st") == "leading_null", 1).otherwise(0)
            ).alias("n_leading_null"),
            F.sum(F.coalesce("value_out", F.lit(0))).alias(
                "sum_series_cents"
            ),
        )
        .orderBy("priority")
    )


@register(
    "hysteresis_alerts_daily",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS BIGINT) AS sx
  FROM daily GROUP BY event_type
),
marked AS (
  SELECT d.event_type, d.x,
         CASE WHEN 10 * d.yc * m.n > 12 * m.sx THEN 'H'
              WHEN 10 * d.yc * m.n < 8 * m.sx THEN 'L' END AS mark
  FROM daily d JOIN m ON m.event_type = d.event_type
),
seq AS (
  SELECT event_type, x, mark,
         lag(mark) OVER (PARTITION BY event_type ORDER BY x) AS prev
  FROM marked WHERE mark IS NOT NULL
),
alerts AS (
  SELECT event_type, x
  FROM seq WHERE mark = 'H' AND (prev IS NULL OR prev = 'L')
)
SELECT m.event_type, m.n AS n_days,
       (SELECT CAST(count(*) AS BIGINT) FROM marked k
         WHERE k.event_type = m.event_type AND k.mark = 'H')
           AS n_above_high,
       (SELECT CAST(count(*) AS BIGINT) FROM alerts a
         WHERE a.event_type = m.event_type) AS n_alerts,
       (SELECT CAST(min(x) AS BIGINT) FROM alerts a
         WHERE a.event_type = m.event_type) AS first_alert_x
FROM m ORDER BY m.event_type
""",
)
def hysteresis_alerts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALERTING WITH HYSTERESIS: fire when the daily value crosses
    above 120% of its mean, then stay silent until it first drops
    below 80% — the two-threshold debounce every paging system uses
    so a value oscillating around one threshold cannot flap (compare
    debounce_events_10m, which suppresses by TIME; hysteresis
    suppresses by STATE). The re-arm state machine runs without any
    sequential loop: restrict to crossing days (above-H or below-L),
    and an alert is an H whose PREVIOUS crossing is an L or nothing —
    one lag over the filtered subsequence. Threshold tests are exact
    integer cross-multiplications (10·y·n vs 12·Σy), so no derived
    mean ever becomes a float in a comparison."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "yc",
        )
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("yc").alias("sx")
    )
    marked = daily.join(F.broadcast(m), "event_type").select(
        "event_type",
        "x",
        F.when(
            10 * F.col("yc") * F.col("n") > 12 * F.col("sx"), F.lit("H")
        )
        .when(
            10 * F.col("yc") * F.col("n") < 8 * F.col("sx"), F.lit("L")
        )
        .alias("mark"),
    )
    seq = marked.where(F.col("mark").isNotNull()).withColumn(
        "prev",
        F.lag("mark").over(Window.partitionBy("event_type").orderBy("x")),
    )
    alerts = seq.where(
        (F.col("mark") == "H")
        & (F.col("prev").isNull() | (F.col("prev") == "L"))
    )
    agg_alerts = alerts.groupBy("event_type").agg(
        F.count("*").alias("n_alerts"),
        F.min("x").alias("first_alert_x"),
    )
    agg_high = (
        marked.where(F.col("mark") == "H")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_above_high"))
    )
    return (
        m.select("event_type", F.col("n").alias("n_days"))
        .join(agg_high, "event_type", "left")
        .join(agg_alerts, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            F.coalesce("n_above_high", F.lit(0)).cast("long").alias(
                "n_above_high"
            ),
            F.coalesce("n_alerts", F.lit(0)).cast("long").alias("n_alerts"),
            F.col("first_alert_x").cast("long"),
        )
        .orderBy("event_type")
    )


@register(
    "runs_test_daily_value",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
med AS (
  -- exact lower median per type: value at global rank ceil(n/2)
  SELECT event_type, yc AS m
  FROM (SELECT event_type, yc,
               row_number() OVER (PARTITION BY event_type ORDER BY yc)
                   AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM daily)
  WHERE rk = (n + 1) // 2
),
signs AS (
  SELECT d.event_type, d.x,
         CASE WHEN d.yc > m.m THEN 1 ELSE 0 END AS s
  FROM daily d JOIN med m ON m.event_type = d.event_type
  WHERE d.yc <> m.m
),
runs AS (
  SELECT event_type,
         -- run key must be SIGN-QUALIFIED: a + run and a - run can
         -- share the same rank offset (e.g. ++--++ has offsets
         -- {0,2,2} -> 2, but 3 true runs)
         CAST(count(DISTINCT s * 1000000 + (rn - rns)) AS BIGINT)
             AS n_runs,
         CAST(SUM(s) AS BIGINT) AS n_plus,
         CAST(SUM(1 - s) AS BIGINT) AS n_minus
  FROM (SELECT event_type, s,
               row_number() OVER (PARTITION BY event_type ORDER BY x)
                   AS rn,
               row_number() OVER (PARTITION BY event_type, s
                                  ORDER BY x) AS rns
        FROM signs)
  GROUP BY event_type
)
SELECT event_type, n_runs, n_plus, n_minus,
       round((CAST(n_runs AS DOUBLE)
              - (2.0 * n_plus * n_minus
                 / (n_plus + n_minus) + 1))
             / sqrt(2.0 * n_plus * n_minus
                    * (2.0 * n_plus * n_minus - n_plus - n_minus)
                    / ((n_plus + n_minus) * (n_plus + n_minus)
                       * (n_plus + n_minus - 1)))
             * 1000000) / 1000000 AS runs_z
FROM runs ORDER BY event_type
""",
)
def runs_test_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD–WOLFOWITZ RUNS TEST for serial randomness: split each
    type's daily values at their exact lower median (grank-style rank
    pick, median-equal days excluded so signs are unambiguous), count
    sign RUNS via the gaps-and-islands identity, and publish the
    z-score against the exact run-count null — too FEW runs means
    positive serial dependence (trending), too many means
    oscillation; the nonparametric cousin of autocorr_lag1_daily
    that needs no moment assumptions at all. The z expression is one
    fixed IEEE tree over three exact int64 counters; distinct-count
    of the SIGN-QUALIFIED (global rank − per-sign rank) IS the run
    count — each run is one constant difference, and the sign
    qualifier is load-bearing (a + run and a − run can share an
    offset: ++−−++ has offsets {0,2,2} but three true runs; both
    engines would have agreed on the WRONG count, which is exactly
    the shared-misconception class the python reference test
    exists to catch)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "yc",
        )
    )
    wv = Window.partitionBy("event_type").orderBy("yc")
    wn = Window.partitionBy("event_type")
    med = (
        daily.withColumn("rk", F.row_number().over(wv))
        .withColumn("n", F.count("*").over(wn))
        .where(F.col("rk") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("yc").alias("m"))
    )
    signs = (
        daily.join(med, "event_type")
        .where(F.col("yc") != F.col("m"))
        .select(
            "event_type",
            "x",
            F.when(F.col("yc") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    w_all = Window.partitionBy("event_type").orderBy("x")
    w_sgn = Window.partitionBy("event_type", "s").orderBy("x")
    runs = (
        signs.withColumns(
            {
                "rn": F.row_number().over(w_all),
                "rns": F.row_number().over(w_sgn),
            }
        )
        .groupBy("event_type")
        .agg(
            F.count_distinct(
                F.col("s") * 1000000 + (F.col("rn") - F.col("rns"))
            ).alias("n_runs"),
            F.sum("s").alias("n_plus"),
            F.sum(1 - F.col("s")).alias("n_minus"),
        )
    )
    np_, nm = F.col("n_plus"), F.col("n_minus")
    mu = 2.0 * np_ * nm / (np_ + nm) + 1
    var = (
        2.0
        * np_
        * nm
        * (2.0 * np_ * nm - np_ - nm)
        / ((np_ + nm) * (np_ + nm) * (np_ + nm - 1))
    )
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    return runs.select(
        "event_type",
        "n_runs",
        "n_plus",
        "n_minus",
        (F.round(z * 1000000) / 1000000).alias("runs_z"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Market microstructure, FP&A bridge, conformal bands
# ---------------------------------------------------------------------------


@register(
    "vwap_daily_lineitem",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_cents,
         CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem
)
SELECT day,
       CAST(SUM(qty) AS BIGINT) AS total_qty,
       CAST(SUM(ext_cents) AS BIGINT) AS total_cents,
       CAST(CAST(SUM(ext_cents) * 1000 AS BIGINT)
            // CAST(SUM(qty) AS BIGINT) AS BIGINT) AS vwap_millicents
FROM d GROUP BY day ORDER BY day
""",
)
def vwap_daily_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOLUME-weighted average price per ship day — the execution-cost
    benchmark of every trading/market-data stack (TWAP's sibling:
    twap_user_value weights by TIME in state, VWAP weights each print
    by its SIZE). One day-keyed aggregation of exact int64 (cents,
    units) pairs; the published per-unit price is a single int64
    floor-division to millicents (Spark `div` == DuckDB `//` on the
    non-negative sums), so no float accumulation ever happens. Scale
    shape: pure map-side cents/qty projection into one hash
    aggregation on the day key — partial aggregation does the heavy
    lifting; the day domain (~10^3-10^4 rows at any horizon) is the
    only thing shuffled."""
    from spark_lever_spark.functions.exact import cents

    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("day", F.col("l_shipdate")).alias("day"),
        cents(F.col("l_extendedprice")).alias("ext_cents"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return (
        li.groupBy("day")
        .agg(
            F.sum("qty").alias("total_qty"),
            F.sum("ext_cents").alias("total_cents"),
        )
        .select(
            "day",
            "total_qty",
            "total_cents",
            F.expr("total_cents * 1000 div total_qty").alias(
                "vwap_millicents"
            ),
        )
        .orderBy("day")
    )


@register(
    "price_volume_mix_bridge",
    oracle="""
WITH m AS (
  SELECT p.p_brand,
         CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate)
              AS BIGINT) AS yyyymm,
         CAST(year(l.l_shipdate) * 12 + (month(l.l_shipdate) - 1)
              AS BIGINT) AS mx,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
             AS qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2, 3
)
SELECT c.p_brand, c.yyyymm,
       p.rev_cents AS rev_prev_cents,
       c.rev_cents AS rev_cur_cents,
       c.rev_cents - p.rev_cents AS delta_cents,
       (c.qty - p.qty) * p.rev_cents // p.qty AS volume_effect_cents,
       c.rev_cents - p.rev_cents
         - ((c.qty - p.qty) * p.rev_cents // p.qty)
           AS price_mix_effect_cents
FROM m c JOIN m p ON p.p_brand = c.p_brand AND p.mx = c.mx - 1
ORDER BY c.p_brand, c.yyyymm
""",
)
def price_volume_mix_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE/VOLUME bridge ("revenue waterfall") per brand and month —
    the FP&A decomposition of a month-over-month revenue delta into
    the part explained by unit VOLUME at last month's realized price
    and the residual PRICE/MIX effect. Laspeyres-style volume effect
    (q1-q0)*(rev0/q0) is kept exact by floor-dividing the int64 cross
    product (Spark `div` == DuckDB `//`; rev0 >= 0 so truncation ==
    floor), and the price/mix term is defined as the exact residual —
    the two effects reconcile to the delta TO THE CENT, which is the
    property an auditor checks first. Prior month meets current month
    through a calendar EQUI-join on a month index (never a row-offset
    lag, so a brand absent one month breaks the chain instead of
    silently comparing across a gap). Scale: the (brand, month)
    aggregate domain is all that shuffles."""
    from spark_lever_spark.functions.exact import cents

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("long")
            .alias("yyyymm"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("long")
            .alias("mx"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("rev_cents"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
        )
    )
    c = m.alias("c")
    prev = m.select(
        F.col("p_brand").alias("pb"),
        (F.col("mx") + 1).alias("mx_next"),
        F.col("rev_cents").alias("rev_prev_cents"),
        F.col("qty").alias("qty_prev"),
    )
    j = c.join(
        prev,
        (F.col("c.p_brand") == F.col("pb"))
        & (F.col("c.mx") == F.col("mx_next")),
    )
    vol = F.expr(
        "(c.qty - qty_prev) * rev_prev_cents div qty_prev"
    )
    return j.select(
        F.col("c.p_brand").alias("p_brand"),
        F.col("c.yyyymm").alias("yyyymm"),
        "rev_prev_cents",
        F.col("c.rev_cents").alias("rev_cur_cents"),
        (F.col("c.rev_cents") - F.col("rev_prev_cents")).alias(
            "delta_cents"
        ),
        vol.alias("volume_effect_cents"),
        (F.col("c.rev_cents") - F.col("rev_prev_cents") - vol).alias(
            "price_mix_effect_cents"
        ),
    ).orderBy("p_brand", "yyyymm")


@register(
    "conformal_interval_seasonal_naive",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS yc
  FROM orders GROUP BY 1, 2
),
f AS (
  SELECT d.day, d.x, d.yc, p.yc AS fc
  FROM daily d JOIN daily p ON p.x = d.x - 7
),
cal AS (
  SELECT abs(yc - fc) AS r, x FROM f WHERE day < TIMESTAMP '2000-01-01'
),
rk AS (
  SELECT r, row_number() OVER (ORDER BY r, x) AS rn,
         count(*) OVER () AS n
  FROM cal
),
q AS (
  SELECT CAST(r AS BIGINT) AS q_hat
  FROM rk WHERE rn = LEAST(((n + 1) * 9 + 9) // 10, n)
)
SELECT day, yc AS actual_cents, fc AS forecast_cents,
       fc - q_hat AS lo_cents, fc + q_hat AS hi_cents,
       CAST(CASE WHEN yc BETWEEN fc - q_hat AND fc + q_hat
            THEN 1 ELSE 0 END AS BIGINT) AS covered
FROM f, q WHERE day >= TIMESTAMP '2000-01-01'
ORDER BY day
""",
)
def conformal_interval_seasonal_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals around the seasonal-naive
    forecaster (Vovk et al.; the distribution-free uncertainty wrapper
    modern forecasting pipelines ship instead of Gaussian bands):
    calibrate on pre-2000 absolute residuals of the value-7-days-ago
    predictor, take the ceil((n+1)*0.9)-quantile residual q_hat
    (rank clamped to n, so a tiny calibration set degrades to the max
    residual instead of an empty band), and
    band every post-2000 forecast as f +/- q_hat — finite-sample 90%
    coverage with NO distributional assumption. Everything is exact
    int64 cents: the quantile is the residual AT a computed rank
    (grank 2-pass, ties broken by day index — mirrored by the
    oracle's row_number), attached to the test rows as a 1-row
    broadcast scalar. Scale: residuals live on the day aggregate
    domain; the fact table is touched once."""
    from spark_lever_spark.functions.exact import cents
    from spark_lever_spark.operators.grank import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("yc"))
    prev = daily.select(
        (F.col("x") + 7).alias("x_next"), F.col("yc").alias("fc")
    )
    f = daily.join(prev, F.col("x") == F.col("x_next")).select(
        "day", "x", "yc", "fc"
    )
    split = F.lit("2000-01-01 00:00:00").cast("timestamp")
    cal = f.filter(F.col("day") < split).select(
        F.abs(F.col("yc") - F.col("fc")).alias("r"), "x"
    )
    ranked = with_global_rank(cal, F.col("r"), ["x"])
    # Rank clamped to n: with < 9 calibration residuals the target rank
    # ceil(0.9*(n+1)) exceeds n, which would silently empty the whole
    # output through the inner join — degrade to the max residual
    # (widest honest band) instead.
    q_hat = ranked.filter(
        F.col("_rk")
        == F.expr("least(((_n_tot + 1) * 9 + 9) div 10, _n_tot)")
    ).select(F.col("r").alias("q_hat"))
    test = f.filter(F.col("day") >= split)
    return (
        test.join(F.broadcast(q_hat))
        .select(
            "day",
            F.col("yc").alias("actual_cents"),
            F.col("fc").alias("forecast_cents"),
            (F.col("fc") - F.col("q_hat")).alias("lo_cents"),
            (F.col("fc") + F.col("q_hat")).alias("hi_cents"),
            F.when(
                (F.col("yc") >= F.col("fc") - F.col("q_hat"))
                & (F.col("yc") <= F.col("fc") + F.col("q_hat")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("covered"),
        )
        .orderBy("day")
    )


@register(
    "acf_multi_lag_daily",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest([1, 7, 14]) AS lag),
p AS (
  SELECT d.event_type, l.lag, d.yc AS a, q.yc AS b
  FROM daily d CROSS JOIN lags l
  JOIN daily q ON q.event_type = d.event_type AND q.x = d.x - l.lag
),
m AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         CAST(SUM(a * b) AS BIGINT) AS sab,
         CAST(SUM(a * a) AS BIGINT) AS saa,
         CAST(SUM(b * b) AS BIGINT) AS sbb
  FROM p GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       round(CAST(n * sab - sa * sb AS DOUBLE)
             / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                * sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
             * 1000000) / 1000000 AS acf
FROM m ORDER BY event_type, lag
""",
)
def acf_multi_lag_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION at lags 1/7/14 days per event type —
    the multi-lag profile that autocorr_lag1_daily is the first point
    of (lag 7 vs lag 1 is the weekly-seasonality diagnostic
    seasonal_naive_error_ratio infers indirectly). Every lagged pair
    meets through a CALENDAR equi-join on day-index minus lag (a
    row-offset lag would silently misalign across date gaps), the lag
    list is a 3-row literal broadcast, and each correlation is
    Pearson on exact int64 cent moments — one IEEE tree (two sqrts,
    one division) rounded at 1e-6. Scale: the (type, day) aggregate
    domain is what joins; the fan-out is x3, a query constant."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.sum(cents(F.col("value"))).alias("yc"))
    lagged = daily.select(
        "event_type",
        "x",
        F.col("yc").alias("a"),
        F.explode(F.array(F.lit(1), F.lit(7), F.lit(14))).alias("lag"),
    )
    prev = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("yc").alias("b"),
    )
    p = lagged.join(
        prev,
        (F.col("event_type") == F.col("et2"))
        & (F.col("x2") == F.col("x") - F.col("lag")),
    )
    m = p.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    acf = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast(
        "double"
    ) / (
        F.sqrt(
            (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast(
                "double"
            )
        )
    )
    return m.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_pairs"),
        (F.round(acf * 1000000) / 1000000).alias("acf"),
    ).orderBy("event_type", "lag")


@register(
    "idle_gap_analysis_users",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM events
),
iv AS (
  SELECT user_id, t AS s, t + 600 * 1000000 AS f,
         max(t + 600 * 1000000) OVER (
           PARTITION BY user_id ORDER BY t, s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS pmax
  FROM iv_base
),
iv_base AS (SELECT user_id, t FROM e),
g AS (
  SELECT user_id,
         CASE WHEN pmax IS NULL OR pmax >= s THEN 0 ELSE s - pmax END
             AS gap_us,
         CASE WHEN pmax IS NOT NULL AND s > pmax THEN 1 ELSE 0 END
             AS is_gap
  FROM iv
),
span AS (
  SELECT user_id,
         max(t) + 600 * 1000000 - min(t) AS span_us
  FROM e GROUP BY 1
)
SELECT g.user_id,
       CAST(SUM(is_gap) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) // 1000000 AS BIGINT) AS idle_seconds,
       CAST(max(span.span_us) // 1000000 AS BIGINT) AS span_seconds,
       CAST((max(span.span_us) - SUM(gap_us)) * 1000000
            // max(span.span_us) AS BIGINT) AS coverage_ppm
FROM g JOIN span ON span.user_id = g.user_id
GROUP BY g.user_id
ORDER BY g.user_id
""",
)
def idle_gap_analysis_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDLE-GAP analysis — the COMPLEMENT of interval_union_active_time:
    model each event as a 10-minute activity interval per user and
    report the UNCOVERED time inside the user's observed span (count
    of maximal idle gaps, idle seconds, coverage ppm). A gap exists
    where an interval's start exceeds the running MAX of all earlier
    interval ends — the gaps-and-islands prefix-max idiom, computed
    with the 2-pass binned ``with_grouped_prefix_max`` (operators/
    grank.py) so no user's event history ever funnels through a
    single task even if one user dominates the stream (the whale-user
    lesson from the FIFO join). All arithmetic is integer
    microseconds; seconds and ppm are int64 floor-divisions. Scale:
    one user-keyed binned-window pass + one user aggregation."""
    from spark_lever_spark.operators.grank import with_grouped_prefix_max

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("tts"),
    ).select(
        "user_id", F.unix_micros(F.col("tts")).alias("t")
    )
    iv = e.select(
        "user_id",
        F.col("t").alias("s"),
        (F.col("t") + 600 * 1000000).alias("f"),
    )
    pm = with_grouped_prefix_max(
        iv, ["user_id"], F.col("s"), ["s"], "f"
    )
    g = pm.select(
        "user_id",
        F.when(
            F.col("_pmax").isNull() | (F.col("_pmax") >= F.col("s")), 0
        )
        .otherwise(F.col("s") - F.col("_pmax"))
        .alias("gap_us"),
        F.when(
            F.col("_pmax").isNotNull() & (F.col("s") > F.col("_pmax")), 1
        )
        .otherwise(0)
        .alias("is_gap"),
    )
    span = e.groupBy("user_id").agg(
        (F.max("t") + 600 * 1000000 - F.min("t")).alias("span_us")
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("is_gap").alias("n_gaps"),
            F.sum("gap_us").alias("idle_us"),
        )
        .join(span, "user_id")
        .select(
            "user_id",
            "n_gaps",
            F.expr("idle_us div 1000000").alias("idle_seconds"),
            F.expr("span_us div 1000000").alias("span_seconds"),
            F.expr(
                "(span_us - idle_us) * 1000000 div span_us"
            ).alias("coverage_ppm"),
        )
        .orderBy("user_id")
    )


@register(
    "reorder_point_brands",
    oracle="""
WITH daily AS (
  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
m AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2
  FROM daily GROUP BY 1
)
SELECT p_brand, n AS n_demand_days,
       round(CAST(s1 AS DOUBLE) / n * 1000000) / 1000000
           AS mean_daily_qty,
       round((7.0 * CAST(s1 AS DOUBLE) / n
              + 2.0 * sqrt(7.0 * (CAST(n * s2 - s1 * s1 AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * (n - 1)))))
             * 1000000) / 1000000 AS reorder_point_qty
FROM m ORDER BY p_brand
""",
)
def reorder_point_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVENTORY REORDER POINT per brand — the safety-stock formula
    (lead-time demand + 2 sigma of lead-time demand, 7-day lead time)
    every replenishment planner runs over the demand history:
    ROP = L*mean + z*sqrt(L*var) with z = 2. Demand moments come from
    the (brand, ship-day) aggregate domain as exact int64 (Σq, Σq²,
    n), so the published quantities are ONE fixed IEEE tree each (a
    division, a sqrt, two multiplies, one add) — bit-identical
    cross-engine before the 1e-6 grid. Variance uses the algebraic
    (nΣq² - (Σq)²)/(n(n-1)) expansion — never a row-wise
    float-adjusted column (the oracle-parity doctrine's Wilson/CUPED
    pattern). Scale: one fact-table aggregation; the brand domain is
    tiny at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("q"))
    )
    m = daily.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double") / (F.col("n").cast("double") * (F.col("n") - 1))
    rop = 7.0 * mean + 2.0 * F.sqrt(7.0 * var)
    return m.select(
        "p_brand",
        F.col("n").alias("n_demand_days"),
        (F.round(mean * 1000000) / 1000000).alias("mean_daily_qty"),
        (F.round(rop * 1000000) / 1000000).alias("reorder_point_qty"),
    ).orderBy("p_brand")


@register(
    "stock_span_daily_value",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2, 3
),
sp AS (
  SELECT d.event_type, d.day, d.x, d.v, max(q.x) AS px
  FROM daily d
  LEFT JOIN daily q
    ON q.event_type = d.event_type AND q.x < d.x AND q.v > d.v
  GROUP BY 1, 2, 3, 4
),
mn AS (SELECT event_type, min(x) AS x0 FROM daily GROUP BY 1)
SELECT sp.event_type, CAST(sp.day AS TIMESTAMP) AS day, sp.v AS value_cents,
       CAST(CASE WHEN px IS NULL THEN sp.x - mn.x0 + 1
                 ELSE sp.x - px END AS BIGINT) AS span_days
FROM sp JOIN mn ON mn.event_type = sp.event_type
ORDER BY sp.event_type, sp.day
""",
)
def stock_span_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOCK SPAN per event type — for every day, how many
    consecutive days (ending today) had daily value ≤ today's: the
    classic momentum indicator, = today − (last PRECEDING day with a
    STRICTLY HIGHER value), or the full distance to the series start
    when no such day exists. The 'previous greater element' is found
    with a theta self-join on the (type, day) AGGREGATE domain — that
    domain is bounded by the CALENDAR (types × days), a constant
    w.r.t. fact-table scale, so the quadratic join never grows with
    SF; only the one groupBy that builds the daily series scans the
    facts. All values exact int64 cents."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(F.sum(cents(F.col("value"))).alias("v")).withColumn(
        "x",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long"),
    )
    q = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("v").alias("v2"),
    )
    sp = (
        daily.join(
            q,
            (F.col("event_type") == F.col("et2"))
            & (F.col("x2") < F.col("x"))
            & (F.col("v2") > F.col("v")),
            "left",
        )
        .groupBy("event_type", "day", "x", "v")
        .agg(F.max("x2").alias("px"))
    )
    mn = daily.groupBy(F.col("event_type").alias("et3")).agg(
        F.min("x").alias("x0")
    )
    return (
        sp.join(F.broadcast(mn), sp.event_type == mn.et3)
        .select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            F.col("v").alias("value_cents"),
            F.when(F.col("px").isNull(), F.col("x") - F.col("x0") + 1)
            .otherwise(F.col("x") - F.col("px"))
            .alias("span_days"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "price_elasticity_arc_brand",
    oracle="""
WITH monthly AS (
  SELECT p.p_brand,
         CAST(EXTRACT(year FROM l.l_shipdate) * 12
              + EXTRACT(month FROM l.l_shipdate) AS BIGINT) AS m,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
)
SELECT a.p_brand,
       (b.m - 1) // 12 * 100 + (b.m - 1) % 12 + 1 AS yyyymm,
       a.q AS qty_prev, b.q AS qty_cur,
       CASE WHEN b.r * a.q - a.r * b.q = 0 THEN NULL
            ELSE round(
              CAST(b.q - a.q AS DOUBLE)
              * CAST(a.r * b.q + b.r * a.q AS DOUBLE)
              / (CAST(a.q + b.q AS DOUBLE)
                 * CAST(b.r * a.q - a.r * b.q AS DOUBLE))
              * 1000000) / 1000000 + 0.0
       END AS arc_elasticity
FROM monthly a JOIN monthly b
  ON b.p_brand = a.p_brand AND b.m = a.m + 1
ORDER BY a.p_brand, yyyymm
""",
)
def price_elasticity_arc_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARC PRICE ELASTICITY of demand per brand, month over month —
    the midpoint-formula elasticity (%Δqty / %Δprice, both against
    the period average) a pricing team reads before repricing. With
    p_i = r_i/q_i the algebra collapses to pure int64 cross-products:
    E = (q2−q1)(r1·q2 + r2·q1) / ((q1+q2)(r2·q1 − r1·q2)) — each
    product stays exact int64 (r~cents × q~units), the two factors
    are cast to double and combined in ONE fixed IEEE tree (two
    multiplies, one division), NULL when the average price did not
    move. Consecutive months meet through a calendar equi-join on a
    linear month index (year·12+month — no yyyymm rollover bugs);
    the joined domain is the (brand, month) aggregate, never facts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            (
                F.year(F.to_date("l_shipdate")) * 12
                + F.month(F.to_date("l_shipdate"))
            )
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("q"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("r"),
        )
    )
    a = monthly.select(
        "p_brand",
        F.col("m").alias("ma"),
        F.col("q").alias("q1"),
        F.col("r").alias("r1"),
    )
    b = monthly.select(
        F.col("p_brand").alias("pb2"),
        F.col("m").alias("mb"),
        F.col("q").alias("q2"),
        F.col("r").alias("r2"),
    )
    num = (F.col("q2") - F.col("q1")).cast("double") * (
        F.col("r1") * F.col("q2") + F.col("r2") * F.col("q1")
    ).cast("double")
    den = (F.col("q1") + F.col("q2")).cast("double") * (
        F.col("r2") * F.col("q1") - F.col("r1") * F.col("q2")
    ).cast("double")
    return (
        a.join(
            b,
            (F.col("pb2") == F.col("p_brand"))
            & (F.col("mb") == F.col("ma") + 1),
        )
        .select(
            "p_brand",
            (
                F.expr("(mb - 1) div 12") * 100
                + (F.col("mb") - 1) % 12
                + 1
            ).alias("yyyymm"),
            F.col("q1").alias("qty_prev"),
            F.col("q2").alias("qty_cur"),
            F.when(
                F.col("r2") * F.col("q1") - F.col("r1") * F.col("q2")
                == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(F.round(num / den * 1000000) / 1000000 + 0.0)
            .alias("arc_elasticity"),
        )
        .orderBy("p_brand", "yyyymm")
    )


@register(
    "demand_pattern_sbc_brands",
    oracle="""
WITH daily AS (
  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
m AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2,
         CAST(date_diff('day', min(day), max(day)) AS BIGINT) AS span
  FROM daily GROUP BY 1
)
SELECT p_brand, n AS n_demand_days,
       round(CAST(span AS DOUBLE) / (n - 1) * 1000000) / 1000000 AS adi,
       round(CAST(n * (n * s2 - s1 * s1) AS DOUBLE)
             / CAST((n - 1) * s1 * s1 AS DOUBLE)
             * 1000000) / 1000000 AS cv2,
       CASE WHEN 100 * span < 132 * (n - 1) THEN
              CASE WHEN 100 * n * (n * s2 - s1 * s1)
                        < 49 * (n - 1) * s1 * s1
                   THEN 'smooth' ELSE 'erratic' END
            ELSE
              CASE WHEN 100 * n * (n * s2 - s1 * s1)
                        < 49 * (n - 1) * s1 * s1
                   THEN 'intermittent' ELSE 'lumpy' END
       END AS pattern
FROM m WHERE n >= 2 ORDER BY p_brand
""",
)
def demand_pattern_sbc_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYNTETOS–BOYLAN demand-pattern classification per brand — the
    forecasting-method router (smooth / erratic / intermittent /
    lumpy) that decides whether reorder_point_brands' normal
    approximation is even admissible: ADI (mean inter-demand
    interval, span/(n−1)) against the 1.32 cutoff and CV² of demand
    sizes against 0.49. BOTH cutoffs are evaluated as EXACT INT64
    cross-multiplication predicates (100·span < 132·(n−1);
    100·n·(nΣq²−S²) < 49·(n−1)·S²) so the class label never depends
    on float rounding — the published adi/cv2 columns are one fixed
    IEEE division each, for display only. One fact aggregation to
    (brand, day); the brand domain is a query constant."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.to_date("l_shipdate").alias("day"))
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("q"))
    )
    m = daily.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("span"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    cv2_smooth = (
        100 * F.col("n") * var_num
        < 49 * (F.col("n") - 1) * F.col("s1") * F.col("s1")
    )
    adi_smooth = 100 * F.col("span") < 132 * (F.col("n") - 1)
    return (
        m.where(F.col("n") >= 2)
        .select(
            "p_brand",
            F.col("n").alias("n_demand_days"),
            (
                F.round(
                    F.col("span").cast("double") / (F.col("n") - 1) * 1000000
                )
                / 1000000
            ).alias("adi"),
            (
                F.round(
                    (F.col("n") * var_num).cast("double")
                    / ((F.col("n") - 1) * F.col("s1") * F.col("s1")).cast(
                        "double"
                    )
                    * 1000000
                )
                / 1000000
            ).alias("cv2"),
            F.when(
                adi_smooth,
                F.when(cv2_smooth, F.lit("smooth")).otherwise(
                    F.lit("erratic")
                ),
            )
            .otherwise(
                F.when(cv2_smooth, F.lit("intermittent")).otherwise(
                    F.lit("lumpy")
                )
            )
            .alias("pattern"),
        )
        .orderBy("p_brand")
    )


@register(
    "bollinger_breakout_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2, 3
),
w AS (
  SELECT event_type, day, v,
         CAST(count(*) OVER win AS BIGINT) AS n,
         CAST(SUM(v) OVER win AS BIGINT) AS s,
         CAST(SUM(v * v) OVER win AS BIGINT) AS q
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY x
                 RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, v AS value_cents,
       n AS n_window,
       round(CAST(s AS DOUBLE) / n * 1000000) / 1000000 AS mean_cents,
       n * v > s AND (n * v - s) * (n * v - s) * (n - 1)
           > 4 * n * (n * q - s * s) AS breakout_hi,
       n * v < s AND (n * v - s) * (n * v - s) * (n - 1)
           > 4 * n * (n * q - s * s) AS breakout_lo
FROM w ORDER BY event_type, day
""",
)
def bollinger_breakout_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER-BAND BREAKOUTS per event type — days whose value
    leaves the trailing-14-day mean ± 2σ envelope, the mean-reversion
    /momentum signal xmr_control_chart_daily states for GLOBAL
    control limits but never for a trailing window. The band test is
    an EXACT INT64 predicate: |x−μ| > 2σ  ⟺  (n·x−S)²·(n−1) >
    4·n·(nΣx²−S²), with the direction split by the sign of n·x−S —
    no float ever decides a flag (the published mean is one IEEE
    division, display-only). The trailing frame is a CALENDAR RANGE
    window on the day index (13 PRECEDING) over the (type, day)
    aggregate domain — partitioned by type, so state per task is
    bounded by the calendar, and a day-1 window of n=1 collapses the
    predicate to 0>0 = false in both engines."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(F.sum(cents(F.col("value"))).alias("v")).withColumn(
        "x",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rangeBetween(-13, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "day",
        "v",
        F.count("*").over(win).alias("n"),
        F.sum("v").over(win).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(win).alias("q"),
    )
    dev = F.col("n") * F.col("v") - F.col("s")
    wide = dev * dev * (F.col("n") - 1) > 4 * F.col("n") * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    return w.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        F.col("v").alias("value_cents"),
        F.col("n").alias("n_window"),
        (
            F.round(F.col("s").cast("double") / F.col("n") * 1000000)
            / 1000000
        ).alias("mean_cents"),
        ((dev > 0) & wide).alias("breakout_hi"),
        ((dev < 0) & wide).alias("breakout_lo"),
    ).orderBy("event_type", "day")


@register(
    "pacf_lag2_daily",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest([1, 2]) AS lag),
p AS (
  SELECT d.event_type, l.lag, d.yc AS a, q.yc AS b
  FROM daily d CROSS JOIN lags l
  JOIN daily q ON q.event_type = d.event_type AND q.x = d.x - l.lag
),
m AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         CAST(SUM(a * b) AS BIGINT) AS sab,
         CAST(SUM(a * a) AS BIGINT) AS saa,
         CAST(SUM(b * b) AS BIGINT) AS sbb
  FROM p GROUP BY 1, 2
),
rho AS (
  SELECT event_type, lag,
         CAST(n * sab - sa * sb AS DOUBLE)
         / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
            * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS r
  FROM m
),
wide AS (
  SELECT event_type,
         max(CASE WHEN lag = 1 THEN r END) AS r1,
         max(CASE WHEN lag = 2 THEN r END) AS r2
  FROM rho GROUP BY event_type
)
SELECT event_type,
       round(r1 * 1000000) / 1000000 AS rho1,
       round(r2 * 1000000) / 1000000 AS rho2,
       round((r2 - r1 * r1) / (1 - r1 * r1) * 1000000) / 1000000
           AS pacf2
FROM wide ORDER BY event_type
""",
)
def pacf_lag2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL AUTOCORRELATION at lag 2 per event type — the AR-order
    diagnostic acf_multi_lag_daily cannot answer (a large ACF(2) may
    be pure lag-1 carryover): Durbin–Levinson gives φ₂₂ = (ρ₂ − ρ₁²)
    / (1 − ρ₁²) from the two pair-Pearson autocorrelations — ρ₂
    close to ρ₁² ⟹ an AR(1) explains the series; φ₂₂ large ⟹ real
    second-order structure. Both ρ's are the exact-int64-moment
    trees of the ACF family; the Durbin–Levinson step extends the
    SAME fixed IEEE tree (2 multiplies, 2 subtractions, 1 division)
    on the unrounded doubles, so the published value is
    bit-identical cross-engine before the 1e-6 grid. Calendar
    equi-join for the lagged pairs; everything past the daily
    aggregate is a ≤(types×2)-row domain."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.sum(cents(F.col("value"))).alias("yc"))
    lagged = daily.select(
        "event_type",
        "x",
        F.col("yc").alias("a"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("lag"),
    )
    prev = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("yc").alias("b"),
    )
    p = lagged.join(
        prev,
        (F.col("event_type") == F.col("et2"))
        & (F.col("x2") == F.col("x") - F.col("lag")),
    )
    m = p.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    r = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast(
        "double"
    ) / (
        F.sqrt(
            (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast(
                "double"
            )
        )
    )
    wide = (
        m.withColumn("r", r)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
            F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        )
    )
    pacf2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    return wide.select(
        "event_type",
        (F.round(F.col("r1") * 1000000) / 1000000).alias("rho1"),
        (F.round(F.col("r2") * 1000000) / 1000000).alias("rho2"),
        (F.round(pacf2 * 1000000) / 1000000).alias("pacf2"),
    ).orderBy("event_type")


@register(
    "haar_energy_decomposition_daily",
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(x) AS x0,
         max(x) - min(x) + 1 AS n
  FROM daily GROUP BY 1
),
spine0 AS (
  SELECT b.event_type, t.i AS i, b.n, b.x0 + t.i AS x
  FROM bounds b, LATERAL unnest(range(b.n)) AS t(i)
),
spine AS (
  SELECT s.event_type, s.i, s.n, COALESCE(d.v, 0) AS v
  FROM spine0 s
  LEFT JOIN daily d ON d.event_type = s.event_type AND d.x = s.x
),
lv AS (
  SELECT s.event_type, l.k, s.n,
         s.i // (1 << l.k) AS blk,
         CASE WHEN (s.i // (1 << (l.k - 1))) % 2 = 0
              THEN s.v ELSE -s.v END AS sv
  FROM spine s CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) l
  WHERE s.i < (s.n // (1 << l.k)) * (1 << l.k)
),
coef AS (
  SELECT event_type, k, blk, CAST(SUM(sv) AS BIGINT) AS d
  FROM lv GROUP BY 1, 2, 3
),
en AS (
  SELECT event_type, k,
         CAST(count(*) AS BIGINT) AS n_blocks,
         SUM(CAST(d AS HUGEINT) * d) AS raw_sq
  FROM coef GROUP BY 1, 2
),
tot AS (
  SELECT event_type,
         SUM(raw_sq * (8 >> k)) AS denom
  FROM en GROUP BY 1
)
SELECT en.event_type, CAST(en.k AS BIGINT) AS level, en.n_blocks,
       CAST(en.raw_sq AS BIGINT) AS raw_detail_sq,
       CAST(en.raw_sq AS DOUBLE) / (1 << en.k) AS energy,
       CAST(en.raw_sq * (8 >> en.k) * 1000000 // tot.denom AS BIGINT)
           AS energy_share_ppm
FROM en JOIN tot ON tot.event_type = en.event_type
ORDER BY en.event_type, level
""",
)
def haar_energy_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAAR WAVELET ENERGY DECOMPOSITION of the daily series — at
    WHICH timescale does the variance live? Levels 1/2/3 split the
    calendar-spined series (gaps zero-filled, so the dyadic grid
    never slips) into 2/4/8-day blocks; each detail coefficient is
    the signed block sum Σ±v (left half +, right half −, EXACT
    int64 cents), its energy D²/2ᵏ — division by a power of two is
    EXACT in binary floating point, so even the normalized energy
    is deterministic. The share column avoids the N-ary float sum:
    all three levels are brought to the common denominator 8
    (raw·(8>>k)) and divided as exact int64 ppm. A day-trader's
    'volatility at 2-day vs weekly scale' and the downsampling
    pre-check (levels with ~0 share can be decimated losslessly).
    One fact aggregation; spine and blocks are calendar-bounded."""
    from spark_lever_spark.functions.exact import cents

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.sum(cents(F.col("value"))).alias("v"))
    bounds = daily.groupBy(F.col("event_type").alias("bet")).agg(
        F.min("x").alias("x0"),
        (F.max("x") - F.min("x") + 1).alias("n"),
    )
    spine = bounds.select(
        "bet",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
        "x0",
    ).join(
        daily,
        (F.col("event_type") == F.col("bet"))
        & (F.col("x") == F.col("x0") + F.col("i")),
        "left",
    ).select(
        "bet", "n", "i", F.coalesce(F.col("v"), F.lit(0)).alias("v")
    )
    lv = spine.select(
        "bet",
        "n",
        "i",
        "v",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    ).filter(
        F.col("i")
        < F.expr("(n div (1 << k)) * (1 << k)")
    ).select(
        "bet",
        "k",
        F.expr("i div (1 << k)").alias("blk"),
        F.when(
            F.expr("(i div (1 << (k - 1))) % 2") == 0, F.col("v")
        )
        .otherwise(-F.col("v"))
        .alias("sv"),
    )
    coef = lv.groupBy("bet", "k", "blk").agg(F.sum("sv").alias("d"))
    dec = "decimal(38,0)"
    en = coef.groupBy("bet", "k").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("raw_sq"),
    )
    tot = en.groupBy(F.col("bet").alias("tet")).agg(
        F.sum(F.expr("raw_sq * (8 >> k)")).alias("denom")
    )
    return (
        en.join(F.broadcast(tot), F.col("tet") == F.col("bet"))
        .select(
            F.col("bet").alias("event_type"),
            F.col("k").cast("long").alias("level"),
            "n_blocks",
            F.col("raw_sq").cast("long").alias("raw_detail_sq"),
            (F.col("raw_sq").cast("double") / F.expr("1 << k")).alias(
                "energy"
            ),
            F.expr(
                "CAST(raw_sq * (8 >> k) * 1000000 div denom AS BIGINT)"
            ).alias("energy_share_ppm"),
        )
        .orderBy("event_type", "level")
    )


@register(
    "hodges_lehmann_daily_value",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT a.d AS d1, b.d AS d2, a.x + b.x AS w
  FROM daily a JOIN daily b ON b.d >= a.d
),
r AS (
  SELECT w,
         CAST(row_number() OVER (ORDER BY w, d1, d2) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pairs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       m AS n_pairs, w AS hl_doubled_cents, w // 2 AS hl_cents
FROM r WHERE rk = (m + 1) // 2
""",
)
def hodges_lehmann_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HODGES-LEHMANN estimator of daily revenue level — the median of
    all n(n+1)/2 pairwise Walsh averages (x_i+x_j)/2, i<=j — the
    location estimator dual to the Wilcoxon signed-rank test: ~95%
    Gaussian efficiency yet a 29% breakdown point, where
    rolling_median_daily_value gives the plain median (50% breakdown,
    64% efficiency) and the mean breaks on one bad day. Halves stay
    exact by carrying the DOUBLED Walsh sum w = x_i + x_j; the median
    is the exact order statistic at rank ceil(M/2) with the (w, d1,
    d2) tie-break both engines mirror, selected by binned 2-pass
    SELECTION (exact per-bin counts locate the one bin holding the
    target rank; only that slice is sorted) — no single-task sort over
    the pair domain. Scale: the
    pair blow-up is quadratic in the DAY domain, which is CALENDAR-
    bounded (~2.6k days → ~3.4M pairs at ANY fact-table SF — the same
    bounded-domain argument as the km life table), built as a
    broadcast self-join on the daily aggregate."""
    from spark_lever_spark.functions.exact import cents
    from spark_lever_spark.operators.grank import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    # The ~2.6k-row daily aggregate is persisted (bounded-domain, same
    # as the relational rolling-distinct precedent) so grank's rank and
    # quantile-bound passes over the 3.4M-pair self-join re-derive it
    # from memory instead of rescanning the fact table per pass.
    daily = (
        o.groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d")
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
        .persist()
    )
    a = daily.select(F.col("d").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    pairs = a.join(F.broadcast(b), F.col("d2") >= F.col("d1")).select(
        "d1", "d2", (F.col("x1") + F.col("x2")).alias("w")
    )
    n_days = daily.agg(F.count("*").alias("n_days"))
    # SELECTION, not full ranking: bin the pairs by quantile-bound
    # literals, count per bin, locate the ONE bin holding the median
    # rank, and sort only that ~1/num_bins slice — the k-th element is
    # exact no matter where the (approximate) bounds fall, because the
    # offsets are exact counts. ~2.5x faster than ranking all pairs.
    from spark_lever_spark.operators.grank import _bin_expr

    d = pairs.withColumn("_key", F.col("w"))
    binned = d.withColumn("_b", _bin_expr(d, "_key", 64))
    cnts = binned.groupBy("_b").agg(F.count("*").alias("c"))
    w_off = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("_b").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tgt = (
        cnts.select(
            "_b",
            "c",
            F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("before"),
            F.sum("c").over(w_all).alias("m"),
        )
        .withColumn("tr", F.expr("(m + 1) div 2"))
        .filter(
            (F.col("before") < F.col("tr"))
            & (F.col("tr") <= F.col("before") + F.col("c"))
        )
        .select(F.col("_b").alias("tb"), "before", "m", "tr")
    )
    w_loc = Window.partitionBy("_b").orderBy("w", "d1", "d2")
    out = (
        binned.join(F.broadcast(tgt), F.col("_b") == F.col("tb"))
        .withColumn("_lrk", F.row_number().over(w_loc).cast("long"))
        .filter(F.col("before") + F.col("_lrk") == F.col("tr"))
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            F.col("m").alias("n_pairs"),
            F.col("w").alias("hl_doubled_cents"),
            F.expr("w div 2").alias("hl_cents"),
        )
        # eager pin (1 row), then release the daily-aggregate persist
        # (r19 cache-leak audit)
        .localCheckpoint(eager=True)
    )
    daily.unpersist()
    return out


@register(
    "apdex_ship_latency_monthly",
    oracle="""
WITH lat AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) * 100
              + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS yyyymm,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT yyyymm,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS satisfied,
       CAST(SUM(CASE WHEN days > 30 AND days <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS tolerating,
       CAST(SUM(CASE WHEN days > 120 THEN 1 ELSE 0 END) AS BIGINT)
           AS frustrated,
       CAST((1000 * (2 * SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN days > 30 AND days <= 120
                      THEN 1 ELSE 0 END)))
         // (2 * count(*)) AS BIGINT) AS apdex_milli
FROM lat GROUP BY yyyymm ORDER BY yyyymm
""",
)
def apdex_ship_latency_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APDEX SCORE (the industry-standard SLA satisfaction index:
    (satisfied + tolerating/2) / n with tolerating = (T, 4T]) applied
    to order→ship latency per order month, T = 30 days — the
    single-number monthly answer that ship_latency_by_priority's full
    distribution and slo_burn_rate_daily's error budget both stop
    short of. The half-weight stays exact by doubling: apdex_milli =
    1000·(2·sat + tol) div (2·n), one non-negative int64
    floor-division per month (Spark `div` == DuckDB `//`). Scale: the
    orderkey equi-join of the two fact tables is the only shuffle
    (co-partitioned on the join key); everything after lives on the
    ~84-row month domain."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
        (
            F.year(F.to_date("o_orderdate")) * 100
            + F.month(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("yyyymm"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "yyyymm", F.datediff("sd", "od").alias("days")
    )
    return (
        lat.groupBy("yyyymm")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("days") <= 30, 1).otherwise(0)).alias(
                "satisfied"
            ),
            F.sum(
                F.when(
                    (F.col("days") > 30) & (F.col("days") <= 120), 1
                ).otherwise(0)
            ).alias("tolerating"),
            F.sum(F.when(F.col("days") > 120, 1).otherwise(0)).alias(
                "frustrated"
            ),
        )
        .select(
            "yyyymm",
            "n",
            "satisfied",
            "tolerating",
            "frustrated",
            F.expr(
                "(1000 * (2 * satisfied + tolerating)) div (2 * n)"
            ).alias("apdex_milli"),
        )
        .orderBy("yyyymm")
    )


@register(
    "price_index_laspeyres_fisher_monthly",
    oracle="""
WITH bm AS (
  SELECT p.p_brand,
         CAST(EXTRACT(year FROM l.l_shipdate) * 100
              + EXTRACT(month FROM l.l_shipdate) AS BIGINT) AS yyyymm,
         CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
base AS (
  SELECT p_brand, q AS q0, r AS r0 FROM bm
  WHERE yyyymm = (SELECT min(yyyymm) FROM bm) AND q > 0
),
j AS (
  SELECT bm.yyyymm, bm.p_brand, bm.q AS qt, bm.r AS rt,
         base.q0, base.r0
  FROM bm JOIN base ON base.p_brand = bm.p_brand
  WHERE bm.q > 0
),
s AS (
  SELECT yyyymm,
         CAST(count(*) AS BIGINT) AS n_brands,
         CAST(SUM(r0) AS BIGINT) AS sum_r0,
         CAST(SUM(rt) AS BIGINT) AS sum_rt,
         CAST(SUM(CAST(rt AS HUGEINT) * q0 // qt) AS BIGINT) AS l_num,
         CAST(SUM(CAST(r0 AS HUGEINT) * qt // q0) AS BIGINT) AS p_den
  FROM j GROUP BY 1
)
SELECT yyyymm, n_brands,
       CAST(CAST(l_num AS HUGEINT) * 1000000 // sum_r0 AS BIGINT)
           AS laspeyres_ppm,
       CAST(CAST(sum_rt AS HUGEINT) * 1000000 // p_den AS BIGINT)
           AS paasche_ppm,
       CAST(round(sqrt(CAST(
           (CAST(l_num AS HUGEINT) * 1000000 // sum_r0)
           * (CAST(sum_rt AS HUGEINT) * 1000000 // p_den)
           AS DOUBLE))) AS BIGINT) AS fisher_ppm
FROM s ORDER BY yyyymm
""",
)
def price_index_laspeyres_fisher_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LASPEYRES / PAASCHE / FISHER PRICE INDEXES of the brand basket,
    every ship-month against the
    earliest-ship-month base (data-driven, so the index is defined in
    every testdata window) — the index-number
    construction CPI statistics and revenue-deflation pipelines run,
    answering 'how much of revenue motion is PRICE, holding the basket
    fixed' (price_elasticity_arc_brand estimates response; an index
    states the level). Brand unit values p = r/q never materialize:
    Laspeyres' numerator Σ p_t·q_0 is computed per brand as
    floor(r_t·q_0/q_t) (decimal(38,0) ⟷ HUGEINT cross-product, one
    non-negative floor-division per brand — deterministic both
    engines), Paasche's denominator symmetrically, and each index is
    ONE closing ppm floor-division over the brands present in both
    base and current month (q>0 both sides — the matched basket).
    Fisher is the geometric mean √(L·P): the ppm product is < 2^53 so
    the double is exact, and sqrt/round are IEEE-identical
    cross-engine. Scale: one fact pass (part broadcast) onto the
    (brand x month) domain; the 25-row base basket broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from spark_lever_spark.functions.exact import cents

    bm = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            (
                F.year(F.to_date("l_shipdate")) * 100
                + F.month(F.to_date("l_shipdate"))
            )
            .cast("long")
            .alias("yyyymm"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("q"),
            F.sum(cents(F.col("l_extendedprice"))).alias("r"),
        )
    )
    m0 = bm.agg(F.min("yyyymm").alias("m0"))
    base = bm.join(
        F.broadcast(m0), F.col("yyyymm") == F.col("m0")
    ).filter(F.col("q") > 0).select(
        F.col("p_brand").alias("bb"),
        F.col("q").alias("q0"),
        F.col("r").alias("r0"),
    )
    j = bm.filter(F.col("q") > 0).join(
        F.broadcast(base), F.col("p_brand") == F.col("bb")
    )
    s = j.groupBy("yyyymm").agg(
        F.count("*").alias("n_brands"),
        F.sum("r0").alias("sum_r0"),
        F.sum(F.col("r").alias("rt")).alias("sum_rt"),
        F.sum(
            F.expr("CAST(CAST(r AS DECIMAL(38,0)) * q0 div q AS BIGINT)")
        ).alias("l_num"),
        F.sum(
            F.expr("CAST(CAST(r0 AS DECIMAL(38,0)) * q div q0 AS BIGINT)")
        ).alias("p_den"),
    )
    lasp = F.expr(
        "CAST(CAST(l_num AS DECIMAL(38,0)) * 1000000 div sum_r0"
        " AS BIGINT)"
    )
    paas = F.expr(
        "CAST(CAST(sum_rt AS DECIMAL(38,0)) * 1000000 div p_den"
        " AS BIGINT)"
    )
    return s.select(
        "yyyymm",
        "n_brands",
        lasp.alias("laspeyres_ppm"),
        paas.alias("paasche_ppm"),
        F.round(
            F.sqrt((lasp * paas).cast("double"))
        )
        .cast("long")
        .alias("fisher_ppm"),
    ).orderBy("yyyymm")


@register(
    "stochastic_oscillator_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
win AS (
  SELECT d, x,
         CAST(min(x) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS low14,
         CAST(max(x) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS high14
  FROM daily
),
k AS (
  SELECT d, x, low14, high14,
         CASE WHEN high14 > low14
              THEN CAST(CAST(x - low14 AS HUGEINT) * 1000000
                        // (high14 - low14) AS BIGINT)
         END AS k_ppm
  FROM win
)
SELECT d, x AS value_cents, low14, high14, k_ppm,
       (k_ppm + LAG(k_ppm, 1) OVER (ORDER BY d)
        + LAG(k_ppm, 2) OVER (ORDER BY d)) // 3 AS d_ppm
FROM k ORDER BY d
""",
)
def stochastic_oscillator_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STOCHASTIC OSCILLATOR (%K/%D, Lane's momentum indicator —
    'where does today close within its trailing 14-day range') over
    daily revenue — the range-position companion to
    bollinger_breakout_daily's band-position and max_drawdown's
    running extremes: %K = (close − low14)/(high14 − low14), %D its
    3-observation smoothing. The trailing window is a RANGE frame over
    the integer day index (13 preceding), so calendar gaps shrink the
    window identically in both engines instead of silently reaching
    further back the way a ROWS frame would. %K is one non-negative
    ppm floor-division (flat-range windows → NULL, not a
    divide-by-zero; the cents x 10⁶ product rides decimal(38,0) ⟷
    HUGEINT so a large-SF revenue day never wraps int64); %D = (k + k₋₁ + k₋₂) div 3 on exact ppm integers,
    with NULL propagation giving the standard 2-row warm-up. Scale:
    windows run on the calendar-bounded daily aggregate (~2.6k rows at
    any SF — the bounded-domain precedent of the km life table), after
    ONE fact-table aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    win = daily.select(
        "d",
        "x",
        F.min("x").over(wr).alias("low14"),
        F.max("x").over(wr).alias("high14"),
    )
    k = win.withColumn(
        "k_ppm",
        F.when(
            F.col("high14") > F.col("low14"),
            F.expr(
                "CAST(CAST(x - low14 AS DECIMAL(38,0)) * 1000000"
                " div (high14 - low14) AS BIGINT)"
            ),
        ),
    )
    wl = Window.orderBy("d")
    return k.select(
        "d",
        F.col("x").alias("value_cents"),
        "low14",
        "high14",
        "k_ppm",
        F.expr(
            "(k_ppm + lag(k_ppm, 1) OVER (ORDER BY d)"
            " + lag(k_ppm, 2) OVER (ORDER BY d)) div 3"
        ).alias("d_ppm"),
    ).orderBy("d")


@register(
    "durbin_watson_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x) // count(*) AS BIGINT) AS m0
  FROM daily
),
lagged AS (
  SELECT d, x, LAG(x) OVER (ORDER BY d) AS xp FROM daily
),
sums AS (
  SELECT SUM(CASE WHEN xp IS NOT NULL
             THEN CAST(x - xp AS HUGEINT) * (x - xp) ELSE 0 END) AS num,
         SUM(CAST(x - (SELECT m0 FROM m) AS HUGEINT)
             * (x - (SELECT m0 FROM m))) AS den
  FROM lagged
)
SELECT m.n AS n_days,
       CAST(sums.num * 1000 // sums.den AS BIGINT) AS dw_milli
FROM m CROSS JOIN sums
""",
)
def durbin_watson_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DURBIN-WATSON statistic of daily revenue around its level —
    the regression-residual autocorrelation diagnostic (DW ≈ 2(1−ρ₁):
    ~2 means white noise, →0 positive serial correlation, →4
    negative) that autocorr_lag1_daily states as ρ itself and
    runs_test_daily_value states nonparametrically; DW is the form
    econometrics reports. Exactness: the numerator Σ(x_t − x_{t−1})²
    is shift-invariant so no mean enters it at all, and the
    denominator uses the FLOORED mean m0 = S div n (the documented
    discrete variant — a sub-cent shift of the centering constant,
    identical in both engines), keeping every term an integer; both
    quadratic sums accumulate in decimal(38,0) ⟷ HUGEINT and the
    statistic is ONE milli floor-division. Scale: the lag window and
    sums run on the calendar-bounded daily aggregate after one fact
    pass."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.expr("sum(x) div count(*)").alias("m0"),
    )
    wl = Window.orderBy("d")
    lagged = daily.select(
        "d", "x", F.lag("x").over(wl).alias("xp")
    )
    dec = "decimal(38,0)"
    sums = lagged.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.when(
                F.col("xp").isNotNull(),
                (F.col("x") - F.col("xp")).cast(dec)
                * (F.col("x") - F.col("xp")),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("num"),
        F.sum(
            (F.col("x") - F.col("m0")).cast(dec)
            * (F.col("x") - F.col("m0"))
        ).alias("den"),
        F.max("n").alias("n_days"),
    )
    return sums.select(
        "n_days",
        F.expr("CAST(num * 1000 div den AS BIGINT)").alias("dw_milli"),
    )


@register(
    "monthly_seasonal_index_ratio_to_ma",
    oracle="""
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS mx,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS cal_month,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS r
  FROM orders GROUP BY 1, 2
),
win AS (
  SELECT mx, cal_month, r,
         CAST(count(*) OVER w13 AS BIGINT) AS n13,
         CAST(SUM(r) OVER w13 AS BIGINT) AS s13,
         CAST(SUM(r) OVER w11 AS BIGINT) AS s11
  FROM monthly
  WINDOW w13 AS (ORDER BY mx RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING),
         w11 AS (ORDER BY mx RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)
),
ratio AS (
  SELECT cal_month,
         CAST(CAST(r AS HUGEINT) * 24000000 // (s13 + s11) AS BIGINT)
             AS ratio_ppm
  FROM win WHERE n13 = 13
)
SELECT cal_month,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(SUM(ratio_ppm) // count(*) AS BIGINT) AS seasonal_index_ppm
FROM ratio GROUP BY cal_month ORDER BY cal_month
""",
)
def monthly_seasonal_index_ratio_to_ma(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL INDEX by RATIO-TO-MOVING-AVERAGE (the classical
    multiplicative-decomposition recipe): each month's revenue over
    its CENTERED 2x12 moving average — the even-window centering
    trick: the 13-month sum PLUS the inner 11-month sum equals
    2·(half-weighted 12-MA)·12, so ratio = r·24/(s13+s11), one exact
    ppm floor-division with NO half-weights materialized (the
    cents x 24·10⁶ product in decimal(38,0) ⟷ HUGEINT for any-SF
    headroom) — then
    averaged per calendar month (sum of exact ppm ints div count).
    Incomplete edge windows are excluded by the n13 = 13 count guard
    rather than silently averaging a short window. This is the
    monthly-seasonality complement to seasonal_dow_index's
    day-of-week profile. Scale: all windows run on the ~84-row month
    domain after one fact pass."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.to_date("o_orderdate")) * 12
            + F.month(F.to_date("o_orderdate"))
            - 1
        )
        .cast("long")
        .alias("mx"),
        F.month(F.to_date("o_orderdate")).cast("long").alias("cal_month"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("r"))
    w13 = Window.orderBy("mx").rangeBetween(-6, 6)
    w11 = Window.orderBy("mx").rangeBetween(-5, 5)
    win = monthly.select(
        "cal_month",
        "r",
        F.count("*").over(w13).alias("n13"),
        F.sum("r").over(w13).alias("s13"),
        F.sum("r").over(w11).alias("s11"),
    )
    ratio = win.filter(F.col("n13") == 13).select(
        "cal_month",
        F.expr(
            "CAST(CAST(r AS DECIMAL(38,0)) * 24000000"
            " div (s13 + s11) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
    return (
        ratio.groupBy("cal_month")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr(
                "CAST(sum(ratio_ppm) div count(*) AS BIGINT)"
            ).alias("seasonal_index_ppm"),
        )
        .orderBy("cal_month")
    )


@register(
    "rsi_cutler_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
diffs AS (
  SELECT d, x, x - LAG(x) OVER (ORDER BY d) AS dx FROM daily
),
gl AS (
  SELECT d, x,
         CASE WHEN dx > 0 THEN dx ELSE 0 END AS g,
         CASE WHEN dx < 0 THEN -dx ELSE 0 END AS l,
         CASE WHEN dx IS NULL THEN 0 ELSE 1 END AS has_dx
  FROM diffs
),
win AS (
  SELECT d, x,
         CAST(SUM(g) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS gain14,
         CAST(SUM(l) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS loss14,
         CAST(SUM(has_dx) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS n_diffs
  FROM gl
)
SELECT d, x AS value_cents, n_diffs, gain14, loss14,
       CASE WHEN gain14 + loss14 > 0
            THEN CAST(CAST(gain14 AS HUGEINT) * 1000000
                      // (gain14 + loss14) AS BIGINT)
       END AS rsi_ppm
FROM win ORDER BY d
""",
)
def rsi_cutler_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE STRENGTH INDEX, Cutler's simple-moving-average variant
    (RSI = 100·gain/(gain+loss) over a trailing 14-day window) on
    daily revenue — the momentum companion to
    stochastic_oscillator_daily's range-position %K: %K locates today
    inside the window's price RANGE, RSI splits the window's total
    MOVEMENT into up-moves vs down-moves. Cutler's arithmetic-mean
    form is chosen over Wilder's because Wilder's recursive smoothing
    is an infinite-impulse float recurrence (banned from hash-gated
    outputs); Cutler's is a pure rational in exact cents deltas, so
    the whole indicator is one non-negative ppm floor-division (the
    ×10⁶ product rides HUGEINT ⟷ decimal(38,0) so a large-SF revenue
    swing never wraps int64). RANGE frame over the integer day index:
    calendar gaps shrink the window identically in both engines.
    Flat 14 days (gain+loss = 0) → NULL, not a divide-by-zero (ANSI).
    Scale: windows run on the calendar-bounded daily aggregate (~2.4k
    rows at any SF) after ONE map-side-combinable fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wl = Window.orderBy("d")
    diffs = daily.withColumn("dx", F.col("x") - F.lag("x").over(wl))
    gl = diffs.select(
        "d",
        "x",
        F.when(F.col("dx") > 0, F.col("dx")).otherwise(F.lit(0)).alias("g"),
        F.when(F.col("dx") < 0, -F.col("dx")).otherwise(F.lit(0)).alias("l"),
        F.when(F.col("dx").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "has_dx"
        ),
    )
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    win = gl.select(
        "d",
        "x",
        F.sum("g").over(wr).alias("gain14"),
        F.sum("l").over(wr).alias("loss14"),
        F.sum("has_dx").over(wr).alias("n_diffs"),
    )
    return win.select(
        "d",
        F.col("x").alias("value_cents"),
        "n_diffs",
        "gain14",
        "loss14",
        F.when(
            F.col("gain14") + F.col("loss14") > 0,
            F.expr(
                "CAST(CAST(gain14 AS DECIMAL(38,0)) * 1000000"
                " div (gain14 + loss14) AS BIGINT)"
            ),
        ).alias("rsi_ppm"),
    ).orderBy("d")


@register(
    "obv_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x,
         CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
dirs AS (
  SELECT d, x, v,
         CASE WHEN LAG(x) OVER (ORDER BY d) IS NULL THEN 0
              WHEN x > LAG(x) OVER (ORDER BY d) THEN 1
              WHEN x < LAG(x) OVER (ORDER BY d) THEN -1
              ELSE 0 END AS dir
  FROM daily
)
SELECT d, x AS value_cents, v AS volume, dir,
       CAST(SUM(dir * v) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM dirs ORDER BY d
""",
)
def obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-BALANCE VOLUME (Granville) over the daily order series —
    the classic volume-confirms-price accumulation line: each day's
    order COUNT is added to a running total when daily revenue rose,
    subtracted when it fell, ignored when flat (and on the first day,
    whose direction is undefined). Complements obv-free momentum
    (rsi_cutler_daily) by tracking participation rather than
    magnitude. Pure integer arithmetic end-to-end — a signed
    cumulative sum of exact counts, no division at all; |OBV| is
    bounded by total order count, so int64 holds to SF ~10⁹.
    The cumulative frame is ROWS UNBOUNDED PRECEDING (every day is a
    distinct ORDER BY key, so ROWS ≡ RANGE and both engines agree).
    Scale: one map-side-combinable aggregation of the fact table to
    ~2.4k calendar rows; the window runs on that bounded domain."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("x"),
        F.count("*").alias("v"),
    )
    wl = Window.orderBy("d")
    dirs = daily.withColumn(
        "dir",
        F.when(F.lag("x").over(wl).isNull(), F.lit(0))
        .when(F.col("x") > F.lag("x").over(wl), F.lit(1))
        .when(F.col("x") < F.lag("x").over(wl), F.lit(-1))
        .otherwise(F.lit(0)),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return dirs.select(
        "d",
        F.col("x").alias("value_cents"),
        F.col("v").alias("volume"),
        "dir",
        F.sum(F.col("dir") * F.col("v")).over(wc).alias("obv"),
    ).orderBy("d")


@register(
    "aroon_25_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
keys AS (
  SELECT d, x,
         CAST(x AS HUGEINT) * 100000 + d AS hi_key,
         CAST(x AS HUGEINT) * 100000 + (99999 - d) AS lo_key
  FROM daily
),
win AS (
  SELECT d, x,
         CAST(max(hi_key) OVER (ORDER BY d RANGE BETWEEN 24 PRECEDING
                                AND CURRENT ROW) % 100000 AS BIGINT)
             AS d_high,
         99999 - CAST(min(lo_key) OVER (ORDER BY d RANGE BETWEEN 24
                      PRECEDING AND CURRENT ROW) % 100000 AS BIGINT)
             AS d_low,
         CAST(count(*) OVER (ORDER BY d RANGE BETWEEN 24 PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS n_win
  FROM keys
)
SELECT d, x AS value_cents, n_win,
       d - d_high AS days_since_high,
       d - d_low AS days_since_low,
       (25 - (d - d_high)) * 4 AS aroon_up_pct,
       (25 - (d - d_low)) * 4 AS aroon_down_pct
FROM win ORDER BY d
""",
)
def aroon_25_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AROON indicator (Chande) over daily revenue: how many days ago
    did the trailing 25-day window set its high / its low, published
    as aroon-up/down = (25 − days_since_extreme)·4 exact percent —
    the time-since-extreme lens that stochastic (%K: WHERE in the
    range) and RSI (HOW the movement split) don't capture. The window
    argmax is done with PURE INTEGER arithmetic, no arg_max (DuckDB's
    arg_max can't take a composite tie-break key over a window):
    encode key = x·10⁵ + d so max(key) is the window max of x with
    ties broken toward the LATEST day, and d = key mod 10⁵; the low
    side encodes 99999 − d so min(key) also tie-breaks toward the
    latest day. day indexes stay < 10⁵ through year 2243, and the
    HUGEINT ⟷ decimal(38,0) key survives any SF's revenue. RANGE
    frame over the day index: calendar gaps shrink the window
    identically in both engines (n_win exposes the warm-up/gap
    count). Scale: bounded ~2.4k-row daily domain after one
    map-side-combinable fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    keys = daily.select(
        "d",
        "x",
        F.expr("CAST(x AS DECIMAL(38,0)) * 100000 + d").alias("hi_key"),
        F.expr("CAST(x AS DECIMAL(38,0)) * 100000 + (99999 - d)").alias(
            "lo_key"
        ),
    )
    wr = Window.orderBy("d").rangeBetween(-24, 0)
    win = keys.select(
        "d",
        "x",
        F.expr(
            "CAST(max(hi_key) OVER (ORDER BY d RANGE BETWEEN 24"
            " PRECEDING AND CURRENT ROW) % 100000 AS BIGINT)"
        ).alias("d_high"),
        (
            F.lit(99999)
            - F.expr(
                "CAST(min(lo_key) OVER (ORDER BY d RANGE BETWEEN 24"
                " PRECEDING AND CURRENT ROW) % 100000 AS BIGINT)"
            )
        ).alias("d_low"),
        F.count("*").over(wr).alias("n_win"),
    )
    return win.select(
        "d",
        F.col("x").alias("value_cents"),
        "n_win",
        (F.col("d") - F.col("d_high")).alias("days_since_high"),
        (F.col("d") - F.col("d_low")).alias("days_since_low"),
        ((F.lit(25) - (F.col("d") - F.col("d_high"))) * 4).alias(
            "aroon_up_pct"
        ),
        ((F.lit(25) - (F.col("d") - F.col("d_low"))) * 4).alias(
            "aroon_down_pct"
        ),
    ).orderBy("d")


@register(
    "chaikin_money_flow_daily",
    oracle="""
WITH hourly AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS d,
         CAST(o_orderkey % 24 AS BIGINT) AS h,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS c,
         CAST(count(*) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
),
daily AS (
  SELECT d,
         CAST(max(c) AS BIGINT) AS hi,
         CAST(min(c) AS BIGINT) AS lo,
         CAST(SUM(v) AS BIGINT) AS vol,
         CAST(max(h) AS BIGINT) AS h_close
  FROM hourly GROUP BY d
),
closes AS (
  SELECT daily.d, daily.hi, daily.lo, daily.vol, hourly.c AS cl
  FROM daily JOIN hourly
    ON hourly.d = daily.d AND hourly.h = daily.h_close
),
mf AS (
  SELECT d, vol,
         CASE WHEN hi > lo
              THEN CAST(CAST(cl - lo AS HUGEINT) * 2000000
                        // (hi - lo) AS BIGINT)
              ELSE 1000000 END AS mfm_pos_ppm
  FROM closes
),
win AS (
  SELECT d, vol,
         CAST(SUM(CAST(mfm_pos_ppm AS HUGEINT) * vol)
              OVER (ORDER BY d RANGE BETWEEN 19 PRECEDING AND
                    CURRENT ROW) AS HUGEINT) AS s_mfv,
         CAST(SUM(vol) OVER (ORDER BY d RANGE BETWEEN 19 PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS s_vol
  FROM mf
)
SELECT d, vol AS volume, s_vol AS volume20,
       CAST(s_mfv // s_vol AS BIGINT) - 1000000 AS cmf_ppm
FROM win ORDER BY d
""",
)
def chaikin_money_flow_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAIKIN MONEY FLOW over synthetic intraday bars: each day's
    orders are bucketed into 24 deterministic 'hours' (o_orderkey mod
    24 — o_orderdate carries no time component, so the bucketing is a
    reproducible hash, the md5-family doctrine), giving a high / low /
    close / volume bar; CMF₂₀ = Σ₂₀(MFM·vol) / Σ₂₀vol where MFM =
    ((close−low)−(high−close))/(high−low). Every division is made
    NON-NEGATIVE before flooring (Spark div truncates toward zero,
    DuckDB // floors — they only agree on non-negatives): MFM is
    computed as (close−low)·2·10⁶ div (high−low) ∈ [0, 2·10⁶] and the
    −10⁶ centering constant is pulled OUTSIDE the final volume-ratio
    division (floor((a−c·d)/d) = floor(a/d)−c). Close = the bar of the
    highest-numbered hour bucket present (max(h), joined back to the
    hourly frame — a broadcastable bounded-domain join). Flat bars
    (hi = lo) take MFM = 0 (the ppm-positive encoding's 10⁶) with
    volume still counted — the standard CMF convention. The MFM·vol
    product rides HUGEINT ⟷ decimal(38,0). Scale: two
    map-side-combinable aggregations down to a bounded ~2.4k-day
    domain; the 20-day RANGE window runs there."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    hourly = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        (F.col("o_orderkey") % 24).cast("long").alias("h"),
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("c"),
        F.count("*").alias("v"),
    )
    daily = hourly.groupBy("d").agg(
        F.max("c").alias("hi"),
        F.min("c").alias("lo"),
        F.sum("v").alias("vol"),
        F.max("h").alias("h_close"),
    )
    closes = daily.join(
        hourly.select(
            F.col("d").alias("hd"), "h", F.col("c").alias("cl")
        ),
        (F.col("hd") == F.col("d")) & (F.col("h") == F.col("h_close")),
    ).select("d", "hi", "lo", "vol", "cl")
    mf = closes.select(
        "d",
        "vol",
        F.when(
            F.col("hi") > F.col("lo"),
            F.expr(
                "CAST(CAST(cl - lo AS DECIMAL(38,0)) * 2000000"
                " div (hi - lo) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(1000000))
        .alias("mfm_pos_ppm"),
    )
    wr = Window.orderBy("d").rangeBetween(-19, 0)
    win = mf.select(
        "d",
        "vol",
        F.sum(
            F.expr("CAST(mfm_pos_ppm AS DECIMAL(38,0)) * vol")
        ).over(wr).alias("s_mfv"),
        F.sum("vol").over(wr).alias("s_vol"),
    )
    return win.select(
        "d",
        F.col("vol").alias("volume"),
        F.col("s_vol").alias("volume20"),
        (
            F.expr("CAST(s_mfv div s_vol AS BIGINT)") - F.lit(1000000)
        ).alias("cmf_ppm"),
    ).orderBy("d")


@register(
    "mann_kendall_trend_monthly",
    oracle="""
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) * 12
              + EXTRACT(month FROM CAST(o_orderdate AS DATE))
              AS BIGINT) AS mx,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN b.x > a.x THEN 1
                                WHEN b.x < a.x THEN -1
                                ELSE 0 END), 0) AS BIGINT) AS s_stat
  FROM monthly a JOIN monthly b ON b.mx > a.mx
),
mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM monthly
),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
             AS tsum
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM monthly GROUP BY x)
),
v AS (
  SELECT mm.m, pairs.s_stat,
         mm.m * (mm.m - 1) * (2 * mm.m + 5) - ties.tsum AS var18
  FROM mm CROSS JOIN pairs CROSS JOIN ties
)
SELECT m AS n_months, s_stat, var18,
       CASE WHEN var18 > 0 THEN
         round((CASE WHEN s_stat > 0 THEN s_stat - 1
                     WHEN s_stat < 0 THEN s_stat + 1
                     ELSE 0 END)
               / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000)
         / 1000000
       END AS z_stat
FROM v
""",
)
def mann_kendall_trend_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANN-KENDALL TREND TEST over the monthly revenue series — the
    standard nonparametric is-there-a-monotone-trend statistic
    (S = Σ_{i<j} sign(x_j − x_i)), the hypothesis-test companion to
    theil_sen_daily_trend's slope ESTIMATE: Theil-Sen says how steep,
    Mann-Kendall says whether the trend is distinguishable from noise.
    S and the tie-corrected variance (×18, kept integer:
    var18 = m(m−1)(2m+5) − Σ t(t−1)(2t+5)) are EXACT int64 over exact
    cents; the z statistic (continuity-corrected S∓1) is one fixed
    IEEE tree — integer/18.0 division, correctly-rounded sqrt, one
    more division — identical in both engines per the Wilson/Welch
    doctrine. Degenerate all-tied series (var18 = 0) → NULL (ANSI x/0
    guard). Scale: the pairwise sign enumeration is a self-join of the
    calendar-bounded MONTHLY aggregate (~80 rows at any SF → ≤3.2k
    pairs — the hodges_lehmann bounded-domain precedent, and
    aggregate-derived so the nested-loop inspector sanctions it); the
    fact table is touched once by a map-side-combinable aggregate."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.to_date("o_orderdate")) * 12
            + F.month(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("mx")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    a = monthly.select(F.col("mx").alias("mxa"), F.col("x").alias("xa"))
    b = monthly.select(F.col("mx").alias("mxb"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("mxb") > F.col("mxa"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("xb") > F.col("xa"), F.lit(1))
                    .when(F.col("xb") < F.col("xa"), F.lit(-1))
                    .otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    mm = monthly.agg(F.count("*").alias("m"))
    ties = (
        monthly.groupBy("x")
        .agg(F.count("*").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tsum")
        )
    )
    v = mm.crossJoin(s).crossJoin(ties).select(
        F.col("m").alias("n_months"),
        "s_stat",
        (
            F.col("m") * (F.col("m") - 1) * (2 * F.col("m") + 5)
            - F.col("tsum")
        ).alias("var18"),
    )
    zc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return v.select(
        "n_months",
        "s_stat",
        "var18",
        F.when(
            F.col("var18") > 0,
            F.round(
                zc / F.sqrt(F.col("var18").cast("double") / 18.0)
                * 1000000
            )
            / 1000000,
        ).alias("z_stat"),
    )


@register(
    "macd_signal_daily",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100 AS x
    FROM orders GROUP BY 1)
),
r AS (
  SELECT d, rn, x, x AS e12, x AS e26,
         CAST(0 AS DOUBLE) AS macd, CAST(0 AS DOUBLE) AS e9
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT dd.d, dd.rn, dd.x,
         (2.0 / 13.0) * dd.x + (1 - 2.0 / 13.0) * r.e12,
         (2.0 / 27.0) * dd.x + (1 - 2.0 / 27.0) * r.e26,
         ((2.0 / 13.0) * dd.x + (1 - 2.0 / 13.0) * r.e12)
           - ((2.0 / 27.0) * dd.x + (1 - 2.0 / 27.0) * r.e26),
         (2.0 / 10.0) * (((2.0 / 13.0) * dd.x + (1 - 2.0 / 13.0) * r.e12)
           - ((2.0 / 27.0) * dd.x + (1 - 2.0 / 27.0) * r.e26))
           + (1 - 2.0 / 10.0) * r.e9
  FROM daily dd JOIN r ON dd.rn = r.rn + 1
)
SELECT d, round(x * 1000000) / 1000000 AS daily_value,
       round(macd * 1000000) / 1000000 AS macd,
       round(e9 * 1000000) / 1000000 AS signal,
       round((macd - e9) * 1000000) / 1000000 AS histogram
FROM r ORDER BY d
""",
)
def macd_signal_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (Appel's Moving Average Convergence/Divergence — fast
    EMA12 minus slow EMA26, with an EMA9 'signal' line and their
    'histogram' gap) over daily revenue — the trend-momentum
    complement to bollinger_breakout_daily's band position and
    rsi_cutler_daily's gain share; crossovers of macd through signal
    are the classic regime-change trigger. Three coupled EMA
    recursions run in ONE prefix scan after the daily pre-aggregation
    collapses the fact table to calendar grain (the ewma doctrine:
    the inherently sequential part touches ~2.6k rows at any SF, the
    one big shuffle is the map-side-combinable cents aggregation).
    All smoothers are seeded at the first observation (e12=e26=x₁ so
    macd₁=0 and e9₁=0 — the warm-up convention, documented rather
    than SMA-primed), multipliers are written as the identical IEEE
    expressions (2.0/13.0, 1 − 2.0/13.0, …) in both engines, inputs
    are bit-identical doubles (exact cents / 100), and outputs meet
    on the 1e-6 grid — the ewma_daily_event_value exactness
    contract."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100).alias(
            "x"
        )
    )
    a12, b12 = 2.0 / 13.0, 1 - 2.0 / 13.0
    a26, b26 = 2.0 / 27.0, 1 - 2.0 / 27.0
    a9, b9 = 2.0 / 10.0, 1 - 2.0 / 10.0
    allrows = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        e12 = F.when(F.size(acc) == 0, s["x"]).otherwise(
            F.lit(a12) * s["x"] + F.lit(b12) * prev["e12"]
        )
        e26 = F.when(F.size(acc) == 0, s["x"]).otherwise(
            F.lit(a26) * s["x"] + F.lit(b26) * prev["e26"]
        )
        macd = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(e12 - e26)
        e9 = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            F.lit(a9) * (e12 - e26) + F.lit(b9) * prev["e9"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["d"].alias("d"),
                    s["x"].alias("x"),
                    e12.alias("e12"),
                    e26.alias("e26"),
                    macd.alias("macd"),
                    e9.alias("e9"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, x double,"
            " e12 double, e26 double, macd double, e9 double>>)"
        ),
        step,
    )
    return (
        allrows.select(F.explode(scan).alias("r"))
        .select(
            F.col("r.d").alias("d"),
            (F.round(F.col("r.x") * 1000000) / 1000000).alias(
                "daily_value"
            ),
            (F.round(F.col("r.macd") * 1000000) / 1000000).alias("macd"),
            (F.round(F.col("r.e9") * 1000000) / 1000000).alias("signal"),
            (
                F.round((F.col("r.macd") - F.col("r.e9")) * 1000000)
                / 1000000
            ).alias("histogram"),
        )
        .orderBy("d")
    )


@register(
    "atr_sma14_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hi,
         CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS lo,
         CAST(arg_max(CAST(round(value * 100) AS BIGINT), event_id)
              AS BIGINT) AS cl
  FROM events GROUP BY 1
),
lagged AS (
  SELECT d, hi, lo, cl, LAG(cl) OVER (ORDER BY d) AS pc FROM daily
),
tr AS (
  SELECT d, hi, lo, cl,
         CAST(CASE WHEN pc IS NULL THEN hi - lo
              ELSE GREATEST(hi - lo, abs(hi - pc), abs(lo - pc))
              END AS BIGINT) AS tr
  FROM lagged
)
SELECT d, hi AS high_cents, lo AS low_cents, cl AS close_cents,
       tr AS true_range_cents,
       CAST(SUM(tr) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                          AND CURRENT ROW)
            // count(*) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
                              AND CURRENT ROW) AS BIGINT)
           AS atr14_cents
FROM tr ORDER BY d
""",
)
def atr_sma14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE TRUE RANGE (Wilder's volatility unit, here with the
    SMA-14 smoothing — the same recursion-free variant choice as
    rsi_cutler_daily) over daily event-value bars: TR extends the
    plain high−low range across the overnight gap by including
    |high−prev_close| and |low−prev_close|, so a day that gaps away
    from yesterday's close shows its true movement; ATR is the
    stop-loss / position-sizing denominator. The daily bar is exact
    int64 cents — high/low are min/max aggregates and the close is
    the value at the day's max event_id (max_by/arg_max: a
    DETERMINISTIC last-tick tiebreak, unlike arg_max on a tied
    timestamp). The trailing mean is a RANGE frame over the integer
    day index (calendar gaps shrink the window, the
    stochastic_oscillator doctrine) published as one floor-division
    of exact sums. Scale: one map-side-combinable aggregation to
    calendar grain, then bounded-domain windows."""
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.max(v).alias("hi"),
        F.min(v).alias("lo"),
        F.expr(
            "max_by(CAST(round(value * 100) AS BIGINT), event_id)"
        ).alias("cl"),
    )
    wl = Window.orderBy("d")
    lagged = daily.withColumn("pc", F.lag("cl").over(wl))
    tr = lagged.withColumn(
        "tr",
        F.when(F.col("pc").isNull(), F.col("hi") - F.col("lo")).otherwise(
            F.greatest(
                F.col("hi") - F.col("lo"),
                F.abs(F.col("hi") - F.col("pc")),
                F.abs(F.col("lo") - F.col("pc")),
            )
        ),
    )
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    return (
        tr.withColumn("s14", F.sum("tr").over(wr))
        .withColumn("n14", F.count("*").over(wr))
        .select(
            "d",
            F.col("hi").alias("high_cents"),
            F.col("lo").alias("low_cents"),
            F.col("cl").alias("close_cents"),
            F.col("tr").alias("true_range_cents"),
            F.expr("CAST(s14 div n14 AS BIGINT)").alias("atr14_cents"),
        )
        .orderBy("d")
    )


@register(
    "donchian_breakout_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
w AS (
  SELECT d, x,
         CAST(max(x) OVER (ORDER BY d RANGE BETWEEN 20 PRECEDING
                           AND 1 PRECEDING) AS BIGINT) AS hi20,
         CAST(min(x) OVER (ORDER BY d RANGE BETWEEN 20 PRECEDING
                           AND 1 PRECEDING) AS BIGINT) AS lo20
  FROM daily
)
SELECT d, x AS value_cents, hi20 AS high20_cents, lo20 AS low20_cents,
       CAST(CASE WHEN x > hi20 THEN 1 ELSE 0 END AS BIGINT)
           AS breakout_up,
       CAST(CASE WHEN x < lo20 THEN 1 ELSE 0 END AS BIGINT)
           AS breakout_down,
       CASE WHEN lo20 > 0
            THEN CAST(CAST(hi20 - lo20 AS HUGEINT) * 1000000 // lo20
                      AS BIGINT) END AS channel_width_ppm
FROM w WHERE hi20 IS NOT NULL ORDER BY d
""",
)
def donchian_breakout_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DONCHIAN CHANNEL breakouts (Richard Donchian's 20-day
    channel, the rule behind the Turtle trading system) over daily
    revenue: the channel is the max/min of the TRAILING 20 days
    EXCLUDING today (RANGE 20 PRECEDING .. 1 PRECEDING — including
    today would make an upward breakout definitionally impossible),
    and today breaks out when it exceeds that prior extreme. The
    exclusive-end RANGE frame is the one structural difference from
    stochastic_oscillator_daily's inclusive low14/high14 — same
    calendar-gap semantics, shifted bounds. Channel width is one
    non-negative ppm floor-division on a decimal(38,0) ⟷ HUGEINT
    product (revenue-scale headroom); warm-up rows with an empty
    prior window are dropped identically via hi20 IS NULL. Scale:
    bounded-domain daily windows after one fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wr = Window.orderBy("d").rangeBetween(-20, -1)
    w = daily.select(
        "d",
        "x",
        F.max("x").over(wr).alias("hi20"),
        F.min("x").over(wr).alias("lo20"),
    )
    return (
        w.filter(F.col("hi20").isNotNull())
        .select(
            "d",
            F.col("x").alias("value_cents"),
            F.col("hi20").alias("high20_cents"),
            F.col("lo20").alias("low20_cents"),
            F.when(F.col("x") > F.col("hi20"), 1)
            .otherwise(0)
            .cast("long")
            .alias("breakout_up"),
            F.when(F.col("x") < F.col("lo20"), 1)
            .otherwise(0)
            .cast("long")
            .alias("breakout_down"),
            F.when(
                F.col("lo20") > 0,
                F.expr(
                    "CAST(CAST(hi20 - lo20 AS DECIMAL(38,0)) * 1000000"
                    " div lo20 AS BIGINT)"
                ),
            ).alias("channel_width_ppm"),
        )
        .orderBy("d")
    )


@register(
    "ulcer_index_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
pk AS (
  SELECT d, x,
         CAST(max(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS peak
  FROM daily
),
dd AS (
  SELECT d, x, peak,
         CAST(CAST(peak - x AS HUGEINT) * 1000000 // peak AS BIGINT)
             AS dd_ppm
  FROM pk
),
ui AS (
  SELECT d, x, peak, dd_ppm,
         CAST(SUM(dd_ppm * dd_ppm) OVER (ORDER BY d RANGE BETWEEN
              13 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2,
         CAST(count(*) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS n
  FROM dd
)
SELECT d, x AS value_cents, peak AS peak_cents, dd_ppm,
       CAST(floor(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
            AS BIGINT) AS ulcer14_ppm
FROM ui ORDER BY d
""",
)
def ulcer_index_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ULCER INDEX (Martin & McCann's downside-volatility measure —
    RMS of the running drawdown over a trailing window) of daily
    revenue: unlike stddev it penalizes only BELOW-peak excursions
    and weighs them by both depth and duration, which is why
    portfolio risk dashboards pair it with max_drawdown_daily_value's
    single worst number. Drawdown is the running-peak ppm
    floor-division (peak is a monotone ROWS UNBOUNDED PRECEDING max;
    revenue cents are strictly positive so the divisor never hits
    zero); the RMS is exact until the last step — dd_ppm ≤ 1e6 so
    Σdd² over a 14-day RANGE window is ≤ 1.4e13, exactly
    representable in int64 AND in an IEEE double — making the one
    double division and the correctly-rounded sqrt bit-identical in
    both engines, floored onto the ppm grid. Scale: bounded-domain
    daily windows after one fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pk = daily.withColumn("peak", F.max("x").over(wp))
    dd = pk.withColumn(
        "dd_ppm",
        F.expr(
            "CAST(CAST(peak - x AS DECIMAL(38,0)) * 1000000 div peak"
            " AS BIGINT)"
        ),
    )
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    ui = dd.withColumn(
        "s2", F.sum(F.col("dd_ppm") * F.col("dd_ppm")).over(wr)
    ).withColumn("n", F.count("*").over(wr))
    return ui.select(
        "d",
        F.col("x").alias("value_cents"),
        F.col("peak").alias("peak_cents"),
        "dd_ppm",
        F.floor(
            F.sqrt(F.col("s2").cast("double") / F.col("n").cast("double"))
        )
        .cast("long")
        .alias("ulcer14_ppm"),
    ).orderBy("d")


@register(
    "croston_intermittent_demand",
    oracle="""
WITH RECURSIVE dem AS MATERIALIZED (
  SELECT pk, d, q, row_number() OVER (PARTITION BY pk ORDER BY d) AS rn,
         LAG(d) OVER (PARTITION BY pk ORDER BY d) AS pd
  FROM (
    SELECT l_partkey AS pk,
           date_diff('day', DATE '1970-01-01',
                     CAST(l_shipdate AS DATE)) AS d,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS q
    FROM lineitem WHERE l_partkey < 40
    GROUP BY 1, 2)
),
r AS (
  SELECT pk, d, rn, q, CAST(1 AS DOUBLE) AS i, q AS z,
         CAST(1 AS DOUBLE) AS p
  FROM dem WHERE rn = 1
  UNION ALL
  SELECT dd.pk, dd.d, dd.rn, dd.q,
         CAST(dd.d - dd.pd AS DOUBLE),
         0.2 * dd.q + 0.8 * r.z,
         0.2 * CAST(dd.d - dd.pd AS DOUBLE) + 0.8 * r.p
  FROM dem dd JOIN r ON dd.pk = r.pk AND dd.rn = r.rn + 1
)
SELECT pk AS partkey, d, CAST(q AS BIGINT) AS qty,
       CAST(i AS BIGINT) AS interval_days,
       round(z * 1000000) / 1000000 AS z_smooth,
       round(p * 1000000) / 1000000 AS p_smooth,
       round((z / p) * 1000000) / 1000000 AS croston_forecast
FROM r ORDER BY partkey, d
""",
)
def croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSTON'S METHOD (the intermittent-demand forecaster every
    spare-parts/slow-mover planner uses — demand_pattern_sbc_brands
    CLASSIFIES the pattern; Croston FORECASTS it) per part over daily
    shipped quantity: two coupled exponential smoothers (alpha=0.2)
    run only on DEMAND days — z tracks the nonzero demand size, p the
    inter-demand interval — and the forecast per period is z/p,
    which is what plain SES gets wrong on sparse series (it decays
    toward zero between demands and spikes after each one). Seeds:
    z₁ = first demand, p₁ = 1 (documented convention). The recursion
    is per-part (bounded 40-part sample, the interpolate_linear
    sampling precedent) over calendar-bounded demand days: Spark runs
    it as a per-key sort_array + F.aggregate prefix scan (the ewma
    machinery, properly PARTITIONED — no global window), DuckDB as a
    keyed recursive CTE; both see bit-identical integral doubles and
    the same literal 0.2/0.8 multipliers in the same order, meeting
    on the 1e-6 grid. Scale: the fact scan prunes on partkey
    (PushedFilters), the scan state is per-part calendar-bounded."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") < 40
    )
    dem = (
        li.groupBy(
            F.col("l_partkey").alias("pk"),
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("double")
            .alias("q")
        )
    )
    wk = Window.partitionBy("pk").orderBy("d")
    withi = dem.withColumn("pd", F.lag("d").over(wk)).withColumn(
        "i",
        F.when(F.col("pd").isNull(), F.lit(1.0)).otherwise(
            (F.col("d") - F.col("pd")).cast("double")
        ),
    )
    per_pk = withi.groupBy("pk").agg(
        F.sort_array(F.collect_list(F.struct("d", "q", "i"))).alias("s")
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        z = F.when(F.size(acc) == 0, s["q"]).otherwise(
            F.lit(0.2) * s["q"] + F.lit(0.8) * prev["z"]
        )
        p = F.when(F.size(acc) == 0, F.lit(1.0)).otherwise(
            F.lit(0.2) * s["i"] + F.lit(0.8) * prev["p"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["d"].alias("d"),
                    s["q"].alias("q"),
                    s["i"].alias("i"),
                    z.alias("z"),
                    p.alias("p"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, q double,"
            " i double, z double, p double>>)"
        ),
        step,
    )
    return (
        per_pk.select(F.col("pk").alias("partkey"), F.explode(scan).alias("r"))
        .select(
            "partkey",
            F.col("r.d").alias("d"),
            F.col("r.q").cast("long").alias("qty"),
            F.col("r.i").cast("long").alias("interval_days"),
            (F.round(F.col("r.z") * 1000000) / 1000000).alias("z_smooth"),
            (F.round(F.col("r.p") * 1000000) / 1000000).alias("p_smooth"),
            (
                F.round((F.col("r.z") / F.col("r.p")) * 1000000) / 1000000
            ).alias("croston_forecast"),
        )
        .orderBy("partkey", "d")
    )


@register(
    "vortex_indicator_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hi,
         CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS lo
  FROM events GROUP BY 1
),
lagged AS (
  SELECT d, hi, lo,
         LAG(hi) OVER (ORDER BY d) AS ph,
         LAG(lo) OVER (ORDER BY d) AS pl
  FROM daily
),
vm AS (
  SELECT d, hi, lo,
         CAST(abs(hi - pl) AS BIGINT) AS vm_plus,
         CAST(abs(lo - ph) AS BIGINT) AS vm_minus,
         CAST(GREATEST(hi - lo, abs(hi - ph), abs(lo - ph))
              AS BIGINT) AS tr
  FROM lagged WHERE ph IS NOT NULL
),
sums AS (
  SELECT d, hi, lo,
         CAST(SUM(vm_plus) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS svp,
         CAST(SUM(vm_minus) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS svm,
         CAST(SUM(tr) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS str
  FROM vm
)
SELECT d, hi AS high_cents, lo AS low_cents,
       CASE WHEN str > 0
            THEN CAST(CAST(svp AS HUGEINT) * 1000000 // str AS BIGINT)
       END AS vi_plus_ppm,
       CASE WHEN str > 0
            THEN CAST(CAST(svm AS HUGEINT) * 1000000 // str AS BIGINT)
       END AS vi_minus_ppm
FROM sums ORDER BY d
""",
)
def vortex_indicator_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VORTEX INDICATOR (Botes & Siepman 2010 — paired
    trend-direction oscillators VI+/VI−): upward 'vortex movement'
    |high − prev_low| against downward |low − prev_high|, each summed
    over a trailing 14-day window and normalized by the true-range
    sum — a VI+/VI− crossover is the trend-flip signal, the
    directional complement to atr_sma14_daily's magnitude-only
    volatility (same daily bar frame, same prev-bar coupling, same
    gap-aware RANGE window). Everything is exact int64 cents: the
    movement and true-range terms are absolute differences of bar
    extremes, the window sums are map-side-combinable, and each
    ratio is ONE non-negative ppm floor-division riding a
    decimal(38,0) ⟷ HUGEINT product (cents-scale headroom at any
    SF). The first calendar day is excluded identically via the
    prev-bar IS NULL filter; zero-TR windows yield NULL via the CASE
    guard (ANSI-safe). Scale: one fact aggregation to calendar
    grain, then bounded-domain windows — the stochastic_oscillator
    doctrine."""
    ev = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.max(v).alias("hi"), F.min(v).alias("lo"))
    wl = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "hi",
        "lo",
        F.lag("hi").over(wl).alias("ph"),
        F.lag("lo").over(wl).alias("pl"),
    )
    vm = lagged.filter(F.col("ph").isNotNull()).select(
        "d",
        "hi",
        "lo",
        F.abs(F.col("hi") - F.col("pl")).alias("vm_plus"),
        F.abs(F.col("lo") - F.col("ph")).alias("vm_minus"),
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.col("ph")),
            F.abs(F.col("lo") - F.col("ph")),
        ).alias("tr"),
    )
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    sums = vm.select(
        "d",
        "hi",
        "lo",
        F.sum("vm_plus").over(wr).alias("svp"),
        F.sum("vm_minus").over(wr).alias("svm"),
        F.sum("tr").over(wr).alias("str"),
    )
    return sums.select(
        "d",
        F.col("hi").alias("high_cents"),
        F.col("lo").alias("low_cents"),
        F.when(
            F.col("str") > 0,
            F.expr(
                "CAST(CAST(svp AS DECIMAL(38,0)) * 1000000 div str"
                " AS BIGINT)"
            ),
        ).alias("vi_plus_ppm"),
        F.when(
            F.col("str") > 0,
            F.expr(
                "CAST(CAST(svm AS DECIMAL(38,0)) * 1000000 div str"
                " AS BIGINT)"
            ),
        ).alias("vi_minus_ppm"),
    ).orderBy("d")


@register(
    "kalman_local_level_daily",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100 AS x
    FROM orders GROUP BY 1)
),
r AS (
  SELECT d, rn, x, x AS l, CAST(1.0 AS DOUBLE) AS p,
         CAST(0.0 AS DOUBLE) AS k
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT t.d, t.rn, t.x,
         t.l0 + t.k0 * (t.x - t.l0),
         (1 - t.k0) * t.pp,
         t.k0
  FROM (
    SELECT dd.d, dd.rn, dd.x, r.l AS l0, r.p + 0.01 AS pp,
           (r.p + 0.01) / ((r.p + 0.01) + 1.0) AS k0
    FROM daily dd JOIN r ON dd.rn = r.rn + 1
  ) t
)
SELECT d, round(x * 1000000) / 1000000 AS daily_value,
       round(l * 1000000) / 1000000 AS level,
       round(k * 1000000) / 1000000 AS gain,
       round(p * 1000000) / 1000000 AS variance
FROM r ORDER BY d
""",
)
def kalman_local_level_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KALMAN FILTER, local-level model (random-walk state + white
    observation noise, q = 0.01, r = 1.0 in squared daily-revenue
    units) over daily revenue — the optimal online smoother the EWMA
    family approximates: unlike ewma's FIXED alpha, the Kalman gain
    k_t = p_t/(p_t + r) ADAPTS — high while the state estimate is
    uncertain (fast lock-on after the seed or a regime change),
    converging to the steady-state gain as evidence accumulates; the
    published per-day gain and variance ARE that convergence
    trajectory. One prefix scan after the daily pre-aggregation (the
    ewma doctrine): predict p⁺ = p + q, gain k = p⁺/(p⁺+r), update
    l ← l + k(x−l), p ← (1−k)p⁺ — every multiplier computed ONCE per
    step and reused (both engines evaluate the identical IEEE
    expression via a nested-subquery alias in the recursive CTE and a
    Python-variable reuse in the scan), inputs are bit-identical
    doubles (exact cents / 100), outputs meet on the 1e-6 grid.
    Seeds: l₁ = x₁, p₁ = 1, k₁ = 0 (the state is the first
    observation, documented)."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100).alias(
            "x"
        )
    )
    allrows = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        pp = prev["p"] + F.lit(0.01)
        k = pp / (pp + F.lit(1.0))
        l = F.when(F.size(acc) == 0, s["x"]).otherwise(
            prev["l"] + k * (s["x"] - prev["l"])
        )
        p = F.when(F.size(acc) == 0, F.lit(1.0)).otherwise(
            (F.lit(1.0) - k) * pp
        )
        kk = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(k)
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["d"].alias("d"),
                    s["x"].alias("x"),
                    l.alias("l"),
                    p.alias("p"),
                    kk.alias("k"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, x double,"
            " l double, p double, k double>>)"
        ),
        step,
    )
    return (
        allrows.select(F.explode(scan).alias("r"))
        .select(
            F.col("r.d").alias("d"),
            (F.round(F.col("r.x") * 1000000) / 1000000).alias(
                "daily_value"
            ),
            (F.round(F.col("r.l") * 1000000) / 1000000).alias("level"),
            (F.round(F.col("r.k") * 1000000) / 1000000).alias("gain"),
            (F.round(F.col("r.p") * 1000000) / 1000000).alias("variance"),
        )
        .orderBy("d")
    )


@register(
    "holt_winters_additive_monthly",
    oracle="""
WITH RECURSIVE monthly AS MATERIALIZED (
  SELECT m, x, row_number() OVER (ORDER BY m) AS rn FROM (
    SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) * 100
                + EXTRACT(month FROM CAST(o_orderdate AS DATE))
                AS BIGINT) AS m,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS DOUBLE) / 100 AS x
    FROM orders GROUP BY 1)
),
r AS (
  SELECT m, rn, x, x AS rs,
         CAST([x] AS DOUBLE[]) AS xs,
         CAST(0.0 AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST([] AS DOUBLE[]) AS sl,
         CAST(0.0 AS DOUBLE) AS f, CAST(0.0 AS DOUBLE) AS snew
  FROM monthly WHERE rn = 1
  UNION ALL
  SELECT t.m, t.rn, t.x, t.rs, t.xs,
         t.lp,
         CASE WHEN t.rn > 12 THEN 0.1 * (t.lp - t.l0) + 0.9 * t.b0
              ELSE 0.0 END,
         CASE WHEN t.rn = 12
                THEN list_transform(t.xs, v -> v - t.lp)
              WHEN t.rn > 12
                THEN list_append(t.sl0[2:12],
                       0.3 * (t.x - t.lp) + 0.7 * t.su)
              ELSE CAST([] AS DOUBLE[]) END,
         CASE WHEN t.rn > 12 THEN t.l0 + t.b0 + t.su ELSE 0.0 END,
         CASE WHEN t.rn > 12 THEN 0.3 * (t.x - t.lp) + 0.7 * t.su
              ELSE 0.0 END
  FROM (
    SELECT dd.m, dd.rn, dd.x,
           r.rs + dd.x AS rs,
           list_append(r.xs, dd.x) AS xs,
           r.l AS l0, r.b AS b0, r.sl AS sl0,
           CASE WHEN dd.rn > 12 THEN r.sl[1] ELSE 0.0 END AS su,
           CASE WHEN dd.rn = 12 THEN (r.rs + dd.x) / 12.0
                WHEN dd.rn > 12
                  THEN 0.2 * (dd.x - r.sl[1]) + 0.8 * (r.l + r.b)
                ELSE 0.0 END AS lp
    FROM monthly dd JOIN r ON dd.rn = r.rn + 1
  ) t
)
SELECT m AS yyyymm, round(x * 1000000) / 1000000 AS monthly_value,
       round(l * 1000000) / 1000000 AS level,
       round(b * 1000000) / 1000000 AS trend,
       round(snew * 1000000) / 1000000 AS seasonal,
       round(f * 1000000) / 1000000 AS fitted
FROM r WHERE rn > 12 ORDER BY yyyymm
""",
)
def holt_winters_additive_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HOLT-WINTERS additive triple exponential smoothing over
    monthly revenue (alpha=0.2 level, beta=0.1 trend, gamma=0.3
    seasonal, period 12) — the classical seasonal forecaster that
    completes the smoothing ladder (ewma: level only; holt_linear:
    level+trend; this: level+trend+SEASONAL, the component the
    monthly_seasonal_index query estimates statically and this one
    tracks adaptively). The 12-slot seasonal state rides the
    recursion as a rotating list — s_used is the seasonal from 12
    steps back (head of the list), each step appends the refreshed
    value — so one prefix scan carries level, trend, and the whole
    seasonal vector; `fitted` is the honest one-step-ahead forecast
    l+b+s computed from PRE-update state. Initialization
    (documented): first 12 months warm up — level seeds at their
    sequential running-sum mean (the ONLY N-ary sum, built one add
    per step so both engines accumulate in the identical order),
    trend seeds at 0, seasonals at x_i − l; output starts at month
    13. Both engines compute each multiplier once (nested-subquery
    aliases ⟷ Python-variable reuse), literals written as 0.8/0.9/0.7
    on BOTH sides, meeting on the 1e-6 grid. Scale: the recursion
    touches ~80 calendar-bounded rows after ONE map-side-combinable
    fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.to_date("o_orderdate")) * 100
            + F.month(F.to_date("o_orderdate"))
        )
        .cast("long")
        .alias("m")
    ).agg(
        (F.sum(cents(F.col("o_totalprice"))).cast("double") / 100).alias(
            "x"
        )
    )
    allrows = monthly.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("m", "x"))).alias("s")
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        rn = F.size(acc) + 1
        rs = F.when(rn == 1, s["x"]).otherwise(prev["rs"] + s["x"])
        xs = F.when(
            rn == 1, F.array(s["x"])
        ).otherwise(F.concat(prev["xs"], F.array(s["x"])))
        su = F.when(rn > 12, F.element_at(prev["sl"], 1)).otherwise(
            F.lit(0.0)
        )
        lp = (
            F.when(rn == 12, rs / F.lit(12.0))
            .when(
                rn > 12,
                F.lit(0.2) * (s["x"] - F.element_at(prev["sl"], 1))
                + F.lit(0.8) * (prev["l"] + prev["b"]),
            )
            .otherwise(F.lit(0.0))
        )
        b = F.when(
            rn > 12,
            F.lit(0.1) * (lp - prev["l"]) + F.lit(0.9) * prev["b"],
        ).otherwise(F.lit(0.0))
        snew = F.when(
            rn > 12, F.lit(0.3) * (s["x"] - lp) + F.lit(0.7) * su
        ).otherwise(F.lit(0.0))
        sl = (
            F.when(rn == 12, F.transform(xs, lambda v: v - lp))
            .when(
                rn > 12,
                F.concat(F.slice(prev["sl"], 2, 11), F.array(snew)),
            )
            .otherwise(F.expr("CAST(array() AS array<double>)"))
        )
        f = F.when(
            rn > 12, prev["l"] + prev["b"] + su
        ).otherwise(F.lit(0.0))
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["m"].alias("m"),
                    s["x"].alias("x"),
                    rs.alias("rs"),
                    xs.alias("xs"),
                    lp.alias("l"),
                    b.alias("b"),
                    sl.alias("sl"),
                    f.alias("f"),
                    snew.alias("snew"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<m bigint, x double,"
            " rs double, xs array<double>, l double, b double,"
            " sl array<double>, f double, snew double>>)"
        ),
        step,
    )
    rows = allrows.select(
        F.posexplode(scan).alias("rn0", "r")
    ).filter(F.col("rn0") + 1 > 12)
    return rows.select(
        F.col("r.m").alias("yyyymm"),
        (F.round(F.col("r.x") * 1000000) / 1000000).alias(
            "monthly_value"
        ),
        (F.round(F.col("r.l") * 1000000) / 1000000).alias("level"),
        (F.round(F.col("r.b") * 1000000) / 1000000).alias("trend"),
        (F.round(F.col("r.snew") * 1000000) / 1000000).alias("seasonal"),
        (F.round(F.col("r.f") * 1000000) / 1000000).alias("fitted"),
    ).orderBy("yyyymm")


@register(
    "binseg_changepoints_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
idx AS (
  SELECT d, x, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS pf
  FROM daily
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t
  FROM daily
),
s1 AS (
  SELECT i, d,
         abs(CAST(tot.n AS HUGEINT) * pf - CAST(i AS HUGEINT) * tot.t)
             AS sc
  FROM idx CROSS JOIN tot WHERE i < tot.n
),
m1 AS (SELECT max(sc) AS m FROM s1),
k1 AS (SELECT CAST(min(i) AS BIGINT) AS k FROM s1, m1 WHERE sc = m1.m),
c1 AS (
  SELECT idx.i, idx.d, idx.pf FROM idx, k1 WHERE idx.i = k1.k
),
row1 AS (
  SELECT CAST(1 AS BIGINT) AS level,
         (SELECT min(d) FROM daily) AS start_day,
         (SELECT max(d) FROM daily) AS end_day,
         c1.d AS cp_day,
         CAST(m1.m // tot.n AS BIGINT) AS score_cents
  FROM c1, m1, tot
),
s2l AS (
  SELECT idx.i, idx.d,
         abs(CAST(c1.i AS HUGEINT) * idx.pf
             - CAST(idx.i AS HUGEINT) * c1.pf) AS sc
  FROM idx, c1 WHERE idx.i < c1.i
),
m2l AS (SELECT max(sc) AS m FROM s2l),
k2l AS (SELECT min(i) AS k FROM s2l, m2l WHERE sc = m2l.m),
row2 AS (
  SELECT CAST(2 AS BIGINT) AS level,
         (SELECT min(d) FROM daily) AS start_day,
         c1.d AS end_day,
         idx.d AS cp_day,
         CAST(m2l.m // c1.i AS BIGINT) AS score_cents
  FROM idx, k2l, c1, m2l WHERE idx.i = k2l.k
),
s2r AS (
  SELECT idx.i, idx.d,
         abs(CAST(tot.n - c1.i AS HUGEINT) * (idx.pf - c1.pf)
             - CAST(idx.i - c1.i AS HUGEINT) * (tot.t - c1.pf)) AS sc
  FROM idx, c1, tot WHERE idx.i > c1.i AND idx.i < tot.n
),
m2r AS (SELECT max(sc) AS m FROM s2r),
k2r AS (SELECT min(i) AS k FROM s2r, m2r WHERE sc = m2r.m),
row3 AS (
  SELECT CAST(3 AS BIGINT) AS level,
         c1.d AS start_day,
         (SELECT max(d) FROM daily) AS end_day,
         idx.d AS cp_day,
         CAST(m2r.m // (tot.n - c1.i) AS BIGINT) AS score_cents
  FROM idx, k2r, c1, m2r, tot WHERE idx.i = k2r.k
)
SELECT * FROM row1
UNION ALL SELECT * FROM row2
UNION ALL SELECT * FROM row3
ORDER BY level
""",
)
def binseg_changepoints_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BINARY SEGMENTATION changepoint detection (Scott & Knott's
    classic, the greedy workhorse behind ruptures/changepoint-R) over
    daily revenue, depth 2 — where cusum_changepoint_daily finds ONE
    break and pettitt tests its significance, binary segmentation
    RECURSES: split at the strongest break, then search each half,
    yielding the top-level break plus one sub-break per side (3
    candidate changepoints). The split criterion is the exact-integer
    CUSUM form: argmax_k |n_seg·P_k − k·T_seg| (the mean-shift
    statistic with the 1/n factored out — HUGEINT ⟷ decimal(38,0)
    cross-products), tie → smallest k; the argmax is taken as
    max-then-min-index AGGREGATES (never LIMIT-1 scalars), so every
    scalar that feeds level 2 is aggregate-derived and
    broadcast-sized. The published score is the floored mean-shift
    magnitude |S_k| in cents (// n_seg — int64 at any SF). Recursion
    depth is a query constant: each level is one windowed prefix sum
    (calendar-bounded) + two scans — never data-sized rounds."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wi = Window.orderBy("d")
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "d",
        "x",
        F.row_number().over(wi).cast("long").alias("i"),
        F.sum("x").over(wp).alias("pf"),
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("t"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
    )
    dec = "decimal(38,0)"

    def argmax_min_i(scores):
        m = scores.agg(F.max("sc").alias("m"))
        return (
            scores.crossJoin(F.broadcast(m))
            .filter(F.col("sc") == F.col("m"))
            .agg(F.min("i").alias("k"), F.max("m").alias("m"))
        )

    s1 = (
        idx.crossJoin(F.broadcast(tot))
        .filter(F.col("i") < F.col("n"))
        .select(
            "i",
            F.abs(
                F.col("n").cast(dec) * F.col("pf")
                - F.col("i").cast(dec) * F.col("t")
            ).alias("sc"),
        )
    )
    k1 = argmax_min_i(s1)
    c1 = (
        idx.join(F.broadcast(k1), idx.i == F.col("k"))
        .select(
            F.col("i").alias("ci"),
            F.col("d").alias("cd"),
            F.col("pf").alias("cpf"),
            F.col("m").alias("cm"),
        )
    )
    row1 = c1.crossJoin(F.broadcast(tot)).select(
        F.lit(1).cast("long").alias("level"),
        F.col("d_min").alias("start_day"),
        F.col("d_max").alias("end_day"),
        F.col("cd").alias("cp_day"),
        F.expr("CAST(cm div n AS BIGINT)").alias("score_cents"),
    )
    s2l = (
        idx.crossJoin(F.broadcast(c1))
        .filter(F.col("i") < F.col("ci"))
        .select(
            "i",
            F.abs(
                F.col("ci").cast(dec) * F.col("pf")
                - F.col("i").cast(dec) * F.col("cpf")
            ).alias("sc"),
        )
    )
    k2l = argmax_min_i(s2l)
    row2 = (
        idx.join(F.broadcast(k2l), idx.i == F.col("k"))
        .crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(2).cast("long").alias("level"),
            F.col("d_min").alias("start_day"),
            F.col("cd").alias("end_day"),
            F.col("d").alias("cp_day"),
            F.expr("CAST(m div ci AS BIGINT)").alias("score_cents"),
        )
    )
    s2r = (
        idx.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(tot))
        .filter((F.col("i") > F.col("ci")) & (F.col("i") < F.col("n")))
        .select(
            "i",
            F.abs(
                (F.col("n") - F.col("ci")).cast(dec)
                * (F.col("pf") - F.col("cpf"))
                - (F.col("i") - F.col("ci")).cast(dec)
                * (F.col("t") - F.col("cpf"))
            ).alias("sc"),
        )
    )
    k2r = argmax_min_i(s2r)
    row3 = (
        idx.join(F.broadcast(k2r), idx.i == F.col("k"))
        .crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(3).cast("long").alias("level"),
            F.col("cd").alias("start_day"),
            F.col("d_max").alias("end_day"),
            F.col("d").alias("cp_day"),
            F.expr("CAST(m div (n - ci) AS BIGINT)").alias("score_cents"),
        )
    )
    return row1.unionByName(row2).unionByName(row3).orderBy("level")


@register(
    "rolling_sharpe_14d_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
ret AS (
  SELECT d, x, x - LAG(x) OVER (ORDER BY d) AS r FROM daily
),
win AS (
  SELECT d, x, r,
         CAST(SUM(r) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS s,
         CAST(SUM(CAST(r AS HUGEINT) * r) OVER (ORDER BY d RANGE
              BETWEEN 13 PRECEDING AND CURRENT ROW) AS HUGEINT) AS q,
         CAST(count(r) OVER (ORDER BY d RANGE BETWEEN 13 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS n
  FROM ret WHERE r IS NOT NULL
)
SELECT d, x AS value_cents, r AS return_cents,
       CASE WHEN CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s > 0
            THEN CAST(floor(CAST(s AS DOUBLE) * 1000
                 / sqrt(CAST(CAST(n AS HUGEINT) * q
                             - CAST(s AS HUGEINT) * s AS DOUBLE)))
                 AS BIGINT)
       END AS sharpe_milli
FROM win ORDER BY d
""",
)
def rolling_sharpe_14d_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING SHARPE RATIO (14-day, zero benchmark) of daily revenue
    CHANGES — the risk-adjusted momentum gauge that completes the
    rolling-risk family (ulcer = downside depth, ATR/vortex =
    range-based volatility/direction; Sharpe = mean return per unit
    of total volatility): with S = Σr and the population sd, the
    ratio algebraically collapses to S/√(n·Σr² − S²) — the n
    denominators CANCEL, so the only float ops are one int→double
    conversion each (deterministic IEEE rounding of the same exact
    integer in both engines), one correctly-rounded sqrt, one
    division and one floor onto the milli grid (floor, not div:
    negative Sharpe must round toward −∞ identically — the
    sign-sensitive-floor doctrine). The variance complement is exact
    HUGEINT ⟷ decimal(38,0); flat windows (zero variance) yield NULL
    via the CASE guard. Scale: calendar-bounded daily windows after
    one fact aggregation."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    wl = Window.orderBy("d")
    ret = daily.withColumn(
        "r", F.col("x") - F.lag("x").over(wl)
    ).filter(F.col("r").isNotNull())
    dec = "decimal(38,0)"
    wr = Window.orderBy("d").rangeBetween(-13, 0)
    win = ret.select(
        "d",
        "x",
        "r",
        F.sum("r").over(wr).alias("s"),
        F.sum(F.col("r").cast(dec) * F.col("r")).over(wr).alias("q"),
        F.count("r").over(wr).alias("n"),
    )
    comp = F.expr(f"CAST(n AS {dec}) * q - CAST(s AS {dec}) * s")
    return win.select(
        "d",
        F.col("x").alias("value_cents"),
        F.col("r").alias("return_cents"),
        F.when(
            comp > 0,
            F.floor(
                F.col("s").cast("double")
                * 1000
                / F.sqrt(comp.cast("double"))
            ).cast("long"),
        ).alias("sharpe_milli"),
    ).orderBy("d")


# Granger-causality shared expression program: each stage's columns
# are SQL strings evaluated verbatim by BOTH engines (DuckDB chained
# CTEs ⟷ Spark chained selectExpr), so the fixed IEEE tree cannot
# diverge. Stage 1 moments are exact integers; doubles enter once.
_GRANGER_STAGES: list[list[str]] = [
    [  # doubles (one conversion per exact moment)
        "CAST(n AS DOUBLE) AS dn",
        "CAST(sy AS DOUBLE) AS dsy",
        "CAST(syl AS DOUBLE) AS dsyl",
        "CAST(sxl AS DOUBLE) AS dsxl",
        "CAST(syy AS DOUBLE) AS dsyy",
        "CAST(sylyl AS DOUBLE) AS dsylyl",
        "CAST(sxlxl AS DOUBLE) AS dsxlxl",
        "CAST(syyl AS DOUBLE) AS dsyyl",
        "CAST(syxl AS DOUBLE) AS dsyxl",
        "CAST(sylxl AS DOUBLE) AS dsylxl",
    ],
    [  # Cramer determinants for [1, y_lag, x_lag] and [1, y_lag]
        "dn * (dsylyl * dsxlxl - dsylxl * dsylxl)"
        " - dsyl * (dsyl * dsxlxl - dsylxl * dsxl)"
        " + dsxl * (dsyl * dsylxl - dsylyl * dsxl) AS det3",
        "dsy * (dsylyl * dsxlxl - dsylxl * dsylxl)"
        " - dsyl * (dsyyl * dsxlxl - dsylxl * dsyxl)"
        " + dsxl * (dsyyl * dsylxl - dsylyl * dsyxl) AS deta",
        "dn * (dsyyl * dsxlxl - dsylxl * dsyxl)"
        " - dsy * (dsyl * dsxlxl - dsylxl * dsxl)"
        " + dsxl * (dsyl * dsyxl - dsyyl * dsxl) AS detb",
        "dn * (dsylyl * dsyxl - dsyyl * dsylxl)"
        " - dsyl * (dsyl * dsyxl - dsyyl * dsxl)"
        " + dsy * (dsyl * dsylxl - dsylyl * dsxl) AS detc",
        "dn * dsylyl - dsyl * dsyl AS det2",
    ],
    [  # coefficients (each division exactly once)
        "deta / det3 AS ca",
        "detb / det3 AS cb",
        "detc / det3 AS cc",
        "(dsy * dsylyl - dsyl * dsyyl) / det2 AS car",
        "(dn * dsyyl - dsyl * dsy) / det2 AS cbr",
    ],
    [  # residual sums via the normal-equation identity
        "dsyy - (ca * dsy + cb * dsyyl + cc * dsyxl) AS ssr_u",
        "dsyy - (car * dsy + cbr * dsyyl) AS ssr_r",
    ],
    [
        "(ssr_r - ssr_u) * (dn - 3.0) / ssr_u AS f_stat",
    ],
]


@register(
    "granger_causality_daily",
    oracle="""
WITH daily AS (
  SELECT d, y, c FROM (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS y,
           CAST(count(*) AS BIGINT) AS c
    FROM orders GROUP BY 1)
),
lagged AS (
  SELECT y,
         LAG(y) OVER (ORDER BY d) AS yl,
         LAG(c) OVER (ORDER BY d) AS xl
  FROM daily
),
t AS (SELECT y, yl, xl FROM lagged WHERE yl IS NOT NULL),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(yl) AS BIGINT) AS syl,
         CAST(SUM(xl) AS BIGINT) AS sxl,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(yl AS HUGEINT) * yl) AS HUGEINT) AS sylyl,
         CAST(SUM(CAST(xl AS HUGEINT) * xl) AS HUGEINT) AS sxlxl,
         CAST(SUM(CAST(y AS HUGEINT) * yl) AS HUGEINT) AS syyl,
         CAST(SUM(CAST(y AS HUGEINT) * xl) AS HUGEINT) AS syxl,
         CAST(SUM(CAST(yl AS HUGEINT) * xl) AS HUGEINT) AS sylxl
  FROM t
),
s1 AS (SELECT *, {S1} FROM mom),
s2 AS (SELECT *, {S2} FROM s1),
s3 AS (SELECT *, {S3} FROM s2),
s4 AS (SELECT *, {S4} FROM s3),
s5 AS (SELECT *, {S5} FROM s4)
SELECT n,
       round(cb * 1000000) / 1000000 AS coef_y_lag,
       round(cc * 1000000) / 1000000 AS coef_x_lag,
       round(ssr_u / (dn - 3.0) * 1000000) / 1000000 AS mse_u,
       round(f_stat * 1000000) / 1000000 AS f_stat
FROM s5
""".replace("{S1}", ", ".join(_GRANGER_STAGES[0]))
   .replace("{S2}", ", ".join(_GRANGER_STAGES[1]))
   .replace("{S3}", ", ".join(_GRANGER_STAGES[2]))
   .replace("{S4}", ", ".join(_GRANGER_STAGES[3]))
   .replace("{S5}", ", ".join(_GRANGER_STAGES[4])),
)
def granger_causality_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GRANGER CAUSALITY test (lag 1): does yesterday's ORDER COUNT
    help predict today's REVENUE beyond what yesterday's revenue
    already says? — the econometrician's lead-lag screen, fitting the
    unrestricted OLS y_t ~ [1, y_{t−1}, x_{t−1}] against the
    restricted y_t ~ [1, y_{t−1}] and publishing the F statistic for
    the exclusion plus both lag coefficients (rolling_ols_trend_14d's
    single-regressor normal equations, upgraded to a 3×3 Cramer
    solve). Exactness is the cochran_armitage fixed-IEEE-tree
    doctrine taken further: ALL moments are exact int64/HUGEINT ⟷
    decimal(38,0) sums, doubles enter via one cast per moment, and
    every downstream arithmetic step — determinants, coefficients,
    SSR identities, the F ratio — is a STAGED shared expression
    program (_GRANGER_STAGES) whose strings run verbatim in DuckDB
    CTEs and Spark selectExpr, meeting on the 1e-6 grid. SSR comes
    from the normal-equation identity Syy − βᵀ(Xᵀy) — no residual
    pass. Scale: one calendar-grain aggregation, one lag window, one
    10-moment rollup to a single broadcast row."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("y"),
        F.count("*").alias("c"),
    )
    wl = Window.orderBy("d")
    t = (
        daily.select(
            "y",
            F.lag("y").over(wl).alias("yl"),
            F.lag("c").over(wl).alias("xl"),
        )
        .filter(F.col("yl").isNotNull())
    )
    dec = "decimal(38,0)"
    mom = t.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("yl").alias("syl"),
        F.sum("xl").alias("sxl"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("yl").cast(dec) * F.col("yl")).alias("sylyl"),
        F.sum(F.col("xl").cast(dec) * F.col("xl")).alias("sxlxl"),
        F.sum(F.col("y").cast(dec) * F.col("yl")).alias("syyl"),
        F.sum(F.col("y").cast(dec) * F.col("xl")).alias("syxl"),
        F.sum(F.col("yl").cast(dec) * F.col("xl")).alias("sylxl"),
    )
    df = mom
    for stage in _GRANGER_STAGES:
        df = df.selectExpr("*", *stage)
    return df.selectExpr(
        "n",
        "round(cb * 1000000) / 1000000 AS coef_y_lag",
        "round(cc * 1000000) / 1000000 AS coef_x_lag",
        "round(ssr_u / (dn - 3.0) * 1000000) / 1000000 AS mse_u",
        "round(f_stat * 1000000) / 1000000 AS f_stat",
    )


@register(
    "hampel_filter_daily",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
nbr AS (
  SELECT d + t.off AS cd, x
  FROM daily, unnest([-3, -2, -1, 0, 1, 2, 3]) AS t(off)
),
g1 AS (
  SELECT nbr.cd, CAST(quantile_cont(nbr.x, 0.5) AS DOUBLE) AS med
  FROM nbr JOIN daily c ON c.d = nbr.cd
  GROUP BY nbr.cd
),
g2 AS (
  SELECT g1.cd,  max(g1.med) AS med,
         CAST(quantile_cont(abs(CAST(nbr.x AS DOUBLE) - g1.med), 0.5)
              AS DOUBLE) AS mad
  FROM nbr JOIN g1 ON g1.cd = nbr.cd
  GROUP BY g1.cd
)
SELECT c.d, c.x AS value_cents,
       round(g2.med * 1000000) / 1000000 AS window_median,
       round(g2.mad * 1000000) / 1000000 AS window_mad,
       CAST(CASE WHEN abs(CAST(c.x AS DOUBLE) - g2.med) * 10000
                      > 44478.0 * g2.mad
            THEN 1 ELSE 0 END AS BIGINT) AS is_outlier,
       CAST(CASE WHEN abs(CAST(c.x AS DOUBLE) - g2.med) * 10000
                      > 44478.0 * g2.mad
            THEN CAST(round(g2.med) AS BIGINT) ELSE c.x END AS BIGINT)
           AS filtered_cents
FROM daily c JOIN g2 ON g2.cd = c.d
ORDER BY c.d
""",
)
def hampel_filter_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMPEL FILTER over daily revenue — the standard robust
    despiking pass (flag a point when it sits more than
    3·1.4826·MAD from the CENTERED 7-day rolling median, replace it
    with that median): rolling_median smooths, mad_outlier_order_
    values flags globally; Hampel is the rolling, replace-in-place
    combination every sensor/finance cleaning pipeline runs first.
    The centered window is materialized as the range_join_bucketed
    doctrine — each day EXPLODES onto its 7 center buckets and both
    the median and the center-dependent MAD (median of |x − med_c|,
    which no plain window can express because the aggregand depends
    on the center row) become pure EQUI-join aggregations. Medians
    interpolate on the exact 0.25-cent binary grid (integer cents and
    their halves), so both engines' midpoint formulas agree exactly;
    the 4.4478 threshold runs as the rational 44478/10⁴ against
    |x−med|·10⁴ in deterministic doubles. Scale: 7× fan-out of the
    calendar-bounded daily frame, two keyed aggregations — no BNL, no
    data-sized windows."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("x"))
    nbr = daily.select(
        F.explode(
            F.sequence(F.col("d") - 3, F.col("d") + 3)
        ).alias("cd"),
        "x",
    )
    centers = daily.select(F.col("d").alias("cd0"))
    g1 = (
        nbr.join(centers, nbr.cd == F.col("cd0"))
        .groupBy("cd")
        .agg(F.expr("CAST(percentile(x, 0.5) AS DOUBLE)").alias("med"))
    )
    g1n = g1.select(F.col("cd").alias("gcd"), "med")
    g2 = (
        nbr.join(g1n, nbr.cd == F.col("gcd"))
        .groupBy("cd")
        .agg(
            F.max("med").alias("med"),
            F.expr(
                "CAST(percentile(abs(CAST(x AS DOUBLE) - med), 0.5)"
                " AS DOUBLE)"
            ).alias("mad"),
        )
    )
    out_flag = F.expr(
        "abs(CAST(x AS DOUBLE) - med) * 10000 > 44478.0 * mad"
    )
    return (
        daily.join(g2, daily.d == g2.cd)
        .select(
            "d",
            F.col("x").alias("value_cents"),
            (F.round(F.col("med") * 1000000) / 1000000).alias(
                "window_median"
            ),
            (F.round(F.col("mad") * 1000000) / 1000000).alias(
                "window_mad"
            ),
            F.when(out_flag, 1).otherwise(0).cast("long").alias(
                "is_outlier"
            ),
            F.when(out_flag, F.round(F.col("med")).cast("long"))
            .otherwise(F.col("x"))
            .cast("long")
            .alias("filtered_cents"),
        )
        .orderBy("d")
    )


@register(
    "burst_viterbi_daily",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM (
    SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1)
),
lv AS MATERIALIZED (
  SELECT CAST(quantile_disc(x, 0.25) AS BIGINT) AS l0,
         CAST(quantile_disc(x, 0.75) AS BIGINT) AS l1,
         CAST(quantile_disc(x, 0.5) AS BIGINT) AS pen
  FROM daily
),
r AS (
  SELECT dd.rn, dd.d, dd.x,
         abs(dd.x - lv.l0) AS c0,
         abs(dd.x - lv.l1) AS c1,
         CAST([0] AS BIGINT[]) AS p0,
         CAST([1] AS BIGINT[]) AS p1
  FROM daily dd, lv WHERE dd.rn = 1
  UNION ALL
  SELECT t.rn, t.d, t.x,
         t.e0 + t.b00,
         t.e1 + t.b11,
         CASE WHEN t.stay0 THEN list_append(t.p0, 0)
              ELSE list_append(t.p1, 0) END,
         CASE WHEN t.stay1 THEN list_append(t.p1, 1)
              ELSE list_append(t.p0, 1) END
  FROM (
    SELECT dd.rn, dd.d, dd.x,
           abs(dd.x - lv.l0) AS e0,
           abs(dd.x - lv.l1) AS e1,
           r.c0 <= r.c1 + lv.pen AS stay0,
           r.c1 <= r.c0 + lv.pen AS stay1,
           CASE WHEN r.c0 <= r.c1 + lv.pen THEN r.c0
                ELSE r.c1 + lv.pen END AS b00,
           CASE WHEN r.c1 <= r.c0 + lv.pen THEN r.c1
                ELSE r.c0 + lv.pen END AS b11,
           r.p0, r.p1
    FROM daily dd JOIN r ON dd.rn = r.rn + 1
    CROSS JOIN lv
  ) t
),
fin AS (
  SELECT rn, d, x, c0, c1,
         CASE WHEN c0 <= c1 THEN p0 ELSE p1 END AS path
  FROM r ORDER BY rn DESC LIMIT 1
),
expanded AS (
  SELECT dd.d, dd.x, fin.path[dd.rn] AS state
  FROM daily dd CROSS JOIN fin
)
SELECT d, x AS n_events, CAST(state AS BIGINT) AS burst_state
FROM expanded ORDER BY d
""",
)
def burst_viterbi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURST DETECTION by exact-integer VITERBI decoding — the
    Kleinberg two-state burst automaton recast with L1 emission costs
    so the whole dynamic program is integer arithmetic (Kleinberg's
    original uses log-likelihoods; the L1 variant is the documented
    exact form, same machinery): state 0 is the 'baseline' level
    (daily event count ≈ 25th percentile), state 1 the 'burst' level
    (75th), emission cost |x − level_s|, and switching costs the
    median daily count — so a single spiky day stays baseline but a
    SUSTAINED elevation flips the decoded state, which is what
    separates bursts from anomaly_hourly's pointwise outliers and
    hysteresis_alerts' fixed thresholds (Viterbi finds the GLOBAL
    minimum-cost state path). Levels/penalty are discrete quantiles —
    aggregate-derived scalars. The DP is one prefix scan (ewma
    machinery) carrying both state costs AND both best-path arrays
    (calendar-bounded backtracking-free Viterbi; ties break to the
    LOWER state in both engines); the final path is the cheaper
    terminal state's array. Scale: one fact aggregation to calendar
    grain, a 3-scalar broadcast, one bounded scan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count("*").alias("x"))
    lv = daily.agg(
        F.expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY x)"
               " AS BIGINT)").alias("l0"),
        F.expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY x)"
               " AS BIGINT)").alias("l1"),
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
               " AS BIGINT)").alias("pen"),
    )
    allrows = (
        daily.crossJoin(F.broadcast(lv))
        .groupBy("l0", "l1", "pen")
        .agg(F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s"))
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        e0 = F.abs(s["x"] - F.col("l0"))
        e1 = F.abs(s["x"] - F.col("l1"))
        stay0 = prev["c0"] <= prev["c1"] + F.col("pen")
        stay1 = prev["c1"] <= prev["c0"] + F.col("pen")
        b00 = F.when(stay0, prev["c0"]).otherwise(
            prev["c1"] + F.col("pen")
        )
        b11 = F.when(stay1, prev["c1"]).otherwise(
            prev["c0"] + F.col("pen")
        )
        first = F.size(acc) == 0
        c0 = F.when(first, e0).otherwise(e0 + b00)
        c1 = F.when(first, e1).otherwise(e1 + b11)
        p0 = F.when(first, F.array(F.lit(0).cast("long"))).otherwise(
            F.concat(
                F.when(stay0, prev["p0"]).otherwise(prev["p1"]),
                F.array(F.lit(0).cast("long")),
            )
        )
        p1 = F.when(first, F.array(F.lit(1).cast("long"))).otherwise(
            F.concat(
                F.when(stay1, prev["p1"]).otherwise(prev["p0"]),
                F.array(F.lit(1).cast("long")),
            )
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["d"].alias("d"),
                    s["x"].alias("x"),
                    c0.alias("c0"),
                    c1.alias("c1"),
                    p0.alias("p0"),
                    p1.alias("p1"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, x bigint,"
            " c0 bigint, c1 bigint, p0 array<bigint>,"
            " p1 array<bigint>>>)"
        ),
        step,
    )
    fin = allrows.select(
        F.col("s").alias("seq"), F.element_at(scan, -1).alias("last")
    ).select(
        "seq",
        F.when(
            F.col("last.c0") <= F.col("last.c1"), F.col("last.p0")
        )
        .otherwise(F.col("last.p1"))
        .alias("path"),
    )
    return (
        fin.select(
            F.posexplode(
                F.zip_with(
                    "seq", "path", lambda s, st: F.struct(
                        s["d"].alias("d"), s["x"].alias("x"),
                        st.alias("state"),
                    )
                )
            ).alias("i", "r")
        )
        .select(
            F.col("r.d").alias("d"),
            F.col("r.x").alias("n_events"),
            F.col("r.state").cast("long").alias("burst_state"),
        )
        .orderBy("d")
    )


_CHOW_SSR = (
    "({p}syy - ({p}sy * {p}sy) / {p}n)"
    " - ({p}sxy - ({p}sx * {p}sy) / {p}n)"
    " * ({p}sxy - ({p}sx * {p}sy) / {p}n)"
    " / ({p}sxx - ({p}sx * {p}sx) / {p}n)"
)


@register(
    "chow_test_midpoint_daily",
    oracle=f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS y
  FROM orders GROUP BY 1
),
brk AS (
  SELECT CAST(quantile_disc(d, 0.5) AS BIGINT) AS bd FROM daily
),
halves AS (
  SELECT CASE WHEN daily.d <= brk.bd THEN 1 ELSE 2 END AS h,
         daily.d, daily.y
  FROM daily CROSS JOIN brk
),
mom AS (
  SELECT
    CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN h = 1 THEN d ELSE 0 END) AS BIGINT) AS sx1,
    CAST(SUM(CASE WHEN h = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
    CAST(SUM(CASE WHEN h = 1 THEN CAST(d AS HUGEINT) * d ELSE 0 END)
         AS HUGEINT) AS sxx1,
    CAST(SUM(CASE WHEN h = 1 THEN CAST(d AS HUGEINT) * y ELSE 0 END)
         AS HUGEINT) AS sxy1,
    CAST(SUM(CASE WHEN h = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
         AS HUGEINT) AS syy1,
    CAST(SUM(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN h = 2 THEN d ELSE 0 END) AS BIGINT) AS sx2,
    CAST(SUM(CASE WHEN h = 2 THEN y ELSE 0 END) AS BIGINT) AS sy2,
    CAST(SUM(CASE WHEN h = 2 THEN CAST(d AS HUGEINT) * d ELSE 0 END)
         AS HUGEINT) AS sxx2,
    CAST(SUM(CASE WHEN h = 2 THEN CAST(d AS HUGEINT) * y ELSE 0 END)
         AS HUGEINT) AS sxy2,
    CAST(SUM(CASE WHEN h = 2 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
         AS HUGEINT) AS syy2
  FROM halves
),
dbl AS (
  SELECT
    CAST(n1 AS DOUBLE) AS h1n, CAST(sx1 AS DOUBLE) AS h1sx,
    CAST(sy1 AS DOUBLE) AS h1sy, CAST(sxx1 AS DOUBLE) AS h1sxx,
    CAST(sxy1 AS DOUBLE) AS h1sxy, CAST(syy1 AS DOUBLE) AS h1syy,
    CAST(n2 AS DOUBLE) AS h2n, CAST(sx2 AS DOUBLE) AS h2sx,
    CAST(sy2 AS DOUBLE) AS h2sy, CAST(sxx2 AS DOUBLE) AS h2sxx,
    CAST(sxy2 AS DOUBLE) AS h2sxy, CAST(syy2 AS DOUBLE) AS h2syy,
    CAST(n1 + n2 AS DOUBLE) AS ppn,
    CAST(sx1 + sx2 AS DOUBLE) AS ppsx,
    CAST(sy1 + sy2 AS DOUBLE) AS ppsy,
    CAST(sxx1 + sxx2 AS DOUBLE) AS ppsxx,
    CAST(sxy1 + sxy2 AS DOUBLE) AS ppsxy,
    CAST(syy1 + syy2 AS DOUBLE) AS ppsyy,
    n1, n2
  FROM mom
),
ssr AS (
  SELECT n1, n2, ppn,
         {_CHOW_SSR.format(p="h1")} AS ssr1,
         {_CHOW_SSR.format(p="h2")} AS ssr2,
         {_CHOW_SSR.format(p="pp")} AS ssrp
  FROM dbl
)
SELECT n1, n2,
       (SELECT bd FROM brk) AS break_day,
       round((ssrp - ssr1 - ssr2) * (ppn - 4.0)
             / ((ssr1 + ssr2) * 2.0) * 1000000) / 1000000 AS f_stat
FROM ssr
""",
)
def chow_test_midpoint_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHOW TEST for a structural break in the daily revenue TREND at
    the sample's median day — the hypothesis-test companion to
    binseg_changepoints_daily (binseg FINDS the strongest break; Chow
    TESTS whether a candidate break is real): fit the linear trend
    separately on each half and pooled, then
    F = ((SSR_p − SSR_1 − SSR_2)/k) / ((SSR_1+SSR_2)/(n−2k)) with
    k = 2 parameters. The break day is the DERIVED median day (a
    discrete-quantile aggregate — never a hardcoded date, the
    shift-share lesson). Exactness is the granger fixed-IEEE-tree
    doctrine: per-half moments are exact int64/HUGEINT ⟷
    decimal(38,0) conditional sums in ONE pass, pooled moments are
    their exact integer sums, and each SSR evaluates the SAME
    generated expression string (_CHOW_SSR) in both engines. Scale:
    one calendar-grain aggregation, one 12-moment conditional rollup
    to a single broadcast row."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("y"))
    brk = daily.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d)"
            " AS BIGINT)"
        ).alias("bd")
    )
    halves = daily.crossJoin(F.broadcast(brk)).select(
        F.when(F.col("d") <= F.col("bd"), 1).otherwise(2).alias("h"),
        "d",
        "y",
        "bd",
    )
    dec = "decimal(38,0)"

    def cond(h, expr):
        return F.expr(f"SUM(CASE WHEN h = {h} THEN {expr} ELSE 0 END)")

    mom = halves.groupBy("bd").agg(
        cond(1, "1").cast("long").alias("n1"),
        cond(1, "d").cast("long").alias("sx1"),
        cond(1, "y").cast("long").alias("sy1"),
        cond(1, f"CAST(d AS {dec}) * d").alias("sxx1"),
        cond(1, f"CAST(d AS {dec}) * y").alias("sxy1"),
        cond(1, f"CAST(y AS {dec}) * y").alias("syy1"),
        cond(2, "1").cast("long").alias("n2"),
        cond(2, "d").cast("long").alias("sx2"),
        cond(2, "y").cast("long").alias("sy2"),
        cond(2, f"CAST(d AS {dec}) * d").alias("sxx2"),
        cond(2, f"CAST(d AS {dec}) * y").alias("sxy2"),
        cond(2, f"CAST(y AS {dec}) * y").alias("syy2"),
    )
    dbl = mom.selectExpr(
        "bd",
        "n1",
        "n2",
        "CAST(n1 AS DOUBLE) AS h1n",
        "CAST(sx1 AS DOUBLE) AS h1sx",
        "CAST(sy1 AS DOUBLE) AS h1sy",
        "CAST(sxx1 AS DOUBLE) AS h1sxx",
        "CAST(sxy1 AS DOUBLE) AS h1sxy",
        "CAST(syy1 AS DOUBLE) AS h1syy",
        "CAST(n2 AS DOUBLE) AS h2n",
        "CAST(sx2 AS DOUBLE) AS h2sx",
        "CAST(sy2 AS DOUBLE) AS h2sy",
        "CAST(sxx2 AS DOUBLE) AS h2sxx",
        "CAST(sxy2 AS DOUBLE) AS h2sxy",
        "CAST(syy2 AS DOUBLE) AS h2syy",
        "CAST(n1 + n2 AS DOUBLE) AS ppn",
        "CAST(sx1 + sx2 AS DOUBLE) AS ppsx",
        "CAST(sy1 + sy2 AS DOUBLE) AS ppsy",
        "CAST(sxx1 + sxx2 AS DOUBLE) AS ppsxx",
        "CAST(sxy1 + sxy2 AS DOUBLE) AS ppsxy",
        "CAST(syy1 + syy2 AS DOUBLE) AS ppsyy",
    )
    ssr = dbl.selectExpr(
        "n1",
        "n2",
        "bd",
        "ppn",
        f"{_CHOW_SSR.format(p='h1')} AS ssr1",
        f"{_CHOW_SSR.format(p='h2')} AS ssr2",
        f"{_CHOW_SSR.format(p='pp')} AS ssrp",
    )
    return ssr.selectExpr(
        "n1",
        "n2",
        "bd AS break_day",
        "round((ssrp - ssr1 - ssr2) * (ppn - 4.0)"
        " / ((ssr1 + ssr2) * 2.0) * 1000000) / 1000000 AS f_stat",
    )


# ---------------------------------------------------------------------------
# Daily revenue series: outlier, indicator and serial-correlation tests
# ---------------------------------------------------------------------------


# Shared daily-revenue base: exact int64 cents per order day, day
# expressed as the epoch-day integer x (the max_drawdown idiom — day
# arithmetic without timestamp-dtype divergence between engines).
_DAILY_ORDERS_CTE = """
daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS v
  FROM orders GROUP BY 1
)
"""


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "v"
            )
        )
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "v",
        )
    )


@register(
    "grubbs_outlier_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM daily
),
y AS (
  SELECT x, CAST(tot.n * v - tot.s AS BIGINT) AS yd, tot.n
  FROM daily CROSS JOIN tot
),
ss AS (
  SELECT CAST(SUM(CAST(yd AS HUGEINT) * yd) AS HUGEINT) AS ssq FROM y
),
top AS (
  SELECT x, yd, n FROM (
    SELECT x, yd, n,
           row_number() OVER (ORDER BY abs(yd) DESC, x) AS rn
    FROM y
  ) WHERE rn = 1
)
SELECT top.x AS outlier_x, top.n, CAST(abs(top.yd) AS BIGINT) AS dev_n,
       CASE WHEN ss.ssq > 0 AND top.n >= 3
                 AND CAST(top.yd AS DOUBLE) * CAST(top.yd AS DOUBLE)
                     * CAST(top.n AS DOUBLE) < 1e31
            THEN CAST((top.n - 1) * CAST(top.yd AS HUGEINT) * top.yd
                      * 1000000 // ss.ssq AS BIGINT)
       END AS g2_ppm
FROM top CROSS JOIN ss
""",
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS single-outlier test on daily order revenue — the
    maximum-studentized-deviation screen (ESD family) that asks
    whether the MOST extreme day is too extreme for a normal sample:
    G = max|x − x̄|/s. Published as G² in exact arithmetic (G² is a
    monotone transform, the mahalanobis/roc doctrine): with the
    n-scaled deviation y = n·x − S (exact int64 — the calendar bounds
    n, so y never outgrows int64 even at 100 TB), G² =
    (n−1)·y_max²/Σy², one ppm floor-division of exact integers.
    Deterministic argmax tie-break (|y| desc, day asc). The anova_f
    magnitude guard (y²·n < 10³¹ in IEEE doubles) degrades to NULL
    identically in both engines past decimal(38,0)/HUGEINT headroom.
    Scale: one map-side-combinable daily rollup (the day domain is
    calendar-bounded), one 1-row moment aggregate, 1-row output."""
    daily = _daily_orders(spark, sf_dir)
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    y = daily.crossJoin(F.broadcast(tot)).select(
        "x", (F.col("n") * F.col("v") - F.col("s")).alias("yd"), "n"
    )
    ss = y.agg(
        F.sum(F.col("yd").cast(DEC38) * F.col("yd")).alias("ssq")
    )
    top = (
        y.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.abs("yd").desc(), "x")),
        )
        .filter(F.col("rn") == 1)
        .select("x", "yd", "n")
    )
    return top.crossJoin(F.broadcast(ss)).select(
        F.col("x").alias("outlier_x"),
        "n",
        F.abs("yd").alias("dev_n"),
        F.expr(
            f"CASE WHEN ssq > 0 AND n >= 3"
            f" AND CAST(yd AS DOUBLE) * CAST(yd AS DOUBLE)"
            f" * CAST(n AS DOUBLE) < 1e31 THEN"
            f" CAST((n - 1) * CAST(yd AS {DEC38}) * yd * 1000000"
            f" div ssq AS BIGINT) END"
        ).alias("g2_ppm"),
    )


@register(
    "cox_stuart_trend_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
idx AS (
  SELECT v, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
pairs AS (
  SELECT a.v AS va, b.v AS vb
  FROM idx a JOIN idx b ON b.t = a.t + (a.n + 1) // 2
  WHERE a.t <= a.n - (a.n + 1) // 2
)
SELECT CAST(max(n) AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN vb > va THEN 1 ELSE 0 END) AS BIGINT)
           AS n_plus,
       CAST(SUM(CASE WHEN vb < va THEN 1 ELSE 0 END) AS BIGINT)
           AS n_minus
FROM pairs CROSS JOIN (SELECT max(n) AS n FROM idx)
""",
)
def cox_stuart_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COX-STUART trend test on daily order revenue — the sign-test
    reduction for monotone trend (pair each day t with day
    t + ⌈n/2⌉ and count rises vs falls; under no trend the signs are
    Binomial(n_pairs, ½)): the distribution-free complement to
    mann_kendall (which weights every pair O(n²)) at O(n) pairs.
    Everything is exact integer counts — ties (equal cents) drop per
    the classic definition, published so the caller can binomial-test
    n_plus against n_pairs − ties. Scale: the day domain is
    calendar-bounded; one self-equi-join on the derived row index of
    the daily aggregate."""
    daily = _daily_orders(spark, sf_dir)
    idx = daily.select(
        "v",
        F.row_number().over(Window.orderBy("x")).cast("long").alias("t"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    a = idx.select(
        F.col("v").alias("va"),
        "t",
        "n",
        F.expr("(n + 1) div 2").alias("h"),
    ).filter(F.col("t") <= F.col("n") - F.col("h"))
    b = idx.select(F.col("v").alias("vb"), F.col("t").alias("tb"))
    pairs = a.join(b, F.col("tb") == F.col("t") + F.col("h"))
    return pairs.agg(
        F.max("n").alias("n_days"),
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("vb") > F.col("va"), 1).otherwise(0)).alias(
            "n_plus"
        ),
        F.sum(F.when(F.col("vb") < F.col("va"), 1).otherwise(0)).alias(
            "n_minus"
        ),
    )


@register(
    "williams_r_14_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
w AS (
  SELECT x, v,
         CAST(max(v) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS hh,
         CAST(min(v) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS ll,
         count(*) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                        AND CURRENT ROW) AS cnt
  FROM daily
)
SELECT x, v, hh, ll,
       CASE WHEN hh > ll
            THEN CAST((hh - v) * 1000000 // (hh - ll) AS BIGINT)
       END AS wr_ppm
FROM w WHERE cnt = 14 ORDER BY x
""",
)
def williams_r_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILLIAMS %R (14-period) over daily order revenue — the
    overbought/oversold oscillator (highest-high minus close over the
    14-period range; the stochastic oscillator's mirror, and this
    registry publishes both faces). Row-window variant (14 OBSERVED
    days — calendar gaps close up, the aroon/atr convention). All
    exact int64 cents; %R published as one ppm floor-division with
    the flat-window (hh = ll) degeneracy NULLed by the same CASE in
    both engines. Scale: one calendar-bounded daily rollup + one
    ordered window — no shuffle wider than the day domain."""
    daily = _daily_orders(spark, sf_dir)
    w = Window.orderBy("x").rowsBetween(-13, 0)
    frame = daily.select(
        "x",
        "v",
        F.max("v").over(w).alias("hh"),
        F.min("v").over(w).alias("ll"),
        F.count("*").over(w).alias("cnt"),
    )
    return (
        frame.filter(F.col("cnt") == 14)
        .select(
            "x",
            "v",
            "hh",
            "ll",
            F.expr(
                "CASE WHEN hh > ll THEN"
                " CAST((hh - v) * 1000000 div (hh - ll) AS BIGINT) END"
            ).alias("wr_ppm"),
        )
        .orderBy("x")
    )


@register(
    "mfi_14_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
d AS (
  SELECT x, v, lag(v) OVER (ORDER BY x) AS pv FROM daily
),
fl AS (
  SELECT x,
         CASE WHEN v > pv THEN v ELSE 0 END AS pos,
         CASE WHEN v < pv THEN v ELSE 0 END AS neg,
         CASE WHEN pv IS NULL THEN 0 ELSE 1 END AS lv
  FROM d
),
w AS (
  SELECT x,
         CAST(SUM(pos) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS psum,
         CAST(SUM(neg) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS nsum,
         CAST(SUM(lv) OVER (ORDER BY x ROWS BETWEEN 13 PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS nvalid
  FROM fl
)
SELECT x, psum AS pos_flow_cents, nsum AS neg_flow_cents,
       CASE WHEN psum + nsum > 0
            THEN CAST(psum * 1000000 // (psum + nsum) AS BIGINT)
       END AS mfi_ppm
FROM w WHERE nvalid = 14 ORDER BY x
""",
)
def mfi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONEY FLOW INDEX (14-period) over daily order revenue — the
    volume-weighted RSI sibling: flow on an up-day counts positive,
    on a down-day negative, and MFI = positive/(positive+negative)
    over the trailing 14 observed flows (rsi_cutler covers the price
    face, this covers the flow face). Flow here is the day's exact
    revenue cents; direction compares consecutive observed days (lag
    over the row grid — the rsi convention). Published as one ppm
    floor-division of exact int64 sums; the all-flat window NULLs via
    the same CASE both engines. Scale: calendar-bounded daily rollup
    + one lag + one trailing-sum window."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    d = daily.select("x", "v", F.lag("v").over(wl).alias("pv"))
    fl = d.select(
        "x",
        F.when(F.col("v") > F.col("pv"), F.col("v"))
        .otherwise(F.lit(0))
        .alias("pos"),
        F.when(F.col("v") < F.col("pv"), F.col("v"))
        .otherwise(F.lit(0))
        .alias("neg"),
        F.when(F.col("pv").isNull(), 0).otherwise(1).alias("lv"),
    )
    ww = Window.orderBy("x").rowsBetween(-13, 0)
    w = fl.select(
        "x",
        F.sum("pos").over(ww).alias("psum"),
        F.sum("neg").over(ww).alias("nsum"),
        F.sum("lv").over(ww).alias("nvalid"),
    )
    return (
        w.filter(F.col("nvalid") == 14)
        .select(
            "x",
            F.col("psum").alias("pos_flow_cents"),
            F.col("nsum").alias("neg_flow_cents"),
            F.expr(
                "CASE WHEN psum + nsum > 0 THEN"
                " CAST(psum * 1000000 div (psum + nsum) AS BIGINT) END"
            ).alias("mfi_ppm"),
        )
        .orderBy("x")
    )


@register(
    "variance_ratio_5d_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
z AS (
  SELECT x,
         CAST(SUM(v) OVER (ORDER BY x ROWS BETWEEN 4 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS zv,
         count(*) OVER (ORDER BY x ROWS BETWEEN 4 PRECEDING
                        AND CURRENT ROW) AS cnt
  FROM daily
),
mx AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sx,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS qx
  FROM daily
),
mz AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(zv) AS BIGINT) AS sz,
         CAST(SUM(CAST(zv AS HUGEINT) * zv) AS HUGEINT) AS qz
  FROM z WHERE cnt = 5
)
SELECT mx.n, mz.m,
       CASE WHEN mx.n * mx.qx - CAST(mx.sx AS HUGEINT) * mx.sx > 0
                 AND CAST(mz.m AS DOUBLE) * CAST(mz.qz AS DOUBLE)
                     * CAST(mx.n AS DOUBLE) * CAST(mx.n AS DOUBLE)
                     * 1000 < 1e37
            THEN CAST((mz.m * mz.qz - CAST(mz.sz AS HUGEINT) * mz.sz)
                      * mx.n * mx.n * 1000
                      // (5 * (mx.n * mx.qx
                               - CAST(mx.sx AS HUGEINT) * mx.sx)
                         * mz.m * mz.m) AS BIGINT)
       END AS vr_milli
FROM mx CROSS JOIN mz
""",
)
def variance_ratio_5d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LO-MACKINLAY VARIANCE RATIO test statistic (q = 5, overlapping
    sums) on daily order revenue — the random-walk diagnostic: if
    increments are uncorrelated, the variance of 5-day overlapping
    sums is 5× the 1-day variance and VR = 1; VR > 1 flags momentum,
    VR < 1 mean-reversion (the trading-rule face of what ljung_box
    tests as a portmanteau). Exact: both variances are population
    moments n·Σx² − S² (decimal(38,0) ⟷ HUGEINT), VR published as one
    milli floor-division of their exact cross-scaled products; the
    double-precision magnitude guard (< 10³⁷) degrades to NULL
    identically both engines past decimal headroom (remedy at that
    scale: pre-scale v by 10³). Scale: calendar-bounded daily rollup,
    one trailing-sum window, two 1-row moment aggregates."""
    daily = _daily_orders(spark, sf_dir)
    ww = Window.orderBy("x").rowsBetween(-4, 0)
    z = daily.select(
        F.sum("v").over(ww).alias("zv"),
        F.count("*").over(ww).alias("cnt"),
    ).filter(F.col("cnt") == 5)
    mx = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("qx"),
    )
    mz = z.agg(
        F.count("*").alias("m"),
        F.sum("zv").alias("sz"),
        F.sum(F.col("zv").cast(DEC38) * F.col("zv")).alias("qz"),
    )
    return mx.crossJoin(F.broadcast(mz)).select(
        "n",
        "m",
        F.expr(
            f"CASE WHEN n * qx - CAST(sx AS {DEC38}) * sx > 0"
            f" AND CAST(m AS DOUBLE) * CAST(qz AS DOUBLE)"
            f" * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000 < 1e37"
            f" THEN CAST((m * qz - CAST(sz AS {DEC38}) * sz)"
            f" * n * n * 1000"
            f" div (5 * (n * qx - CAST(sx AS {DEC38}) * sx) * m * m)"
            f" AS BIGINT) END"
        ).alias("vr_milli"),
    )


@register(
    "ljung_box_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM daily
),
y AS (
  SELECT CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS t,
         CAST(tot.n * v - tot.s AS BIGINT) AS yd, tot.n
  FROM daily CROSS JOIN tot
),
led AS (
  SELECT t, yd, n,
         lead(yd, 1) OVER (ORDER BY t) AS y1,
         lead(yd, 2) OVER (ORDER BY t) AS y2,
         lead(yd, 3) OVER (ORDER BY t) AS y3,
         lead(yd, 4) OVER (ORDER BY t) AS y4,
         lead(yd, 5) OVER (ORDER BY t) AS y5,
         lead(yd, 6) OVER (ORDER BY t) AS y6,
         lead(yd, 7) OVER (ORDER BY t) AS y7
  FROM y
),
mom AS (
  SELECT max(n) AS n,
         CAST(SUM(CAST(yd AS HUGEINT) * yd) AS HUGEINT) AS c0,
         CAST(SUM(CAST(yd AS HUGEINT) * y1) AS HUGEINT) AS c1,
         CAST(SUM(CAST(yd AS HUGEINT) * y2) AS HUGEINT) AS c2,
         CAST(SUM(CAST(yd AS HUGEINT) * y3) AS HUGEINT) AS c3,
         CAST(SUM(CAST(yd AS HUGEINT) * y4) AS HUGEINT) AS c4,
         CAST(SUM(CAST(yd AS HUGEINT) * y5) AS HUGEINT) AS c5,
         CAST(SUM(CAST(yd AS HUGEINT) * y6) AS HUGEINT) AS c6,
         CAST(SUM(CAST(yd AS HUGEINT) * y7) AS HUGEINT) AS c7
  FROM led
),
lags AS (
  SELECT mom.n, mom.c0, k.k,
         CASE k.k WHEN 1 THEN mom.c1 WHEN 2 THEN mom.c2
                  WHEN 3 THEN mom.c3 WHEN 4 THEN mom.c4
                  WHEN 5 THEN mom.c5 WHEN 6 THEN mom.c6
                  ELSE mom.c7 END AS ck
  FROM mom CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
),
r AS (
  SELECT n, CAST(k AS BIGINT) AS lag_k,
         CASE WHEN c0 > 0 AND CAST(c0 AS DOUBLE) < 1e31 THEN
           CASE WHEN ck >= 0
                THEN CAST(ck * 1000000 // c0 AS BIGINT)
                ELSE -CAST((-ck) * 1000000 // c0 AS BIGINT)
           END
         END AS r_micro
  FROM lags
)
SELECT lag_k, n, r_micro,
       CASE WHEN r_micro IS NOT NULL AND n > lag_k THEN
         CAST(CAST(n AS HUGEINT) * (n + 2)
              * (CAST(r_micro AS HUGEINT) * r_micro) * 1000
              // ((n - lag_k) * CAST(1000000000000 AS HUGEINT))
              AS BIGINT)
       END AS q_term_milli
FROM r ORDER BY lag_k
""",
)
def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau autocorrelation diagnostic (lags 1..7)
    on daily order revenue — THE residual-whiteness test (Q =
    n(n+2)·Σ r_k²/(n−k); the acf/pacf queries publish individual
    lags, this publishes the test each forecasting query's residuals
    should pass). Exactness: deviations are the n-scaled y = n·x − S
    (int64 — the calendar bounds n); autocovariances c_k = Σ y·y₊ₖ
    are exact decimal(38,0) ⟷ HUGEINT; r_k is the SIGN-SPLIT micro
    floor-division c_k·10⁶ div c₀ (Spark div truncates, DuckDB //
    floors — the power-iteration doctrine); each Q term is one more
    per-term floored division (discrete variant, documented). The c₀
    < 10³¹ double guard degrades to NULL past decimal headroom
    identically in both engines (remedy: pre-scale y by 10³). Output
    long-format: (lag, r_micro, q_term_milli) — Q itself is the
    7-term integer sum the caller takes. Scale: calendar-bounded
    daily rollup, one 7-lead window pass, one 1-row moment row."""
    daily = _daily_orders(spark, sf_dir)
    tot = daily.agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    wl = Window.orderBy("t")
    y = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("x")).cast("long").alias("t"),
        (F.col("n") * F.col("v") - F.col("s")).alias("yd"),
        "n",
    )
    led = y.select(
        "yd",
        "n",
        *[F.lead("yd", k).over(wl).alias(f"y{k}") for k in range(1, 8)],
    )
    mom = led.agg(
        F.max("n").alias("n"),
        F.sum(F.col("yd").cast(DEC38) * F.col("yd")).alias("c0"),
        *[
            F.sum(F.col("yd").cast(DEC38) * F.col(f"y{k}")).alias(f"c{k}")
            for k in range(1, 8)
        ],
    )
    lags = mom.select(
        "n",
        "c0",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag_k"),
                        F.col(f"c{k}").alias("ck"),
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("e"),
    ).select("n", "c0", F.col("e.lag_k").alias("lag_k"), F.col("e.ck").alias("ck"))
    r = lags.select(
        "lag_k",
        "n",
        F.expr(
            "CASE WHEN c0 > 0 AND CAST(c0 AS DOUBLE) < 1e31 THEN"
            " CASE WHEN ck >= 0 THEN CAST(ck * 1000000 div c0 AS BIGINT)"
            " ELSE -CAST((-ck) * 1000000 div c0 AS BIGINT) END END"
        ).alias("r_micro"),
    )
    return r.select(
        "lag_k",
        "n",
        "r_micro",
        F.expr(
            f"CASE WHEN r_micro IS NOT NULL AND n > lag_k THEN"
            f" CAST(CAST(n AS {DEC38}) * (n + 2)"
            f" * (CAST(r_micro AS {DEC38}) * r_micro) * 1000"
            f" div ((n - lag_k) * CAST(1000000000000 AS {DEC38}))"
            f" AS BIGINT) END"
        ).alias("q_term_milli"),
    ).orderBy("lag_k")


@register(
    "cci_20_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
idx AS (
  SELECT v, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS t, x
  FROM daily
),
win AS (
  SELECT x, t, v,
         CAST(SUM(v) OVER (ORDER BY t ROWS BETWEEN 19 PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS s20,
         count(*) OVER (ORDER BY t ROWS BETWEEN 19 PRECEDING
                        AND CURRENT ROW) AS cnt
  FROM idx
),
md AS (
  SELECT w.x, w.t, w.v, w.s20,
         CAST(SUM(abs(20 * j.v - w.s20)) AS HUGEINT) AS mdev
  FROM win w JOIN idx j ON j.t BETWEEN w.t - 19 AND w.t
  WHERE w.cnt = 20
  GROUP BY w.x, w.t, w.v, w.s20
)
SELECT x, v,
       CASE WHEN mdev > 0 THEN
         CASE WHEN 20 * v - s20 >= 0
              THEN CAST(CAST(20 * v - s20 AS HUGEINT) * 4000000
                        // (3 * mdev) AS BIGINT)
              ELSE -CAST(CAST(s20 - 20 * v AS HUGEINT) * 4000000
                         // (3 * mdev) AS BIGINT)
         END
       END AS cci_milli
FROM md ORDER BY x
""",
)
def cci_20_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMODITY CHANNEL INDEX (20-period, Lambert 1980) over daily
    order revenue — the mean-DEVIATION-normalized oscillator (CCI =
    (x − SMA)/(0.015·MD)): unlike bollinger's variance, the mean
    absolute deviation is NOT moment-expressible, so each anchor day
    re-meets its trailing 20 observed days through a bounded range
    self-join on the row index (20× blow-up of the calendar-bounded
    day domain only — the hodges_lehmann argument). Exactness: with
    S the window sum, x − S/20 = (20x−S)/20 and MD = Σ|20xⱼ−S|/400,
    so CCI = (20x−S)·4000/(3·Σ|20xⱼ−S|) — all exact integers, 0.015
    written as the rational 3/200; published milli with the
    SIGN-SPLIT floor (Spark div truncates, DuckDB // floors). Scale:
    day-domain-bounded join; the fact scan is one map-side daily
    rollup."""
    daily = _daily_orders(spark, sf_dir)
    idx = daily.select(
        "x",
        "v",
        F.row_number().over(Window.orderBy("x")).cast("long").alias("t"),
    )
    ws = Window.orderBy("t").rowsBetween(-19, 0)
    win = idx.select(
        "x",
        "t",
        "v",
        F.sum("v").over(ws).alias("s20"),
        F.count("*").over(ws).alias("cnt"),
    ).filter(F.col("cnt") == 20)
    j = idx.select(F.col("t").alias("tj"), F.col("v").alias("vj"))
    md = (
        win.join(
            j,
            (F.col("tj") >= F.col("t") - 19) & (F.col("tj") <= F.col("t")),
        )
        .groupBy("x", "t", "v", "s20")
        .agg(
            F.sum(
                F.abs(F.lit(20) * F.col("vj") - F.col("s20")).cast(DEC38)
            ).alias("mdev")
        )
    )
    return md.select(
        "x",
        "v",
        F.expr(
            f"CASE WHEN mdev > 0 THEN"
            f" CASE WHEN 20 * v - s20 >= 0"
            f" THEN CAST(CAST(20 * v - s20 AS {DEC38}) * 4000000"
            f" div (3 * mdev) AS BIGINT)"
            f" ELSE -CAST(CAST(s20 - 20 * v AS {DEC38}) * 4000000"
            f" div (3 * mdev) AS BIGINT) END END"
        ).alias("cci_milli"),
    ).orderBy("x")


@register(
    "dixon_q_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
rk AS (
  SELECT x, v,
         row_number() OVER (ORDER BY v, x) AS ra,
         row_number() OVER (ORDER BY v DESC, x DESC) AS rd
  FROM daily
),
pick AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(max(CASE WHEN ra = 1 THEN v END) AS BIGINT) AS x1,
         CAST(max(CASE WHEN ra = 2 THEN v END) AS BIGINT) AS x2,
         CAST(max(CASE WHEN rd = 2 THEN v END) AS BIGINT) AS xn1,
         CAST(max(CASE WHEN rd = 1 THEN v END) AS BIGINT) AS xn,
         CAST(max(CASE WHEN ra = 1 THEN x END) AS BIGINT) AS low_x,
         CAST(max(CASE WHEN rd = 1 THEN x END) AS BIGINT) AS high_x
  FROM rk
)
SELECT n, low_x, high_x,
       CASE WHEN n >= 3 AND xn > x1
            THEN CAST((x2 - x1) * 1000000 // (xn - x1) AS BIGINT)
       END AS q_low_ppm,
       CASE WHEN n >= 3 AND xn > x1
            THEN CAST((xn - xn1) * 1000000 // (xn - x1) AS BIGINT)
       END AS q_high_ppm
FROM pick
""",
)
def dixon_q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIXON'S Q TEST on daily order revenue — the small-sample
    gap-over-range outlier screen (Q = gap to the nearest neighbor
    over the full range) run at BOTH ends: Q_low = (x₍₂₎−x₍₁₎)/R and
    Q_high = (x₍ₙ₎−x₍ₙ₋₁₎)/R — the order-statistic complement to
    grubbs_outlier_daily's moment-based G (Q needs no variance, so a
    second outlier can't mask the first as it inflates s). Order
    statistics come from two deterministic rank windows (value with
    day tie-break); the published ratios are exact ppm
    floor-divisions of int64 cents, NULL on the degenerate flat
    series via the same CASE both engines. Scale: the day domain is
    calendar-bounded; one daily rollup + one window pass."""
    daily = _daily_orders(spark, sf_dir)
    rk = daily.select(
        "x",
        "v",
        F.row_number().over(Window.orderBy("v", "x")).alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.desc("v"), F.desc("x")))
        .alias("rd"),
    )
    pick = rk.agg(
        F.count("*").alias("n"),
        F.max(F.when(F.col("ra") == 1, F.col("v"))).alias("x1"),
        F.max(F.when(F.col("ra") == 2, F.col("v"))).alias("x2"),
        F.max(F.when(F.col("rd") == 2, F.col("v"))).alias("xn1"),
        F.max(F.when(F.col("rd") == 1, F.col("v"))).alias("xn"),
        F.max(F.when(F.col("ra") == 1, F.col("x"))).alias("low_x"),
        F.max(F.when(F.col("rd") == 1, F.col("x"))).alias("high_x"),
    )
    return pick.select(
        "n",
        "low_x",
        "high_x",
        F.expr(
            "CASE WHEN n >= 3 AND xn > x1 THEN"
            " CAST((x2 - x1) * 1000000 div (xn - x1) AS BIGINT) END"
        ).alias("q_low_ppm"),
        F.expr(
            "CASE WHEN n >= 3 AND xn > x1 THEN"
            " CAST((xn - xn1) * 1000000 div (xn - x1) AS BIGINT) END"
        ).alias("q_high_ppm"),
    )


@register(
    "dominant_cycle_acf_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM daily
),
y AS (
  SELECT CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS t,
         CAST(tot.n * v - tot.s AS BIGINT) AS yd, tot.n
  FROM daily CROSS JOIN tot
),
led AS (
  SELECT t, yd, n,
         lead(yd, 2) OVER (ORDER BY t) AS y2,
         lead(yd, 3) OVER (ORDER BY t) AS y3,
         lead(yd, 4) OVER (ORDER BY t) AS y4,
         lead(yd, 5) OVER (ORDER BY t) AS y5,
         lead(yd, 6) OVER (ORDER BY t) AS y6,
         lead(yd, 7) OVER (ORDER BY t) AS y7,
         lead(yd, 8) OVER (ORDER BY t) AS y8,
         lead(yd, 9) OVER (ORDER BY t) AS y9,
         lead(yd, 10) OVER (ORDER BY t) AS y10,
         lead(yd, 11) OVER (ORDER BY t) AS y11,
         lead(yd, 12) OVER (ORDER BY t) AS y12,
         lead(yd, 13) OVER (ORDER BY t) AS y13,
         lead(yd, 14) OVER (ORDER BY t) AS y14
  FROM y
),
mom AS (
  SELECT max(n) AS n,
         CAST(SUM(CAST(yd AS HUGEINT) * yd) AS HUGEINT) AS c0,
         CAST(SUM(CAST(yd AS HUGEINT) * y2) AS HUGEINT) AS c2,
         CAST(SUM(CAST(yd AS HUGEINT) * y3) AS HUGEINT) AS c3,
         CAST(SUM(CAST(yd AS HUGEINT) * y4) AS HUGEINT) AS c4,
         CAST(SUM(CAST(yd AS HUGEINT) * y5) AS HUGEINT) AS c5,
         CAST(SUM(CAST(yd AS HUGEINT) * y6) AS HUGEINT) AS c6,
         CAST(SUM(CAST(yd AS HUGEINT) * y7) AS HUGEINT) AS c7,
         CAST(SUM(CAST(yd AS HUGEINT) * y8) AS HUGEINT) AS c8,
         CAST(SUM(CAST(yd AS HUGEINT) * y9) AS HUGEINT) AS c9,
         CAST(SUM(CAST(yd AS HUGEINT) * y10) AS HUGEINT) AS c10,
         CAST(SUM(CAST(yd AS HUGEINT) * y11) AS HUGEINT) AS c11,
         CAST(SUM(CAST(yd AS HUGEINT) * y12) AS HUGEINT) AS c12,
         CAST(SUM(CAST(yd AS HUGEINT) * y13) AS HUGEINT) AS c13,
         CAST(SUM(CAST(yd AS HUGEINT) * y14) AS HUGEINT) AS c14
  FROM led
),
lags AS (
  SELECT mom.n, mom.c0, k.k,
         CASE k.k WHEN 2 THEN mom.c2 WHEN 3 THEN mom.c3
                  WHEN 4 THEN mom.c4 WHEN 5 THEN mom.c5
                  WHEN 6 THEN mom.c6 WHEN 7 THEN mom.c7
                  WHEN 8 THEN mom.c8 WHEN 9 THEN mom.c9
                  WHEN 10 THEN mom.c10 WHEN 11 THEN mom.c11
                  WHEN 12 THEN mom.c12 WHEN 13 THEN mom.c13
                  ELSE mom.c14 END AS ck
  FROM mom CROSS JOIN (SELECT unnest(range(2, 15)) AS k) k
),
scored AS (
  SELECT CAST(k AS BIGINT) AS lag_k, n,
         CASE WHEN c0 > 0 AND n > k
                   AND CAST(c0 AS DOUBLE) < 1e30 THEN
           CASE WHEN ck >= 0
                THEN CAST(ck * 1000000 * n // (c0 * (n - k)) AS BIGINT)
                ELSE -CAST((-ck) * 1000000 * n // (c0 * (n - k))
                           AS BIGINT)
           END
         END AS score_micro
  FROM lags
)
SELECT lag_k, n, score_micro,
       CASE WHEN row_number() OVER (ORDER BY score_micro DESC, lag_k)
                 = 1 THEN 1 ELSE 0 END AS is_dominant
FROM scored ORDER BY lag_k
""",
)
def dominant_cycle_acf_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOMINANT-CYCLE detection by length-adjusted autocovariance —
    the period-finding primitive behind seasonal-period auto-config
    (which lag 2..14 does daily revenue echo most strongly? 7 is the
    honest answer for commerce data, and this query DERIVES it
    instead of assuming it like the dow/weekly queries): score(k) =
    (c_k/(n−k))/(c₀/n), the unbiased-length-adjusted ACF that
    corrects raw c_k's downward bias at longer lags. Exactness: the
    ljung_box machinery (n-scaled deviations, exact decimal ⟷
    HUGEINT autocovariances), score published as the SIGN-SPLIT
    micro floor-division c_k·10⁶·n div (c₀·(n−k)) — numerator ≤
    ~4·10³⁷ under the c₀ < 10³⁰ double guard, NULL past it
    identically both engines. The winner is flagged by a
    deterministic rank (score desc, lag asc). Scale: one
    calendar-bounded daily rollup, one 13-lead window pass."""
    daily = _daily_orders(spark, sf_dir)
    tot = daily.agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    wl = Window.orderBy("t")
    y = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("x")).cast("long").alias("t"),
        (F.col("n") * F.col("v") - F.col("s")).alias("yd"),
        "n",
    )
    led = y.select(
        "yd",
        "n",
        *[F.lead("yd", k).over(wl).alias(f"y{k}") for k in range(2, 15)],
    )
    mom = led.agg(
        F.max("n").alias("n"),
        F.sum(F.col("yd").cast(DEC38) * F.col("yd")).alias("c0"),
        *[
            F.sum(F.col("yd").cast(DEC38) * F.col(f"y{k}")).alias(f"c{k}")
            for k in range(2, 15)
        ],
    )
    lags = mom.select(
        "n",
        "c0",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag_k"),
                        F.col(f"c{k}").alias("ck"),
                    )
                    for k in range(2, 15)
                ]
            )
        ).alias("e"),
    ).select(
        "n", "c0", F.col("e.lag_k").alias("lag_k"), F.col("e.ck").alias("ck")
    )
    scored = lags.select(
        "lag_k",
        "n",
        F.expr(
            "CASE WHEN c0 > 0 AND n > lag_k"
            " AND CAST(c0 AS DOUBLE) < 1e30 THEN"
            " CASE WHEN ck >= 0"
            " THEN CAST(ck * 1000000 * n div (c0 * (n - lag_k))"
            " AS BIGINT)"
            " ELSE -CAST((-ck) * 1000000 * n div (c0 * (n - lag_k))"
            " AS BIGINT) END END"
        ).alias("score_micro"),
    )
    return scored.select(
        "lag_k",
        "n",
        "score_micro",
        F.expr(
            "CASE WHEN row_number() OVER (ORDER BY score_micro DESC,"
            " lag_k) = 1 THEN 1 ELSE 0 END"
        ).alias("is_dominant"),
    ).orderBy("lag_k")


@register(
    "keltner_channel_daily",
    oracle="""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT d, x, r, row_number() OVER (ORDER BY d) AS rn FROM (
    SELECT d, CAST(c AS DOUBLE) / 100 AS x,
           CAST(COALESCE(abs(c - lag(c) OVER (ORDER BY d)), 0)
                AS DOUBLE) / 100 AS r
    FROM (
      SELECT date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS c
      FROM orders GROUP BY 1))
),
rec AS (
  SELECT d, rn, x, r, x AS e20, CAST(0 AS DOUBLE) AS e10
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT dd.d, dd.rn, dd.x, dd.r,
         (2.0 / 21.0) * dd.x + (1 - 2.0 / 21.0) * rec.e20,
         (2.0 / 11.0) * dd.r + (1 - 2.0 / 11.0) * rec.e10
  FROM daily dd JOIN rec ON dd.rn = rec.rn + 1
)
SELECT d, round(x * 1000000) / 1000000 AS daily_value,
       round(e20 * 1000000) / 1000000 AS center,
       round((e20 + 2 * e10) * 1000000) / 1000000 AS upper_band,
       round((e20 - 2 * e10) * 1000000) / 1000000 AS lower_band,
       CAST(CASE WHEN x > e20 + 2 * e10 THEN 1
                 WHEN x < e20 - 2 * e10 THEN -1 ELSE 0 END
            AS BIGINT) AS breakout
FROM rec ORDER BY d
""",
)
def keltner_channel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELTNER CHANNELS over daily revenue — the EMA-centered,
    volatility-scaled band (center EMA20, band ±2× an EMA10 of the
    absolute day-over-day move — the single-series stand-in for
    Wilder's true range) whose breakouts are trend triggers where
    bollinger's variance bands are mean-reversion triggers; the two
    disagree exactly when volatility clusters, which is why desks
    run both. Two coupled EMA recursions in ONE prefix scan over the
    calendar-grain aggregate (the macd_signal_daily machinery:
    collect-sorted scan on ~2.6k rows at any SF, seeded e20₁ = x₁,
    e10₁ = 0 — documented warm-up); the |Δ| range proxy is computed
    on exact cents BEFORE the float recursion. Multipliers are the
    IDENTICAL IEEE expressions both engines (2.0/21.0, never
    pre-simplified); inputs bit-identical doubles; outputs meet on
    the 1e-6 grid and the breakout flag compares the same raw
    doubles in both engines."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    dc = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("c"))
    wl = Window.orderBy("d")
    daily = dc.select(
        "d",
        (F.col("c").cast("double") / 100).alias("x"),
        (
            F.coalesce(
                F.abs(F.col("c") - F.lag("c").over(wl)), F.lit(0)
            ).cast("double")
            / 100
        ).alias("r"),
    )
    a20, b20 = 2.0 / 21.0, 1 - 2.0 / 21.0
    a10, b10 = 2.0 / 11.0, 1 - 2.0 / 11.0
    allrows = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x", "r"))).alias("s")
    )

    def step(acc, s):
        prev = F.element_at(acc, -1)
        e20 = F.when(F.size(acc) == 0, s["x"]).otherwise(
            F.lit(a20) * s["x"] + F.lit(b20) * prev["e20"]
        )
        e10 = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            F.lit(a10) * s["r"] + F.lit(b10) * prev["e10"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["d"].alias("d"),
                    s["x"].alias("x"),
                    e20.alias("e20"),
                    e10.alias("e10"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("s"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, x double,"
            " e20 double, e10 double>>)"
        ),
        step,
    )
    return (
        allrows.select(F.explode(scan).alias("r"))
        .select(
            F.col("r.d").alias("d"),
            (F.round(F.col("r.x") * 1000000) / 1000000).alias(
                "daily_value"
            ),
            (F.round(F.col("r.e20") * 1000000) / 1000000).alias(
                "center"
            ),
            (
                F.round(
                    (F.col("r.e20") + 2 * F.col("r.e10")) * 1000000
                )
                / 1000000
            ).alias("upper_band"),
            (
                F.round(
                    (F.col("r.e20") - 2 * F.col("r.e10")) * 1000000
                )
                / 1000000
            ).alias("lower_band"),
            F.when(
                F.col("r.x") > F.col("r.e20") + 2 * F.col("r.e10"),
                F.lit(1),
            )
            .when(
                F.col("r.x") < F.col("r.e20") - 2 * F.col("r.e10"),
                F.lit(-1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("breakout"),
        )
        .orderBy("d")
    )


# Daily returns of the orders series: first differences on the
# calendar-day grid (same base as rolling_sharpe_14d_daily).
_DAILY_RET_CTE = _DAILY_ORDERS_CTE + """,
ret AS (
  SELECT x, v, v - LAG(v) OVER (ORDER BY x) AS r FROM daily
)
"""


def _daily_ret(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_orders(spark, sf_dir)
    return daily.withColumn(
        "r", F.col("v") - F.lag("v").over(Window.orderBy("x"))
    )


# ---------------------------------------------------------------------------
# Single-series risk ratios
# ---------------------------------------------------------------------------

_SORTINO_SEL = (
    "CASE WHEN dq > 0 THEN CAST(floor(CAST(s AS DOUBLE) * 1000"
    " / sqrt(CAST(CAST(n AS {I}) * dq AS DOUBLE))) AS BIGINT) END"
)


@register(
    "sortino_ratio_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
m AS (
  SELECT CAST(count(r) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
         CAST(SUM(CASE WHEN r < 0 THEN CAST(r AS HUGEINT) * r
                       ELSE 0 END) AS HUGEINT) AS dq
  FROM ret WHERE r IS NOT NULL
)
SELECT n, s AS sum_ret_cents, n_down,
       """ + duck_sql(_SORTINO_SEL) + """ AS sortino_milli
FROM m
""",
)
def sortino_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTINO RATIO (zero MAR) of daily revenue changes — the
    downside-only complement to rolling_sharpe_14d_daily: penalize
    only harmful volatility (downside deviation √(Σ min(r,0)²/n)),
    so a series that only ever jumps UP is not punished for it. The
    same algebraic collapse as Sharpe applies: mean/ddev =
    (S/n)/√(D/n) = S/√(n·D) — the n cancels, leaving ONE
    int→double conversion of each exact integer, one correctly-
    rounded sqrt, one division, one floor onto the milli grid.
    Downside second moment D is exact HUGEINT ⟷ decimal(38,0);
    an all-up series (D = 0) yields NULL via the same CASE. Scale:
    one daily rollup, one lag window, one 1-row moment reduce."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    m = ret.agg(
        F.count("r").alias("n"),
        F.sum("r").alias("s"),
        F.sum(F.when(F.col("r") < 0, 1).otherwise(0)).alias("n_down"),
        F.sum(
            F.when(
                F.col("r") < 0, F.col("r").cast(DEC38) * F.col("r")
            ).otherwise(F.lit(0).cast(DEC38))
        ).alias("dq"),
    )
    return m.selectExpr(
        "n",
        "s AS sum_ret_cents",
        "n_down",
        spark_sql(_SORTINO_SEL) + " AS sortino_milli",
    )


_CVAR_SEL = sql_ss_div("ts", "tn", 1000)


@register(
    "var_cvar_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
rk AS (
  SELECT x, r, row_number() OVER (ORDER BY r, x) AS rn
  FROM ret WHERE r IS NOT NULL
),
k AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST((count(*) + 19) // 20 AS BIGINT) AS k
  FROM rk
),
t AS (
  SELECT k.n, k.k,
         CAST(max(CASE WHEN rk.rn = k.k THEN rk.r END) AS BIGINT)
             AS var95,
         CAST(SUM(CASE WHEN rk.rn <= k.k THEN rk.r ELSE 0 END)
              AS BIGINT) AS ts,
         CAST(SUM(CASE WHEN rk.rn <= k.k THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM rk, k GROUP BY k.n, k.k
)
SELECT n, k, var95 AS var95_cents, ts AS tail_sum_cents, tn AS n_tail,
       """ + duck_sql(_CVAR_SEL) + """ AS cvar_milli
FROM t
""",
)
def var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTORICAL VaR(95) / CVaR(95) of daily revenue changes — the
    tail-risk pair every risk desk reads first: VaR is the k-th
    smallest return with k = ⌈n/20⌉ (the exact empirical 5th
    percentile, integer ceiling (n+19)//20 — no interpolation, so
    the published number IS an observed return), CVaR (expected
    shortfall) the mean of the k tail returns. Order statistics come
    from one deterministic rank window (return, day tie-break); the
    tail mean is published on the milli grid via the SIGN-SPLIT
    floor (tail sums are negative in any real series). Scale:
    calendar-bounded day domain — one rollup, one rank window, one
    1-row reduce."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    rk = ret.select(
        "x", "r", F.row_number().over(Window.orderBy("r", "x")).alias("rn")
    )
    t = rk.agg(
        F.count("*").alias("n"),
        F.expr("CAST((count(*) + 19) div 20 AS BIGINT)").alias("k"),
    ).crossJoin(rk.select("rn", "r")).groupBy("n", "k").agg(
        F.max(F.when(F.col("rn") == F.col("k"), F.col("r"))).alias(
            "var95"
        ),
        F.sum(
            F.when(F.col("rn") <= F.col("k"), F.col("r")).otherwise(0)
        ).alias("ts"),
        F.sum(
            F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
        ).alias("tn"),
    )
    return t.selectExpr(
        "n",
        "k",
        "var95 AS var95_cents",
        "ts AS tail_sum_cents",
        "tn AS n_tail",
        spark_sql(_CVAR_SEL) + " AS cvar_milli",
    )


@register(
    "omega_ratio_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
m AS (
  SELECT CAST(count(r) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT)
             AS gains,
         CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT)
             AS losses
  FROM ret WHERE r IS NOT NULL
)
SELECT n, gains AS gains_cents, losses AS losses_cents,
       CASE WHEN losses > 0
            THEN CAST(CAST(gains AS HUGEINT) * 1000000 // losses
                      AS BIGINT) END AS omega_ppm
FROM m
""",
)
def omega_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMEGA RATIO (threshold 0) of daily revenue changes — the
    distribution-free gain/loss ratio Ω = Σ max(r,0) / Σ max(−r,0):
    unlike Sharpe/Sortino it uses the WHOLE distribution with no
    moment assumption (Keating & Shadwick's "universal performance
    measure"). Both partial sums are exact int64 cents; the ratio is
    ONE non-negative ppm floor-division (both sums ≥ 0 by
    construction, so Spark div and DuckDB // agree without the
    sign split); an all-up series (losses = 0) yields NULL via the
    same CASE. Scale: one rollup, one lag window, one 1-row
    reduce."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    m = ret.agg(
        F.count("r").alias("n"),
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0)).alias(
            "gains"
        ),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0)).alias(
            "losses"
        ),
    )
    return m.selectExpr(
        "n",
        "gains AS gains_cents",
        "losses AS losses_cents",
        "CASE WHEN losses > 0 THEN"
        " CAST(CAST(gains AS DECIMAL(38,0)) * 1000000 div losses"
        " AS BIGINT) END AS omega_ppm",
    )


_CALMAR_SEL = sql_ss_div("vn - v1", "mdd", 1000000)


@register(
    "calmar_ratio_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
pm AS (
  SELECT x, v,
         MAX(v) OVER (ORDER BY x) AS peak,
         row_number() OVER (ORDER BY x) AS ra,
         row_number() OVER (ORDER BY x DESC) AS rd
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(MAX(peak - v) AS BIGINT) AS mdd,
         CAST(max(CASE WHEN ra = 1 THEN v END) AS BIGINT) AS v1,
         CAST(max(CASE WHEN rd = 1 THEN v END) AS BIGINT) AS vn
  FROM pm
)
SELECT n, vn - v1 AS total_gain_cents, mdd AS max_drawdown_cents,
       CASE WHEN mdd > 0 THEN """ + duck_sql(_CALMAR_SEL) + """
       END AS calmar_ppm
FROM m
""",
)
def calmar_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALMAR RATIO of the daily revenue level series — total gain
    over maximum drawdown, the "return per unit of worst pain"
    companion to max_drawdown_daily_value (which publishes the
    drawdown alone): the running peak is one prefix-max window, the
    drawdown its gap to the current level, first/last levels come
    from two deterministic rank windows. All integers are exact
    cents; the published ratio is the SIGN-SPLIT ppm floor-division
    (total gain may be negative); a series that never draws down
    (mdd = 0) yields NULL via the same CASE. Scale: one daily
    rollup + three windows over the calendar-bounded day domain."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    pm = daily.select(
        "v",
        F.max("v").over(wl).alias("peak"),
        F.row_number().over(wl).alias("ra"),
        F.row_number().over(Window.orderBy(F.desc("x"))).alias("rd"),
    )
    m = pm.agg(
        F.count("*").alias("n"),
        F.max(F.col("peak") - F.col("v")).alias("mdd"),
        F.max(F.when(F.col("ra") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("rd") == 1, F.col("v"))).alias("vn"),
    )
    return m.selectExpr(
        "n",
        "vn - v1 AS total_gain_cents",
        "mdd AS max_drawdown_cents",
        "CASE WHEN mdd > 0 THEN " + spark_sql(_CALMAR_SEL)
        + " END AS calmar_ppm",
    )


_KELLY_SEL = sql_ss_div(
    "CAST(w AS {I}) * (sw - sl)", "CAST(w + l AS {I}) * sw", 1000000
)


@register(
    "kelly_criterion_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
m AS (
  SELECT CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS w,
         CAST(SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT) AS l,
         CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT) AS sw,
         CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT) AS sl
  FROM ret WHERE r IS NOT NULL
)
SELECT w AS n_wins, l AS n_losses,
       sw AS sum_win_cents, sl AS sum_loss_cents,
       CASE WHEN w > 0 AND l > 0 AND sw > 0
            THEN """ + duck_sql(_KELLY_SEL) + """
       END AS kelly_ppm
FROM m
""",
)
def kelly_criterion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELLY FRACTION of daily revenue changes — the optimal bet
    size f* = p − q/b with win probability p = W/(W+L), loss
    probability q, and payoff odds b = mean win / mean loss. The
    whole expression collapses to ONE exact rational: f* =
    W·(SW − SL) / ((W+L)·SW) (zero-change days are neither wins nor
    losses — the discrete-outcome Kelly convention, documented).
    Both products are HUGEINT ⟷ decimal(38,0); the published ppm is
    the SIGN-SPLIT floor (negative edge ⇒ negative Kelly). Degenerate
    series (no wins, no losses) yield NULL via the same CASE. Scale:
    one rollup, one lag window, one 1-row reduce."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    m = ret.agg(
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0)).alias("w"),
        F.sum(F.when(F.col("r") < 0, 1).otherwise(0)).alias("l"),
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0)).alias(
            "sw"
        ),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0)).alias(
            "sl"
        ),
    )
    return m.selectExpr(
        "w AS n_wins",
        "l AS n_losses",
        "sw AS sum_win_cents",
        "sl AS sum_loss_cents",
        "CASE WHEN w > 0 AND l > 0 AND sw > 0 THEN "
        + spark_sql(_KELLY_SEL) + " END AS kelly_ppm",
    )


# ---------------------------------------------------------------------------
# Two-series diagnostics: orders (portfolio) vs shipped lineitem (market)
# ---------------------------------------------------------------------------

# Joined daily grid of the two revenue series; returns are first
# differences along the JOINED grid (shared-day calendar, documented).
_TWO_SERIES_CTE = """
port AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             AS x,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS v
  FROM orders GROUP BY 1
),
mkt AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
             AS x,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS v
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT p.x, p.v AS pv, m.v AS mv
  FROM port p JOIN mkt m ON m.x = p.x
),
ret AS (
  SELECT x,
         pv - LAG(pv) OVER (ORDER BY x) AS rp,
         mv - LAG(mv) OVER (ORDER BY x) AS rm
  FROM j
)
"""


def _two_series_ret(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    port = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "pv"
        )
    )
    mkt = li.groupBy(
        F.datediff(
            F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * 100
            ).cast("long")
        ).alias("mv")
    )
    j = port.join(mkt, "x")
    wl = Window.orderBy("x")
    return j.select(
        "x",
        (F.col("pv") - F.lag("pv").over(wl)).alias("rp"),
        (F.col("mv") - F.lag("mv").over(wl)).alias("rm"),
    )


_BETA_SEL = (
    "CASE WHEN CAST(n AS {I}) * smm - CAST(sm AS {I}) * sm > 0"
    " THEN CAST(floor("
    "CAST(CAST(n AS {I}) * spm - CAST(sp AS {I}) * sm AS DOUBLE)"
    " * 1000000"
    " / CAST(CAST(n AS {I}) * smm - CAST(sm AS {I}) * sm AS DOUBLE)"
    ") AS BIGINT) END"
)
_IR_SEL = (
    "CASE WHEN CAST(n AS {I}) * qd - CAST(sd AS {I}) * sd > 0"
    " THEN CAST(floor(CAST(sd AS DOUBLE) * 1000"
    " / sqrt(CAST(CAST(n AS {I}) * qd - CAST(sd AS {I}) * sd"
    " AS DOUBLE))) AS BIGINT) END"
)


@register(
    "beta_information_ratio_daily",
    oracle="""
WITH
""" + _TWO_SERIES_CTE + """,
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(rp) AS BIGINT) AS sp,
         CAST(SUM(rm) AS BIGINT) AS sm,
         CAST(SUM(CAST(rm AS HUGEINT) * rm) AS HUGEINT) AS smm,
         CAST(SUM(CAST(rp AS HUGEINT) * rm) AS HUGEINT) AS spm,
         CAST(SUM(rp - rm) AS BIGINT) AS sd,
         CAST(SUM(CAST(rp - rm AS HUGEINT) * (rp - rm)) AS HUGEINT)
             AS qd
  FROM ret WHERE rp IS NOT NULL AND rm IS NOT NULL
)
SELECT n, sp AS sum_port_cents, sm AS sum_mkt_cents,
       """ + duck_sql(_BETA_SEL) + """ AS beta_ppm,
       """ + duck_sql(_IR_SEL) + """ AS info_ratio_milli
FROM m
""",
)
def beta_information_ratio_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BETA + INFORMATION RATIO of the orders series against the
    shipped-lineitem "market" series on their shared daily grid —
    the two-series regression diagnostics that complete the
    risk-ratio family: β = cov(rp,rm)/var(rm) via the standard
    moment collapse n·Σxy − ΣxΣy over n·Σx² − (Σx)² (both exact
    HUGEINT ⟷ decimal(38,0); ONE double division of the two exact
    integers, floored to ppm), and IR = mean(d)/sd(d) on the active
    difference d = rp − rm, which collapses to Σd/√(n·Σd² − (Σd)²)
    exactly like rolling_sharpe (the n cancels). Zero market
    variance / zero tracking error degrade to NULL via the same
    CASE in both engines. Scale: two map-side daily rollups, one
    day-grain equi-join, one lag window, one 1-row reduce."""
    ret = _two_series_ret(spark, sf_dir).filter(
        F.col("rp").isNotNull() & F.col("rm").isNotNull()
    )
    d = F.col("rp") - F.col("rm")
    m = ret.agg(
        F.count("*").alias("n"),
        F.sum("rp").alias("sp"),
        F.sum("rm").alias("sm"),
        F.sum(F.col("rm").cast(DEC38) * F.col("rm")).alias("smm"),
        F.sum(F.col("rp").cast(DEC38) * F.col("rm")).alias("spm"),
        F.sum(d).alias("sd"),
        F.sum(d.cast(DEC38) * d).alias("qd"),
    )
    return m.selectExpr(
        "n",
        "sp AS sum_port_cents",
        "sm AS sum_mkt_cents",
        spark_sql(_BETA_SEL) + " AS beta_ppm",
        spark_sql(_IR_SEL) + " AS info_ratio_milli",
    )


_UPCAP_SEL = sql_ss_div("pu", "mu", 1000000)
_DOWNCAP_SEL = sql_ss_div("-pd", "-md", 1000000)


@register(
    "capture_ratios_daily",
    oracle="""
WITH
""" + _TWO_SERIES_CTE + """,
m AS (
  SELECT CAST(SUM(CASE WHEN rm > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up,
         CAST(SUM(CASE WHEN rm < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
         CAST(SUM(CASE WHEN rm > 0 THEN rp ELSE 0 END) AS BIGINT)
             AS pu,
         CAST(SUM(CASE WHEN rm > 0 THEN rm ELSE 0 END) AS BIGINT)
             AS mu,
         CAST(SUM(CASE WHEN rm < 0 THEN rp ELSE 0 END) AS BIGINT)
             AS pd,
         CAST(SUM(CASE WHEN rm < 0 THEN rm ELSE 0 END) AS BIGINT)
             AS md
  FROM ret WHERE rp IS NOT NULL AND rm IS NOT NULL
)
SELECT n_up, n_down,
       pu AS port_up_cents, mu AS mkt_up_cents,
       pd AS port_down_cents, md AS mkt_down_cents,
       CASE WHEN mu > 0 THEN """ + duck_sql(_UPCAP_SEL) + """
       END AS up_capture_ppm,
       CASE WHEN md < 0 THEN """ + duck_sql(_DOWNCAP_SEL) + """
       END AS down_capture_ppm
FROM m
""",
)
def capture_ratios_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UP/DOWN CAPTURE RATIOS of the orders series against the
    shipped-lineitem market on their shared daily grid — how much of
    the market's up-moves (and down-moves) the portfolio
    participates in: conditional sums of portfolio returns on
    market-up / market-down days over the matching market sums (the
    simple-sum discrete variant of the compounded textbook form,
    documented). All conditional sums are exact int64 cents; each
    ratio is one SIGN-SPLIT ppm floor-division (the down ratio is
    taken on negated magnitudes so the denominator is positive —
    down/down ⇒ positive capture, outperforming a falling market ⇒
    capture < 1). Degenerate one-sided series degrade to NULL via
    the same CASE. Scale: two daily rollups, one day-grain join,
    one lag window, one 1-row reduce."""
    ret = _two_series_ret(spark, sf_dir).filter(
        F.col("rp").isNotNull() & F.col("rm").isNotNull()
    )
    m = ret.agg(
        F.sum(F.when(F.col("rm") > 0, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("rm") < 0, 1).otherwise(0)).alias("n_down"),
        F.sum(F.when(F.col("rm") > 0, F.col("rp")).otherwise(0)).alias(
            "pu"
        ),
        F.sum(F.when(F.col("rm") > 0, F.col("rm")).otherwise(0)).alias(
            "mu"
        ),
        F.sum(F.when(F.col("rm") < 0, F.col("rp")).otherwise(0)).alias(
            "pd"
        ),
        F.sum(F.when(F.col("rm") < 0, F.col("rm")).otherwise(0)).alias(
            "md"
        ),
    )
    return m.selectExpr(
        "n_up",
        "n_down",
        "pu AS port_up_cents",
        "mu AS mkt_up_cents",
        "pd AS port_down_cents",
        "md AS mkt_down_cents",
        "CASE WHEN mu > 0 THEN " + spark_sql(_UPCAP_SEL)
        + " END AS up_capture_ppm",
        "CASE WHEN md < 0 THEN " + spark_sql(_DOWNCAP_SEL)
        + " END AS down_capture_ppm",
    )


# ---------------------------------------------------------------------------
# Statistical process control: attribute charts + zone rules
# ---------------------------------------------------------------------------


_WE_ZONE = (
    "CAST(CASE WHEN dev2 > 9 * vv THEN 3"
    " WHEN dev2 > 4 * vv THEN 2"
    " WHEN dev2 > vv THEN 1 ELSE 0 END AS INT)"
)


@register(
    "western_electric_rules_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM daily
),
z AS (
  SELECT d.x, d.v,
         CAST(g.n * d.v - g.s AS BIGINT) AS dev,
         CAST(CAST(g.n * d.v - g.s AS HUGEINT)
              * (g.n * d.v - g.s) AS HUGEINT) AS dev2,
         CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS HUGEINT) AS vv
  FROM daily d, g
),
f AS (
  SELECT x, v, dev,
         CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END
             AS side,
         """ + _WE_ZONE + """ AS zone,
         CASE WHEN dev2 > 4 * vv AND dev > 0 THEN 1 ELSE 0 END AS b2p,
         CASE WHEN dev2 > 4 * vv AND dev < 0 THEN 1 ELSE 0 END AS b2m,
         CASE WHEN dev2 > vv AND dev > 0 THEN 1 ELSE 0 END AS b1p,
         CASE WHEN dev2 > vv AND dev < 0 THEN 1 ELSE 0 END AS b1m
  FROM z
),
r AS (
  SELECT x, v, side, zone,
         CAST(CASE WHEN zone = 3 THEN 1 ELSE 0 END AS INT) AS rule1,
         CAST(CASE WHEN count(*) OVER w3 = 3 AND
              (SUM(b2p) OVER w3 >= 2 OR SUM(b2m) OVER w3 >= 2)
              THEN 1 ELSE 0 END AS INT) AS rule2,
         CAST(CASE WHEN count(*) OVER w5 = 5 AND
              (SUM(b1p) OVER w5 >= 4 OR SUM(b1m) OVER w5 >= 4)
              THEN 1 ELSE 0 END AS INT) AS rule3,
         CAST(CASE WHEN count(*) OVER w8 = 8 AND
              (SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 = 8
               OR SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END)
                  OVER w8 = 8)
              THEN 1 ELSE 0 END AS INT) AS rule4
  FROM f
  WINDOW w3 AS (ORDER BY x ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (ORDER BY x ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w8 AS (ORDER BY x ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT x, v, side, zone, rule1, rule2, rule3, rule4
FROM r WHERE rule1 + rule2 + rule3 + rule4 > 0 ORDER BY x
""",
)
def western_electric_rules_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WESTERN ELECTRIC ZONE RULES over the daily revenue series —
    the four classic Shewhart run rules (1: one point beyond 3σ;
    2: ≥2 of 3 beyond 2σ same side; 3: ≥4 of 5 beyond 1σ same side;
    4: 8 consecutive same side of center), published for the days
    where ANY rule fires. The novelty vs xmr_control_chart_daily:
    zone membership never touches a float — |z| > k ⇔ dev² > k²·V
    with dev = n·x − S (int64) and V = n·Q − S² (HUGEINT ⟷
    decimal(38,0)), an EXACT integer comparison, so σ itself is
    never materialized; runs are plain windowed sums of the exact
    0/1 zone flags with full-window count guards (no partial-window
    false fires at the series head). Scale: calendar-bounded day
    domain — one rollup, one 1-row moment broadcast, three row
    windows."""
    daily = _daily_orders(spark, sf_dir)
    g = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    z = daily.crossJoin(F.broadcast(g)).selectExpr(
        "x",
        "v",
        "CAST(n * v - s AS BIGINT) AS dev",
        f"CAST(CAST(n * v - s AS {DEC38}) * (n * v - s) AS {DEC38})"
        " AS dev2",
        f"CAST(n * q - CAST(s AS {DEC38}) * s AS {DEC38}) AS vv",
    )
    f = z.selectExpr(
        "x",
        "v",
        "dev",
        "CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1 ELSE 0 END"
        " AS side",
        _WE_ZONE + " AS zone",
        "CASE WHEN dev2 > 4 * vv AND dev > 0 THEN 1 ELSE 0 END AS b2p",
        "CASE WHEN dev2 > 4 * vv AND dev < 0 THEN 1 ELSE 0 END AS b2m",
        "CASE WHEN dev2 > vv AND dev > 0 THEN 1 ELSE 0 END AS b1p",
        "CASE WHEN dev2 > vv AND dev < 0 THEN 1 ELSE 0 END AS b1m",
    )
    w3 = Window.orderBy("x").rowsBetween(-2, 0)
    w5 = Window.orderBy("x").rowsBetween(-4, 0)
    w8 = Window.orderBy("x").rowsBetween(-7, 0)
    r = f.select(
        "x",
        "v",
        "side",
        "zone",
        F.when(F.col("zone") == 3, 1).otherwise(0).cast("int").alias(
            "rule1"
        ),
        F.when(
            (F.count("*").over(w3) == 3)
            & (
                (F.sum("b2p").over(w3) >= 2)
                | (F.sum("b2m").over(w3) >= 2)
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rule2"),
        F.when(
            (F.count("*").over(w5) == 5)
            & (
                (F.sum("b1p").over(w5) >= 4)
                | (F.sum("b1m").over(w5) >= 4)
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rule3"),
        F.when(
            (F.count("*").over(w8) == 8)
            & (
                (
                    F.sum(
                        F.when(F.col("side") == 1, 1).otherwise(0)
                    ).over(w8)
                    == 8
                )
                | (
                    F.sum(
                        F.when(F.col("side") == -1, 1).otherwise(0)
                    ).over(w8)
                    == 8
                )
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("rule4"),
    )
    return r.filter(
        F.col("rule1") + F.col("rule2") + F.col("rule3") + F.col("rule4")
        > 0
    ).orderBy("x")


# ---------------------------------------------------------------------------
# Time-series: spectral / complexity / stationarity / momentum
# ---------------------------------------------------------------------------


@register(
    "square_wave_periodogram_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM daily
),
y AS (
  SELECT d.x, CAST(g.n * d.v - g.s AS BIGINT) AS yd, g.n,
         CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS HUGEINT) AS c0
  FROM daily d, g
),
p AS (SELECT unnest([7, 14, 30, 91, 365]) AS period),
terms AS (
  SELECT p.period,
         CAST(SUM(CASE WHEN (y.x % p.period) * 2 < p.period
                       THEN y.yd ELSE -y.yd END) AS BIGINT) AS ip,
         CAST(SUM(CASE WHEN ((y.x + p.period // 4) % p.period) * 2
                            < p.period
                       THEN y.yd ELSE -y.yd END) AS BIGINT) AS qd,
         CAST(max(y.n) AS BIGINT) AS n, CAST(max(y.c0) AS HUGEINT)
             AS c0
  FROM y, p GROUP BY p.period
)
SELECT period, ip AS inphase_sum, qd AS quadrature_sum,
       CASE WHEN c0 > 0
            THEN CAST((CAST(ip AS HUGEINT) * ip
                       + CAST(qd AS HUGEINT) * qd) * 1000000
                      // (CAST(n AS HUGEINT) * c0) AS BIGINT)
       END AS power_ppm
FROM terms ORDER BY period
""",
)
def square_wave_periodogram_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQUARE-WAVE PERIODOGRAM of daily revenue at the calendar
    periods {7, 14, 30, 91, 365} — spectral cycle detection with a
    WALSH (±1 square) basis instead of sin/cos, because per-row
    transcendentals are banned from hash-gated outputs and a square
    wave correlates >81% (8/π²) with the sinusoid of the same
    period: power_P = IP² + Q², with IP = Σ y·s_P (in-phase, s_P =
    ±1 by epoch-day half-period) and Q the quadrature at a P//4 day
    shift; y = n·x − S are the exact n-scaled deviations, so the
    normalized power (IP² + Q²)/(n·Σy²) is Cauchy-Schwarz-bounded
    and exact (HUGEINT ⟷ decimal(38,0) products, one non-negative
    ppm floor-division). The dominant-cycle complement to
    dominant_cycle_acf_daily (ACF peaks) in the frequency domain.
    Scale: one rollup, a 5-row broadcast period table, one
    grouped reduce."""
    daily = _daily_orders(spark, sf_dir)
    g = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    y = daily.crossJoin(F.broadcast(g)).selectExpr(
        "x",
        "CAST(n * v - s AS BIGINT) AS yd",
        "n",
        f"CAST(n * q - CAST(s AS {DEC38}) * s AS {DEC38}) AS c0",
    )
    p = spark.range(1).selectExpr(
        "explode(array(7, 14, 30, 91, 365)) AS period"
    )
    terms = (
        y.crossJoin(F.broadcast(p))
        .groupBy("period")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN (x % period) * 2 < period"
                    " THEN yd ELSE -yd END"
                )
            ).alias("ip"),
            F.sum(
                F.expr(
                    "CASE WHEN ((x + period div 4) % period) * 2"
                    " < period THEN yd ELSE -yd END"
                )
            ).alias("qd"),
            F.max("n").alias("n"),
            F.max("c0").alias("c0"),
        )
    )
    return terms.selectExpr(
        "CAST(period AS INT) AS period",
        "ip AS inphase_sum",
        "qd AS quadrature_sum",
        "CASE WHEN c0 > 0 THEN"
        f" CAST((CAST(ip AS {DEC38}) * ip + CAST(qd AS {DEC38}) * qd)"
        f" * 1000000 div (CAST(n AS {DEC38}) * c0) AS BIGINT)"
        " END AS power_ppm",
    ).orderBy("period")


@register(
    "sample_entropy_kernel_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
idx AS (
  SELECT v, row_number() OVER (ORDER BY x) AS t FROM daily
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM idx
),
tri AS (
  SELECT t, v AS v0,
         lead(v, 1) OVER (ORDER BY t) AS v1,
         lead(v, 2) OVER (ORDER BY t) AS v2
  FROM idx
),
pairs AS (
  SELECT a.t AS i, b.t AS j, g.n,
         CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS HUGEINT) AS vv,
         CAST(a.v0 - b.v0 AS BIGINT) AS d0,
         CAST(a.v1 - b.v1 AS BIGINT) AS d1,
         CAST(a.v2 - b.v2 AS BIGINT) AS d2
  FROM tri a JOIN tri b ON b.t > a.t, g
  WHERE a.v2 IS NOT NULL AND b.v2 IS NOT NULL
),
m AS (
  SELECT
    CAST(SUM(CASE WHEN 25 * CAST(d0 AS HUGEINT) * d0 * n * n <= vv
                   AND 25 * CAST(d1 AS HUGEINT) * d1 * n * n <= vv
              THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN 25 * CAST(d0 AS HUGEINT) * d0 * n * n <= vv
                   AND 25 * CAST(d1 AS HUGEINT) * d1 * n * n <= vv
                   AND 25 * CAST(d2 AS HUGEINT) * d2 * n * n <= vv
              THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT n_pairs, b AS template_matches_m2, a AS template_matches_m3,
       CASE WHEN b > 0
            THEN CAST(CAST(a AS HUGEINT) * 1000000 // b AS BIGINT)
       END AS sampen_kernel_ppm
FROM m
""",
)
def sample_entropy_kernel_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLE-ENTROPY KERNEL (m = 2, r = 0.2σ, Chebyshev) of the
    daily revenue series — the regularity statistic of Richman &
    Moorman: B counts template pairs whose length-2 windows stay
    within r at every offset, A the same at length 3; SampEn is
    −ln(A/B), so the published EXACT quantity is the kernel ratio
    A/B in ppm (the log is the caller's one transcendental — banned
    from hash-gated outputs). The tolerance never materializes:
    |Δ| ≤ 0.2σ ⇔ 25·n²·Δ² ≤ n·Q − S², an exact HUGEINT ⟷
    decimal(38,0) comparison (the Western-Electric zone trick).
    Scale: the pair join is DAY-DOMAIN-bounded (calendar², ~3M
    pairs regardless of SF — the hodges_lehmann argument); the fact
    scan is one map-side rollup."""
    daily = _daily_orders(spark, sf_dir)
    idx = daily.select(
        "v", F.row_number().over(Window.orderBy("x")).alias("t")
    )
    g = idx.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    wl = Window.orderBy("t")
    tri = idx.select(
        "t",
        F.col("v").alias("v0"),
        F.lead("v", 1).over(wl).alias("v1"),
        F.lead("v", 2).over(wl).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    a = tri.select(
        F.col("t").alias("i"),
        F.col("v0").alias("a0"),
        F.col("v1").alias("a1"),
        F.col("v2").alias("a2"),
    )
    b = tri.select(
        F.col("t").alias("j"),
        F.col("v0").alias("b0"),
        F.col("v1").alias("b1"),
        F.col("v2").alias("b2"),
    )
    # Tolerance constant hoisted out of the per-pair predicate
    # (optimization r18, guide §1.2 per-task work): the original form
    # paid four decimal(38) multiplications per template term per pair
    # (25·d²·n·n ≤ vv over ~1.6M day-pairs). For non-negative integers
    # d², vv and M = 25n² > 0:  M·d² ≤ vv  ⟺  d² ≤ vv/M  ⟺
    # d² ≤ floor(vv/M)  (d² is an integer), so the exact floor quotient
    # kk — computed ONCE on the 1-row stats frame via remainder
    # subtraction, which keeps the decimal division exact — replaces
    # the heavy form with a single decimal multiply per term. vv ≥ 0 by
    # Cauchy-Schwarz; vv = 0 degenerates to d = 0 in both forms.
    gk = g.selectExpr(
        "n",
        f"CAST(n * q - CAST(s AS {DEC38}) * s AS {DEC38}) AS vv",
    ).selectExpr(
        f"CAST((vv - vv % (CAST(25 AS {DEC38}) * n * n))"
        f" / (CAST(25 AS {DEC38}) * n * n) AS {DEC38}) AS kk",
    )
    pairs = (
        a.join(b, F.col("j") > F.col("i"))
        .crossJoin(F.broadcast(gk))
        .selectExpr(
            "CAST(a0 - b0 AS BIGINT) AS d0",
            "CAST(a1 - b1 AS BIGINT) AS d1",
            "CAST(a2 - b2 AS BIGINT) AS d2",
            "kk",
        )
    )
    hit = (
        f"CAST(d0 AS {DEC38}) * d0 <= kk"
        f" AND CAST(d1 AS {DEC38}) * d1 <= kk"
    )
    m = pairs.agg(
        F.sum(F.expr(f"CASE WHEN {hit} THEN 1 ELSE 0 END")).alias("b"),
        F.sum(
            F.expr(
                f"CASE WHEN {hit} AND CAST(d2 AS {DEC38}) * d2"
                " <= kk THEN 1 ELSE 0 END"
            )
        ).alias("a"),
        F.count("*").alias("n_pairs"),
    )
    return m.selectExpr(
        "n_pairs",
        "b AS template_matches_m2",
        "a AS template_matches_m3",
        "CASE WHEN b > 0 THEN"
        f" CAST(CAST(a AS {DEC38}) * 1000000 div b AS BIGINT)"
        " END AS sampen_kernel_ppm",
    )


@register(
    "kpss_level_stat_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM daily
),
e AS (
  SELECT d.x, CAST(g.n * d.v - g.s AS BIGINT) AS ed, g.n
  FROM daily d, g
),
p AS (
  SELECT x, ed, n,
         CAST(SUM(ed) OVER (ORDER BY x) AS BIGINT) AS pt
  FROM e
),
m AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(SUM(CAST(pt AS HUGEINT) * pt) AS HUGEINT) AS sp2,
         CAST(SUM(CAST(ed AS HUGEINT) * ed) AS HUGEINT) AS se2
  FROM p
)
SELECT n, CAST(floor(CAST(sp2 AS DOUBLE) * 1000000
            / (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE))) AS BIGINT)
           AS kpss_eta_ppm
FROM m
""",
)
def kpss_level_stat_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KPSS LEVEL-STATIONARITY STATISTIC (lag-0 long-run variance)
    of daily revenue — the null-reversal complement to the trend
    tests (mann_kendall/cox_stuart test FOR trend; KPSS tests
    AGAINST stationarity: η = Σₜ Sₜ²/(n·Σe²) with Sₜ the partial
    sums of demeaned residuals — large partial-sum excursions ⇒ a
    unit root / level shift). With the n-scaled residuals E = n·x−S
    both Σ numerator and denominator are exact HUGEINT ⟷
    decimal(38,0) and the n-scalings CANCEL, leaving one double
    division of two exact integers floored onto the ppm grid. The
    cumulative runs on the calendar-bounded day domain (one ordered
    prefix-sum window). Lag-0 is the documented discrete variant
    (the Bartlett-weighted long-run variance adds nuisance lags,
    not shape)."""
    daily = _daily_orders(spark, sf_dir)
    g = daily.agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    e = daily.crossJoin(F.broadcast(g)).selectExpr(
        "x", "CAST(n * v - s AS BIGINT) AS ed", "n"
    )
    p = e.select(
        "ed",
        "n",
        F.sum("ed").over(Window.orderBy("x")).alias("pt"),
    )
    m = p.agg(
        F.max("n").alias("n"),
        F.sum(F.col("pt").cast(DEC38) * F.col("pt")).alias("sp2"),
        F.sum(F.col("ed").cast(DEC38) * F.col("ed")).alias("se2"),
    )
    return m.selectExpr(
        "n",
        "CAST(floor(CAST(sp2 AS DOUBLE) * 1000000"
        " / (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE))) AS BIGINT)"
        " AS kpss_eta_ppm",
    )


@register(
    "permutation_pattern_census_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
tri AS (
  SELECT v AS v0,
         lead(v, 1) OVER (ORDER BY x) AS v1,
         lead(v, 2) OVER (ORDER BY x) AS v2
  FROM daily
),
pat AS (
  SELECT CASE
           WHEN v0 <= v1 AND v1 <= v2 THEN '012'
           WHEN v0 <= v2 AND v2 <  v1 THEN '021'
           WHEN v1 <  v0 AND v0 <= v2 THEN '102'
           WHEN v2 <  v0 AND v0 <= v1 THEN '120'
           WHEN v1 <= v2 AND v2 <  v0 THEN '201'
           ELSE '210'
         END AS pattern
  FROM tri WHERE v2 IS NOT NULL
),
c AS (
  SELECT pattern, CAST(count(*) AS BIGINT) AS cnt FROM pat GROUP BY 1
),
g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM c)
SELECT c.pattern, c.cnt,
       CAST(c.cnt * 1000000 // g.t AS BIGINT) AS share_ppm,
       CASE WHEN g.t > 1
            THEN CAST((SELECT SUM(CAST(cnt AS HUGEINT) * (cnt - 1))
                       FROM c) * 1000000
                      // (CAST(g.t AS HUGEINT) * (g.t - 1)) AS BIGINT)
       END AS renyi2_repeat_ppm
FROM c, g ORDER BY c.pattern
""",
)
def permutation_pattern_census_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER-3 PERMUTATION PATTERN CENSUS of daily revenue (Bandt &
    Pompe's permutation-entropy alphabet): each consecutive triple
    maps to one of the 6 ordinal patterns, labeled rank-of-each-
    position (digit i = rank of the i-th value; ties broken by
    POSITION — earlier day ranks first — via the ≤/< asymmetry of
    the CASE tree, identical in both engines), and
    the census publishes each pattern's count and share plus the
    Rényi-2 repeat rate Σc(c−1)/T(T−1) — the exact rational kernel
    of permutation entropy (the Shannon form needs logs, banned from
    hash-gated outputs; white noise ⇒ repeat ≈ 1/6, a trend ⇒ one
    monotone pattern dominates). Scale: one lead window over the
    calendar-bounded day domain, one 6-row rollup."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    tri = daily.select(
        F.col("v").alias("v0"),
        F.lead("v", 1).over(wl).alias("v1"),
        F.lead("v", 2).over(wl).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    pat = tri.selectExpr(
        "CASE"
        " WHEN v0 <= v1 AND v1 <= v2 THEN '012'"
        " WHEN v0 <= v2 AND v2 <  v1 THEN '021'"
        " WHEN v1 <  v0 AND v0 <= v2 THEN '102'"
        " WHEN v2 <  v0 AND v0 <= v1 THEN '120'"
        " WHEN v1 <= v2 AND v2 <  v0 THEN '201'"
        " ELSE '210' END AS pattern"
    )
    c = pat.groupBy("pattern").agg(F.count("*").alias("cnt"))
    g = c.agg(
        F.sum("cnt").alias("t"),
        F.sum(F.col("cnt").cast(DEC38) * (F.col("cnt") - 1)).alias(
            "rep2"
        ),
    )
    return (
        c.crossJoin(F.broadcast(g))
        .selectExpr(
            "pattern",
            "cnt",
            "CAST(cnt * 1000000 div t AS BIGINT) AS share_ppm",
            "CASE WHEN t > 1 THEN CAST(rep2 * 1000000"
            f" div (CAST(t AS {DEC38}) * (t - 1)) AS BIGINT)"
            " END AS renyi2_repeat_ppm",
        )
        .orderBy("pattern")
    )


_DPO_SEL = sql_ss_div("20 * vlag - s20", "20", 1000)


@register(
    "dpo_20_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
idx AS (
  SELECT x, v, row_number() OVER (ORDER BY x) AS t FROM daily
),
win AS (
  SELECT x, v, t,
         CAST(SUM(v) OVER (ORDER BY t ROWS BETWEEN 19 PRECEDING AND
              CURRENT ROW) AS BIGINT) AS s20,
         CAST(count(*) OVER (ORDER BY t ROWS BETWEEN 19 PRECEDING AND
              CURRENT ROW) AS BIGINT) AS cnt,
         lag(v, 11) OVER (ORDER BY t) AS vlag
  FROM idx
)
SELECT x, v,
       """ + duck_sql(_DPO_SEL) + """ AS dpo_milli
FROM win WHERE cnt = 20 AND vlag IS NOT NULL ORDER BY x
""",
)
def dpo_20_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETRENDED PRICE OSCILLATOR (20-period) of daily revenue —
    the cycle isolator that REMOVES the trend by comparing a
    displaced price to the moving average: DPO_t = x_{t−(20/2+1)} −
    SMA20_t, so the oscillator is phase-aligned with the cycle
    rather than lagging it (the displacement is what separates DPO
    from a plain price-minus-SMA). Exactness: DPO = (20·x_{t−11} −
    S20)/20 — one subtraction of exact int64s, one SIGN-SPLIT milli
    floor-division by the window width. Rows with partial windows
    or no 11-lagged observation are excluded by count guards.
    Scale: calendar-bounded day domain, one rollup + two windows."""
    daily = _daily_orders(spark, sf_dir)
    idx = daily.select(
        "x", "v", F.row_number().over(Window.orderBy("x")).alias("t")
    )
    wt = Window.orderBy("t").rowsBetween(-19, 0)
    win = idx.select(
        "x",
        "v",
        F.sum("v").over(wt).alias("s20"),
        F.count("*").over(wt).alias("cnt"),
        F.lag("v", 11).over(Window.orderBy("t")).alias("vlag"),
    )
    return (
        win.filter((F.col("cnt") == 20) & F.col("vlag").isNotNull())
        .selectExpr("x", "v", spark_sql(_DPO_SEL) + " AS dpo_milli")
        .orderBy("x")
    )


_CMO_SEL = sql_ss_div("su - sd", "su + sd", 1000000)


@register(
    "chande_momentum_20_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
idx AS (
  SELECT x, r, row_number() OVER (ORDER BY x) AS t
  FROM ret WHERE r IS NOT NULL
),
win AS (
  SELECT x,
         CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) OVER w
              AS BIGINT) AS su,
         CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) OVER w
              AS BIGINT) AS sd,
         CAST(count(*) OVER w AS BIGINT) AS cnt
  FROM idx
  WINDOW w AS (ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT x, su AS up_sum_cents, sd AS down_sum_cents,
       CASE WHEN su + sd > 0 THEN """ + duck_sql(_CMO_SEL) + """
       END AS cmo_ppm
FROM win WHERE cnt = 20 ORDER BY x
""",
)
def chande_momentum_20_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHANDE MOMENTUM OSCILLATOR (20-period) of daily revenue
    changes — the UNSMOOTHED momentum ratio CMO = (Su − Sd)/(Su +
    Sd): where RSI feeds the same up/down sums through a smoothing
    chain and a 0–100 squash, CMO publishes the raw ratio on ±1, so
    overbought/oversold symmetry is exact and zero net movement is
    exactly 0 (rsi_cutler_daily's complement). Both conditional
    sums are exact int64 cents over a full 20-row window (count
    guard); the ratio is one SIGN-SPLIT ppm floor-division with the
    flat-window CASE degenerating to NULL identically. Scale:
    calendar-bounded day domain, one rollup + one lag + one row
    window."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    idx = ret.select(
        "x", "r", F.row_number().over(Window.orderBy("x")).alias("t")
    )
    w = Window.orderBy("t").rowsBetween(-19, 0)
    win = idx.select(
        "x",
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0))
        .over(w)
        .alias("su"),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0))
        .over(w)
        .alias("sd"),
        F.count("*").over(w).alias("cnt"),
    )
    return (
        win.filter(F.col("cnt") == 20)
        .selectExpr(
            "x",
            "su AS up_sum_cents",
            "sd AS down_sum_cents",
            "CASE WHEN su + sd > 0 THEN " + spark_sql(_CMO_SEL)
            + " END AS cmo_ppm",
        )
        .orderBy("x")
    )


# ---------------------------------------------------------------------------
# Classical randomness / robust-trend tests on the daily series
# ---------------------------------------------------------------------------

_TP_Z = (
    "CAST(floor((CAST(tp AS DOUBLE) * 90 - CAST(2 * (n - 2) * 30"
    " AS DOUBLE)) * 1000 / (90 * sqrt(CAST(16 * n - 29 AS DOUBLE)"
    " / 90))) AS BIGINT)"
)


@register(
    "turning_points_test_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
tri AS (
  SELECT v AS v0,
         lead(v, 1) OVER (ORDER BY x) AS v1,
         lead(v, 2) OVER (ORDER BY x) AS v2
  FROM daily
),
m AS (
  SELECT CAST(SUM(CASE WHEN (v1 > v0 AND v1 > v2)
                         OR (v1 < v0 AND v1 < v2)
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(count(*) + 2 AS BIGINT) AS n
  FROM tri WHERE v2 IS NOT NULL
)
SELECT n, tp AS turning_points,
       CAST(2 * (n - 2) * 1000 // 3 AS BIGINT) AS expected_milli,
       """ + _TP_Z + """ AS z_milli
FROM m
""",
)
def turning_points_test_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TURNING-POINTS TEST of randomness on daily revenue — the
    oldest nonparametric IID check (Bienaymé 1874): count strict
    local extrema among interior days; under randomness E[T] =
    2(n−2)/3 and Var[T] = (16n−29)/90 — both exact rationals, so
    the expectation publishes as an exact milli floor-division and
    the z-score needs exactly ONE sqrt of an exact integer ratio
    (the shared double expression text). Complements
    runs_test_daily_value (sign runs around the median — level
    alternation) with CURVATURE alternation: a smooth trend has few
    turning points, noise has ~2n/3. Ties break conservatively
    (equal neighbors are not extrema — the strict-inequality
    convention, documented). Scale: one lead window over the
    calendar-bounded day domain, one 1-row reduce."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    tri = daily.select(
        F.col("v").alias("v0"),
        F.lead("v", 1).over(wl).alias("v1"),
        F.lead("v", 2).over(wl).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    m = tri.agg(
        F.sum(
            F.when(
                ((F.col("v1") > F.col("v0")) & (F.col("v1") > F.col("v2")))
                | (
                    (F.col("v1") < F.col("v0"))
                    & (F.col("v1") < F.col("v2"))
                ),
                1,
            ).otherwise(0)
        ).alias("tp"),
        (F.count("*") + 2).alias("n"),
    )
    return m.selectExpr(
        "n",
        "tp AS turning_points",
        "CAST(2 * (n - 2) * 1000 div 3 AS BIGINT) AS expected_milli",
        _TP_Z + " AS z_milli",
    )


@register(
    "records_test_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
pm AS (
  SELECT x, v,
         row_number() OVER (ORDER BY x) AS t,
         MAX(v) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prior_max
  FROM daily
),
rec AS (
  SELECT CAST(SUM(CASE WHEN prior_max IS NULL OR v > prior_max
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
         CAST(count(*) AS BIGINT) AS n
  FROM pm
),
harm AS (
  SELECT CAST(SUM(1000000 // t) AS BIGINT) AS h_micro
  FROM pm
)
SELECT rec.n, rec.n_records, harm.h_micro AS expected_micro,
       CAST(rec.n_records * 1000000 AS BIGINT) - harm.h_micro
           AS excess_micro
FROM rec, harm
""",
)
def records_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORDS TEST on daily revenue — count upper records (days
    strictly above every earlier day) against the IID expectation
    E[R] = Σₜ 1/t ≈ ln n + γ, computed as the exact per-term-floored
    harmonic sum Σ 10⁶//t (the discrete variant — no logs, no
    gamma): record-rich series indicate an upward trend or
    heavy-tailed shocks, record-starved ones a decline (the
    classical Glick 1978 diagnostic, also the fair-weather check on
    stock_span_daily_value, whose spans are inter-record gaps). The
    record indicator is one strict prefix-max window comparison.
    Scale: one rollup + one prefix window over the calendar-bounded
    day domain."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    pm = daily.select(
        "v",
        F.row_number().over(wl).alias("t"),
        F.max("v")
        .over(wl.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prior_max"),
    )
    rec = pm.agg(
        F.sum(
            F.when(
                F.col("prior_max").isNull()
                | (F.col("v") > F.col("prior_max")),
                1,
            ).otherwise(0)
        ).alias("n_records"),
        F.count("*").alias("n"),
        F.sum(F.expr("1000000 div t")).alias("h_micro"),
    )
    return rec.selectExpr(
        "n",
        "n_records",
        "h_micro AS expected_micro",
        "CAST(n_records * 1000000 AS BIGINT) - h_micro"
        " AS excess_micro",
    )


@register(
    "siegel_repeated_medians_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
pairs AS (
  SELECT a.x AS xi,
         CASE WHEN (b.v >= a.v) = (b.x > a.x)
              THEN CAST(abs(b.v - a.v) * 1000 // abs(b.x - a.x)
                        AS BIGINT)
              ELSE -CAST(abs(b.v - a.v) * 1000 // abs(b.x - a.x)
                         AS BIGINT)
         END AS slope_milli
  FROM daily a JOIN daily b ON b.x <> a.x
),
permed AS (
  SELECT xi, slope_milli,
         row_number() OVER (PARTITION BY xi ORDER BY slope_milli)
             AS rn,
         count(*) OVER (PARTITION BY xi) AS cnt
  FROM pairs
),
inner_med AS (
  SELECT xi, CAST(slope_milli AS BIGINT) AS med_i
  FROM permed WHERE rn = (cnt + 1) // 2
),
fin AS (
  SELECT med_i,
         row_number() OVER (ORDER BY med_i, xi) AS rn,
         count(*) OVER () AS cnt
  FROM inner_med
)
SELECT CAST(cnt AS BIGINT) AS n_days,
       CAST(med_i AS BIGINT) AS siegel_slope_milli
FROM fin WHERE rn = (cnt + 1) // 2
""",
)
def siegel_repeated_medians_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIEGEL REPEATED-MEDIANS slope of daily revenue — the
    50%-breakdown robust trend (median over anchor days of the
    median pairwise slope THROUGH each anchor), one robustness
    class above theil_sen_daily_trend (Theil-Sen's single global
    median breaks at 29%): an adversary must corrupt half the DAYS,
    not half the pairs. Slopes land on the exact milli grid by the
    SIGN-SPLIT floor (the published contract — medians are then
    order statistics of exact integers with deterministic
    (slope, day) tie-breaks at both levels, lower-median
    convention). Scale: the pair join is day-domain-bounded
    (calendar², the hodges_lehmann argument) and the inner median
    is a per-anchor rank window — parallel across anchors."""
    daily = _daily_orders(spark, sf_dir)
    a = daily.select(F.col("x").alias("xi"), F.col("v").alias("vi"))
    b = daily.select(F.col("x").alias("xj"), F.col("v").alias("vj"))
    # magnitude-split on the QUOTIENT sign: the pair set runs both
    # directions, so xj - xi may be negative — dividing magnitudes and
    # reapplying sign((vj-vi)·(xj-xi)) keeps Spark div / DuckDB //
    # agreement (they diverge on any negative operand).
    pairs = a.join(b, F.col("xj") != F.col("xi")).selectExpr(
        "xi",
        "CASE WHEN (vj >= vi) = (xj > xi)"
        " THEN CAST(abs(vj - vi) * 1000 div abs(xj - xi) AS BIGINT)"
        " ELSE -CAST(abs(vj - vi) * 1000 div abs(xj - xi) AS BIGINT)"
        " END AS slope_milli",
    )
    wp = Window.partitionBy("xi").orderBy("slope_milli")
    permed = pairs.select(
        "xi",
        "slope_milli",
        F.row_number().over(wp).alias("rn"),
        F.count("*").over(Window.partitionBy("xi")).alias("cnt"),
    )
    inner_med = permed.filter(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select("xi", F.col("slope_milli").alias("med_i"))
    fin = inner_med.select(
        "med_i",
        F.row_number().over(Window.orderBy("med_i", "xi")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    return fin.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).selectExpr(
        "CAST(cnt AS BIGINT) AS n_days",
        "CAST(med_i AS BIGINT) AS siegel_slope_milli",
    )


# ---------------------------------------------------------------------------
# Unit-root test + loss-system queueing
# ---------------------------------------------------------------------------

_DF_GAMMA = (
    "CASE WHEN dzz > 0 THEN CAST(floor(CAST(dzy AS DOUBLE) * 1000000"
    " / CAST(dzz AS DOUBLE)) AS BIGINT) END"
)
# t = dzy * sqrt((m-2) / (dzz * (dyy - dzy^2/dzz))) — one fixed double
# tree over exact decimal moments (the granger staged-expression rule).
_DF_T = (
    "CASE WHEN dzz > 0 AND CAST(dyy AS DOUBLE)"
    " - CAST(dzy AS DOUBLE) * CAST(dzy AS DOUBLE)"
    " / CAST(dzz AS DOUBLE) > 0"
    " THEN CAST(floor(CAST(dzy AS DOUBLE)"
    " * sqrt(CAST(m - 2 AS DOUBLE) / (CAST(dzz AS DOUBLE)"
    " * (CAST(dyy AS DOUBLE) - CAST(dzy AS DOUBLE)"
    " * CAST(dzy AS DOUBLE) / CAST(dzz AS DOUBLE)))) * 1000)"
    " AS BIGINT) END"
)


@register(
    "dickey_fuller_t_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
dz AS (
  SELECT v - LAG(v) OVER (ORDER BY x) AS y,
         LAG(v) OVER (ORDER BY x) AS z
  FROM daily
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(SUM(CAST(z AS HUGEINT) * y) AS HUGEINT) AS szy
  FROM dz WHERE y IS NOT NULL
),
d AS (
  SELECT m,
         CAST(m * szy - CAST(sz AS HUGEINT) * sy AS HUGEINT) AS dzy,
         CAST(m * szz - CAST(sz AS HUGEINT) * sz AS HUGEINT) AS dzz,
         CAST(m * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) AS dyy
  FROM mom
)
SELECT m AS n_obs,
       """ + _DF_GAMMA + """ AS gamma_micro,
       """ + _DF_T + """ AS df_t_milli
FROM d
""",
)
def dickey_fuller_t_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DICKEY-FULLER UNIT-ROOT t-STATISTIC (with drift) on daily
    revenue — the inferential companion to kpss_level_stat_daily
    with the null REVERSED (DF null: unit root; KPSS null:
    stationary — agreement between them is the textbook two-sided
    conclusion): regress Δxₜ on xₜ₋₁, publish γ̂ and its t-ratio.
    Every moment is exact HUGEINT ⟷ decimal(38,0); the Cramer
    determinants dzy/dzz/dyy are exact, and γ̂, t enter doubles ONCE
    through the granger staged-expression rule (identical text both
    engines): t = dzy·√((m−2)/(dzz·(dyy − dzy²/dzz))) — γ̂ on the
    micro grid, t on the milli grid, degenerate variance CASE-NULL.
    Scale: one rollup + one lag window + one 1-row reduce."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    dz = daily.select(
        (F.col("v") - F.lag("v").over(wl)).alias("y"),
        F.lag("v").over(wl).alias("z"),
    ).filter(F.col("y").isNotNull())
    mom = dz.agg(
        F.count("*").alias("m"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("y").cast(DEC38) * F.col("y")).alias("syy"),
        F.sum(F.col("z").cast(DEC38) * F.col("z")).alias("szz"),
        F.sum(F.col("z").cast(DEC38) * F.col("y")).alias("szy"),
    )
    d = mom.selectExpr(
        "m",
        f"CAST(m * szy - CAST(sz AS {DEC38}) * sy AS {DEC38}) AS dzy",
        f"CAST(m * szz - CAST(sz AS {DEC38}) * sz AS {DEC38}) AS dzz",
        f"CAST(m * syy - CAST(sy AS {DEC38}) * sy AS {DEC38}) AS dyy",
    )
    return d.selectExpr(
        "m AS n_obs",
        _DF_GAMMA + " AS gamma_micro",
        _DF_T + " AS df_t_milli",
    )


# ---------------------------------------------------------------------------
# EWMA control chart (time-varying limits) — keltner scan machinery
# ---------------------------------------------------------------------------


@register(
    "ewma_control_chart_daily",
    oracle="""
WITH RECURSIVE g AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
  FROM (
    SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS c
    FROM orders GROUP BY date_diff('day', DATE '1970-01-01',
                                   CAST(o_orderdate AS DATE)))
),
daily AS MATERIALIZED (
  SELECT d, CAST(c AS DOUBLE) / 100 AS x,
         row_number() OVER (ORDER BY d) AS rn
  FROM (
    SELECT date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) AS d,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS c
    FROM orders GROUP BY 1)
),
rec AS (
  SELECT d, rn, x, x AS z,
         (1 - 1.0 / 5.0) * (1 - 1.0 / 5.0) AS p
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT dd.d, dd.rn, dd.x,
         (1.0 / 5.0) * dd.x + (1 - 1.0 / 5.0) * rec.z,
         rec.p * ((1 - 1.0 / 5.0) * (1 - 1.0 / 5.0))
  FROM daily dd JOIN rec ON dd.rn = rec.rn + 1
)
SELECT rec.d,
       round(rec.x * 1000000) / 1000000 AS daily_value,
       round(rec.z * 1000000) / 1000000 AS ewma,
       round(((CAST(g.s AS DOUBLE) / g.n) / 100
              + sqrt(CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s
                          AS DOUBLE)) / g.n / 100 * sqrt(1 - rec.p))
             * 1000000) / 1000000 AS ucl,
       round(((CAST(g.s AS DOUBLE) / g.n) / 100
              - sqrt(CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s
                          AS DOUBLE)) / g.n / 100 * sqrt(1 - rec.p))
             * 1000000) / 1000000 AS lcl,
       CAST(CASE WHEN rec.z > (CAST(g.s AS DOUBLE) / g.n) / 100
                      + sqrt(CAST(g.n * g.q - CAST(g.s AS HUGEINT)
                                  * g.s AS DOUBLE)) / g.n / 100
                        * sqrt(1 - rec.p) THEN 1
                 WHEN rec.z < (CAST(g.s AS DOUBLE) / g.n) / 100
                      - sqrt(CAST(g.n * g.q - CAST(g.s AS HUGEINT)
                                  * g.s AS DOUBLE)) / g.n / 100
                        * sqrt(1 - rec.p) THEN -1
                 ELSE 0 END AS BIGINT) AS signal
FROM rec, g ORDER BY rec.d
""",
)
def ewma_control_chart_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EWMA CONTROL CHART (λ = 0.2, L = 3) with exact TIME-VARYING
    limits — the small-shift detector that beats Shewhart charts on
    sub-σ drifts (xmr/western_electric fire on points, CUSUM on
    cumulative sums; EWMA weights recency geometrically): z
    recursion AND the (1−λ)^{2i} limit-decay term ride the SAME
    prefix scan (the keltner/macd machinery — collect-sorted scan
    over the calendar-grain rows, one extra accumulator), and with
    λ = 1/5, L = 3 the limit collapses to μ ± σ·√(1−pᵢ) exactly
    (3·√(λ/(2−λ)) = 1). μ, σ come from exact HUGEINT ⟷
    decimal(38,0) moments, entering doubles once via identical
    expression text; published values meet on the 1e-6 grid, the
    signal compares raw doubles in both engines (the keltner
    breakout contract)."""
    from spark_lever_spark.functions.exact import cents

    o = load_table(spark, sf_dir, "orders")
    dc = o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("c"))
    g = dc.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast(DEC38) * F.col("c")).alias("q"),
    )
    daily = dc.select(
        "d", (F.col("c").cast("double") / 100).alias("x")
    )
    lam = 1.0 / 5.0
    dec2 = (1 - 1.0 / 5.0) * (1 - 1.0 / 5.0)
    allrows = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("srt")
    )

    def step(acc, srow):
        prev = F.element_at(acc, -1)
        z = F.when(F.size(acc) == 0, srow["x"]).otherwise(
            F.lit(lam) * srow["x"] + F.lit(1 - 1.0 / 5.0) * prev["z"]
        )
        p = F.when(F.size(acc) == 0, F.lit(dec2)).otherwise(
            prev["p"] * F.lit(dec2)
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    srow["d"].alias("d"),
                    srow["x"].alias("x"),
                    z.alias("z"),
                    p.alias("p"),
                )
            ),
        )

    scan = F.aggregate(
        F.col("srt"),
        F.expr(
            "CAST(array() AS array<struct<d bigint, x double,"
            " z double, p double>>)"
        ),
        step,
    )
    mu = "(CAST(s AS DOUBLE) / n) / 100"
    sig = (
        f"sqrt(CAST(n * q - CAST(s AS {DEC38}) * s AS DOUBLE)) / n / 100"
    )
    return (
        allrows.select(F.explode(scan).alias("r"))
        .crossJoin(F.broadcast(g))
        .selectExpr(
            "r.d AS d",
            "round(r.x * 1000000) / 1000000 AS daily_value",
            "round(r.z * 1000000) / 1000000 AS ewma",
            f"round(({mu} + {sig} * sqrt(1 - r.p)) * 1000000)"
            " / 1000000 AS ucl",
            f"round(({mu} - {sig} * sqrt(1 - r.p)) * 1000000)"
            " / 1000000 AS lcl",
            f"CAST(CASE WHEN r.z > {mu} + {sig} * sqrt(1 - r.p)"
            " THEN 1"
            f" WHEN r.z < {mu} - {sig} * sqrt(1 - r.p) THEN -1"
            " ELSE 0 END AS BIGINT) AS signal",
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Apportionment + actuarial development
# ---------------------------------------------------------------------------


@register(
    "chain_ladder_dev_factors",
    oracle="""
WITH paid AS (
  SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) * 12
              + EXTRACT(month FROM CAST(o.o_orderdate AS DATE))
              AS BIGINT) AS cohort,
         CAST((EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) * 12
               + EXTRACT(month FROM CAST(l.l_shipdate AS DATE)))
              - (EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) * 12
                 + EXTRACT(month FROM CAST(o.o_orderdate AS DATE)))
              AS BIGINT) AS dev,
         CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS amt
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort, dev,
         CAST(SUM(amt) OVER (PARTITION BY cohort ORDER BY dev)
              AS BIGINT) AS c
  FROM paid WHERE dev BETWEEN 0 AND 6
),
lnk AS (
  SELECT a.dev AS from_dev,
         CAST(count(*) AS BIGINT) AS n_cohorts,
         CAST(SUM(b.c) AS BIGINT) AS num,
         CAST(SUM(a.c) AS BIGINT) AS den
  FROM cum a JOIN cum b
    ON b.cohort = a.cohort AND b.dev = a.dev + 1
  GROUP BY 1
)
SELECT from_dev, n_cohorts, num AS next_cum_cents,
       den AS cur_cum_cents,
       CASE WHEN den > 0
            THEN CAST(CAST(num AS HUGEINT) * 1000000 // den AS BIGINT)
       END AS dev_factor_ppm
FROM lnk ORDER BY from_dev
""",
)
def chain_ladder_dev_factors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAIN-LADDER DEVELOPMENT FACTORS on the order→ship run-off
    triangle — the actuarial reserving primitive (Mack's volume-
    weighted link ratios f_j = ΣᵢC_{i,j+1}/ΣᵢC_{i,j}): cohorts are
    order months, development lags the order-to-ship month gaps
    (0..6 — the TPC-H shipping window), cumulative 'paid' is exact
    discounted revenue cents via one per-cohort prefix-sum window,
    and each factor is one non-negative HUGEINT ⟷ decimal(38,0)
    ppm floor-division over the cohorts that have BOTH lags (the
    self-join on (cohort, dev+1) enforces the common-diagonal rule
    — the subtle part every naive implementation gets wrong).
    Scale: one fact join + bounded (month × 7-lag) rollup +
    triangle-domain windows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    om = (
        F.year(F.to_date("o_orderdate")).cast("long") * 12
        + F.month(F.to_date("o_orderdate")).cast("long")
    )
    sm = (
        F.year(F.to_date("l_shipdate")).cast("long") * 12
        + F.month(F.to_date("l_shipdate")).cast("long")
    )
    paid = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            om.alias("cohort"), (sm - om).alias("dev")
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("amt")
        )
        .filter((F.col("dev") >= 0) & (F.col("dev") <= 6))
    )
    cum = paid.select(
        "cohort",
        "dev",
        F.sum("amt")
        .over(Window.partitionBy("cohort").orderBy("dev"))
        .alias("c"),
    )
    a = cum.selectExpr("cohort", "dev AS from_dev", "c AS ca")
    b = cum.selectExpr("cohort", "dev AS dev_b", "c AS cb")
    lnk = (
        a.join(
            b,
            (F.col("dev_b") == F.col("from_dev") + 1)
            & (a["cohort"] == b["cohort"]),
        )
        .groupBy("from_dev")
        .agg(
            F.count("*").alias("n_cohorts"),
            F.sum("cb").alias("num"),
            F.sum("ca").alias("den"),
        )
    )
    return lnk.selectExpr(
        "from_dev",
        "n_cohorts",
        "num AS next_cum_cents",
        "den AS cur_cum_cents",
        "CASE WHEN den > 0 THEN"
        f" CAST(CAST(num AS {DEC38}) * 1000000 div den AS BIGINT)"
        " END AS dev_factor_ppm",
    ).orderBy("from_dev")


# ---------------------------------------------------------------------------
# Lexical concentration, temporal burstiness, ranking stability
# ---------------------------------------------------------------------------


@register(
    "topk_stability_monthly_parts",
    oracle="""
WITH pm AS (
  SELECT CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) * 100
              + EXTRACT(month FROM CAST(l_shipdate AS DATE))
              AS BIGINT) AS ym,
         l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1, 2
),
topk AS (
  SELECT ym, l_partkey FROM (
    SELECT ym, l_partkey,
           row_number() OVER (PARTITION BY ym
                              ORDER BY rev DESC, l_partkey) AS rnk
    FROM pm
  ) WHERE rnk <= 10
),
months AS (SELECT DISTINCT ym FROM topk),
pairs AS (
  SELECT m.ym AS cur,
         (SELECT max(m2.ym) FROM months m2 WHERE m2.ym < m.ym)
             AS prev
  FROM months m
),
inter AS (
  SELECT p.cur, p.prev, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs p
  JOIN topk a ON a.ym = p.cur
  JOIN topk b ON b.ym = p.prev AND b.l_partkey = a.l_partkey
  GROUP BY 1, 2
)
SELECT p.cur AS ym, p.prev AS prev_ym,
       COALESCE(i.n_common, 0) AS n_common,
       CASE WHEN p.prev IS NOT NULL
            THEN CAST(COALESCE(i.n_common, 0) * 1000000
                      // (20 - COALESCE(i.n_common, 0)) AS BIGINT)
       END AS jaccard_ppm
FROM pairs p LEFT JOIN inter i ON i.cur = p.cur
ORDER BY ym
""",
)
def topk_stability_monthly_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOP-K RANKING STABILITY month over month — the Jaccard
    overlap of each month's top-10 revenue parts with the previous
    month's: the drift monitor for any leaderboard/recommender
    ('how much does our bestseller list churn?'), a set-valued
    complement to segment_migration_matrix (entity transitions) and
    kendall_tau (full-ranking correlation — top-k Jaccard reads
    only the head, which is what dashboards show). Top-10 per month
    under deterministic (revenue, partkey) ranks; |A∩B|/|A∪B| =
    c/(20−c) is EXACT in the intersection count — one non-negative
    ppm floor-division. The first month publishes NULL (no
    predecessor). Scale: one month×part rollup, a per-month rank
    window, one self-join on the bounded month domain."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        (
            F.year(F.to_date("l_shipdate")).cast("long") * 100
            + F.month(F.to_date("l_shipdate")).cast("long")
        ).alias("ym"),
        "l_partkey",
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * 100
            ).cast("long")
        ).alias("rev")
    )
    topk = (
        pm.select(
            "ym",
            "l_partkey",
            F.row_number()
            .over(
                Window.partitionBy("ym").orderBy(
                    F.desc("rev"), "l_partkey"
                )
            )
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
        .select("ym", "l_partkey")
    )
    months = topk.select("ym").distinct()
    m2 = months.select(F.col("ym").alias("prev_cand"))
    pairs = (
        months.join(
            m2, F.col("prev_cand") < F.col("ym"), "left"
        )
        .groupBy("ym")
        .agg(F.max("prev_cand").alias("prev"))
    )
    a = topk.select(F.col("ym").alias("cur"), "l_partkey")
    b = topk.select(
        F.col("ym").alias("pym"), F.col("l_partkey").alias("pk2")
    )
    inter = (
        pairs.join(a, F.col("cur") == F.col("ym"))
        .join(
            b,
            (F.col("pym") == F.col("prev"))
            & (F.col("pk2") == F.col("l_partkey")),
        )
        .groupBy(F.col("ym").alias("iym"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(inter, pairs["ym"] == inter["iym"], "left")
        .selectExpr(
            "ym",
            "prev AS prev_ym",
            "COALESCE(n_common, 0) AS n_common",
            "CASE WHEN prev IS NOT NULL THEN"
            " CAST(COALESCE(n_common, 0) * 1000000"
            " div (20 - COALESCE(n_common, 0)) AS BIGINT)"
            " END AS jaccard_ppm",
        )
        .orderBy("ym")
    )


# ---------------------------------------------------------------------------
# Chained oscillators: Stochastic RSI, Know Sure Thing
# ---------------------------------------------------------------------------


@register(
    "stoch_rsi_14_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
idx AS (
  SELECT x, r, row_number() OVER (ORDER BY x) AS t
  FROM ret WHERE r IS NOT NULL
),
rsi AS (
  SELECT x, t,
         CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) OVER w
              AS BIGINT) AS su,
         CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) OVER w
              AS BIGINT) AS sd,
         CAST(count(*) OVER w AS BIGINT) AS cnt
  FROM idx
  WINDOW w AS (ORDER BY t ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
rv AS (
  SELECT x, t,
         CASE WHEN su + sd > 0
              THEN CAST(su * 1000000 // (su + sd) AS BIGINT)
              ELSE 500000 END AS rsi_ppm
  FROM rsi WHERE cnt = 14
),
st AS (
  SELECT x, rsi_ppm,
         CAST(MIN(rsi_ppm) OVER w2 AS BIGINT) AS lo,
         CAST(MAX(rsi_ppm) OVER w2 AS BIGINT) AS hi,
         CAST(count(*) OVER w2 AS BIGINT) AS cnt2
  FROM rv
  WINDOW w2 AS (ORDER BY t ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT x, rsi_ppm,
       CASE WHEN hi > lo
            THEN CAST((rsi_ppm - lo) * 1000000 // (hi - lo) AS BIGINT)
       END AS stoch_rsi_ppm
FROM st WHERE cnt2 = 14 ORDER BY x
""",
)
def stoch_rsi_14_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOCHASTIC RSI (14/14, Cutler variant) — the
    oscillator-of-an-oscillator (Chande & Kroll): run the
    SMA-form RSI (exact ppm — the rsi_cutler_daily kernel, flat
    windows pinned to the 500 000 midpoint by the same CASE), then
    re-normalize it against its own 14-period range, exposing
    overbought/oversold turns the raw RSI smooths over. Both stages
    are exact: the stochastic stage is (RSI − min)/(max − min) on
    the ppm grid — one more non-negative floor-division over
    integer window extrema (full-window count guards at BOTH
    stages, so warm-up rows never publish). Scale: calendar-bounded
    day domain — one rollup, one lag, two stacked row windows."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    idx = ret.select(
        "x", "r", F.row_number().over(Window.orderBy("x")).alias("t")
    )
    w = Window.orderBy("t").rowsBetween(-13, 0)
    rsi = idx.select(
        "x",
        "t",
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0))
        .over(w)
        .alias("su"),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0))
        .over(w)
        .alias("sd"),
        F.count("*").over(w).alias("cnt"),
    )
    rv = rsi.filter(F.col("cnt") == 14).selectExpr(
        "x",
        "t",
        "CASE WHEN su + sd > 0"
        " THEN CAST(su * 1000000 div (su + sd) AS BIGINT)"
        " ELSE CAST(500000 AS BIGINT) END AS rsi_ppm",
    )
    w2 = Window.orderBy("t").rowsBetween(-13, 0)
    st = rv.select(
        "x",
        "rsi_ppm",
        F.min("rsi_ppm").over(w2).alias("lo"),
        F.max("rsi_ppm").over(w2).alias("hi"),
        F.count("*").over(w2).alias("cnt2"),
    )
    return (
        st.filter(F.col("cnt2") == 14)
        .selectExpr(
            "x",
            "rsi_ppm",
            "CASE WHEN hi > lo THEN"
            " CAST((rsi_ppm - lo) * 1000000 div (hi - lo) AS BIGINT)"
            " END AS stoch_rsi_ppm",
        )
        .orderBy("x")
    )


_KST_ROC = """
  SELECT x, t, {n} AS nn,
         CASE WHEN lag(v, {n}) OVER (ORDER BY t) > 0 THEN
           CASE WHEN v - lag(v, {n}) OVER (ORDER BY t) >= 0
                THEN CAST((v - lag(v, {n}) OVER (ORDER BY t))
                     * 1000000 {d} lag(v, {n}) OVER (ORDER BY t)
                     AS BIGINT)
                ELSE -CAST((lag(v, {n}) OVER (ORDER BY t) - v)
                     * 1000000 {d} lag(v, {n}) OVER (ORDER BY t)
                     AS BIGINT)
           END
         END AS roc_ppm
  FROM idx
"""


@register(
    "kst_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
idx AS (
  SELECT x, v, row_number() OVER (ORDER BY x) AS t FROM daily
),
rocs AS (
""" + " UNION ALL ".join(
        _KST_ROC.format(n=n, d="//") for n in (10, 15, 20, 30)
    ) + """
),
sma AS (
  SELECT x, t, nn, roc_ppm,
         CAST(SUM(roc_ppm) OVER (PARTITION BY nn ORDER BY t
              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS s10,
         CAST(count(roc_ppm) OVER (PARTITION BY nn ORDER BY t
              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS c10
  FROM rocs
),
rcma AS (
  SELECT x, t, nn,
         CASE WHEN s10 >= 0 THEN CAST(s10 // 10 AS BIGINT)
              ELSE -CAST((-s10) // 10 AS BIGINT) END AS rcma_ppm
  FROM sma WHERE c10 = 10 AND roc_ppm IS NOT NULL
),
kst AS (
  SELECT x,
         CAST(SUM(CASE nn WHEN 10 THEN 1 WHEN 15 THEN 2
                  WHEN 20 THEN 3 ELSE 4 END * rcma_ppm) AS BIGINT)
             AS kst_ppm,
         CAST(count(*) AS BIGINT) AS n_legs
  FROM rcma GROUP BY x HAVING count(*) = 4
)
SELECT x, kst_ppm FROM kst ORDER BY x
""",
)
def kst_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNOW SURE THING (Pring's KST) on daily revenue — the
    four-horizon momentum composite: rate-of-change at 10/15/20/30
    days, each smoothed by a 10-day SMA, weighted 1..4 and summed —
    the multi-timeframe confirmation oscillator a single-window ROC
    can't provide. Exactness: each ROC is a SIGN-SPLIT ppm
    floor-division against the lagged level (positive-level CASE
    guard), each SMA a SIGN-SPLIT floor by the constant 10 on a
    full-window count guard, the weighted sum exact int64; a day
    publishes only when ALL FOUR legs have complete history
    (HAVING = 4 — the longest leg gates, documented). Scale:
    calendar-bounded day domain — one rollup, four lag windows
    stacked long-format (one UNION, one partitioned SMA window)."""
    daily = _daily_orders(spark, sf_dir)
    idx = daily.select(
        "x", "v", F.row_number().over(Window.orderBy("x")).alias("t")
    )
    wl = Window.orderBy("t")
    legs = []
    for n in (10, 15, 20, 30):
        lagv = F.lag("v", n).over(wl)
        legs.append(
            idx.select(
                "x",
                "t",
                F.lit(n).cast("int").alias("nn"),
                F.when(
                    lagv > 0,
                    F.when(
                        F.col("v") - lagv >= 0,
                        F.expr(
                            f"CAST((v - lag(v, {n}) OVER (ORDER BY t))"
                            f" * 1000000 div lag(v, {n})"
                            " OVER (ORDER BY t) AS BIGINT)"
                        ),
                    ).otherwise(
                        F.expr(
                            f"-CAST((lag(v, {n}) OVER (ORDER BY t) - v)"
                            f" * 1000000 div lag(v, {n})"
                            " OVER (ORDER BY t) AS BIGINT)"
                        )
                    ),
                ).alias("roc_ppm"),
            )
        )
    rocs = legs[0]
    for leg in legs[1:]:
        rocs = rocs.unionByName(leg)
    ws = Window.partitionBy("nn").orderBy("t").rowsBetween(-9, 0)
    sma = rocs.select(
        "x",
        "t",
        "nn",
        "roc_ppm",
        F.sum("roc_ppm").over(ws).alias("s10"),
        F.count("roc_ppm").over(ws).alias("c10"),
    )
    rcma = sma.filter(
        (F.col("c10") == 10) & F.col("roc_ppm").isNotNull()
    ).selectExpr(
        "x",
        "nn",
        "CASE WHEN s10 >= 0 THEN CAST(s10 div 10 AS BIGINT)"
        " ELSE -CAST((-s10) div 10 AS BIGINT) END AS rcma_ppm",
    )
    kst = (
        rcma.groupBy("x")
        .agg(
            F.sum(
                F.expr(
                    "CASE nn WHEN 10 THEN 1 WHEN 15 THEN 2"
                    " WHEN 20 THEN 3 ELSE 4 END * rcma_ppm"
                )
            ).alias("kst_ppm"),
            F.count("*").alias("n_legs"),
        )
        .filter(F.col("n_legs") == 4)
    )
    return kst.select("x", "kst_ppm").orderBy("x")


# ---------------------------------------------------------------------------
# Distribution-shape audits: Chebyshev coverage + Gini mean difference
# ---------------------------------------------------------------------------


@register(
    "chebyshev_coverage_audit",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM daily
),
z AS (
  SELECT CAST(CAST(g.n * d.v - g.s AS HUGEINT)
              * (g.n * d.v - g.s) AS HUGEINT) AS dev2,
         CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS HUGEINT)
             AS vv,
         g.n
  FROM daily d, g
),
ks AS (SELECT unnest([1, 2, 3]) AS k),
cov AS (
  SELECT ks.k, CAST(max(z.n) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN z.dev2 <= ks.k * ks.k * z.vv
                       THEN 1 ELSE 0 END) AS BIGINT) AS within
  FROM z, ks GROUP BY ks.k
)
SELECT CAST(k AS INT) AS k, n, within,
       CAST(within * 1000000 // n AS BIGINT) AS coverage_ppm,
       CAST(CASE WHEN k = 1 THEN 0
                 ELSE (CAST(k AS BIGINT) * k - 1) * 1000000
                      // (CAST(k AS BIGINT) * k) END AS BIGINT)
           AS chebyshev_floor_ppm
FROM cov ORDER BY k
""",
)
def chebyshev_coverage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHEBYSHEV COVERAGE AUDIT of daily revenue — what fraction of
    days sits within k·σ of the mean for k = 1, 2, 3, against the
    distribution-free Chebyshev floor 1 − 1/k² (exact rational
    ppm): the tail-heaviness summary that says whether ±3σ SLO
    bands are honest for THIS distribution (normal ⇒ ~68/95/99.7%;
    coverage hugging the Chebyshev floor ⇒ pathological tails).
    σ never materializes: within-k·σ ⇔ dev² ≤ k²·(nQ−S²) with
    dev = n·x − S — the exact Western-Electric integer-zone
    comparison, summed per k. Scale: one rollup, a 1-row moment
    broadcast, a 3-row k table."""
    daily = _daily_orders(spark, sf_dir)
    g = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    z = daily.crossJoin(F.broadcast(g)).selectExpr(
        f"CAST(CAST(n * v - s AS {DEC38}) * (n * v - s) AS {DEC38})"
        " AS dev2",
        f"CAST(n * q - CAST(s AS {DEC38}) * s AS {DEC38}) AS vv",
        "n",
    )
    ks = spark.range(1).selectExpr("explode(array(1, 2, 3)) AS k")
    cov = (
        z.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.expr(
                    "CASE WHEN dev2 <= k * k * vv THEN 1 ELSE 0 END"
                )
            ).alias("within"),
        )
    )
    return cov.selectExpr(
        "CAST(k AS INT) AS k",
        "n",
        "within",
        "CAST(within * 1000000 div n AS BIGINT) AS coverage_ppm",
        "CAST(CASE WHEN k = 1 THEN 0"
        " ELSE (CAST(k AS BIGINT) * k - 1) * 1000000"
        " div (CAST(k AS BIGINT) * k) END AS BIGINT)"
        " AS chebyshev_floor_ppm",
    ).orderBy("k")


@register(
    "gini_mean_difference_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
rk AS (
  SELECT v, row_number() OVER (ORDER BY v, x) AS i
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(2 * i AS HUGEINT) * v) AS HUGEINT) AS s2iv,
         CAST(SUM(v) AS BIGINT) AS s
  FROM rk
)
SELECT n,
       CASE WHEN n > 1
            THEN CAST((2 * (s2iv - CAST(n + 1 AS HUGEINT) * s))
                      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       END AS gmd_cents,
       CASE WHEN s > 0 AND n > 1
            THEN CAST((s2iv - CAST(n + 1 AS HUGEINT) * s) * 1000000
                      // (CAST(n AS HUGEINT) * s) AS BIGINT)
       END AS gini_ppm
FROM m
""",
)
def gini_mean_difference_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GINI MEAN DIFFERENCE of daily revenue — the robust scale
    estimator E|X−X'| WITHOUT the pair join: the rank identity
    GMD = 2·Σ(2i−n−1)·x₍ᵢ₎ / (n(n−1)) collapses all n² pairwise
    absolute differences to one rank window + one weighted sum
    (exact HUGEINT ⟷ decimal(38,0); deterministic (value, day)
    rank tie-break is immaterial to the sum — equal values get
    interchangeable weights). Publishes GMD in exact cents AND the
    series' relative-Gini (GMD/2μ) in ppm — the dispersion pair
    between stddev (moment, outlier-fragile ~0%) and MAD
    (median-based, 50% breakdown): GMD keeps √n-efficiency at ~2×
    outlier resistance. Scale: calendar-bounded rank window, 1-row
    reduce — the hodges_lehmann O(n²) shape made O(n log n)."""
    daily = _daily_orders(spark, sf_dir)
    rk = daily.select(
        "v", F.row_number().over(Window.orderBy("v", "x")).alias("i")
    )
    m = rk.agg(
        F.count("*").alias("n"),
        F.sum(F.expr(f"CAST(2 * i AS {DEC38}) * v")).alias("s2iv"),
        F.sum("v").alias("s"),
    )
    return m.selectExpr(
        "n",
        "CASE WHEN n > 1 THEN"
        f" CAST((2 * (s2iv - CAST(n + 1 AS {DEC38}) * s))"
        f" div (CAST(n AS {DEC38}) * (n - 1)) AS BIGINT)"
        " END AS gmd_cents",
        "CASE WHEN s > 0 AND n > 1 THEN"
        f" CAST((s2iv - CAST(n + 1 AS {DEC38}) * s) * 1000000"
        f" div (CAST(n AS {DEC38}) * s) AS BIGINT)"
        " END AS gini_ppm",
    )


# ---------------------------------------------------------------------------
# Drawdown spells + ARCH volatility clustering
# ---------------------------------------------------------------------------


@register(
    "drawdown_spells_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
pm AS (
  SELECT x, v,
         MAX(v) OVER (ORDER BY x) AS peak,
         row_number() OVER (ORDER BY x) AS rn
  FROM daily
),
flagged AS (
  SELECT x, v, peak, rn,
         CASE WHEN v < peak THEN 1 ELSE 0 END AS under
  FROM pm
),
isl AS (
  SELECT x, v, peak, under,
         rn - CAST(SUM(under) OVER (ORDER BY rn) AS BIGINT) AS grp
  FROM flagged
),
spells AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS len_days,
         CAST(MAX(peak - v) AS BIGINT) AS depth_cents,
         CAST(min(x) AS BIGINT) AS start_x
  FROM isl WHERE under = 1 GROUP BY grp
)
SELECT CAST(count(*) AS BIGINT) AS n_spells,
       CAST(max(len_days) AS BIGINT) AS longest_days,
       CAST(max(CASE WHEN r = 1 THEN start_x END) AS BIGINT)
           AS longest_start_x,
       CAST(max(depth_cents) AS BIGINT) AS deepest_cents,
       CAST(SUM(len_days) AS BIGINT) AS total_underwater_days
FROM (
  SELECT *, row_number() OVER (ORDER BY len_days DESC, start_x) AS r
  FROM spells
)
""",
)
def drawdown_spells_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DRAWDOWN SPELL CENSUS of the daily revenue level — the
    DURATION side of risk that max_drawdown_daily_value (depth
    only) and calmar (depth-normalized return) don't read: how many
    underwater spells, the longest (with its deterministic start
    day), the deepest, and total days spent below the running peak
    ("lake ratio" numerator). Spells are gaps-and-islands on the
    below-prefix-max flag (the longest_daily_streak grouping trick:
    rn − cumulative(under) is constant within a run); every
    quantity is an exact int64 count/cents max. Scale:
    calendar-bounded day domain — one rollup, two ordered windows,
    one bounded spell rollup."""
    daily = _daily_orders(spark, sf_dir)
    wl = Window.orderBy("x")
    pm = daily.select(
        "x",
        "v",
        F.max("v").over(wl).alias("peak"),
        F.row_number().over(wl).alias("rn"),
    )
    flagged = pm.withColumn(
        "under", F.when(F.col("v") < F.col("peak"), 1).otherwise(0)
    )
    isl = flagged.withColumn(
        "grp",
        F.col("rn") - F.sum("under").over(Window.orderBy("rn")),
    )
    spells = (
        isl.filter(F.col("under") == 1)
        .groupBy("grp")
        .agg(
            F.count("*").alias("len_days"),
            F.max(F.col("peak") - F.col("v")).alias("depth_cents"),
            F.min("x").alias("start_x"),
        )
    )
    ranked = spells.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy(F.desc("len_days"), "start_x")
        ),
    )
    return ranked.agg(
        F.count("*").alias("n_spells"),
        F.max("len_days").alias("longest_days"),
        F.max(F.when(F.col("r") == 1, F.col("start_x"))).alias(
            "longest_start_x"
        ),
        F.max("depth_cents").alias("deepest_cents"),
        F.sum("len_days").alias("total_underwater_days"),
    )


_ARCH_R2 = (
    "CASE WHEN dzz > 0 AND dyy > 0"
    " THEN CAST(floor(CAST(dzy AS DOUBLE) * CAST(dzy AS DOUBLE)"
    " * 1000000 / (CAST(dzz AS DOUBLE) * CAST(dyy AS DOUBLE)))"
    " AS BIGINT) END"
)


@register(
    "arch_lm_test_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
sq AS (
  SELECT x, CAST(r AS HUGEINT) * r AS r2
  FROM ret WHERE r IS NOT NULL
),
lagd AS (
  SELECT CAST(r2 // 1000000 AS BIGINT) AS y,
         CAST(lag(r2) OVER (ORDER BY x) // 1000000 AS BIGINT) AS z
  FROM sq
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(SUM(CAST(z AS HUGEINT) * y) AS HUGEINT) AS szy
  FROM lagd WHERE z IS NOT NULL
),
d AS (
  SELECT m,
         CAST(m * szy - CAST(sz AS HUGEINT) * sy AS HUGEINT) AS dzy,
         CAST(m * szz - CAST(sz AS HUGEINT) * sz AS HUGEINT) AS dzz,
         CAST(m * syy - CAST(sy AS HUGEINT) * sy AS HUGEINT) AS dyy
  FROM mom
)
SELECT m AS n_obs,
       """ + _ARCH_R2 + """ AS r2_ppm,
       CASE WHEN dzz > 0 AND dyy > 0
            THEN CAST(m * (""" + _ARCH_R2 + """) // 1000 AS BIGINT)
       END AS lm_stat_milli
FROM d
""",
)
def arch_lm_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGLE'S ARCH LM TEST (lag 1) on daily revenue changes — the
    volatility-clustering diagnostic (regress today's SQUARED
    return on yesterday's: LM = n·R² ~ χ²(1) under homoskedastic
    null), the conditional-variance complement to ljung_box (level
    autocorrelation) and variance_ratio (long-horizon scaling):
    GARCH-worthy series fail exactly this test. Squared returns are
    pre-scaled to the exact megacent² grid (r²//10⁶ — the documented
    discrete grid, keeping all Cramer determinants inside
    HUGEINT ⟷ decimal(38,0) at any SF); R² = dzy²/(dzz·dyy) is one
    fixed double tree (granger rule), ppm-floored; LM = m·R²
    published in milli via exact integer ops on the already-floored
    R². Scale: one rollup, two lag windows, one 1-row reduce."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    sq = ret.selectExpr(
        "x", f"CAST(CAST(r AS {DEC38}) * r AS {DEC38}) AS r2"
    )
    wl = Window.orderBy("x")
    lagd = sq.select(
        F.expr("CAST(r2 div 1000000 AS BIGINT)").alias("y"),
        F.expr(
            "CAST(lag(r2) OVER (ORDER BY x) div 1000000 AS BIGINT)"
        ).alias("z"),
    ).filter(F.col("z").isNotNull())
    mom = lagd.agg(
        F.count("*").alias("m"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("y").cast(DEC38) * F.col("y")).alias("syy"),
        F.sum(F.col("z").cast(DEC38) * F.col("z")).alias("szz"),
        F.sum(F.col("z").cast(DEC38) * F.col("y")).alias("szy"),
    )
    d = mom.selectExpr(
        "m",
        f"CAST(m * szy - CAST(sz AS {DEC38}) * sy AS {DEC38}) AS dzy",
        f"CAST(m * szz - CAST(sz AS {DEC38}) * sz AS {DEC38}) AS dzz",
        f"CAST(m * syy - CAST(sy AS {DEC38}) * sy AS {DEC38}) AS dyy",
    )
    return d.selectExpr(
        "m AS n_obs",
        _ARCH_R2 + " AS r2_ppm",
        "CASE WHEN dzz > 0 AND dyy > 0 THEN"
        " CAST(m * (" + _ARCH_R2 + ") div 1000 AS BIGINT)"
        " END AS lm_stat_milli",
    )


# ---------------------------------------------------------------------------
# Qini uplift curve + up/down streak census
# ---------------------------------------------------------------------------


@register(
    "updown_streak_census_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
sgn AS (
  SELECT x, CASE WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END
             AS s,
         row_number() OVER (ORDER BY x) AS rn
  FROM ret WHERE r IS NOT NULL
),
isl AS (
  SELECT s, rn,
         rn - row_number() OVER (PARTITION BY s ORDER BY rn) AS grp
  FROM sgn
),
runs AS (
  SELECT s, grp, CAST(count(*) AS BIGINT) AS len FROM isl
  GROUP BY 1, 2
)
SELECT CAST(s AS INT) AS direction, CAST(len AS BIGINT) AS run_length,
       CAST(count(*) AS BIGINT) AS n_runs
FROM runs GROUP BY s, len ORDER BY direction, run_length
""",
)
def updown_streak_census_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UP/DOWN/FLAT STREAK CENSUS of daily revenue changes — the
    full run-length distribution by direction (how many 1-day,
    2-day, … up-streaks and down-streaks the series produced):
    runs_test_daily_value publishes one test statistic; the census
    IS the distribution momentum traders and randomness audits
    actually read (IID ⇒ run lengths geometric with ratio ~1/2 per
    sign — a surplus of long runs is trend persistence).
    Gaps-and-islands per sign (rn − per-sign rank is constant
    within a run — the longest_daily_streak trick partitioned by
    direction); all outputs exact counts. Scale: calendar-bounded
    day domain, two rank windows, one bounded census rollup."""
    ret = _daily_ret(spark, sf_dir).filter(F.col("r").isNotNull())
    sgn = ret.select(
        "x",
        F.when(F.col("r") > 0, 1)
        .when(F.col("r") < 0, -1)
        .otherwise(0)
        .alias("s"),
        F.row_number().over(Window.orderBy("x")).alias("rn"),
    )
    isl = sgn.select(
        "s",
        (
            F.col("rn")
            - F.row_number().over(
                Window.partitionBy("s").orderBy("rn")
            )
        ).alias("grp"),
    )
    runs = isl.groupBy("s", "grp").agg(F.count("*").alias("len"))
    return (
        runs.groupBy("s", "len")
        .agg(F.count("*").alias("n_runs"))
        .selectExpr(
            "CAST(s AS INT) AS direction",
            "CAST(len AS BIGINT) AS run_length",
            "n_runs",
        )
        .orderBy("direction", "run_length")
    )


# ---------------------------------------------------------------------------
# Pivot points + forecast-quality monitors
# ---------------------------------------------------------------------------


@register(
    "pivot_points_monthly",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
bars AS (
  SELECT CAST(EXTRACT(year FROM DATE '1970-01-01' + INTERVAL (x) DAY)
              * 100
              + EXTRACT(month FROM DATE '1970-01-01' + INTERVAL (x)
                        DAY) AS BIGINT) AS ym,
         x, v
  FROM daily
),
ohlc AS (
  SELECT ym,
         CAST(MAX(v) AS BIGINT) AS h, CAST(MIN(v) AS BIGINT) AS l,
         CAST(max_by(v, x) AS BIGINT) AS c
  FROM bars GROUP BY 1
)
SELECT ym, h AS high_cents, l AS low_cents, c AS close_cents,
       CAST((h + l + c) * 1000 // 3 AS BIGINT) AS pivot_milli,
       CAST(2 * ((h + l + c) * 1000 // 3) - l * 1000 AS BIGINT)
           AS r1_milli,
       CAST(2 * ((h + l + c) * 1000 // 3) - h * 1000 AS BIGINT)
           AS s1_milli,
       CAST((h + l + c) * 1000 // 3 + (h - l) * 1000 AS BIGINT)
           AS r2_milli,
       CAST((h + l + c) * 1000 // 3 - (h - l) * 1000 AS BIGINT)
           AS s2_milli
FROM ohlc ORDER BY ym
""",
)
def pivot_points_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIC FLOOR-TRADER PIVOT POINTS per month — the
    support/resistance ladder (P = (H+L+C)/3; R1/S1 = 2P−L / 2P−H;
    R2/S2 = P ± (H−L)) computed from monthly bars of the daily
    revenue series (H/L = window extrema, C = last day's value via
    max_by with the deterministic day key — the atr_sma14 bar
    idiom). P lands on the milli grid by ONE non-negative
    floor-division by 3; every other level is exact integer
    arithmetic ON the published milli grid (levels derive from the
    published pivot, not a hidden higher-precision one — the grid
    is the contract). Scale: one rollup + bounded month-domain
    algebra."""
    daily = _daily_orders(spark, sf_dir)
    bars = daily.select(
        F.expr(
            "CAST(EXTRACT(year FROM DATE '1970-01-01'"
            " + make_interval(0, 0, 0, CAST(x AS INT))) * 100"
            " + EXTRACT(month FROM DATE '1970-01-01'"
            " + make_interval(0, 0, 0, CAST(x AS INT))) AS BIGINT)"
        ).alias("ym"),
        "x",
        "v",
    )
    ohlc = bars.groupBy("ym").agg(
        F.max("v").alias("h"),
        F.min("v").alias("l"),
        F.expr("max_by(v, x)").alias("c"),
    )
    return ohlc.selectExpr(
        "ym",
        "h AS high_cents",
        "l AS low_cents",
        "c AS close_cents",
        "CAST((h + l + c) * 1000 div 3 AS BIGINT) AS pivot_milli",
        "CAST(2 * ((h + l + c) * 1000 div 3) - l * 1000 AS BIGINT)"
        " AS r1_milli",
        "CAST(2 * ((h + l + c) * 1000 div 3) - h * 1000 AS BIGINT)"
        " AS s1_milli",
        "CAST((h + l + c) * 1000 div 3 + (h - l) * 1000 AS BIGINT)"
        " AS r2_milli",
        "CAST((h + l + c) * 1000 div 3 - (h - l) * 1000 AS BIGINT)"
        " AS s2_milli",
    ).orderBy("ym")


_THEIL_U = (
    "CASE WHEN sa > 0 OR sp > 0"
    " THEN CAST(floor(sqrt(CAST(se AS DOUBLE) / n) * 1000000"
    " / (sqrt(CAST(sa AS DOUBLE) / n) + sqrt(CAST(sp AS DOUBLE) / n)))"
    " AS BIGINT) END"
)


@register(
    "theil_u_naive_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
fc AS (
  SELECT x, v, LAG(v) OVER (ORDER BY x) AS pred
  FROM daily
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v - pred AS HUGEINT) * (v - pred)) AS HUGEINT)
             AS se,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sa,
         CAST(SUM(CAST(pred AS HUGEINT) * pred) AS HUGEINT) AS sp
  FROM fc WHERE pred IS NOT NULL
)
SELECT n,
       """ + _THEIL_U + """ AS theil_u1_ppm
FROM m
""",
)
def theil_u_naive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL'S U₁ INEQUALITY COEFFICIENT of the naive (lag-1)
    forecast — the bounded [0,1] forecast-quality score (0 =
    perfect, 1 = worst): U₁ = RMSE/(RMS(actual) + RMS(forecast)),
    the scale-free complement to seasonal_naive_error_ratio (MASE
    compares against another forecast; U₁ normalizes by the series'
    own magnitude). All three second moments are exact HUGEINT ⟷
    decimal(38,0); U₁ is one fixed double tree (three sqrts of
    exact integer ratios, one division — identical text both
    engines), ppm-floored. Scale: one rollup + one lag window +
    1-row reduce."""
    daily = _daily_orders(spark, sf_dir)
    fc = daily.select(
        "x", "v", F.lag("v").over(Window.orderBy("x")).alias("pred")
    ).filter(F.col("pred").isNotNull())
    m = fc.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("v") - F.col("pred")).cast(DEC38)
            * (F.col("v") - F.col("pred"))
        ).alias("se"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("sa"),
        F.sum(F.col("pred").cast(DEC38) * F.col("pred")).alias("sp"),
    )
    return m.selectExpr("n", _THEIL_U + " AS theil_u1_ppm")


_TS_SEL = sql_ss_div("cfe * cnt", "sae", 1000)


@register(
    "tracking_signal_naive_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
fc AS (
  SELECT x, CAST(v - LAG(v) OVER (ORDER BY x) AS BIGINT) AS e
  FROM daily
),
run AS (
  SELECT x, e,
         CAST(SUM(e) OVER w AS BIGINT) AS cfe,
         CAST(SUM(abs(e)) OVER w AS BIGINT) AS sae,
         CAST(count(*) OVER w AS BIGINT) AS cnt
  FROM fc WHERE e IS NOT NULL
  WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
)
SELECT x, e AS error_cents, cfe AS cum_error_cents,
       CASE WHEN sae > 0 THEN """ + duck_sql(_TS_SEL) + """
       END AS tracking_signal_milli
FROM run ORDER BY x
""",
)
def tracking_signal_naive_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORECAST TRACKING SIGNAL of the naive (lag-1) forecast — the
    running bias monitor every demand-planning loop keeps next to
    its forecaster (Brown: TS = CFE/MAD, alarm at |TS| > 4; a
    biased forecast drifts, an unbiased one oscillates near 0):
    with MAD = Σ|e|/n the signal collapses to CFE·n/Σ|e| — both
    running sums exact int64 via ONE unbounded prefix window, the
    ratio a SIGN-SPLIT milli floor-division per day. The
    MONITORING complement to the forecasting ops (croston/holt/
    holt_winters publish forecasts; this publishes when to stop
    trusting one). Scale: calendar-bounded day domain — one rollup,
    one prefix window."""
    daily = _daily_orders(spark, sf_dir)
    fc = daily.select(
        "x",
        (F.col("v") - F.lag("v").over(Window.orderBy("x"))).alias("e"),
    ).filter(F.col("e").isNotNull())
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = fc.select(
        "x",
        "e",
        F.sum("e").over(w).alias("cfe"),
        F.sum(F.abs(F.col("e"))).over(w).alias("sae"),
        F.count("*").over(w).alias("cnt"),
    )
    return run.selectExpr(
        "x",
        "e AS error_cents",
        "cfe AS cum_error_cents",
        "CASE WHEN sae > 0 THEN " + spark_sql(_TS_SEL)
        + " END AS tracking_signal_milli",
    ).orderBy("x")


# ---------------------------------------------------------------------------
# Seasonal strength (eta-squared) at two calendar grains
# ---------------------------------------------------------------------------

_SEAS_GRAIN = """
  SELECT '{name}' AS seasonality, {key} AS g, x, v FROM daily
"""


@register(
    "seasonal_strength_eta_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
keyed AS (
""" + _SEAS_GRAIN.format(name="dow", key="x % 7")
    + " UNION ALL "
    + _SEAS_GRAIN.format(
        name="month",
        key="CAST(EXTRACT(month FROM DATE '1970-01-01'"
        " + INTERVAL (x) DAY) AS BIGINT)",
    ) + """
),
tot AS (
  SELECT seasonality, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM keyed GROUP BY 1
),
grps AS (
  SELECT seasonality, g, CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(v) AS BIGINT) AS s_g
  FROM keyed GROUP BY 1, 2
),
ssb AS (
  SELECT grps.seasonality,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(SUM((CAST(tot.n AS HUGEINT) * grps.s_g
                   - CAST(grps.n_g AS HUGEINT) * tot.s)
                  * (CAST(tot.n AS HUGEINT) * grps.s_g
                     - CAST(grps.n_g AS HUGEINT) * tot.s)
                  // grps.n_g) AS HUGEINT) AS b_terms
  FROM grps JOIN tot ON tot.seasonality = grps.seasonality
  GROUP BY 1
)
SELECT ssb.seasonality, ssb.n_groups,
       CASE WHEN CAST(tot.n AS HUGEINT) * tot.q
                 - CAST(tot.s AS HUGEINT) * tot.s > 0
            THEN CAST(ssb.b_terms * 1000000
                 // (CAST(tot.n AS HUGEINT)
                     * (CAST(tot.n AS HUGEINT) * tot.q
                        - CAST(tot.s AS HUGEINT) * tot.s))
                 AS BIGINT)
       END AS eta_sq_ppm
FROM ssb JOIN tot ON tot.seasonality = ssb.seasonality
ORDER BY ssb.seasonality
""",
)
def seasonal_strength_eta_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL STRENGTH η² at two calendar grains — the variance
    share a pure weekday effect (x mod 7 — epoch-phase weekday) and
    a pure month-of-year effect each explain in daily revenue
    (η² = SSB/SST, the effect-size the anova_f machinery tests but
    never publishes as a bounded [0,1] share; STL's
    seasonal-strength statistic in its exact discrete form):
    per-group terms (n·S_g − n_g·S)²/n_g are per-term-floored exact
    HUGEINT ⟷ decimal(38,0) (documented discrete variant), SST is
    the usual n·Q − S² collapse, the ratio one ppm floor-division.
    Long format: one row per seasonality, directly comparable —
    the planning question is WHICH calendar grain drives the
    series. Scale: one rollup, two bounded group rollups."""
    daily = _daily_orders(spark, sf_dir)
    keyed = daily.selectExpr(
        "'dow' AS seasonality", "x % 7 AS g", "x", "v"
    ).unionByName(
        daily.selectExpr(
            "'month' AS seasonality",
            "CAST(EXTRACT(month FROM DATE '1970-01-01'"
            " + make_interval(0, 0, 0, CAST(x AS INT))) AS BIGINT)"
            " AS g",
            "x",
            "v",
        )
    )
    tot = keyed.groupBy("seasonality").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    grps = keyed.groupBy("seasonality", "g").agg(
        F.count("*").alias("n_g"), F.sum("v").alias("s_g")
    )
    ssb = (
        grps.join(tot, "seasonality")
        .groupBy("seasonality")
        .agg(
            F.count("*").alias("n_groups"),
            # Spark `div` returns BIGINT and the per-group term
            # exceeds int64 — floor-divide in decimal instead:
            # (x - x % n_g) is exactly divisible, the decimal
            # division exact, re-cast to decimal(38,0)
            F.sum(
                F.expr(
                    f"CAST(((CAST(n AS {DEC38}) * s_g"
                    f" - CAST(n_g AS {DEC38}) * s)"
                    f" * (CAST(n AS {DEC38}) * s_g"
                    f" - CAST(n_g AS {DEC38}) * s)"
                    f" - (CAST(n AS {DEC38}) * s_g"
                    f" - CAST(n_g AS {DEC38}) * s)"
                    f" * (CAST(n AS {DEC38}) * s_g"
                    f" - CAST(n_g AS {DEC38}) * s) % n_g) / n_g"
                    f" AS {DEC38})"
                )
            ).alias("b_terms"),
        )
    )
    return (
        ssb.join(tot, "seasonality")
        .selectExpr(
            "seasonality",
            "n_groups",
            f"CASE WHEN CAST(n AS {DEC38}) * q"
            f" - CAST(s AS {DEC38}) * s > 0"
            f" THEN CAST(b_terms * 1000000 div (CAST(n AS {DEC38})"
            f" * (CAST(n AS {DEC38}) * q - CAST(s AS {DEC38}) * s))"
            " AS BIGINT) END AS eta_sq_ppm",
        )
        .orderBy("seasonality")
    )


# ---------------------------------------------------------------------------
# Random-walk + homogeneity tests
# ---------------------------------------------------------------------------


@register(
    "cowles_jones_daily",
    oracle="""
WITH
""" + _DAILY_RET_CTE + """,
sgn AS (
  SELECT x, CASE WHEN r > 0 THEN 1 ELSE -1 END AS s
  FROM ret WHERE r IS NOT NULL AND r <> 0
),
led AS (
  SELECT s, lead(s) OVER (ORDER BY x) AS s2 FROM sgn
),
m AS (
  SELECT CAST(SUM(CASE WHEN s = s2 THEN 1 ELSE 0 END) AS BIGINT)
             AS cont,
         CAST(SUM(CASE WHEN s <> s2 THEN 1 ELSE 0 END) AS BIGINT)
             AS rev
  FROM led WHERE s2 IS NOT NULL
)
SELECT cont AS continuations, rev AS reversals,
       CASE WHEN rev > 0
            THEN CAST(cont * 1000000 // rev AS BIGINT)
       END AS cj_ratio_ppm
FROM m
""",
)
def cowles_jones_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COWLES-JONES RATIO of daily revenue changes — the original
    (1937) random-walk test markets people still quote: count sign
    CONTINUATIONS (today's direction repeats tomorrow) against
    REVERSALS; under a driftless random walk CJ = 1, momentum
    pushes it above, mean-reversion below. Zero-change days drop
    (the classic convention — a zero has no sign to continue);
    the published ratio is one non-negative ppm floor-division of
    exact counts. The pairwise-SIGN complement to
    updown_streak_census_daily (full run-length distribution) and
    runs_test_daily_value (level runs around the median). Scale:
    one rollup, two lag windows, 1-row reduce."""
    ret = _daily_ret(spark, sf_dir).filter(
        F.col("r").isNotNull() & (F.col("r") != 0)
    )
    sgn = ret.select(
        "x", F.when(F.col("r") > 0, 1).otherwise(-1).alias("s")
    )
    led = sgn.select(
        "s", F.lead("s").over(Window.orderBy("x")).alias("s2")
    ).filter(F.col("s2").isNotNull())
    m = led.agg(
        F.sum(
            F.when(F.col("s") == F.col("s2"), 1).otherwise(0)
        ).alias("cont"),
        F.sum(
            F.when(F.col("s") != F.col("s2"), 1).otherwise(0)
        ).alias("rev"),
    )
    return m.selectExpr(
        "cont AS continuations",
        "rev AS reversals",
        "CASE WHEN rev > 0 THEN"
        " CAST(cont * 1000000 div rev AS BIGINT)"
        " END AS cj_ratio_ppm",
    )


_BUISHAND_SEL = (
    "CASE WHEN vv > 0 THEN CAST(floor("
    "CAST(pmax - pmin AS DOUBLE) * 1000"
    " / (sqrt(CAST(vv AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))))"
    " AS BIGINT) END"
)


@register(
    "buishand_range_daily",
    oracle="""
WITH
""" + _DAILY_ORDERS_CTE + """,
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
  FROM daily
),
p AS (
  SELECT d.x,
         CAST(SUM(g.n * d.v - g.s) OVER (ORDER BY d.x
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pt,
         g.n,
         CAST(g.n * g.q - CAST(g.s AS HUGEINT) * g.s AS HUGEINT)
             AS vv
  FROM daily d, g
),
m AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(MAX(pt) AS BIGINT) AS pmax,
         CAST(MIN(pt) AS BIGINT) AS pmin,
         CAST(max(vv) AS HUGEINT) AS vv
  FROM p
)
SELECT n, pmax AS max_partial_sum, pmin AS min_partial_sum,
       """ + _BUISHAND_SEL + """ AS rescaled_range_milli
FROM m
""",
)
def buishand_range_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUISHAND RANGE TEST for series homogeneity — the hydrology
    standard for 'did the level shift somewhere?': the RANGE of the
    demeaned partial-sum walk, R = max Sₜ − min Sₜ, rescaled by
    σ√n (R/(σ√n) ~ tabulated critical values; a level shift pulls
    the walk far from zero in one direction). KPSS integrates the
    SQUARED walk (variance-sensitive), CUSUM finds the argmax —
    Buishand reads the full excursion envelope; together they
    complete the partial-sum triad. With the n-scaled deviations
    E = n·x − S the walk Pₜ = ΣE is exact int64 (= n·Σ(x−x̄)), and
    R/(σ√n) = (Pmax − Pmin)/(n·σ·√n) with σ = √(nQ−S²)/n collapses
    to (Pmax − Pmin)/(√(nQ−S²)·√n) — the n's cancel, leaving ONE
    fixed double tree (two sqrts, one division), milli-floored.
    Scale: one rollup, one prefix window, 1-row reduce."""
    daily = _daily_orders(spark, sf_dir)
    g = daily.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast(DEC38) * F.col("v")).alias("q"),
    )
    p = daily.crossJoin(F.broadcast(g)).select(
        "x",
        F.sum(F.expr("n * v - s"))
        .over(
            Window.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("pt"),
        "n",
        F.expr(f"CAST(n * q - CAST(s AS {DEC38}) * s AS {DEC38})").alias(
            "vv"
        ),
    )
    m = p.agg(
        F.max("n").alias("n"),
        F.max("pt").alias("pmax"),
        F.min("pt").alias("pmin"),
        F.max("vv").alias("vv"),
    )
    return m.selectExpr(
        "n",
        "pmax AS max_partial_sum",
        "pmin AS min_partial_sum",
        _BUISHAND_SEL + " AS rescaled_range_milli",
    )
