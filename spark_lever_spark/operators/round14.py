"""Round-14 operator additions.

Families this module adds (SURVEY.md §2 growth areas):

- robust single-outlier / trend nonparametrics over the daily series
  (Grubbs, Cox-Stuart),
- the remaining classic technical-analysis indicators (Williams %R,
  Money Flow Index, CCI) on the exact-cents daily grid,
- serial-correlation diagnostics (Ljung-Box portmanteau,
  Lo-MacKinlay variance ratio),
- k-sample rank inference on blocked designs (Friedman, Jonckheere-
  Terpstra) and internal-consistency reliability (Cronbach's alpha),
- survival-curve comparison (two-group log-rank test),
- queueing metrics (M/M/1 steady-state from hourly arrival counts),
- audit/statistics utilities (Benford second-digit chi-square,
  power-of-two-bucket histogram quantile sketch),
- per-node clustering coefficients on the co-purchase graph,
- a REAL image-gradient (Sobel) energy pass over binary PGM payloads.

Every query follows the exact-arithmetic oracle doctrine
(spark_lever_spark/functions/exact.py): int64 cents, per-term
floor-divisions documented as discrete variants, no N-ary float sums,
transcendentals only as hard-coded rational literals shared verbatim
by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table, spread_scan
from spark_lever_spark.registry import register

_DEC = "decimal(38,0)"

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
    category="temporal",
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
        F.sum(F.col("yd").cast(_DEC) * F.col("yd")).alias("ssq")
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
            f" CAST((n - 1) * CAST(yd AS {_DEC}) * yd * 1000000"
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
    category="temporal",
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
    category="temporal",
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
    category="temporal",
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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("qx"),
    )
    mz = z.agg(
        F.count("*").alias("m"),
        F.sum("zv").alias("sz"),
        F.sum(F.col("zv").cast(_DEC) * F.col("zv")).alias("qz"),
    )
    return mx.crossJoin(F.broadcast(mz)).select(
        "n",
        "m",
        F.expr(
            f"CASE WHEN n * qx - CAST(sx AS {_DEC}) * sx > 0"
            f" AND CAST(m AS DOUBLE) * CAST(qz AS DOUBLE)"
            f" * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000 < 1e37"
            f" THEN CAST((m * qz - CAST(sz AS {_DEC}) * sz)"
            f" * n * n * 1000"
            f" div (5 * (n * qx - CAST(sx AS {_DEC}) * sx) * m * m)"
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
    category="temporal",
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
        F.sum(F.col("yd").cast(_DEC) * F.col("yd")).alias("c0"),
        *[
            F.sum(F.col("yd").cast(_DEC) * F.col(f"y{k}")).alias(f"c{k}")
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
            f" CAST(CAST(n AS {_DEC}) * (n + 2)"
            f" * (CAST(r_micro AS {_DEC}) * r_micro) * 1000"
            f" div ((n - lag_k) * CAST(1000000000000 AS {_DEC}))"
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
    category="temporal",
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
                F.abs(F.lit(20) * F.col("vj") - F.col("s20")).cast(_DEC)
            ).alias("mdev")
        )
    )
    return md.select(
        "x",
        "v",
        F.expr(
            f"CASE WHEN mdev > 0 THEN"
            f" CASE WHEN 20 * v - s20 >= 0"
            f" THEN CAST(CAST(20 * v - s20 AS {_DEC}) * 4000000"
            f" div (3 * mdev) AS BIGINT)"
            f" ELSE -CAST(CAST(s20 - 20 * v AS {_DEC}) * 4000000"
            f" div (3 * mdev) AS BIGINT) END END"
        ).alias("cci_milli"),
    ).orderBy("x")


# Monthly revenue per (month, priority) — the blocked-design base for
# Friedman / Cronbach (blocks = months with ALL k priorities present).
_MONTH_PRIO_CTES = """
cell AS (
  SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1)
              AS BIGINT) AS mx,
         o_orderpriority AS g,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev
  FROM orders GROUP BY 1, 2
),
kk AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k FROM cell),
comp AS (
  SELECT cell.mx, cell.g, cell.rev
  FROM cell
  JOIN (SELECT mx FROM cell GROUP BY mx
        HAVING count(*) = (SELECT k FROM kk)) f ON f.mx = cell.mx
)
"""


def _month_prio_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cell = o.groupBy(
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("long")
        .alias("mx"),
        F.col("o_orderpriority").alias("g"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev"
        )
    )
    kk = cell.agg(F.count_distinct("g").alias("k"))
    full = (
        cell.groupBy(F.col("mx").alias("fmx"))
        .agg(F.count("*").alias("gcnt"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("gcnt") == F.col("k"))
        .select("fmx", "k")
    )
    return cell.join(
        F.broadcast(full), cell.mx == F.col("fmx")
    ).select("mx", "g", "rev", "k")


@register(
    "friedman_test_priorities_monthly",
    oracle="""
WITH
""" + _MONTH_PRIO_CTES + """,
rk AS (
  SELECT mx, g,
         CAST(2 * rank() OVER (PARTITION BY mx ORDER BY rev)
              + count(*) OVER (PARTITION BY mx, rev) - 1
              AS BIGINT) AS r2
  FROM comp
),
rsum AS (
  SELECT g, CAST(SUM(r2) AS BIGINT) AS r2_sum FROM rk GROUP BY g
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(CAST(r2_sum AS HUGEINT) * r2_sum) AS HUGEINT)
             AS sum_r2_sq
  FROM rsum
),
b AS (
  SELECT CAST(count(DISTINCT mx) AS BIGINT) AS b_months FROM comp
)
SELECT b.b_months, agg.k AS k_groups,
       CAST(agg.sum_r2_sq AS BIGINT) AS sum_r2_sq,
       CASE WHEN b.b_months > 0 AND agg.k > 1 THEN
         CAST(3000 * agg.sum_r2_sq
              // (4 * b.b_months * agg.k * (agg.k + 1)) AS BIGINT)
         - 3000 * b.b_months * (agg.k + 1)
       END AS chi2_milli
FROM b CROSS JOIN agg
""",
    category="relational",
)
def friedman_test_priorities_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FRIEDMAN rank test for k related samples — the blocked-design
    nonparametric ANOVA (months are blocks, the 5 order priorities
    are treatments, monthly revenue is the response): χ² =
    12/(bk(k+1))·ΣR_j² − 3b(k+1) on within-block ranks, the test
    kendall_w rescales into agreement (W = χ²/(b(k−1))) and
    page_trend_test orders — this publishes the plain omnibus
    member. Exactness: average ranks are kept on the ×2 integer grid
    (2·rank + ties − 1, the tie-stable discrete doctrine), so ΣR2² =
    4·ΣR² is exact and χ²·1000 = 3000·ΣR2²/(4bk(k+1)) − 3000b(k+1)
    — ONE floor-division with the constant pulled outside the floor
    (constant-minus doctrine; tie-uncorrected variant, documented).
    Only months observing all k priorities enter (complete blocks).
    Scale: one month×priority rollup (calendar-bounded domain), one
    per-block rank window."""
    comp = _month_prio_complete(spark, sf_dir)
    r2 = (
        2 * F.rank().over(Window.partitionBy("mx").orderBy("rev"))
        + F.count("*").over(Window.partitionBy("mx", "rev"))
        - 1
    ).cast("long")
    rk = comp.select("mx", "g", r2.alias("r2"))
    rsum = rk.groupBy("g").agg(F.sum("r2").alias("r2_sum"))
    agg = rsum.agg(
        F.count("*").alias("k"),
        F.sum(F.col("r2_sum").cast(_DEC) * F.col("r2_sum")).alias(
            "sum_r2_sq"
        ),
    )
    b = comp.agg(F.count_distinct("mx").alias("b_months"))
    return b.crossJoin(F.broadcast(agg)).select(
        "b_months",
        F.col("k").alias("k_groups"),
        F.col("sum_r2_sq").cast("long").alias("sum_r2_sq"),
        F.expr(
            "CASE WHEN b_months > 0 AND k > 1 THEN"
            " CAST(3000 * sum_r2_sq"
            " div (4 * b_months * k * (k + 1)) AS BIGINT)"
            " - 3000 * b_months * (k + 1) END"
        ).alias("chi2_milli"),
    )


@register(
    "cronbach_alpha_priorities_monthly",
    oracle="""
WITH
""" + _MONTH_PRIO_CTES + """,
bb AS (SELECT CAST(count(DISTINCT mx) AS BIGINT) AS b FROM comp),
item AS (
  SELECT g, CAST(SUM(rev) AS BIGINT) AS si,
         CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS qi
  FROM comp GROUP BY g
),
dsum AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(bb.b * qi - CAST(si AS HUGEINT) * si) AS HUGEINT)
             AS d_items
  FROM item CROSS JOIN bb GROUP BY bb.b
),
tm AS (
  SELECT mx, CAST(SUM(rev) AS BIGINT) AS tv FROM comp GROUP BY mx
),
dtot AS (
  SELECT CAST(bb.b * SUM(CAST(tv AS HUGEINT) * tv)
              - CAST(SUM(tv) AS HUGEINT) * SUM(tv) AS HUGEINT) AS d_t
  FROM tm CROSS JOIN bb GROUP BY bb.b
)
SELECT bb.b AS b_months, dsum.k AS k_items,
       CASE WHEN dtot.d_t > 0 AND dsum.k > 1
                 AND CAST(dsum.k AS DOUBLE)
                     * abs(CAST(dtot.d_t AS DOUBLE)) * 1000 < 1e37
            THEN CASE WHEN dtot.d_t - dsum.d_items >= 0
                 THEN CAST(dsum.k * (dtot.d_t - dsum.d_items) * 1000
                           // ((dsum.k - 1) * dtot.d_t) AS BIGINT)
                 ELSE -CAST(dsum.k * (dsum.d_items - dtot.d_t) * 1000
                            // ((dsum.k - 1) * dtot.d_t) AS BIGINT)
                 END
       END AS alpha_milli
FROM bb CROSS JOIN dsum CROSS JOIN dtot
""",
    category="relational",
)
def cronbach_alpha_priorities_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CRONBACH'S ALPHA internal-consistency reliability — the
    psychometric workhorse (α = k/(k−1)·(1 − Σσᵢ²/σ_T²)) read over
    the month×priority revenue matrix: months are subjects, the 5
    priorities are items, and α asks whether the priority revenue
    streams move together month to month (the reliability face of
    what kendall_w measures in ranks). Exactness: every variance is
    the n-scaled moment b·Q − S² (exact decimal(38,0) ⟷ HUGEINT on
    the same complete-block b), so α = k·(D_T − ΣDᵢ)/((k−1)·D_T) is
    a ratio of exact integers, published milli with the SIGN-SPLIT
    floor (α < 0 happens when items anticorrelate; Spark div
    truncates, DuckDB // floors). Degenerate zero total variance
    NULLs via the same CASE; the 10³⁷ double guard degrades
    identically past decimal headroom. Scale: one calendar-bounded
    month×priority rollup; three scalar aggregates."""
    comp = _month_prio_complete(spark, sf_dir)
    bb = comp.agg(F.count_distinct("mx").alias("b"))
    item = comp.groupBy("g").agg(
        F.sum("rev").alias("si"),
        F.sum(F.col("rev").cast(_DEC) * F.col("rev")).alias("qi"),
    )
    dsum = (
        item.crossJoin(F.broadcast(bb))
        .groupBy("b")
        .agg(
            F.count("*").alias("k"),
            F.sum(
                F.col("b") * F.col("qi")
                - F.col("si").cast(_DEC) * F.col("si")
            ).alias("d_items"),
        )
    )
    tm = comp.groupBy("mx").agg(F.sum("rev").alias("tv"))
    dtot = (
        tm.crossJoin(F.broadcast(bb))
        .groupBy("b")
        .agg(
            (
                F.first("b")
                * F.sum(F.col("tv").cast(_DEC) * F.col("tv"))
                - F.sum("tv").cast(_DEC) * F.sum("tv")
            ).alias("d_t")
        )
        .select("d_t")
    )
    return (
        bb.crossJoin(F.broadcast(dsum.select("k", "d_items")))
        .crossJoin(F.broadcast(dtot))
        .select(
            F.col("b").alias("b_months"),
            F.col("k").alias("k_items"),
            F.expr(
                "CASE WHEN d_t > 0 AND k > 1"
                " AND CAST(k AS DOUBLE) * abs(CAST(d_t AS DOUBLE))"
                " * 1000 < 1e37 THEN"
                " CASE WHEN d_t - d_items >= 0"
                " THEN CAST(k * (d_t - d_items) * 1000"
                " div ((k - 1) * d_t) AS BIGINT)"
                " ELSE -CAST(k * (d_items - d_t) * 1000"
                " div ((k - 1) * d_t) AS BIGINT) END END"
            ).alias("alpha_milli"),
        )
    )


@register(
    "jonckheere_terpstra_priorities",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
         o_orderpriority AS g
  FROM orders
),
cnts AS (
  SELECT x,
         CAST(SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = '2-HIGH' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN g = '3-MEDIUM' THEN 1 ELSE 0 END)
              AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN g = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
              AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END)
              AS BIGINT) AS c5
  FROM v GROUP BY x
),
cum AS (
  SELECT x, c1, c2, c3, c4, c5,
         COALESCE(SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS l1,
         COALESCE(SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS l2,
         COALESCE(SUM(c3) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS l3,
         COALESCE(SUM(c4) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                  PRECEDING AND 1 PRECEDING), 0) AS l4
  FROM cnts
),
jt AS (
  SELECT CAST(SUM(
           CAST(c2 AS HUGEINT) * (2 * l1 + c1)
         + CAST(c3 AS HUGEINT) * (2 * l1 + c1 + 2 * l2 + c2)
         + CAST(c4 AS HUGEINT) * (2 * l1 + c1 + 2 * l2 + c2
                                  + 2 * l3 + c3)
         + CAST(c5 AS HUGEINT) * (2 * l1 + c1 + 2 * l2 + c2
                                  + 2 * l3 + c3 + 2 * l4 + c4)
         ) AS HUGEINT) AS jt2
  FROM cum
),
gn AS (
  SELECT CAST(SUM(c1 + c2 + c3 + c4 + c5) AS BIGINT) AS n,
         CAST(SUM(c1) AS BIGINT) * CAST(SUM(c1) AS BIGINT)
         + CAST(SUM(c2) AS BIGINT) * CAST(SUM(c2) AS BIGINT)
         + CAST(SUM(c3) AS BIGINT) * CAST(SUM(c3) AS BIGINT)
         + CAST(SUM(c4) AS BIGINT) * CAST(SUM(c4) AS BIGINT)
         + CAST(SUM(c5) AS BIGINT) * CAST(SUM(c5) AS BIGINT)
             AS sum_n_sq
  FROM cnts
)
SELECT gn.n AS n_total,
       CASE WHEN CAST(gn.n AS DOUBLE) < 3e9
            THEN CAST(jt.jt2 AS BIGINT) END AS jt2,
       CASE WHEN CAST(gn.n AS DOUBLE) < 3e9
            THEN CAST(2 * jt.jt2
                      - (CAST(gn.n AS HUGEINT) * gn.n - gn.sum_n_sq)
                      AS BIGINT) END AS dev_x4
FROM gn CROSS JOIN jt
""",
    category="relational",
)
def jonckheere_terpstra_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JONCKHEERE-TERPSTRA ordered-alternatives test — the k-sample
    trend test (H₁: order value shifts MONOTONICALLY across the
    ordinal priority classes 1-URGENT → 5-LOW) that beats
    kruskal_wallis exactly when the alternative is ordered, computed
    WITHOUT the naive Σ n_i·n_j pairwise comparisons: one pass over
    the DISTINCT value domain carries per-group counts plus
    strictly-less running sums, and JT = Σ_{i<j} U_ij becomes one
    windowed scan (U_ij = Σ_v c_j(v)·[lt_i(v) + ½c_i(v)]). Ties are
    kept exact on the ×2 grid (JT2 = 2·JT, all integers). dev_x4 =
    4·(JT − E[JT]) with E[JT] = (N² − Σn_i²)/4 — the centered
    statistic, still exact. The N < 3·10⁹ guard (N² must fit int64)
    NULLs identically in both engines past that. Scale: one
    value-domain rollup + one ordered window — work is O(distinct
    values), never O(N²)."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        F.col("o_orderpriority").alias("g"),
    )
    prios = [
        ("c1", "1-URGENT"),
        ("c2", "2-HIGH"),
        ("c3", "3-MEDIUM"),
        ("c4", "4-NOT SPECIFIED"),
        ("c5", "5-LOW"),
    ]
    cnts = v.groupBy("x").agg(
        *[
            F.sum(F.when(F.col("g") == p, 1).otherwise(0)).alias(c)
            for c, p in prios
        ]
    )
    wl = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cnts.select(
        "x",
        "c1",
        "c2",
        "c3",
        "c4",
        "c5",
        *[
            F.coalesce(F.sum(f"c{i}").over(wl), F.lit(0)).alias(f"l{i}")
            for i in range(1, 5)
        ],
    )
    jt = cum.agg(
        F.sum(
            F.expr(
                f"CAST(c2 AS {_DEC}) * (2 * l1 + c1)"
                f" + CAST(c3 AS {_DEC}) * (2 * l1 + c1 + 2 * l2 + c2)"
                f" + CAST(c4 AS {_DEC}) * (2 * l1 + c1 + 2 * l2 + c2"
                f" + 2 * l3 + c3)"
                f" + CAST(c5 AS {_DEC}) * (2 * l1 + c1 + 2 * l2 + c2"
                f" + 2 * l3 + c3 + 2 * l4 + c4)"
            )
        ).alias("jt2")
    )
    gn = cnts.agg(
        F.sum(
            F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4")
            + F.col("c5")
        ).alias("n"),
        (
            F.sum("c1") * F.sum("c1")
            + F.sum("c2") * F.sum("c2")
            + F.sum("c3") * F.sum("c3")
            + F.sum("c4") * F.sum("c4")
            + F.sum("c5") * F.sum("c5")
        ).alias("sum_n_sq"),
    )
    return gn.crossJoin(F.broadcast(jt)).select(
        F.col("n").alias("n_total"),
        F.expr(
            "CASE WHEN CAST(n AS DOUBLE) < 3e9"
            " THEN CAST(jt2 AS BIGINT) END"
        ).alias("jt2"),
        F.expr(
            f"CASE WHEN CAST(n AS DOUBLE) < 3e9"
            f" THEN CAST(2 * jt2"
            f" - (CAST(n AS {_DEC}) * n - sum_n_sq) AS BIGINT) END"
        ).alias("dev_x4"),
    )


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
    category="events",
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
                f"CAST(CAST(arrivals AS {_DEC}) * arrivals * 1000"
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
    category="events",
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
            f" CAST(CAST(e1 + e0 AS {_DEC}) * n1 * (n - n1)"
            f" * (n - e1 - e0) * 1000000"
            f" div (CAST(n AS {_DEC}) * n * (n - 1)) AS BIGINT) END"
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
            f" THEN CAST(CAST(oe_milli AS {_DEC}) * oe_milli * 1000"
            f" div v_micro AS BIGINT) END"
        ).alias("chi2_milli"),
    )


# Benford second-significant-digit expected frequencies, ppm:
# P(d) = sum over d1 in 1..9 of log10(1 + 1/(10*d1 + d)), the ONLY
# transcendental — frozen as rational literals shared verbatim by
# both engines (the hard-coded-constant doctrine).
_BENFORD2_PPM = [
    (0, 119679),
    (1, 113890),
    (2, 108821),
    (3, 104330),
    (4, 100308),
    (5, 96677),
    (6, 93375),
    (7, 90352),
    (8, 87570),
    (9, 84997),
]

_BENFORD2_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD2_PPM)


@register(
    "benford_second_digit_audit",
    oracle=f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 2, 1) AS BIGINT) AS digit
  FROM orders
  WHERE o_totalprice > 0
    AND length(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR)) >= 2
),
c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
exp_t AS (SELECT * FROM (VALUES {_BENFORD2_VALUES}) AS v(digit, p_ppm)),
j AS (
  SELECT e.digit, COALESCE(c.n, 0) AS n,
         CAST(e.p_ppm AS BIGINT) AS expected_ppm,
         CAST(t.total * e.p_ppm AS BIGINT) AS e_micro
  FROM exp_t e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
)
SELECT CAST(digit AS BIGINT) AS digit, n, expected_ppm,
       CASE WHEN e_micro > 0 THEN
         CAST((CAST(n * 1000000 - e_micro AS HUGEINT)
               * (n * 1000000 - e_micro))
              // (CAST(e_micro AS HUGEINT) * 1000) AS BIGINT)
       END AS chi2_term_milli
FROM j ORDER BY digit
""",
    category="relational",
)
def benford_second_digit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BENFORD SECOND-DIGIT audit of order amounts — the forensic
    accounting follow-up to benford_first_digit_audit (fabricators
    who learn the first-digit law still flunk the second digit;
    Nigrini's standard two-test battery), upgraded with the
    inference the first-digit query leaves to the reader: per digit,
    the χ² contribution (n_d − N·p_d)²/(N·p_d) against the Benford
    expectation — the expected frequencies Σ log₁₀(1+1/(10d₁+d))
    are the only transcendental and are FROZEN as ppm literals
    shared verbatim by both engines. χ² terms are exact integer
    arithmetic on the µ-count grid, milli-floored per digit (the
    caller sums 10 terms for the statistic); digits with zero
    observations still contribute via the 10-row literal spine.
    Digit extraction is position 2 of the exact cents string. Scale:
    one digit rollup; 10-row output."""
    spine = [
        F.struct(
            F.lit(d).cast("long").alias("digit"),
            F.lit(p).cast("long").alias("p_ppm"),
        )
        for d, p in _BENFORD2_PPM
    ]
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    cents_str = F.round(F.col("o_totalprice") * 100).cast("long").cast(
        "string"
    )
    d = o.select(
        F.substring(cents_str, 2, 1).cast("long").alias("digit")
    ).filter(F.length(cents_str) >= 2)
    c = d.groupBy("digit").agg(F.count("*").alias("cn"))
    t = c.agg(F.sum("cn").alias("total"))
    exp_t = (
        load_table(spark, sf_dir, "region")
        .limit(1)
        .select(F.explode(F.array(*spine)).alias("e"))
        .select(F.col("e.digit").alias("edigit"), F.col("e.p_ppm"))
    )
    j = (
        exp_t.join(c, F.col("edigit") == F.col("digit"), "left")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("edigit").alias("digit"),
            F.coalesce(F.col("cn"), F.lit(0)).alias("n"),
            F.col("p_ppm").alias("expected_ppm"),
            (F.col("total") * F.col("p_ppm")).alias("e_micro"),
        )
    )
    return j.select(
        "digit",
        "n",
        "expected_ppm",
        F.expr(
            f"CASE WHEN e_micro > 0 THEN"
            f" CAST((CAST(n * 1000000 - e_micro AS {_DEC})"
            f" * (n * 1000000 - e_micro))"
            f" div (CAST(e_micro AS {_DEC}) * 1000) AS BIGINT) END"
        ).alias("chi2_term_milli"),
    ).orderBy("digit")


@register(
    "sketch_log2_histogram_quantiles",
    oracle="""
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
),
b AS (
  SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM v GROUP BY 1
),
c AS (
  SELECT bucket, n,
         CAST(SUM(n) OVER (ORDER BY bucket
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(n) OVER () AS BIGINT) AS total
  FROM b
)
SELECT bucket, n, cum,
       CAST(1 << bucket AS BIGINT) AS lo_cents,
       CASE WHEN cum - n < (total + 1) // 2
                 AND (total + 1) // 2 <= cum
            THEN 1 ELSE 0 END AS contains_median,
       CASE WHEN cum - n < (9 * total + 9) // 10
                 AND (9 * total + 9) // 10 <= cum
            THEN 1 ELSE 0 END AS contains_p90
FROM c ORDER BY bucket
""",
    category="relational",
)
def sketch_log2_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POWER-OF-TWO-BUCKET HISTOGRAM quantile sketch over order
    amounts — the DDSketch/HdrHistogram idea (log-spaced buckets
    give bounded RELATIVE error; base 2 gives a 100% worst-case
    relative bound) with the bucket index computed EXACTLY in both
    engines: floor(log₂ cents) = length(bin(cents)) − 1 — a string
    length, not a transcendental (IEEE log2 is NOT guaranteed
    correctly rounded near powers of two; bin() is exact at any
    magnitude). The sketch is one tiny mergeable map {bucket →
    count} (≤ 64 entries at ANY corpus size — the sketch_hll
    mergeability argument), and the discrete median / p90 ranks
    (n+1)//2 and ceil(0.9n) land in buckets via exact cumulative
    counts; the bucket lower bound 2^b (one integer shift) is the
    quantile estimate with ≤ 2× relative error. Scale: one
    map-side-combinable bucket rollup; ~15-row output."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    b = v.groupBy(
        (F.length(F.bin("cents")) - 1).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n"))
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = b.select(
        "bucket",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return c.select(
        "bucket",
        "n",
        "cum",
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"
            " AS BIGINT)"
        ).alias("lo_cents"),
        F.expr(
            "CASE WHEN cum - n < (total + 1) div 2"
            " AND (total + 1) div 2 <= cum THEN 1 ELSE 0 END"
        ).alias("contains_median"),
        F.expr(
            "CASE WHEN cum - n < (9 * total + 9) div 10"
            " AND (9 * total + 9) div 10 <= cum THEN 1 ELSE 0 END"
        ).alias("contains_p90"),
    ).orderBy("bucket")


@register(
    "clustering_coefficient_copurchase",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
tri AS (
  SELECT x.u AS node, CAST(count(*) AS BIGINT) AS t
  FROM adj x
  JOIN adj y ON y.u = x.u AND x.v < y.v
  JOIN pairs p ON p.pa = x.v AND p.pb = y.v
  GROUP BY x.u
)
SELECT deg.u AS part, deg.d AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(tri.t, 0) * 1000000
            // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
FROM deg LEFT JOIN tri ON tri.node = deg.u
WHERE deg.d >= 2
ORDER BY cc_ppm DESC, degree DESC, part LIMIT 20
""",
    category="llm_graph",
)
def clustering_coefficient_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-NODE LOCAL CLUSTERING COEFFICIENT on the co-purchase graph
    — Watts-Strogatz cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)), the
    node-level density readout triangle_count_copurchase only
    publishes globally (and the structural signal behind 'tightly
    bundled accessory kits' vs 'hub parts bought with everything').
    Per-node triangles come from the wedge-closure equi-join (both
    neighbors of v adjacent, v's wedge oriented x.v < y.v so each
    triangle counts once per corner — Σ deg² work, the compact-
    forward bound), closed against the canonical pa < pb edge set.
    cc is exact: integer triangle counts and degrees, one ppm
    floor-division, deg ≥ 2 filter excludes the undefined leaves.
    Deterministic top-20 (cc desc, degree desc, part). Scale: the
    same support-≥ 2 pruned edge set as every copurchase query; no
    step exceeds the wedge bound."""
    from spark_lever_spark.llm.graph import copurchase_edges

    pairs = copurchase_edges(spark, sf_dir, pinned=True)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("node"), F.col("v").alias("w1"))
    y = adj.select(F.col("u").alias("node2"), F.col("v").alias("w2"))
    tri = (
        x.join(
            y,
            (F.col("node2") == F.col("node"))
            & (F.col("w1") < F.col("w2")),
        )
        .join(
            pairs,
            (F.col("pa") == F.col("w1")) & (F.col("pb") == F.col("w2")),
        )
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tri, deg.u == tri.node, "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000"
                " div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.desc("degree"), "part")
        .limit(20)
    )


@register(
    "multimodal_pgm_sobel_energy",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
inter AS (
  SELECT doc_id, w, h,
         CAST(t.i % (w - 2) + 1 AS BIGINT) AS px,
         CAST(t.i // (w - 2) + 1 AS BIGINT) AS py
  FROM dims, LATERAL unnest(range((w - 2) * (h - 2))) AS t(i)
),
g AS (
  SELECT doc_id, w, h,
         ((doc_id * 31 + ((py - 1) * w + px + 1) * 7) % 256
          + 2 * ((doc_id * 31 + (py * w + px + 1) * 7) % 256)
          + (doc_id * 31 + ((py + 1) * w + px + 1) * 7) % 256)
         - ((doc_id * 31 + ((py - 1) * w + px - 1) * 7) % 256
            + 2 * ((doc_id * 31 + (py * w + px - 1) * 7) % 256)
            + (doc_id * 31 + ((py + 1) * w + px - 1) * 7) % 256)
             AS gx,
         ((doc_id * 31 + ((py + 1) * w + px - 1) * 7) % 256
          + 2 * ((doc_id * 31 + ((py + 1) * w + px) * 7) % 256)
          + (doc_id * 31 + ((py + 1) * w + px + 1) * 7) % 256)
         - ((doc_id * 31 + ((py - 1) * w + px - 1) * 7) % 256
            + 2 * ((doc_id * 31 + ((py - 1) * w + px) * 7) % 256)
            + (doc_id * 31 + ((py - 1) * w + px + 1) * 7) % 256)
             AS gy
  FROM inter
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST((w - 2) * (h - 2) AS BIGINT) AS n_interior,
       CAST(SUM(gx * gx + gy * gy) AS BIGINT) AS sobel_energy
FROM g GROUP BY doc_id, w, h ORDER BY doc_id
""",
    category="llm_multimodal",
)
def multimodal_pgm_sobel_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL IMAGE-GRADIENT compute over binary image payloads: Sobel
    edge energy Σ(Gx² + Gy²) over every interior pixel — the
    standard blur/quality screen a production image-curation
    pipeline runs after decode (blurry → low gradient energy). The
    pipeline is genuinely end-to-end binary: deterministic NetPBM P5
    payloads (multimodal_pgm_real_decode's generator) are decoded —
    magic check, header parse, numpy raster — and convolved with the
    3×3 Sobel kernels via numpy slicing inside one Arrow-batched
    mapInPandas stage (the slot a PIL/OpenCV kernel would occupy; a
    100 TB corpus maps this per-partition with zero shuffle). The
    oracle predicts the exact integer energy analytically from the
    raster formula (doc·31 + i·7) mod 256, so a decoder that misreads
    the header, raster order, or kernel CANNOT hash-match. All
    integers; no floats anywhere."""
    import numpy as np  # noqa: F401 (imported for the worker closure)

    from spark_lever_spark.llm.multimodal import encode_pgm

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_pgm(int(x)) for x in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def sobel_run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, ws, hs, ni, en = [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P5\n"):
                    raise ValueError("not a binary PGM (P5) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims[0]), int(dims[1])
                img = (
                    np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
                    .astype(np.int64)
                    .reshape(h, w)
                )
                gx = (
                    (img[:-2, 2:] + 2 * img[1:-1, 2:] + img[2:, 2:])
                    - (img[:-2, :-2] + 2 * img[1:-1, :-2] + img[2:, :-2])
                )
                gy = (
                    (img[2:, :-2] + 2 * img[2:, 1:-1] + img[2:, 2:])
                    - (img[:-2, :-2] + 2 * img[:-2, 1:-1] + img[:-2, 2:])
                )
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                ni.append((w - 2) * (h - 2))
                en.append(int((gx * gx + gy * gy).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_interior": pd.Series(ni, dtype="int64"),
                    "sobel_energy": pd.Series(en, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        sobel_run,
        "doc_id long, width int, height int,"
        " n_interior long, sobel_energy long",
    )
    return out.orderBy("doc_id")


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
    category="temporal",
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
    category="temporal",
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
        F.sum(F.col("yd").cast(_DEC) * F.col("yd")).alias("c0"),
        *[
            F.sum(F.col("yd").cast(_DEC) * F.col(f"y{k}")).alias(f"c{k}")
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
    category="temporal",
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


_LP_N = 16  # tokens per chunk/shingle — cohens_kappa_dedup_methods' unit


@register(
    "lincoln_petersen_dedup_estimate",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ptoks,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
             AS stoks
  FROM documents
),
paras AS (
  SELECT doc_id,
         md5(list_aggregate(
           ptoks[CAST(t.p AS INT) * {_LP_N} + 1
                 : CAST(t.p AS INT) * {_LP_N} + {_LP_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(ceil(len(ptoks) / {_LP_N}.0)
                            AS BIGINT))) AS t(p)
),
shing AS (
  SELECT doc_id,
         md5(list_aggregate(
           stoks[CAST(t.p AS INT) + 1 : CAST(t.p AS INT) + {_LP_N}],
           'string_agg', ' ')) AS fp
  FROM base,
       LATERAL unnest(range(CAST(greatest(len(stoks) - {_LP_N} + 1, 1)
                            AS BIGINT))) AS t(p)
),
pa AS (
  SELECT DISTINCT p.doc_id FROM paras p
  JOIN (SELECT fp FROM paras GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = p.fp
),
pb AS (
  SELECT DISTINCT s.doc_id FROM shing s
  JOIN (SELECT fp FROM shing GROUP BY fp
        HAVING count(DISTINCT doc_id) > 1) d ON d.fp = s.fp
),
flags AS (
  SELECT b.doc_id,
         CASE WHEN pa.doc_id IS NULL THEN 0 ELSE 1 END AS a,
         CASE WHEN pb.doc_id IS NULL THEN 0 ELSE 1 END AS b
  FROM base b
  LEFT JOIN pa ON pa.doc_id = b.doc_id
  LEFT JOIN pb ON pb.doc_id = b.doc_id
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(a) AS BIGINT) AS n1,
         CAST(SUM(b) AS BIGINT) AS n2,
         CAST(SUM(a * b) AS BIGINT) AS m_both,
         CAST(SUM(CASE WHEN a = 1 OR b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS union_flagged
  FROM flags
)
SELECT n_docs, n1, n2, m_both, union_flagged,
       CAST((n1 + 1) * (n2 + 1) // (m_both + 1) - 1 AS BIGINT)
           AS chapman_est,
       CAST(GREATEST((n1 + 1) * (n2 + 1) // (m_both + 1) - 1
                     - union_flagged, 0) AS BIGINT) AS est_missed
FROM cells
""",
    category="llm_dedup",
)
def lincoln_petersen_dedup_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CAPTURE-RECAPTURE estimate of TOTAL near-duplicate documents —
    Lincoln-Petersen with the Chapman bias correction, treating two
    independent detectors as the two capture occasions (aligned
    16-token chunk fingerprints = capture 1, sliding 16-token
    shingles = capture 2 — cohens_kappa_dedup_methods' exact flag
    definitions, reused verbatim): N̂ = (n₁+1)(n₂+1)/(m+1) − 1. Where
    kappa asks 'do the methods agree', this asks the question a
    curation budget actually needs — 'how many duplicates does even
    the UNION miss' (est_missed = N̂ − |union|, clamped at 0). The
    Chapman +1s keep the estimator finite at m = 0 and the whole
    readout is exact integer arithmetic — one floor-division.
    Scale: both flag passes shuffle on fingerprint keys (the kappa
    plan); one doc-keyed join; 1-row output."""
    # spread the narrow scan before the two md5-explode passes — the
    # corpus-CPU stage otherwise runs one task per row group
    # (optimization r18, catalog.spread_scan)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("ptoks"),
        F.filter(
            F.split("text", r"\s+"), lambda t: t != F.lit("")
        ).alias("stoks"),
    )
    paras = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ptoks") / F.lit(float(_LP_N)))
                    .cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(
                        " ", F.slice("ptoks", p * _LP_N + 1, _LP_N)
                    )
                ),
            )
        ).alias("fp"),
    )
    shing = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size("stoks") - (_LP_N - 1), F.lit(1)
                    ).cast("long")
                    - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(" ", F.slice("stoks", p + 1, _LP_N))
                ),
            )
        ).alias("fp"),
    )

    # Each fingerprint table feeds flagged() twice (the dup-fp
    # aggregate AND the join-back side) — without a persist the
    # corpus-wide md5 shingle explode runs twice per detector
    # (optimization r18, guide §5 recompute elimination). Fingerprint
    # grain, spills to disk at scale.
    from pyspark import StorageLevel

    paras = paras.persist(StorageLevel.MEMORY_AND_DISK)
    shing = shing.persist(StorageLevel.MEMORY_AND_DISK)

    def flagged(fps: DataFrame) -> DataFrame:
        dup_fp = (
            fps.groupBy("fp")
            .agg(F.count_distinct("doc_id").alias("cd"))
            .filter(F.col("cd") > 1)
            .select("fp")
        )
        return fps.join(dup_fp, "fp").select("doc_id").distinct()

    pa = flagged(paras).select(F.col("doc_id").alias("pa_id"))
    pb = flagged(shing).select(F.col("doc_id").alias("pb_id"))
    flags = (
        base.select("doc_id")
        .join(pa, base.doc_id == F.col("pa_id"), "left")
        .join(pb, base.doc_id == F.col("pb_id"), "left")
        .select(
            F.when(F.col("pa_id").isNull(), 0).otherwise(1).alias("a"),
            F.when(F.col("pb_id").isNull(), 0).otherwise(1).alias("b"),
        )
    )
    cells = flags.agg(
        F.count("*").alias("n_docs"),
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum(F.col("a") * F.col("b")).alias("m_both"),
        F.sum(
            F.when((F.col("a") == 1) | (F.col("b") == 1), 1).otherwise(0)
        ).alias("union_flagged"),
    )
    out = cells.select(
        "n_docs",
        "n1",
        "n2",
        "m_both",
        "union_flagged",
        F.expr(
            "CAST((n1 + 1) * (n2 + 1) div (m_both + 1) - 1 AS BIGINT)"
        ).alias("chapman_est"),
        F.expr(
            "CAST(GREATEST((n1 + 1) * (n2 + 1) div (m_both + 1) - 1"
            " - union_flagged, 0) AS BIGINT)"
        ).alias("est_missed"),
    )
    # 1-row result: pin eagerly, release the fingerprint caches.
    out = out.localCheckpoint(eager=True)
    paras.unpersist()
    shing.unpersist()
    return out
