"""Round-14 second-wave operator additions (session 2).

Families this module adds (SURVEY.md §2 growth areas):

- the portfolio-risk ratio family on the daily revenue series
  (Sortino, historical VaR/CVaR, Omega, Calmar, Kelly fraction) and
  two-series diagnostics vs the shipped-lineitem "market" (beta +
  information ratio, up/down capture, drawdown spells),
- SPC: p-chart, c-chart, Western Electric zone rules, EWMA control
  chart with exact time-varying limits, Chebyshev coverage audit,
- diversity/inequality: Simpson battery, Atkinson-2, Palma+Hoover,
  CR-k concentration, token Gini, Gini mean difference,
- ML evaluation: average precision, MCC/Youden battery, held-out
  Brier, odds/risk ratios, Qini uplift, clustering quality
  (simplified silhouette, Calinski-Harabasz),
- causal diagnostics: SMD covariate balance, E-value, partial
  correlation, adstock regression,
- time series: square-wave periodogram, SampEn kernel, KPSS,
  Dickey-Fuller, ARCH LM, permutation census, DPO/CMO/StochRSI/KST,
  pivot points, Theil U1, tracking signal, turning-points/records
  tests, Siegel repeated medians, up/down streak census,
- survey sampling: Kish deff, Horvitz-Thompson audit, grouped
  jackknife; apportionment (D'Hondt/Sainte-Laguë); chain-ladder;
  Erlang-B; linear-counting audit; RMST on the KM product,
- graph: rich-club profile, 3-truss peel, preferential attachment,
  double-sweep diameter bound,
- text/multimodal/embeddings: dyadic Zipf slope, Hellinger drift,
  BM25 (rational RSJ idf), PGM moments, WAV difference energy,
  centroid drift; the GROUPED_AGG pandas-UDF surface (exact IQR).

Every query follows the exact-arithmetic oracle doctrine
(spark_lever_spark/functions/exact.py): int64 cents, HUGEINT ⟷
decimal(38,0) moments, SIGN-SPLIT scaled floor-divisions (Spark div
truncates, DuckDB // floors — magnitudes divided, sign reapplied,
identical in both engines), doubles only as one conversion of an
exact integer + one correctly-rounded sqrt/division + one floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.operators.round14 import (
    _DAILY_ORDERS_CTE,
    _daily_orders,
)
from spark_lever_spark.registry import register

_DEC = "decimal(38,0)"

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


def _ss_div(num: str, den: str, scale: int) -> str:
    """SIGN-SPLIT scaled integer division, one SQL text valid in BOTH
    dialects via the {I} placeholder (HUGEINT / decimal(38,0)) and the
    {D} placeholder (// / div): magnitude is floor-divided, the sign
    reapplied — Spark div truncates while DuckDB // floors, so the two
    only agree on non-negative numerators (the CCI doctrine)."""
    return (
        f"CASE WHEN ({num}) >= 0"
        f" THEN CAST(CAST(({num}) AS {{I}}) * {scale} {{D}} ({den})"
        f" AS BIGINT)"
        f" ELSE -CAST(CAST(-({num}) AS {{I}}) * {scale} {{D}} ({den})"
        f" AS BIGINT) END"
    )


def _duck(expr: str) -> str:
    return expr.format(I="HUGEINT", D="//")


def _spark(expr: str) -> str:
    return expr.format(I="DECIMAL(38,0)", D="div")


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
       """ + _duck(_SORTINO_SEL) + """ AS sortino_milli
FROM m
""",
    category="temporal",
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
                F.col("r") < 0, F.col("r").cast(_DEC) * F.col("r")
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("dq"),
    )
    return m.selectExpr(
        "n",
        "s AS sum_ret_cents",
        "n_down",
        _spark(_SORTINO_SEL) + " AS sortino_milli",
    )


_CVAR_SEL = _ss_div("ts", "tn", 1000)


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
       """ + _duck(_CVAR_SEL) + """ AS cvar_milli
FROM t
""",
    category="temporal",
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
        _spark(_CVAR_SEL) + " AS cvar_milli",
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
    category="temporal",
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


_CALMAR_SEL = _ss_div("vn - v1", "mdd", 1000000)


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
       CASE WHEN mdd > 0 THEN """ + _duck(_CALMAR_SEL) + """
       END AS calmar_ppm
FROM m
""",
    category="temporal",
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
        "CASE WHEN mdd > 0 THEN " + _spark(_CALMAR_SEL)
        + " END AS calmar_ppm",
    )


_KELLY_SEL = _ss_div(
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
            THEN """ + _duck(_KELLY_SEL) + """
       END AS kelly_ppm
FROM m
""",
    category="temporal",
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
        + _spark(_KELLY_SEL) + " END AS kelly_ppm",
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
       """ + _duck(_BETA_SEL) + """ AS beta_ppm,
       """ + _duck(_IR_SEL) + """ AS info_ratio_milli
FROM m
""",
    category="temporal",
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
        F.sum(F.col("rm").cast(_DEC) * F.col("rm")).alias("smm"),
        F.sum(F.col("rp").cast(_DEC) * F.col("rm")).alias("spm"),
        F.sum(d).alias("sd"),
        F.sum(d.cast(_DEC) * d).alias("qd"),
    )
    return m.selectExpr(
        "n",
        "sp AS sum_port_cents",
        "sm AS sum_mkt_cents",
        _spark(_BETA_SEL) + " AS beta_ppm",
        _spark(_IR_SEL) + " AS info_ratio_milli",
    )


_UPCAP_SEL = _ss_div("pu", "mu", 1000000)
_DOWNCAP_SEL = _ss_div("-pd", "-md", 1000000)


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
       CASE WHEN mu > 0 THEN """ + _duck(_UPCAP_SEL) + """
       END AS up_capture_ppm,
       CASE WHEN md < 0 THEN """ + _duck(_DOWNCAP_SEL) + """
       END AS down_capture_ppm
FROM m
""",
    category="temporal",
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
        "CASE WHEN mu > 0 THEN " + _spark(_UPCAP_SEL)
        + " END AS up_capture_ppm",
        "CASE WHEN md < 0 THEN " + _spark(_DOWNCAP_SEL)
        + " END AS down_capture_ppm",
    )


# ---------------------------------------------------------------------------
# Statistical process control: attribute charts + zone rules
# ---------------------------------------------------------------------------

_PCHART_UCL = (
    "CAST(floor((CAST(dd AS DOUBLE) * 1000000"
    " + 3000000 * sqrt(CAST(dd AS DOUBLE) * (nn - dd) / ni)) / nn)"
    " AS BIGINT)"
)
_PCHART_LCL = (
    "GREATEST(CAST(0 AS BIGINT),"
    " CAST(floor((CAST(dd AS DOUBLE) * 1000000"
    " - 3000000 * sqrt(CAST(dd AS DOUBLE) * (nn - dd) / ni)) / nn)"
    " AS BIGINT))"
)


@register(
    "p_chart_monthly_returns",
    oracle="""
WITH m AS (
  SELECT CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) * 100
              + EXTRACT(month FROM CAST(l_shipdate AS DATE)) AS BIGINT)
             AS ym,
         CAST(count(*) AS BIGINT) AS ni,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS di
  FROM lineitem GROUP BY 1
),
g AS (
  SELECT CAST(SUM(ni) AS BIGINT) AS nn, CAST(SUM(di) AS BIGINT) AS dd
  FROM m
),
lim AS (
  SELECT m.ym, m.ni, m.di, g.nn, g.dd,
         CAST(m.di * 1000000 // m.ni AS BIGINT) AS phat_ppm,
         """ + _PCHART_UCL + """ AS ucl_ppm,
         """ + _PCHART_LCL + """ AS lcl_ppm
  FROM m, g
)
SELECT ym, ni AS n_lines, di AS n_returned, phat_ppm, ucl_ppm, lcl_ppm,
       CAST(CASE WHEN phat_ppm > ucl_ppm THEN 1 ELSE 0 END AS INT)
           AS above_ucl,
       CAST(CASE WHEN phat_ppm < lcl_ppm THEN 1 ELSE 0 END AS INT)
           AS below_lcl
FROM lim ORDER BY ym
""",
    category="relational",
)
def p_chart_monthly_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-CHART (attribute control chart) of the monthly lineitem
    return fraction — Shewhart limits p̄ ± 3·√(p̄(1−p̄)/nᵢ) with
    VARYING subgroup sizes (each month's limit uses its own nᵢ —
    the defining feature of the p-chart vs the np-chart). Exactness:
    p̄(1−p̄)/nᵢ = D·(N−D)/(N²·nᵢ), so each limit is ONE double
    expression over three exact integers (D·(N−D) ≈ 10¹¹ ≪ 2⁵³ —
    exact in DOUBLE), one sqrt, one division, one floor onto the ppm
    grid, written as the SAME SQL text in both engines; the plotted
    statistic p̂ᵢ is the exact non-negative ppm floor-division and
    violation flags compare ON THE PPM GRID (documented — the grid
    is the published contract). LCL clamps at 0 via GREATEST. Scale:
    one map-side monthly rollup + a 1-row broadcast of the grand
    totals."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        (
            F.year(F.to_date("l_shipdate")).cast("long") * 100
            + F.month(F.to_date("l_shipdate")).cast("long")
        ).alias("ym")
    ).agg(
        F.count("*").alias("ni"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("di"),
    )
    g = m.agg(
        F.sum("ni").alias("nn"), F.sum("di").alias("dd")
    )
    lim = m.crossJoin(F.broadcast(g)).selectExpr(
        "ym",
        "ni",
        "di",
        "CAST(di * 1000000 div ni AS BIGINT) AS phat_ppm",
        _PCHART_UCL + " AS ucl_ppm",
        _PCHART_LCL + " AS lcl_ppm",
    )
    return lim.selectExpr(
        "ym",
        "ni AS n_lines",
        "di AS n_returned",
        "phat_ppm",
        "ucl_ppm",
        "lcl_ppm",
        "CAST(CASE WHEN phat_ppm > ucl_ppm THEN 1 ELSE 0 END AS INT)"
        " AS above_ucl",
        "CAST(CASE WHEN phat_ppm < lcl_ppm THEN 1 ELSE 0 END AS INT)"
        " AS below_lcl",
    ).orderBy("ym")


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
    category="events",
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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
    )
    z = daily.crossJoin(F.broadcast(g)).selectExpr(
        "x",
        "v",
        "CAST(n * v - s AS BIGINT) AS dev",
        f"CAST(CAST(n * v - s AS {_DEC}) * (n * v - s) AS {_DEC})"
        " AS dev2",
        f"CAST(n * q - CAST(s AS {_DEC}) * s AS {_DEC}) AS vv",
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
# Diversity / concentration indices
# ---------------------------------------------------------------------------


@register(
    "ecological_diversity_brands_by_nation",
    oracle="""
WITH bc AS (
  SELECT n.n_nationkey AS nation, p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = cu.c_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
m AS (
  SELECT nation,
         CAST(count(*) AS BIGINT) AS richness,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS rep2,
         CAST(MAX(c) AS BIGINT) AS cmax
  FROM bc GROUP BY 1
)
SELECT nation, richness, n,
       CASE WHEN n > 1
            THEN CAST(rep2 * 1000000 // (CAST(n AS HUGEINT) * (n - 1))
                      AS BIGINT) END AS simpson_ppm,
       CASE WHEN rep2 > 0
            THEN CAST(CAST(n AS HUGEINT) * (n - 1) * 1000000 // rep2
                      AS BIGINT) END AS inv_simpson_ppm,
       CAST(cmax * 1000000 // n AS BIGINT) AS berger_parker_ppm,
       CASE WHEN rep2 > 0
            THEN CAST(CAST(n AS HUGEINT) * (n - 1) * 1000000
                      // (rep2 * richness) AS BIGINT)
       END AS simpson_evenness_ppm
FROM m ORDER BY nation
""",
    category="relational",
)
def ecological_diversity_brands_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ECOLOGICAL DIVERSITY PROFILE of purchased part brands per
    customer nation — the community-ecology index battery on
    categorical purchase mixes: richness (distinct brands), the
    UNBIASED Simpson concentration Σc(c−1)/n(n−1) (probability two
    random purchases without replacement share a brand — a rational
    in the counts, unlike entropy), its inverse ("effective number
    of brands", Hill number of order 2), Berger–Parker dominance
    (share of the single biggest brand), and Simpson evenness
    (inverse-Simpson over richness). Distinct from
    event_type_diversity_impurity (per-user Gini impurity of event
    types — biased form, different grain and table). All ratios are
    non-negative HUGEINT ⟷ decimal(38,0) ppm floor-divisions.
    Scale: one 4-way dim join (dims broadcastable), two stacked
    map-side aggregations on (nation, brand) then (nation)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    bc = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n), cu["c_nationkey"] == n["n_nationkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("n_nationkey").alias("nation"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.count("*").alias("c"))
    )
    m = bc.groupBy("nation").agg(
        F.count("*").alias("richness"),
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(_DEC) * (F.col("c") - 1)).alias("rep2"),
        F.max("c").alias("cmax"),
    )
    return m.selectExpr(
        "nation",
        "richness",
        "n",
        "CASE WHEN n > 1 THEN CAST(rep2 * 1000000"
        f" div (CAST(n AS {_DEC}) * (n - 1)) AS BIGINT) END"
        " AS simpson_ppm",
        f"CASE WHEN rep2 > 0 THEN CAST(CAST(n AS {_DEC}) * (n - 1)"
        " * 1000000 div rep2 AS BIGINT) END AS inv_simpson_ppm",
        "CAST(cmax * 1000000 div n AS BIGINT) AS berger_parker_ppm",
        f"CASE WHEN rep2 > 0 THEN CAST(CAST(n AS {_DEC}) * (n - 1)"
        " * 1000000 div (rep2 * richness) AS BIGINT) END"
        " AS simpson_evenness_ppm",
    ).orderBy("nation")


@register(
    "atkinson_index_customers",
    oracle="""
WITH cr AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
pos AS (SELECT x FROM cr WHERE x > 0),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS t,
         CAST(SUM(1000000000000 // x) AS HUGEINT) AS rsum
  FROM pos
)
SELECT n, t AS total_cents, CAST(rsum AS BIGINT) AS recip_sum_pico,
       CASE WHEN t > 0 AND rsum > 0
            THEN 1000000 - CAST(CAST(n AS HUGEINT) * n
                 * 1000000000000000000 // (CAST(t AS HUGEINT) * rsum)
                 AS BIGINT)
       END AS atkinson2_ppm
FROM m
""",
    category="relational",
)
def atkinson_index_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ATKINSON INEQUALITY INDEX (ε = 2) over per-customer order
    revenue — the welfare-theoretic inequality measure with an
    explicit aversion parameter; at ε = 2 the equally-distributed
    equivalent is the HARMONIC mean, so A = 1 − H/μ = 1 −
    n²/(T·Σ1/xᵢ) is a pure RATIONAL in the data (ε = 1 would need
    the geometric mean's logs — banned from hash-gated outputs).
    Complements gini_customer_revenue / ge2_inequality (Gini weights
    transfers by rank, GE(2) by distance; Atkinson-2 is
    bottom-sensitive — transfers among the poorest dominate). The
    reciprocal sum is per-term floored on the pico grid (Σ 10¹²//xᵢ,
    the discrete variant, documented); the final index is one
    HUGEINT ⟷ decimal(38,0) ppm floor-division. Zero-revenue
    customers are excluded (H degenerates at x = 0). Scale: one
    customer rollup, one 1-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "x"
        )
    )
    pos = cr.filter(F.col("x") > 0)
    m = pos.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("t"),
        F.sum(F.expr("1000000000000 div x").cast(_DEC)).alias("rsum"),
    )
    return m.selectExpr(
        "n",
        "t AS total_cents",
        "CAST(rsum AS BIGINT) AS recip_sum_pico",
        "CASE WHEN t > 0 AND rsum > 0 THEN 1000000 -"
        f" CAST(CAST(n AS {_DEC}) * n * 1000000000000000000"
        f" div (CAST(t AS {_DEC}) * rsum) AS BIGINT) END"
        " AS atkinson2_ppm",
    )


@register(
    "palma_hoover_customers",
    oracle="""
WITH cr AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS x
  FROM orders GROUP BY 1
),
rk AS (
  SELECT x,
         row_number() OVER (ORDER BY x, o_custkey) AS ra,
         row_number() OVER (ORDER BY x DESC, o_custkey DESC) AS rd
  FROM cr
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t
  FROM rk
),
parts AS (
  SELECT g.n, g.t,
         CAST(g.n // 10 AS BIGINT) AS n10,
         CAST(4 * g.n // 10 AS BIGINT) AS n40,
         CAST(SUM(CASE WHEN rk.rd <= g.n // 10 THEN rk.x ELSE 0 END)
              AS BIGINT) AS top10,
         CAST(SUM(CASE WHEN rk.ra <= 4 * g.n // 10 THEN rk.x ELSE 0
              END) AS BIGINT) AS bot40,
         CAST(SUM(ABS(CAST(g.n AS HUGEINT) * rk.x - g.t)) AS HUGEINT)
             AS sdev
  FROM rk, g GROUP BY g.n, g.t
)
SELECT n, t AS total_cents, n10, n40,
       top10 AS top10_cents, bot40 AS bottom40_cents,
       CASE WHEN bot40 > 0
            THEN CAST(CAST(top10 AS HUGEINT) * 1000000 // bot40
                      AS BIGINT) END AS palma_ppm,
       CASE WHEN t > 0
            THEN CAST(sdev * 1000000 // (2 * CAST(n AS HUGEINT) * t)
                      AS BIGINT) END AS hoover_ppm
FROM parts
""",
    category="relational",
)
def palma_hoover_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PALMA RATIO + HOOVER INDEX over per-customer order revenue —
    the two inequality summaries policy economists quote alongside
    Gini: Palma (total revenue of the top 10% of customers over the
    bottom 40%, on exact floor-count group sizes n//10 and 4n//10
    with deterministic revenue-then-key rank tie-breaks) and Hoover
    (the share of total revenue that would have to move to equalize:
    Σ|n·xᵢ − T|/(2nT) — the maximum Lorenz-to-diagonal gap, exact
    HUGEINT ⟷ decimal(38,0)). Both publish as non-negative ppm
    floor-divisions. Scale: one customer rollup, two rank windows,
    one 1-row reduce."""
    o = load_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "x"
        )
    )
    rk = cr.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "o_custkey"))
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.desc("x"), F.desc("o_custkey")))
        .alias("rd"),
    )
    g = rk.agg(F.count("*").alias("n"), F.sum("x").alias("t"))
    parts = (
        rk.crossJoin(F.broadcast(g))
        .groupBy("n", "t")
        .agg(
            F.expr("CAST(max(n) div 10 AS BIGINT)").alias("n10"),
            F.expr("CAST(4 * max(n) div 10 AS BIGINT)").alias("n40"),
            F.sum(
                F.when(
                    F.col("rd") <= F.expr("n div 10"), F.col("x")
                ).otherwise(0)
            ).alias("top10"),
            F.sum(
                F.when(
                    F.col("ra") <= F.expr("4 * n div 10"), F.col("x")
                ).otherwise(0)
            ).alias("bot40"),
            F.sum(
                F.abs(F.col("n").cast(_DEC) * F.col("x") - F.col("t"))
            ).alias("sdev"),
        )
    )
    return parts.selectExpr(
        "n",
        "t AS total_cents",
        "n10",
        "n40",
        "top10 AS top10_cents",
        "bot40 AS bottom40_cents",
        "CASE WHEN bot40 > 0 THEN"
        f" CAST(CAST(top10 AS {_DEC}) * 1000000 div bot40 AS BIGINT)"
        " END AS palma_ppm",
        "CASE WHEN t > 0 THEN CAST(sdev * 1000000"
        f" div (2 * CAST(n AS {_DEC}) * t) AS BIGINT) END"
        " AS hoover_ppm",
    )


@register(
    "cr_concentration_brands",
    oracle="""
WITH br AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
rk AS (
  SELECT rev, row_number() OVER (ORDER BY rev DESC, brand) AS rd
  FROM br
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_brands,
         CAST(SUM(rev) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN rd <= 1 THEN rev ELSE 0 END) AS BIGINT)
             AS c1,
         CAST(SUM(CASE WHEN rd <= 4 THEN rev ELSE 0 END) AS BIGINT)
             AS c4,
         CAST(SUM(CASE WHEN rd <= 8 THEN rev ELSE 0 END) AS BIGINT)
             AS c8
  FROM rk
)
SELECT n_brands, t AS total_cents,
       CAST(CAST(c1 AS HUGEINT) * 1000000 // t AS BIGINT) AS cr1_ppm,
       CAST(CAST(c4 AS HUGEINT) * 1000000 // t AS BIGINT) AS cr4_ppm,
       CAST(CAST(c8 AS HUGEINT) * 1000000 // t AS BIGINT) AS cr8_ppm
FROM m
""",
    category="relational",
)
def cr_concentration_brands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONCENTRATION RATIOS CR1/CR4/CR8 of discounted revenue by part
    brand — the antitrust screen quoted before HHI (CR4 > 0.6 ⇒
    "highly concentrated" under the classic DOJ bands):
    top-k revenue shares under a deterministic revenue-then-brand
    rank. Complements hhi_concentration_monthly (HHI weights ALL
    squared shares; CR-k reads only the head — the two disagree
    exactly when a long tail hides behind a few leaders). Exact
    int64 cents throughout; shares are non-negative HUGEINT ⟷
    decimal(38,0) ppm floor-divisions. Scale: one fact-dim join
    (part prunable to partkey+brand), one brand rollup (bounded
    domain), one rank window on the tiny brand table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    br = (
        li.join(p.select("p_partkey", "p_brand"),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("rev")
        )
    )
    rk = br.select(
        "rev",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), "brand"))
        .alias("rd"),
    )
    m = rk.agg(
        F.count("*").alias("n_brands"),
        F.sum("rev").alias("t"),
        F.sum(F.when(F.col("rd") <= 1, F.col("rev")).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("rd") <= 4, F.col("rev")).otherwise(0)).alias(
            "c4"
        ),
        F.sum(F.when(F.col("rd") <= 8, F.col("rev")).otherwise(0)).alias(
            "c8"
        ),
    )
    return m.selectExpr(
        "n_brands",
        "t AS total_cents",
        f"CAST(CAST(c1 AS {_DEC}) * 1000000 div t AS BIGINT) AS cr1_ppm",
        f"CAST(CAST(c4 AS {_DEC}) * 1000000 div t AS BIGINT) AS cr4_ppm",
        f"CAST(CAST(c8 AS {_DEC}) * 1000000 div t AS BIGINT) AS cr8_ppm",
    )


# ---------------------------------------------------------------------------
# ML evaluation metrics on the 'order value predicts a return' task
# ---------------------------------------------------------------------------

_LAB_CTE = """
lab AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS score,
         CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
"""


def _lab(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("score"),
        )
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("pos")
        )
    )


@register(
    "pr_auc_price_predicts_return",
    oracle="""
WITH
""" + _LAB_CTE + """,
per_score AS (
  SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         CAST(SUM(pos) AS BIGINT) AS np
  FROM lab GROUP BY score
),
cum AS (
  SELECT score, cnt, np,
         CAST(SUM(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
         CAST(SUM(np) OVER (ORDER BY score DESC) AS BIGINT) AS tp
  FROM per_score
),
agg AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
         CAST(SUM(cnt - np) AS BIGINT) AS n_neg,
         CAST(count(*) AS BIGINT) AS n_scores,
         CAST(SUM(CAST(np AS HUGEINT) * tp * 1000000 // cum_n)
              AS HUGEINT) AS ap_terms
  FROM cum
)
SELECT n_pos, n_neg, n_scores,
       CAST(n_pos * 1000000 // (n_pos + n_neg) AS BIGINT)
           AS prevalence_ppm,
       CAST(ap_terms // n_pos AS BIGINT) AS ap_ppm
FROM agg
""",
    category="relational",
)
def pr_auc_price_predicts_return(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AVERAGE PRECISION (step-interpolated PR-AUC) of 'order value
    predicts a return' — the ranking metric that matters when
    positives are rare and ROC-AUC flatters (its baseline is the
    prevalence, published alongside): AP = Σᵢ ΔRᵢ·Pᵢ over
    descending-score thresholds, which with integer counts is
    (1/n₊)·Σ npᵢ·TPᵢ/cumᵢ — each threshold term is ONE per-term
    floored ppm division (the discrete variant, documented; all of
    np, TP, cum are exact), the final AP one more exact integer
    division. The cumulative runs on the per-SCORE domain which
    scales with the fact table, so Spark uses grank's binned 2-pass
    cumsum (with_grouped_cumsum, empty partition set, descending via
    the negated score) — never a single-task global window.
    Reference: roc_auc_price_predicts_return (same task, Mann-
    Whitney identity)."""
    from spark_lever_spark.operators.grank import with_grouped_cumsum

    lab = _lab(spark, sf_dir)
    per_score = lab.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("np")
    )
    neg = per_score.withColumn("nscore", -F.col("score"))
    cum = with_grouped_cumsum(
        neg, [], F.col("nscore"), ["nscore"], ["cnt", "np"]
    )
    agg = cum.agg(
        F.sum("np").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("np")).alias("n_neg"),
        F.count("*").alias("n_scores"),
        F.sum(
            F.expr(
                f"CAST(np AS {_DEC}) * _cum_np * 1000000 div _cum_cnt"
            )
        ).alias("ap_terms"),
    )
    return agg.selectExpr(
        "n_pos",
        "n_neg",
        "n_scores",
        "CAST(n_pos * 1000000 div (n_pos + n_neg) AS BIGINT)"
        " AS prevalence_ppm",
        "CAST(ap_terms div n_pos AS BIGINT) AS ap_ppm",
    )


_MCC_SEL = (
    "CASE WHEN (tp + fp) * (tp + fn) > 0 AND (tn + fp) * (tn + fn) > 0"
    " THEN CAST(floor("
    "CAST(CAST(tp AS {I}) * tn - CAST(fp AS {I}) * fn AS DOUBLE) * 1000"
    " / sqrt(CAST(CAST(tp + fp AS {I}) * (tp + fn) * (tn + fp)"
    " * (tn + fn) AS DOUBLE))) AS BIGINT) END"
)


@register(
    "mcc_youden_price_median",
    oracle="""
WITH
""" + _LAB_CTE + """,
rk AS (
  SELECT score, pos,
         row_number() OVER (ORDER BY score, o_orderkey) AS rn
  FROM lab
),
med AS (
  SELECT CAST(max(CASE WHEN rn = (n + 1) // 2 THEN score END)
              AS BIGINT) AS thr
  FROM rk, (SELECT CAST(count(*) AS BIGINT) AS n FROM rk) g
),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN pos = 1 AND score > thr THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN pos = 0 AND score > thr THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN pos = 1 AND score <= thr THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN pos = 0 AND score <= thr THEN 1 ELSE 0 END)
         AS BIGINT) AS tn,
    CAST(max(thr) AS BIGINT) AS thr
  FROM rk, med
)
SELECT thr AS threshold_cents, tp, fp, fn, tn,
       """ + _duck(_MCC_SEL) + """ AS mcc_milli,
       CASE WHEN tp + fn > 0 AND fp + tn > 0
            THEN CAST(tp * 1000000 // (tp + fn)
                      + tn * 1000000 // (fp + tn) - 1000000 AS BIGINT)
       END AS youden_j_ppm,
       CASE WHEN tp + fp > 0
            THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT)
       END AS precision_ppm,
       CASE WHEN tp + fn > 0
            THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT)
       END AS recall_ppm,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT)
       END AS f1_ppm
FROM conf
""",
    category="relational",
)
def mcc_youden_price_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATTHEWS CORRELATION + YOUDEN'S J (+ precision/recall/F1) of
    the median-threshold classifier 'order value > median predicts a
    return' — the single-threshold confusion-matrix battery that
    complements the threshold-free AUC pair: MCC is the only one of
    the five that uses all four cells symmetrically (the binary-
    classification Pearson φ). The threshold is the exact lower
    median (rank (n+1)//2 under a deterministic score-then-key
    order). MCC's denominator is one exact HUGEINT ⟷ decimal(38,0)
    4-product, its numerator exact; ONE double conversion each, one
    sqrt, one division, one floor onto the milli grid (floor handles
    the negative-MCC case identically in both engines). Youden/
    precision/recall/F1 are per-term floored non-negative ppm
    divisions. Scale: one fact join + rollup, one rank window on the
    order domain, one 1-row reduce."""
    lab = _lab(spark, sf_dir)
    rk = lab.select(
        "score",
        "pos",
        F.row_number()
        .over(Window.orderBy("score", "o_orderkey"))
        .alias("rn"),
    )
    g = rk.agg(F.count("*").alias("n"))
    med = (
        rk.crossJoin(F.broadcast(g))
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n + 1) div 2"),
                    F.col("score"),
                )
            ).alias("thr")
        )
    )
    conf = rk.crossJoin(F.broadcast(med)).agg(
        F.sum(
            F.when(
                (F.col("pos") == 1) & (F.col("score") > F.col("thr")), 1
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                (F.col("pos") == 0) & (F.col("score") > F.col("thr")), 1
            ).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(
                (F.col("pos") == 1) & (F.col("score") <= F.col("thr")),
                1,
            ).otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when(
                (F.col("pos") == 0) & (F.col("score") <= F.col("thr")),
                1,
            ).otherwise(0)
        ).alias("tn"),
        F.max("thr").alias("thr"),
    )
    return conf.selectExpr(
        "thr AS threshold_cents",
        "tp",
        "fp",
        "fn",
        "tn",
        _spark(_MCC_SEL) + " AS mcc_milli",
        "CASE WHEN tp + fn > 0 AND fp + tn > 0 THEN"
        " CAST(tp * 1000000 div (tp + fn)"
        " + tn * 1000000 div (fp + tn) - 1000000 AS BIGINT)"
        " END AS youden_j_ppm",
        "CASE WHEN tp + fp > 0 THEN"
        " CAST(tp * 1000000 div (tp + fp) AS BIGINT)"
        " END AS precision_ppm",
        "CASE WHEN tp + fn > 0 THEN"
        " CAST(tp * 1000000 div (tp + fn) AS BIGINT)"
        " END AS recall_ppm",
        "CASE WHEN 2 * tp + fp + fn > 0 THEN"
        " CAST(2 * tp * 1000000 div (2 * tp + fp + fn) AS BIGINT)"
        " END AS f1_ppm",
    )


@register(
    "brier_score_band_forecast",
    oracle="""
WITH
""" + _LAB_CTE + """,
banded AS (
  SELECT score // 500000 AS band, pos, o_orderkey % 2 AS half
  FROM lab
),
train AS (
  SELECT band, CAST(count(*) AS BIGINT) AS b,
         CAST(SUM(pos) AS BIGINT) AS a
  FROM banded WHERE half = 1 GROUP BY 1
),
test AS (
  SELECT band, CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(count(*) - SUM(pos) AS BIGINT) AS n0
  FROM banded WHERE half = 0 GROUP BY 1
),
terms AS (
  SELECT t.band,
         CAST((CAST(te.n1 AS HUGEINT) * (t.a - t.b) * (t.a - t.b)
               + CAST(te.n0 AS HUGEINT) * t.a * t.a) * 1000000000000
              // (CAST(t.b AS HUGEINT) * t.b) AS HUGEINT) AS term,
         te.n1 + te.n0 AS nt
  FROM train t JOIN test te ON te.band = t.band
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_bands,
         CAST(SUM(nt) AS BIGINT) AS n_test,
         CAST(SUM(term) AS HUGEINT) AS tsum
  FROM terms
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test_all FROM banded
  WHERE half = 0
)
SELECT agg.n_bands, agg.n_test, tot.n_test_all,
       CAST(agg.tsum // (1000000 * CAST(agg.n_test AS HUGEINT))
            AS BIGINT) AS brier_ppm
FROM agg, tot
""",
    category="relational",
)
def brier_score_band_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BRIER SCORE of a held-out band-rate forecast — the proper
    scoring rule on probabilities (not ranks): train on ODD order
    keys (per fixed $5000 price band, forecast p̂ = returns/count, an
    exact rational a/b), score on EVEN keys as mean (p̂ − y)².
    The key-parity split is the house's deterministic train/test
    idiom (grouped_split_no_leakage); fixed-width bands keep the
    band key rank-free so train and test band identically. Per band
    the test sum collapses exactly: n₁·(a−b)² + n₀·a² over b² — one
    per-band pico-floored term (documented discrete variant), then
    one exact integer division onto the ppm grid. Test rows in
    bands unseen in training are skipped (inner join; the published
    n_test vs n_test_all shows the skip). Scale: one fact join +
    three band rollups on a bounded band domain."""
    lab = _lab(spark, sf_dir)
    banded = lab.selectExpr(
        "score div 500000 AS band", "pos", "o_orderkey % 2 AS half"
    )
    train = (
        banded.filter("half = 1")
        .groupBy("band")
        .agg(F.count("*").alias("b"), F.sum("pos").alias("a"))
    )
    test = (
        banded.filter("half = 0")
        .groupBy("band")
        .agg(
            F.sum("pos").alias("n1"),
            (F.count("*") - F.sum("pos")).alias("n0"),
        )
    )
    terms = train.join(test, "band").selectExpr(
        "band",
        f"CAST((CAST(n1 AS {_DEC}) * (a - b) * (a - b)"
        f" + CAST(n0 AS {_DEC}) * a * a) * 1000000000000"
        f" div (CAST(b AS {_DEC}) * b) AS {_DEC}) AS term",
        "n1 + n0 AS nt",
    )
    agg = terms.agg(
        F.count("*").alias("n_bands"),
        F.sum("nt").alias("n_test"),
        F.sum("term").alias("tsum"),
    )
    tot = banded.filter("half = 0").agg(
        F.count("*").alias("n_test_all")
    )
    return agg.crossJoin(F.broadcast(tot)).selectExpr(
        "n_bands",
        "n_test",
        "n_test_all",
        f"CAST(tsum div (1000000 * CAST(n_test AS {_DEC})) AS BIGINT)"
        " AS brier_ppm",
    )


@register(
    "odds_risk_ratio_building_returns",
    oracle="""
WITH
""" + _LAB_CTE + """,
expo AS (
  SELECT lab.pos,
         CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             AS exposed
  FROM lab
  JOIN orders o ON o.o_orderkey = lab.o_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN exposed = 1 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(SUM(CASE WHEN exposed = 1 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(SUM(CASE WHEN exposed = 0 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(SUM(CASE WHEN exposed = 0 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS d
  FROM expo
)
SELECT a, b, c, d,
       CASE WHEN a + b > 0
            THEN CAST(a * 1000000 // (a + b) AS BIGINT)
       END AS risk_exposed_ppm,
       CASE WHEN c + d > 0
            THEN CAST(c * 1000000 // (c + d) AS BIGINT)
       END AS risk_unexposed_ppm,
       CASE WHEN CAST(b AS HUGEINT) * c > 0
            THEN CAST(CAST(a AS HUGEINT) * d * 1000000
                      // (CAST(b AS HUGEINT) * c) AS BIGINT)
       END AS odds_ratio_ppm,
       CASE WHEN c > 0 AND a + b > 0
            THEN CAST(CAST(a AS HUGEINT) * (c + d) * 1000000
                      // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT)
       END AS risk_ratio_ppm
FROM conf
""",
    category="relational",
)
def odds_risk_ratio_building_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ODDS RATIO + RISK RATIO of 'BUILDING-segment customer ⇒ order
    has a return' — the epidemiology 2×2 effect measures that
    newcombe_diff_ci_ab (risk DIFFERENCE) and ab_chi_square
    (independence TEST) don't publish: OR = ad/bc (symmetric,
    case-control-valid), RR = [a/(a+b)]/[c/(c+d)] (the direct
    relative risk cohort studies quote — the two diverge exactly
    when the outcome is common, visible here). All four cells are
    exact counts; every published ratio is one non-negative HUGEINT
    ⟷ decimal(38,0) ppm floor-division with degenerate-cell CASE
    guards. Scale: one fact rollup + two dim joins, one 1-row
    reduce."""
    lab = _lab(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    expo = (
        lab.join(o, "o_orderkey")
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .select(
            "pos",
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("exposed"),
        )
    )
    conf = expo.agg(
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("d"),
    )
    return conf.selectExpr(
        "a",
        "b",
        "c",
        "d",
        "CASE WHEN a + b > 0 THEN"
        " CAST(a * 1000000 div (a + b) AS BIGINT)"
        " END AS risk_exposed_ppm",
        "CASE WHEN c + d > 0 THEN"
        " CAST(c * 1000000 div (c + d) AS BIGINT)"
        " END AS risk_unexposed_ppm",
        f"CASE WHEN CAST(b AS {_DEC}) * c > 0 THEN"
        f" CAST(CAST(a AS {_DEC}) * d * 1000000"
        f" div (CAST(b AS {_DEC}) * c) AS BIGINT)"
        " END AS odds_ratio_ppm",
        "CASE WHEN c > 0 AND a + b > 0 THEN"
        f" CAST(CAST(a AS {_DEC}) * (c + d) * 1000000"
        f" div (CAST(c AS {_DEC}) * (a + b)) AS BIGINT)"
        " END AS risk_ratio_ppm",
    )


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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
    )
    y = daily.crossJoin(F.broadcast(g)).selectExpr(
        "x",
        "CAST(n * v - s AS BIGINT) AS yd",
        "n",
        f"CAST(n * q - CAST(s AS {_DEC}) * s AS {_DEC}) AS c0",
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
        f" CAST((CAST(ip AS {_DEC}) * ip + CAST(qd AS {_DEC}) * qd)"
        f" * 1000000 div (CAST(n AS {_DEC}) * c0) AS BIGINT)"
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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
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
        f"CAST(n * q - CAST(s AS {_DEC}) * s AS {_DEC}) AS vv",
    ).selectExpr(
        f"CAST((vv - vv % (CAST(25 AS {_DEC}) * n * n))"
        f" / (CAST(25 AS {_DEC}) * n * n) AS {_DEC}) AS kk",
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
        f"CAST(d0 AS {_DEC}) * d0 <= kk"
        f" AND CAST(d1 AS {_DEC}) * d1 <= kk"
    )
    m = pairs.agg(
        F.sum(F.expr(f"CASE WHEN {hit} THEN 1 ELSE 0 END")).alias("b"),
        F.sum(
            F.expr(
                f"CASE WHEN {hit} AND CAST(d2 AS {_DEC}) * d2"
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
        f" CAST(CAST(a AS {_DEC}) * 1000000 div b AS BIGINT)"
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
    category="temporal",
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
        F.sum(F.col("pt").cast(_DEC) * F.col("pt")).alias("sp2"),
        F.sum(F.col("ed").cast(_DEC) * F.col("ed")).alias("se2"),
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
    category="temporal",
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
        F.sum(F.col("cnt").cast(_DEC) * (F.col("cnt") - 1)).alias(
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
            f" div (CAST(t AS {_DEC}) * (t - 1)) AS BIGINT)"
            " END AS renyi2_repeat_ppm",
        )
        .orderBy("pattern")
    )


_DPO_SEL = _ss_div("20 * vlag - s20", "20", 1000)


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
       """ + _duck(_DPO_SEL) + """ AS dpo_milli
FROM win WHERE cnt = 20 AND vlag IS NOT NULL ORDER BY x
""",
    category="temporal",
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
        .selectExpr("x", "v", _spark(_DPO_SEL) + " AS dpo_milli")
        .orderBy("x")
    )


_CMO_SEL = _ss_div("su - sd", "su + sd", 1000000)


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
       CASE WHEN su + sd > 0 THEN """ + _duck(_CMO_SEL) + """
       END AS cmo_ppm
FROM win WHERE cnt = 20 ORDER BY x
""",
    category="temporal",
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
            "CASE WHEN su + sd > 0 THEN " + _spark(_CMO_SEL)
            + " END AS cmo_ppm",
        )
        .orderBy("x")
    )


# ---------------------------------------------------------------------------
# Graph: rich-club / k-truss / preferential attachment on co-purchase
# ---------------------------------------------------------------------------

# Support->=2 co-purchase edge list (the graph every llm_graph query
# shares — see triangle_count_copurchase / kcore_peel_copurchase).
_COPURCHASE_CTE = """
items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_lever_spark.llm.graph import copurchase_edges

    return copurchase_edges(spark, sf_dir, pinned=True)


@register(
    "rich_club_coefficient_copurchase",
    oracle="""
WITH
""" + _COPURCHASE_CTE + """,
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
club AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS nk
  FROM deg, ks WHERE deg.d > ks.k GROUP BY ks.k
),
ek AS (
  SELECT ks.k, CAST(count(*) AS BIGINT) AS mk
  FROM pairs p
  JOIN deg da ON da.u = p.pa
  JOIN deg db ON db.u = p.pb, ks
  WHERE da.d > ks.k AND db.d > ks.k
  GROUP BY ks.k
)
SELECT c.k, c.nk AS club_size, COALESCE(e.mk, 0) AS club_edges,
       CASE WHEN c.nk > 1
            THEN CAST(COALESCE(e.mk, 0) * 2000000
                      // (c.nk * (c.nk - 1)) AS BIGINT)
       END AS phi_ppm
FROM club c LEFT JOIN ek e ON e.k = c.k
ORDER BY c.k
""",
    category="llm_graph",
)
def rich_club_coefficient_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RICH-CLUB COEFFICIENT φ(k) of the co-purchase graph at k ∈
    {2,4,8,16,32} — do high-degree parts preferentially co-purchase
    with EACH OTHER (hub oligarchy) or spread across the catalog?
    φ(k) = 2·E_{>k} / (n_{>k}(n_{>k}−1)): the density of the
    subgraph induced by nodes of degree > k, published as one exact
    non-negative ppm floor-division per k (counts are int64; the
    2× lives in the scale constant). Complements
    degree_assortativity_copurchase (a single global correlation)
    with the full k-profile the assortativity coefficient
    averages away. Scale: one edge rollup + a degree join + a 5-row
    broadcast threshold table; no wedge work at all."""
    pairs = _copurchase_pairs(spark, sf_dir)
    adj = pairs.select(F.col("pa").alias("u")).union(
        pairs.select(F.col("pb").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    ks = spark.range(1).selectExpr(
        "explode(array(2, 4, 8, 16, 32)) AS k"
    )
    club = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("nk"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("dda"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("ddb"))
    ek = (
        pairs.join(da, F.col("pa") == F.col("ua"))
        .join(db, F.col("pb") == F.col("ub"))
        .crossJoin(F.broadcast(ks))
        .filter((F.col("dda") > F.col("k")) & (F.col("ddb") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("mk"))
    )
    return (
        club.join(ek, "k", "left")
        .selectExpr(
            "CAST(k AS INT) AS k",
            "nk AS club_size",
            "COALESCE(mk, 0) AS club_edges",
            "CASE WHEN nk > 1 THEN CAST(COALESCE(mk, 0) * 2000000"
            " div (nk * (nk - 1)) AS BIGINT) END AS phi_ppm",
        )
        .orderBy("k")
    )


def _truss_round_sql(i: int) -> str:
    """One unrolled 3-truss peel round: keep edges of e{i} with >= 1
    triangle support inside e{i}. Every stage is MATERIALIZED: each
    CTE is referenced by two+ later stages and the chain would
    otherwise be re-inlined (and re-computed) once per unrolled
    round — the recursive-oracle doctrine."""
    return f"""
adj{i} AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM e{i}
  UNION ALL SELECT pb, pa FROM e{i}
),
e{i + 1} AS MATERIALIZED (
  SELECT p.pa, p.pb
  FROM e{i} p
  WHERE EXISTS (
    SELECT 1 FROM adj{i} x JOIN adj{i} y
      ON x.v = y.v AND x.u = p.pa AND y.u = p.pb
  )
)"""


@register(
    "ktruss_3_copurchase",
    oracle="""
WITH
""" + _COPURCHASE_CTE.replace(
    "pairs AS (", "pairs AS MATERIALIZED ("
) + """,
e0 AS MATERIALIZED (SELECT pa, pb FROM pairs),
""" + ",".join(_truss_round_sql(i) for i in range(3)) + """
SELECT 0 AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS edges_remaining
UNION ALL SELECT 1, (SELECT CAST(count(*) AS BIGINT) FROM e1)
UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM e2)
UNION ALL SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM e3)
ORDER BY round
""",
    category="llm_graph",
)
def ktruss_3_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-TRUSS PEELING of the co-purchase graph — the EDGE analog of
    kcore_peel_copurchase: an edge survives iff it closes at least
    one triangle among surviving edges (k-truss with k = 3 ⇒
    support ≥ k−2 = 1), iterated 3 bounded rounds (the bounded-
    rounds doctrine: each peel round is ONE wedge equi-join on the
    surviving adjacency — Σ deg² work — plus a semi-join; the round
    count is a query constant, never data-driven). Published as the
    per-round edge-census trajectory (round 0 = raw support-≥2
    graph); a converged trajectory shows edges_remaining constant
    across the last rounds. Trusses are the community-detection
    precursor (cohesive cores stricter than k-core — every edge,
    not just every node, needs embedded support). Exact integer
    counts only."""
    # Each round's edge set is PERSISTED before the count: without it
    # round i re-evaluates the whole peel lineage of rounds 0..i-1
    # (O(rounds²) wedge joins) — the iterative-algorithm caching
    # doctrine (same as lpa_communities / pagerank rounds).
    pairs = _copurchase_pairs(spark, sf_dir)
    e = pairs.persist()
    cached = [e]
    counts = [("0", e.count())]
    for i in range(3):
        adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).union(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        x = adj.select(F.col("u").alias("xa"), F.col("v").alias("w"))
        y = adj.select(F.col("u").alias("yb"), F.col("v").alias("w2"))
        tri_edges = (
            x.join(y, F.col("w") == F.col("w2"))
            .select(F.col("xa").alias("pa"), F.col("yb").alias("pb"))
            .distinct()
        )
        e = e.join(tri_edges, ["pa", "pb"], "left_semi").persist()
        cached.append(e)
        counts.append((str(i + 1), e.count()))
    rows = [(int(r), int(c)) for r, c in counts]
    for df in cached:
        df.unpersist()
    return spark.createDataFrame(
        rows, "round INT, edges_remaining BIGINT"
    ).orderBy("round")


@register(
    "link_prediction_pref_attachment",
    oracle="""
WITH
""" + _COPURCHASE_CTE + """,
adj AS (
  SELECT pa AS u, pb AS v FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
wedge AS (
  SELECT x.u AS a, y.v AS b
  FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
  GROUP BY 1, 2
),
open_w AS (
  SELECT w.a, w.b FROM wedge w
  LEFT JOIN pairs p ON p.pa = w.a AND p.pb = w.b
  WHERE p.pa IS NULL
)
SELECT o.a AS part_a, o.b AS part_b,
       da.d AS deg_a, db.d AS deg_b,
       CAST(da.d * db.d AS BIGINT) AS pa_score
FROM open_w o
JOIN deg da ON da.u = o.a
JOIN deg db ON db.u = o.b
ORDER BY pa_score DESC, part_a, part_b LIMIT 20
""",
    category="llm_graph",
)
def link_prediction_pref_attachment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PREFERENTIAL-ATTACHMENT LINK PREDICTION on the co-purchase
    graph: rank not-yet-co-purchased 2-hop pairs by deg(a)·deg(b) —
    the growth-model predictor (Barabási–Albert: new edges attach
    proportionally to degree products), the GLOBAL-popularity
    counterweight to link_prediction_common_neighbors /
    _resource_allocation (which reward local overlap; PA rewards
    joint popularity even with zero shared neighbors among the
    candidates). Candidates come from the same wedge join + edge
    anti-join; the score is one exact int64 product, top-20 by
    (score, pair) deterministic order. Scale: hub-bounded wedge
    work, same as the CN predictor."""
    pairs = _copurchase_pairs(spark, sf_dir)
    adj = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("w2"), F.col("v").alias("b"))
    wedge = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .select("a", "b")
        .distinct()
    )
    open_w = wedge.join(
        pairs,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("deg_b"))
    return (
        open_w.join(da, F.col("a") == F.col("ua"))
        .join(db, F.col("b") == F.col("ub"))
        .selectExpr(
            "a AS part_a",
            "b AS part_b",
            "deg_a",
            "deg_b",
            "CAST(deg_a * deg_b AS BIGINT) AS pa_score",
        )
        .orderBy(F.desc("pa_score"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Text: dyadic Zipf slope, Hellinger drift, BM25 (rational RSJ idf)
# ---------------------------------------------------------------------------

_WC_CTE = """
wc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS w
        FROM documents)
  GROUP BY source, w
)
"""


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_lever_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )


_ZIPF_SLOPE = _ss_div(
    "nb * sxy - sx * sy", "nb * sxx - sx * sx", 1000
)


@register(
    "zipf_dyadic_slope_by_source",
    oracle="""
WITH
""" + _WC_CTE + """,
rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, w) AS rnk
  FROM wc
),
pts AS (
  SELECT source,
         CAST(length(bin(rnk)) - 1 AS BIGINT) AS b,
         CAST(SUM(CAST(length(bin(c)) - 1 AS BIGINT)) AS BIGINT) AS ylog,
         CAST(count(*) AS BIGINT) AS nb_types
  FROM rk GROUP BY 1, 2
),
pt AS (
  SELECT source, b, CAST(1000 * ylog // nb_types AS BIGINT) AS y
  FROM pts
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS nb,
         CAST(SUM(b) AS BIGINT) AS sx,
         CAST(SUM(b * b) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(b * y) AS BIGINT) AS sxy
  FROM pt GROUP BY 1
)
SELECT source, nb AS n_buckets,
       CASE WHEN nb * sxx - sx * sx > 0
            THEN """ + _duck(_ZIPF_SLOPE) + """
       END AS zipf_slope_micro
FROM m ORDER BY source
""",
    category="llm_text",
)
def zipf_dyadic_slope_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYADIC ZIPF SLOPE per source — the Zipf exponent (slope of
    log-frequency vs log-rank) estimated ENTIRELY on the dyadic
    grid so no transcendental ever executes: ranks bucket by
    floor(log₂ rank) = length(bin(rank))−1 (the sketch_log2 string
    trick, exact in both engines), each bucket's mean floor(log₂
    count) lands on the milli grid by one exact division, and the
    slope is the standard OLS Cramer ratio over the ≤ ~17 bucket
    points — a SIGN-SPLIT micro floor-division of exact int64
    moments (slope ≈ −1000 micro ⇔ the classic Zipf −1). The
    distributional-shape complement to vocab_growth_by_source
    (which publishes totals, not the power-law exponent). Scale:
    one (source, token) shuffle, a per-source rank window, then a
    bounded ≤ 17-bucket rollup."""
    wc = _word_counts(spark, sf_dir)
    rk = wc.select(
        "source",
        "c",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(F.desc("c"), "w")
        )
        .alias("rnk"),
    )
    pts = rk.groupBy(
        "source",
        (F.length(F.bin("rnk")) - 1).cast("long").alias("b"),
    ).agg(
        F.sum((F.length(F.bin("c")) - 1).cast("long")).alias("ylog"),
        F.count("*").alias("nb_types"),
    )
    pt = pts.selectExpr(
        "source", "b", "CAST(1000 * ylog div nb_types AS BIGINT) AS y"
    )
    m = pt.groupBy("source").agg(
        F.count("*").alias("nb"),
        F.sum("b").alias("sx"),
        F.sum(F.col("b") * F.col("b")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("b") * F.col("y")).alias("sxy"),
    )
    return m.selectExpr(
        "source",
        "nb AS n_buckets",
        "CASE WHEN nb * sxx - sx * sx > 0 THEN "
        + _spark(_ZIPF_SLOPE)
        + " END AS zipf_slope_micro",
    ).orderBy("source")


@register(
    "hellinger_affinity_sources",
    oracle="""
WITH
""" + _WC_CTE + """,
tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         row_number() OVER (ORDER BY SUM(c) DESC, source) AS rnk
  FROM wc GROUP BY 1
),
pair AS (
  SELECT max(CASE WHEN rnk = 1 THEN source END) AS sa,
         max(CASE WHEN rnk = 2 THEN source END) AS sb,
         CAST(max(CASE WHEN rnk = 1 THEN n END) AS BIGINT) AS na,
         CAST(max(CASE WHEN rnk = 2 THEN n END) AS BIGINT) AS nb
  FROM tot WHERE rnk <= 2
),
sa_wc AS (
  SELECT wc.w, wc.c FROM wc, pair WHERE wc.source = pair.sa
),
sb_wc AS (
  SELECT wc.w, wc.c FROM wc, pair WHERE wc.source = pair.sb
),
joined AS (
  SELECT COALESCE(a.c, 0) AS cp, COALESCE(b.c, 0) AS cq
  FROM sa_wc a FULL OUTER JOIN sb_wc b ON b.w = a.w
),
terms AS (
  SELECT CAST(SUM(CAST(floor(1000000 * sqrt(CAST(cp * cq AS DOUBLE))
                  / sqrt(CAST(p.na * p.nb AS DOUBLE)))
              AS BIGINT)) AS BIGINT) AS bc
  FROM joined, pair p
)
SELECT p.sa AS source_a, p.sb AS source_b,
       CAST(p.na AS BIGINT) AS n_a, CAST(p.nb AS BIGINT) AS n_b,
       t.bc AS bc_affinity_ppm,
       1000000 - t.bc AS hellinger_sq_ppm
FROM terms t, pair p
""",
    category="llm_text",
)
def hellinger_affinity_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HELLINGER DISTANCE between the token distributions of the two
    LARGEST sources — the bounded f-divergence drift metric that
    completes the drift quintet (TV = token_drift_tv_distance,
    Wasserstein/KS/CvM/AD on values): H² = 1 − Σ√(pᵢqᵢ), with the
    Bhattacharyya affinity Σ√(pᵢqᵢ) = Σ√(cpᵢ·cqᵢ)/√(N_a·N_b)
    computed PER-TERM-FLOORED on the ppm grid (the anderson_darling
    doctrine): each term is one exact int64 product → one double
    conversion (< 2⁵³ at these SFs, documented) → correctly-rounded
    IEEE sqrt/division → floor, the same expression text in both
    engines. Unlike TV (L1 on shares), Hellinger is
    mass-concentration sensitive — the metric semdedup-style
    distribution matching actually wants. Scale: one (source,
    token) shuffle + one full-outer token join of the two largest
    sources."""
    wc = _word_counts(spark, sf_dir)
    tot = wc.groupBy("source").agg(F.sum("c").alias("n"))
    rk = tot.select(
        "source",
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), "source"))
        .alias("rnk"),
    ).filter(F.col("rnk") <= 2)
    pair = rk.agg(
        F.max(F.when(F.col("rnk") == 1, F.col("source"))).alias("sa"),
        F.max(F.when(F.col("rnk") == 2, F.col("source"))).alias("sb"),
        F.max(F.when(F.col("rnk") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("rnk") == 2, F.col("n"))).alias("nb"),
    )
    a = (
        wc.join(
            F.broadcast(pair), F.col("source") == F.col("sa"), "inner"
        )
        .select(F.col("w").alias("wa"), F.col("c").alias("cp"))
    )
    b = (
        wc.join(
            F.broadcast(pair.select("sb")),
            F.col("source") == F.col("sb"),
            "inner",
        )
        .select(F.col("w").alias("wb"), F.col("c").alias("cq"))
    )
    joined = a.join(b, F.col("wa") == F.col("wb"), "full_outer").select(
        F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
        F.coalesce(F.col("cq"), F.lit(0)).alias("cq"),
    )
    terms = joined.crossJoin(F.broadcast(pair)).agg(
        F.max("sa").alias("source_a"),
        F.max("sb").alias("source_b"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(
            F.expr(
                "CAST(floor(1000000 * sqrt(CAST(cp * cq AS DOUBLE))"
                " / sqrt(CAST(na * nb AS DOUBLE))) AS BIGINT)"
            )
        ).alias("bc"),
    )
    return terms.selectExpr(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "bc AS bc_affinity_ppm",
        "1000000 - bc AS hellinger_sq_ppm",
    )


@register(
    "bm25_rsj_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
             string_split_regex(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM toks GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(SUM(dlen) AS BIGINT) AS tt
  FROM dl
),
df AS (
  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfc
  FROM toks GROUP BY 1
),
qterms AS (
  SELECT w, dfc FROM (
    SELECT w, dfc,
           row_number() OVER (ORDER BY dfc DESC, w) AS rnk
    FROM df
  ) WHERE rnk IN (10, 11, 12)
),
tf AS (
  SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS tfc
  FROM toks t JOIN qterms q ON q.w = t.w
  GROUP BY 1, 2
),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM((2 * g.nd - 2 * q.dfc + 1) * 22
                  * CAST(g.tt AS HUGEINT) * tf.tfc * 1000000
                  // ((2 * q.dfc + 1)
                      * (10 * CAST(g.tt AS HUGEINT) * tf.tfc
                         + 3 * g.tt + 9 * dl.dlen * g.nd)))
              AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS terms_matched,
         CAST(max(dl.dlen) AS BIGINT) AS doc_len
  FROM tf
  JOIN qterms q ON q.w = tf.w
  JOIN dl ON dl.doc_id = tf.doc_id, g
  GROUP BY tf.doc_id
)
SELECT doc_id, terms_matched, doc_len, score_micro
FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
""",
    category="llm_text",
)
def bm25_rsj_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL (k₁ = 1.2, b = 0.75, rational RSJ idf)
    over the documents table — the reference-grade lexical ranker
    tfidf_top_terms stops short of: query = the 3 mid-head terms
    (document-frequency ranks 10–12, deterministic df-then-token
    order), idf = the Robertson–Spärck-Jones ODDS form (N−df+½)/
    (df+½) ≡ (2N−2df+1)/(2df+1) — a pure rational, so the usual log
    never executes (log is monotone: per-term ordering is preserved
    within each term; the summed score is the documented
    rational-idf variant). The whole per-(doc,term) score collapses
    to ONE exact integer ratio: with T = Σdl and N docs,
    tf·(k₁+1)/(tf + k₁(1−b+b·dl·N/T)) = 22·T·tf/(10·T·tf + 3·T +
    9·dl·N) (k₁, b as the rationals 6/5, 3/4) — per-term micro-
    floored (HUGEINT ⟷ decimal(38,0)), summed exactly, top-20 by
    (score, doc_id). Scale: one token explode, a 3-term broadcast
    semi-join (only matching postings survive), per-doc rollup."""
    from spark_lever_spark.llm.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    g = dl.agg(
        F.count("*").alias("nd"), F.sum("dlen").alias("tt")
    )
    df = toks.groupBy("w").agg(
        F.countDistinct("doc_id").alias("dfc")
    )
    qterms = (
        df.select(
            "w",
            "dfc",
            F.row_number()
            .over(Window.orderBy(F.desc("dfc"), "w"))
            .alias("rnk"),
        )
        .filter(F.col("rnk").isin(10, 11, 12))
        .select("w", "dfc")
    )
    tf = (
        toks.join(F.broadcast(qterms), "w")
        .groupBy("doc_id", "w", "dfc")
        .agg(F.count("*").alias("tfc"))
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "(2 * nd - 2 * dfc + 1) * 22"
                    f" * CAST(tt AS {_DEC}) * tfc * 1000000"
                    " div ((2 * dfc + 1)"
                    f" * (10 * CAST(tt AS {_DEC}) * tfc"
                    " + 3 * tt + 9 * dlen * nd))"
                )
            )
            .cast("long")
            .alias("score_micro"),
            F.count("*").alias("terms_matched"),
            F.max("dlen").alias("doc_len"),
        )
    )
    return (
        scored.select(
            "doc_id", "terms_matched", "doc_len", "score_micro"
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Survey sampling: design effect, Horvitz-Thompson, grouped jackknife
# ---------------------------------------------------------------------------

# Deterministic unequal-probability sample of orders: segment h keeps
# orders whose md5 bucket < 100/k_h (k = 2,3,4,5,8 by segment name
# order) — the stable-slice idiom of sample_hash_bucket with per-
# stratum rates, so design-based estimators have real variation.
_SEG_RATE_CTE = """
segk AS (
  SELECT c_mktsegment AS seg,
         CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT) + 1
             AS k
  FROM (SELECT DISTINCT c_mktsegment FROM customer)
),
od AS (
  SELECT o.o_orderkey, cu.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS x,
         ('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8))
             ::BIGINT % 100 AS bucket
  FROM orders o JOIN customer cu ON cu.c_custkey = o.o_custkey
),
samp AS (
  SELECT od.o_orderkey, od.seg, od.x, segk.k
  FROM od JOIN segk ON segk.seg = od.seg
  WHERE od.bucket * segk.k < 100
)
"""


def _seg_sample(spark: SparkSession, sf_dir: str):
    from spark_lever_spark.llm.curation import _md5_long

    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    segk = (
        cu.select(F.col("c_mktsegment").alias("seg"))
        .distinct()
        .select(
            "seg",
            (
                F.row_number().over(Window.orderBy("seg")).cast("long")
                + 1
            ).alias("k"),
        )
    )
    od = o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        (
            _md5_long(F.col("o_orderkey").cast("string"), 8) % 100
        ).alias("bucket"),
    )
    samp = od.join(F.broadcast(segk), "seg").filter(
        F.col("bucket") * F.col("k") < 100
    )
    return od, samp


@register(
    "kish_design_effect_segments",
    oracle="""
WITH
""" + _SEG_RATE_CTE + """,
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(k) AS BIGINT) AS sw,
         CAST(SUM(k * k) AS BIGINT) AS sww
  FROM samp
)
SELECT n, sw AS sum_weights, sww AS sum_sq_weights,
       CAST(CAST(n AS HUGEINT) * sww * 1000000
            // (CAST(sw AS HUGEINT) * sw) AS BIGINT) AS deff_ppm,
       CAST(CAST(sw AS HUGEINT) * sw // sww AS BIGINT)
           AS effective_n
FROM m
""",
    category="relational",
)
def kish_design_effect_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KISH DESIGN EFFECT of an unequal-probability order sample —
    the survey-statistics penalty for weight variation: deff =
    n·Σw²/(Σw)² and the effective sample size n_eff = (Σw)²/Σw²
    (Kish 1965), on a DETERMINISTIC stratified hash sample (segment
    h keeps bucket·k_h < 100, k = 2..6 by segment order — the
    sample_hash_bucket stable-slice idiom, so membership is a row
    property, reproducible in both engines). Weights are the exact
    integer inverse rates k; both ratios are single HUGEINT ⟷
    decimal(38,0) floor-divisions. The number every weighted-
    analysis pipeline should publish before quoting its n. Scale:
    one dim join + map-side filter + 1-row reduce."""
    _, samp = _seg_sample(spark, sf_dir)
    m = samp.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sw"),
        F.sum(F.col("k") * F.col("k")).alias("sww"),
    )
    return m.selectExpr(
        "n",
        "sw AS sum_weights",
        "sww AS sum_sq_weights",
        f"CAST(CAST(n AS {_DEC}) * sww * 1000000"
        f" div (CAST(sw AS {_DEC}) * sw) AS BIGINT) AS deff_ppm",
        f"CAST(CAST(sw AS {_DEC}) * sw div sww AS BIGINT)"
        " AS effective_n",
    )


_HT_ERR = _ss_div("ht - t", "t", 1000000)


@register(
    "horvitz_thompson_total_audit",
    oracle="""
WITH
""" + _SEG_RATE_CTE + """,
est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(SUM(k * x) AS BIGINT) AS ht
  FROM samp
),
tru AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(SUM(x) AS BIGINT) AS t
  FROM od
)
SELECT est.n_sampled, tru.n_all,
       est.ht AS ht_total_cents, tru.t AS true_total_cents,
       """ + _duck(_HT_ERR) + """ AS rel_error_ppm
FROM est, tru
""",
    category="relational",
)
def horvitz_thompson_total_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HORVITZ-THOMPSON TOTAL ESTIMATOR AUDIT — the design-based
    π-estimator T̂ = Σ_{sampled} xᵢ/πᵢ over the same deterministic
    stratified hash sample as kish_design_effect_segments (πᵢ =
    1/k_h exactly, so xᵢ/πᵢ = k_h·xᵢ — an exact int64 product), put
    side-by-side with the TRUE revenue total the full table yields:
    the published relative error (SIGN-SPLIT ppm) is the
    design-consistency check a sampling pipeline runs before
    trusting its estimates at 100 TB, where the full-table pass is
    the expensive one. Complements monetary_unit_sampling_orders
    (PPS selection) with the classic STRATIFIED inverse-probability
    design. Scale: one dim join, two map-side reduces."""
    od, samp = _seg_sample(spark, sf_dir)
    est = samp.agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.col("k") * F.col("x")).alias("ht"),
    )
    tru = od.agg(
        F.count("*").alias("n_all"), F.sum("x").alias("t")
    )
    return est.crossJoin(F.broadcast(tru)).selectExpr(
        "n_sampled",
        "n_all",
        "ht AS ht_total_cents",
        "t AS true_total_cents",
        _spark(_HT_ERR) + " AS rel_error_ppm",
    )


@register(
    "jackknife_ratio_nations",
    oracle="""
WITH base AS (
  SELECT cu.c_nationkey AS nation,
         CAST(count(*) AS BIGINT) AS nl,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS rl
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
  GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS grp,
         CAST(SUM(nl) AS BIGINT) AS n, CAST(SUM(rl) AS BIGINT) AS r
  FROM base
),
loo AS (
  SELECT CAST((g.r - b.rl) * 1000000 // (g.n - b.nl) AS BIGINT)
             AS theta_i,
         g.grp, g.n, g.r
  FROM base b, g
),
m AS (
  SELECT CAST(max(grp) AS BIGINT) AS grp,
         CAST(max(r) * 1000000 // max(n) AS BIGINT) AS theta_ppm,
         CAST(SUM(theta_i) AS BIGINT) AS st,
         CAST(SUM(CAST(theta_i AS HUGEINT) * theta_i) AS HUGEINT)
             AS stt
  FROM loo
)
SELECT grp AS n_groups, theta_ppm,
       CAST(st // grp AS BIGINT) AS jack_mean_ppm,
       CAST(floor(sqrt(
            CAST((grp - 1) AS DOUBLE)
            * CAST(grp * stt - CAST(st AS HUGEINT) * st AS DOUBLE)
            / (CAST(grp AS DOUBLE) * grp * grp)))
           AS BIGINT) AS jack_se_ppm
FROM m
""",
    category="relational",
)
def jackknife_ratio_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE-A-GROUP JACKKNIFE standard error of the global return
    RATE — the resampling-free variance estimator for a RATIO
    (where no closed form exists): leave each customer nation out
    in turn, re-compute θ̂₍ᵢ₎ = (R−rᵢ)/(N−nᵢ) exactly on the ppm
    grid (one floor-division per group — the documented grid), then
    SE_J = √((g−1)/g · Σ(θᵢ−θ̄)²) via the moment collapse g·Σθ² −
    (Σθ)² (exact HUGEINT ⟷ decimal(38,0); ONE double conversion,
    one sqrt, one floor). The deterministic replay-based alternative
    to poisson_bootstrap_ci_priority — no randomness, no replicate
    storms, one pass + a 25-row reduce. Scale: one fact rollup by
    nation (bounded domain), then driver-free 25-row algebra."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").alias("nl"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("rl"),
        )
    )
    g = base.agg(
        F.count("*").alias("grp"),
        F.sum("nl").alias("n"),
        F.sum("rl").alias("r"),
    )
    loo = base.crossJoin(F.broadcast(g)).selectExpr(
        "CAST((r - rl) * 1000000 div (n - nl) AS BIGINT) AS theta_i",
        "grp",
        "n",
        "r",
    )
    m = loo.agg(
        F.max("grp").alias("grp"),
        F.expr("CAST(max(r) * 1000000 div max(n) AS BIGINT)").alias(
            "theta_ppm"
        ),
        F.sum("theta_i").alias("st"),
        F.sum(F.col("theta_i").cast(_DEC) * F.col("theta_i")).alias(
            "stt"
        ),
    )
    return m.selectExpr(
        "grp AS n_groups",
        "theta_ppm",
        "CAST(st div grp AS BIGINT) AS jack_mean_ppm",
        "CAST(floor(sqrt("
        "CAST((grp - 1) AS DOUBLE)"
        f" * CAST(grp * stt - CAST(st AS {_DEC}) * st AS DOUBLE)"
        " / (CAST(grp AS DOUBLE) * grp * grp)))"
        " AS BIGINT) AS jack_se_ppm",
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
    category="temporal",
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
    category="temporal",
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
    category="temporal",
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
    category="temporal",
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
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("z").cast(_DEC) * F.col("z")).alias("szz"),
        F.sum(F.col("z").cast(_DEC) * F.col("y")).alias("szy"),
    )
    d = mom.selectExpr(
        "m",
        f"CAST(m * szy - CAST(sz AS {_DEC}) * sy AS {_DEC}) AS dzy",
        f"CAST(m * szz - CAST(sz AS {_DEC}) * sz AS {_DEC}) AS dzz",
        f"CAST(m * syy - CAST(sy AS {_DEC}) * sy AS {_DEC}) AS dyy",
    )
    return d.selectExpr(
        "m AS n_obs",
        _DF_GAMMA + " AS gamma_micro",
        _DF_T + " AS df_t_milli",
    )


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
        + _duck(_erlang_step(k))
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
    category="events",
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
            "an", "ad", f"b{k - 1}", _spark(_erlang_step(k))
        ) if k == 1 else r.selectExpr(
            "an", "ad", *[f"b{j}" for j in range(1, k)],
            _spark(_erlang_step(k)),
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
# Multimodal feature extraction + embedding drift
# ---------------------------------------------------------------------------


@register(
    "multimodal_pgm_centroid_moments",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         t.i % w AS xx, t.i // w AS yy,
         (doc_id * 31 + t.i * 7) % 256 AS p
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
),
m AS (
  SELECT doc_id, CAST(max(w) AS INT) AS width,
         CAST(max(h) AS INT) AS height,
         CAST(SUM(p) AS BIGINT) AS m00,
         CAST(SUM(xx * p) AS BIGINT) AS m10,
         CAST(SUM(yy * p) AS BIGINT) AS m01
  FROM px GROUP BY doc_id
)
SELECT doc_id, width, height, m00, m10, m01,
       CASE WHEN m00 > 0
            THEN CAST(m10 * 1000 // m00 AS BIGINT)
       END AS cx_milli,
       CASE WHEN m00 > 0
            THEN CAST(m01 * 1000 // m00 AS BIGINT)
       END AS cy_milli
FROM m ORDER BY doc_id
""",
    category="llm_multimodal",
)
def multimodal_pgm_centroid_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RAW IMAGE MOMENTS + INTENSITY CENTROID over REAL decoded PGM
    rasters — the M00/M10/M01 moment stage every blob-tracking /
    alignment / crop-heuristic pipeline runs right after decode (and
    the precursor to Hu invariants): deterministic P5 binaries
    materialize as the payload column (same generator as
    multimodal_pgm_histogram / _sobel_energy), a genuine numpy
    parser re-reads header + raster and accumulates the exact int64
    moment sums; the centroid publishes as two non-negative milli
    floor-divisions. The analytic oracle replays the pixel formula
    ((id·31 + i·7) mod 256 at x = i mod w, y = i div w), so a
    row-major/column-major mixup in the decoder cannot hash-match.
    Scale: decode + moments are one row-partitioned Arrow pass."""
    from typing import Iterator

    import pandas as pd

    from spark_lever_spark.llm.multimodal import encode_pgm

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )

    def encode_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_pgm(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def moments_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, m00s, m10s, m01s = [], [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P5\n"):
                    raise ValueError("not a binary PGM (P5) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims[0]), int(dims[1])
                img = (
                    np.frombuffer(
                        b, dtype=np.uint8, offset=hdr_end + 1
                    )
                    .astype(np.int64)
                    .reshape(h, w)
                )
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                m00s.append(int(img.sum()))
                m10s.append(int((img * xs[None, :]).sum()))
                m01s.append(int((img * ys[:, None]).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "m00": pd.Series(m00s, dtype="int64"),
                    "m10": pd.Series(m10s, dtype="int64"),
                    "m01": pd.Series(m01s, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        moments_run,
        "doc_id long, width int, height int,"
        " m00 long, m10 long, m01 long",
    )
    return out.selectExpr(
        "doc_id",
        "width",
        "height",
        "m00",
        "m10",
        "m01",
        "CASE WHEN m00 > 0 THEN CAST(m10 * 1000 div m00 AS BIGINT)"
        " END AS cx_milli",
        "CASE WHEN m00 > 0 THEN CAST(m01 * 1000 div m00 AS BIGINT)"
        " END AS cy_milli",
    ).orderBy("doc_id")


@register(
    "multimodal_wav_diff_energy",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 200 + 50 AS n FROM d
),
s AS (
  SELECT doc_id, n, t.i AS i,
         (doc_id * 131 + t.i * 17) % 2048 - 1024 AS v
  FROM dims, LATERAL unnest(range(n)) AS t(i)
),
led AS (
  SELECT doc_id, n, v,
         lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS v1
  FROM s
),
m AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
         CAST(SUM(v * v) AS BIGINT) AS energy,
         CAST(SUM(CASE WHEN v1 IS NULL THEN 0
                       ELSE (v1 - v) * (v1 - v) END) AS BIGINT)
             AS diff_energy
  FROM led GROUP BY doc_id
)
SELECT doc_id, n_samples, energy, diff_energy,
       CASE WHEN energy > 0
            THEN CAST(CAST(diff_energy AS HUGEINT) * 1000000
                      // (4 * CAST(energy AS HUGEINT)) AS BIGINT)
       END AS hf_ratio_ppm
FROM m ORDER BY doc_id
""",
    category="llm_multimodal",
)
def multimodal_wav_diff_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIRST-DIFFERENCE ENERGY RATIO over REAL decoded audio — the
    log-free high-frequency proxy (Σ(sᵢ₊₁−sᵢ)²/4Σsᵢ² is the
    normalized difference energy, monotone in the spectral centroid
    for band-limited signals — the music/speech/hiss triage feature
    computed when an FFT is not affordable or, here, not
    hash-exact). Same deterministic RIFF/WAVE payloads and numpy
    parser as multimodal_wav_rms_energy; both energies accumulate
    as exact int64 (|s| ≤ 1024 ⇒ per-clip sums ≪ 2⁶³), the ratio is
    one non-negative HUGEINT ⟷ decimal(38,0) ppm floor-division,
    Cauchy-Schwarz-bounded by 10⁶. The analytic oracle replays the
    sample formula through a lead window, so off-by-one framing in
    the parser cannot hash-match. Scale: one row-partitioned Arrow
    pass."""
    from typing import Iterator

    import pandas as pd

    from spark_lever_spark.llm.multimodal import encode_wav

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_wav(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def diff_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            ids, ns, es, ds = [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE stream")
                (nbytes,) = struct.unpack("<I", b[40:44])
                samples = np.frombuffer(
                    b, dtype="<i2", offset=44, count=nbytes // 2
                ).astype(np.int64)
                diff = np.diff(samples)
                ids.append(int(doc_id))
                ns.append(len(samples))
                es.append(int((samples * samples).sum()))
                ds.append(int((diff * diff).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "energy": pd.Series(es, dtype="int64"),
                    "diff_energy": pd.Series(ds, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        diff_run,
        "doc_id long, n_samples long, energy long, diff_energy long",
    )
    return out.selectExpr(
        "doc_id",
        "n_samples",
        "energy",
        "diff_energy",
        "CASE WHEN energy > 0 THEN"
        f" CAST(CAST(diff_energy AS {_DEC}) * 1000000"
        f" div (4 * CAST(energy AS {_DEC})) AS BIGINT)"
        " END AS hf_ratio_ppm",
    ).orderBy("doc_id")


@register(
    "embedding_centroid_drift_labels",
    oracle="""
WITH comp AS (
  SELECT label, t.i AS pos,
         CAST(floor(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(len(embedding))) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(SUM(q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM comp GROUP BY 1, 2
),
cm AS (
  SELECT label, pos,
         CASE WHEN s >= 0 THEN CAST(s * 1000 // n AS BIGINT)
              ELSE -CAST((-s) * 1000 // n AS BIGINT) END AS c_micro
  FROM cent
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.c_micro - b.c_micro AS HUGEINT)
                  * (a.c_micro - b.c_micro)) AS HUGEINT) AS l2sq
  FROM cm a JOIN cm b ON b.pos = a.pos AND b.label > a.label
  GROUP BY 1, 2
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT)
           AS label_b,
       CAST(l2sq // 1000000 AS BIGINT) AS centroid_l2sq_micro
FROM pairs ORDER BY label_a, label_b
""",
    category="llm_embeddings",
)
def embedding_centroid_drift_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE CENTROID DRIFT between embedding label clusters —
    the distribution-shift monitor an embedding pipeline runs per
    ingest batch (are today's class centroids where yesterday's
    were?): each component quantizes to the exact milli grid
    (floor(v·1000 + 0.5) — one deterministic double product per
    float, the documented grid), per-label centroids are SIGN-SPLIT
    micro floor-divisions of exact int64 component sums, and every
    label pair publishes the exact squared L2 distance between
    centroid vectors (HUGEINT ⟷ decimal(38,0), re-floored to the
    micro grid). 10 labels ⇒ 45 pairs — the full drift matrix, not
    a sample. Scale: one (label, pos) rollup after a posexplode
    (64·N rows, map-side combinable), then a 640-row self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).selectExpr(
        "label",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    cent = comp.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    cm = cent.selectExpr(
        "label",
        "pos",
        "CASE WHEN s >= 0 THEN CAST(s * 1000 div n AS BIGINT)"
        " ELSE -CAST((-s) * 1000 div n AS BIGINT) END AS c_micro",
    )
    a = cm.selectExpr(
        "label AS label_a", "pos AS pa", "c_micro AS ca"
    )
    b = cm.selectExpr(
        "label AS label_b", "pos AS pb", "c_micro AS cb"
    )
    pairs = (
        a.join(
            b,
            (F.col("pb") == F.col("pa"))
            & (F.col("label_b") > F.col("label_a")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.expr(f"CAST(ca - cb AS {_DEC}) * (ca - cb)")
            ).alias("l2sq")
        )
    )
    return pairs.selectExpr(
        "CAST(label_a AS INT) AS label_a",
        "CAST(label_b AS INT) AS label_b",
        f"CAST(l2sq div 1000000 AS BIGINT) AS centroid_l2sq_micro",
    ).orderBy("label_a", "label_b")


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
    category="temporal",
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
        F.sum(F.col("c").cast(_DEC) * F.col("c")).alias("q"),
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
        f"sqrt(CAST(n * q - CAST(s AS {_DEC}) * s AS DOUBLE)) / n / 100"
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

# lcm(1..20) — exact divisor-method sort keys: rev/k ordered by
# rev * (LCM // k) with no rational arithmetic (HUGEINT / decimal keys).
_LCM20 = 232792560
# lcm(1,3,5,...,39) for Sainte-Laguë: every odd divisor 2k-1 (k<=20)
# divides it exactly, so rev * (_LCM_ODD39 // (2k-1)) is the exact
# integer-scaled quotient key (lcm(1..20) is NOT divisible by 23,25,
# 27,29,31,37 — flooring there could seat-misorder near-ties).
# Product fits decimal(38,0)/HUGEINT: r<=~1e14 cents * 1.7e14 < 1e29.
_LCM_ODD39 = 166966608033225


@register(
    "dhondt_allocation_nations",
    oracle=f"""
WITH rev AS (
  SELECT n.n_nationkey AS nation,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM orders o
  JOIN customer cu ON cu.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = cu.c_nationkey
  GROUP BY 1
),
ks AS (SELECT unnest(range(1, 21)) AS k),
dh AS (
  SELECT nation, r, k,
         row_number() OVER (
           ORDER BY CAST(r AS HUGEINT) * ({_LCM20} // k) DESC,
                    nation, k) AS rnk
  FROM rev, ks
),
sl AS (
  SELECT nation, r, k,
         row_number() OVER (
           ORDER BY CAST(r AS HUGEINT) * ({_LCM_ODD39} // (2 * k - 1))
                    DESC, nation, k) AS rnk
  FROM rev, ks
)
SELECT rev.nation, rev.r AS revenue_cents,
       CAST((SELECT count(*) FROM dh
             WHERE dh.nation = rev.nation AND dh.rnk <= 20)
            AS BIGINT) AS dhondt_seats,
       CAST((SELECT count(*) FROM sl
             WHERE sl.nation = rev.nation AND sl.rnk <= 20)
            AS BIGINT) AS sainte_lague_seats
FROM rev ORDER BY rev.nation
""",
    category="relational",
)
def dhondt_allocation_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIVISOR-METHOD APPORTIONMENT of 20 slots across customer
    nations by revenue — D'Hondt (divisors 1,2,3…, favors large
    parties) and Sainte-Laguë (1,3,5…, proportionality-neutral)
    side-by-side, the fair-allocation primitive behind quota
    assignment, shard budgeting and A/B traffic splits (and the
    divisor complement to prorate_fee_largest_remainder's quota
    method — the two famously disagree: Alabama paradox): each
    quotient orders EXACTLY via an integer key — rev·(lcm(1..20)//k)
    for D'Hondt, rev·(lcm(1,3,..,39)//(2k-1)) for Sainte-Laguë; both
    LCMs are divisible by every divisor in their ladder, so the keys
    are exact scaled quotients (HUGEINT ⟷ decimal(38,0) — no rational
    or float division anywhere), deterministic (key, nation, k)
    tie-break, top-20 by rank per method. Scale: one fact rollup to
    the 25-nation domain, a 20-row divisor broadcast, two 500-row
    rank windows."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    rev = (
        o.join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n), cu["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("r")
        )
    )
    ks = spark.range(1, 21).selectExpr("CAST(id AS INT) AS k")
    quot = rev.crossJoin(F.broadcast(ks))
    dh = quot.select(
        "nation",
        "k",
        F.row_number()
        .over(
            Window.orderBy(
                F.expr(
                    f"CAST(r AS {_DEC}) * ({_LCM20} div k)"
                ).desc(),
                "nation",
                "k",
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 20)
    sl = quot.select(
        "nation",
        "k",
        F.row_number()
        .over(
            Window.orderBy(
                F.expr(
                    f"CAST(r AS {_DEC})"
                    f" * ({_LCM_ODD39} div (2 * k - 1))"
                ).desc(),
                "nation",
                "k",
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 20)
    dhc = dh.groupBy("nation").agg(F.count("*").alias("dh_seats"))
    slc = sl.groupBy("nation").agg(F.count("*").alias("sl_seats"))
    return (
        rev.join(dhc, "nation", "left")
        .join(slc, "nation", "left")
        .selectExpr(
            "nation",
            "r AS revenue_cents",
            "COALESCE(dh_seats, 0) AS dhondt_seats",
            "COALESCE(sl_seats, 0) AS sainte_lague_seats",
        )
        .orderBy("nation")
    )


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
    category="temporal",
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
        f" CAST(CAST(num AS {_DEC}) * 1000000 div den AS BIGINT)"
        " END AS dev_factor_ppm",
    ).orderBy("from_dev")


# ---------------------------------------------------------------------------
# Lexical concentration, temporal burstiness, ranking stability
# ---------------------------------------------------------------------------


@register(
    "token_gini_by_source",
    oracle="""
WITH
""" + _WC_CTE + """,
rk AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c, w) AS i
  FROM wc
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS t,
         CAST(SUM(CAST(i AS HUGEINT) * c) AS HUGEINT) AS ic
  FROM rk GROUP BY 1
)
SELECT source, n AS n_types, t AS n_tokens,
       CASE WHEN n > 0 AND t > 0
            THEN CAST((2 * ic - (CAST(n AS HUGEINT) + 1) * t) * 1000000
                      // (CAST(n AS HUGEINT) * t) AS BIGINT)
       END AS token_gini_ppm
FROM m ORDER BY source
""",
    category="llm_text",
)
def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT OF TOKEN FREQUENCIES per source — lexical
    concentration as economists would measure it (how unequally is
    token mass distributed over the vocabulary): the exact
    rank-formula G = (2Σi·cᵢ − (n+1)Σc)/(n·Σc) over ascending-count
    ranks with deterministic (count, token) tie-breaks — one
    HUGEINT ⟷ decimal(38,0) ppm floor-division, non-negative by the
    rearrangement inequality. The distribution-SHAPE complement to
    yule_k (repeat-rate) and the zipf slope (power-law exponent):
    Gini reads the whole Lorenz curve of the vocabulary.
    Scale: one (source, token) shuffle + per-source rank window."""
    wc = _word_counts(spark, sf_dir)
    rk = wc.select(
        "source",
        "c",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("c", "w"))
        .alias("i"),
    )
    m = rk.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("t"),
        F.sum(F.col("i").cast(_DEC) * F.col("c")).alias("ic"),
    )
    return m.selectExpr(
        "source",
        "n AS n_types",
        "t AS n_tokens",
        "CASE WHEN n > 0 AND t > 0 THEN"
        f" CAST((2 * ic - (CAST(n AS {_DEC}) + 1) * t) * 1000000"
        f" div (CAST(n AS {_DEC}) * t) AS BIGINT)"
        " END AS token_gini_ppm",
    ).orderBy("source")


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
       """ + _duck(_BURST_B) + """ AS burstiness_milli,
       """ + _duck(_BURST_M) + """ AS sorted_memory_milli
FROM mom JOIN lagmom ON lagmom.event_type = mom.event_type
ORDER BY mom.event_type
""",
    category="events",
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
        F.sum(F.col("gap").cast(_DEC) * F.col("gap")).alias("q"),
    )
    lagmom = (
        gaps.filter(F.col("gap2").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("m"),
            F.sum("gap").alias("sa"),
            F.sum("gap2").alias("sb"),
            F.sum(F.col("gap").cast(_DEC) * F.col("gap")).alias("qa"),
            F.sum(F.col("gap2").cast(_DEC) * F.col("gap2")).alias(
                "qb"
            ),
            F.sum(F.col("gap").cast(_DEC) * F.col("gap2")).alias(
                "sab"
            ),
        )
    )
    return (
        mom.join(lagmom, "event_type")
        .selectExpr(
            "event_type",
            "n AS n_gaps",
            _spark(_BURST_B) + " AS burstiness_milli",
            _spark(_BURST_M) + " AS sorted_memory_milli",
        )
        .orderBy("event_type")
    )


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
    category="temporal",
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
# Linear-counting sketch audit + integer adstock regression
# ---------------------------------------------------------------------------


@register(
    "linear_counting_audit",
    oracle="""
WITH ms AS (SELECT unnest([256, 1024, 4096]) AS m),
hits AS (
  SELECT ms.m,
         CAST(count(DISTINCT
              ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              ::BIGINT % ms.m) AS BIGINT) AS occupied
  FROM events, ms GROUP BY ms.m
),
tru AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS d FROM events
)
SELECT CAST(h.m AS BIGINT) AS m_bits, h.occupied, tru.d AS true_distinct,
       CAST((h.m - h.occupied) * 1000000 // h.m AS BIGINT)
           AS empty_frac_ppm,
       CAST((tru.d - h.occupied) * 1000000 // tru.d AS BIGINT)
           AS collision_loss_ppm
FROM hits h, tru ORDER BY m_bits
""",
    category="relational",
)
def linear_counting_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LINEAR-COUNTING SKETCH AUDIT at m ∈ {256, 1024, 4096} bits —
    the simplest cardinality sketch (Whang 1990: estimate =
    −m·ln(empty/m)) audited against truth WITHOUT the log: the
    published exact quantities are the occupied-bit count (one
    distinct-of-md5-mod aggregation — the same stable-hash idiom as
    sample_hash_bucket), the empty fraction, and the collision loss
    (distinct users the bitmap under-counts) per size. The
    occupancy trio IS the sketch designer's sizing table: it shows
    exactly when m is too small for HLL's fallback range (the
    sketch_hll ops' companion). All ratios are exact non-negative
    ppm floor-divisions. Scale: three map-side mod-m distincts over
    a bounded bitmap domain + one exact distinct."""
    from spark_lever_spark.llm.curation import _md5_long

    ev = load_table(spark, sf_dir, "events")
    ms = spark.range(1).selectExpr(
        "explode(array(256, 1024, 4096)) AS m"
    )
    hits = (
        ev.select(
            _md5_long(F.col("user_id").cast("string"), 8).alias("hv")
        )
        .crossJoin(F.broadcast(ms))
        .groupBy("m")
        .agg(F.countDistinct(F.expr("hv % m")).alias("occupied"))
    )
    tru = ev.agg(F.countDistinct("user_id").alias("d"))
    return (
        hits.crossJoin(F.broadcast(tru))
        .selectExpr(
            "CAST(m AS BIGINT) AS m_bits",
            "occupied",
            "d AS true_distinct",
            "CAST((m - occupied) * 1000000 div m AS BIGINT)"
            " AS empty_frac_ppm",
            "CAST((d - occupied) * 1000000 div d AS BIGINT)"
            " AS collision_loss_ppm",
        )
        .orderBy("m_bits")
    )


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
    category="events",
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
        F.sum(F.col("z").cast(_DEC) * F.col("z")).alias("sxx"),
        F.sum(F.col("z").cast(_DEC) * F.col("purchases")).alias("sxy"),
    )
    return mom.selectExpr(
        "n",
        f"CASE WHEN CAST(n AS {_DEC}) * sxx - CAST(sx AS {_DEC}) * sx"
        " > 0 THEN CAST(floor("
        f"CAST(CAST(n AS {_DEC}) * sxy - CAST(sx AS {_DEC}) * sy"
        " AS DOUBLE) * 1000000000"
        f" / CAST(CAST(n AS {_DEC}) * sxx - CAST(sx AS {_DEC}) * sx"
        " AS DOUBLE)) AS BIGINT) END AS beta_nano_per_milli",
        "CAST(sx div n AS BIGINT) AS mean_adstock_milli",
        "CAST(sy * 1000 div n AS BIGINT) AS mean_purchases_milli",
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF surface + partial correlation
# ---------------------------------------------------------------------------


@register(
    "pandas_grouped_agg_iqr",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS pri,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice * 100),
                                     o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT pri, CAST(max(n) AS BIGINT) AS n_orders,
       CAST(max(CASE WHEN rn = (n + 3) // 4 THEN cents END)
            AS BIGINT) AS q1_cents,
       CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END)
            AS BIGINT) AS q3_cents,
       CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END)
            - max(CASE WHEN rn = (n + 3) // 4 THEN cents END)
            AS BIGINT) AS iqr_cents
FROM c GROUP BY pri ORDER BY pri
""",
    category="udf",
)
def pandas_grouped_agg_iqr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED_AGG PANDAS UDF surface — the Arrow per-group
    AGGREGATION path (pandas_udf returning a scalar inside .agg()),
    distinct from grouped_pandas_median's applyInPandas (full-frame
    in, full-frame out) and from map_in_pandas (partition
    streams): three scalar UDAFs compute the exact ⌈n/4⌉ / ⌈3n/4⌉
    order-statistic quartiles and their IQR on int64 cents, with
    numpy partition-free exact sorting inside the Arrow batch (each
    GROUP must fit an executor — the priority domain is 5 keys;
    heavy-key domains pre-aggregate instead, same caveat as the
    median op). The oracle replays the quartiles as rank windows —
    a Python-rounding or nearest-rank-convention slip in the UDF
    cannot hash-match. Scale: one shuffle on the bounded priority
    key."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "cents"
        ),
        "o_orderkey",
    )

    # series-to-scalar: the explicit GROUPED_AGG functionType (this
    # module's `from __future__ import annotations` stringifies type
    # hints, which defeats pandas_udf's signature inference)
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def q1_udaf(cents, key):
        order = sorted(zip(cents.tolist(), key.tolist()))
        n = len(order)
        return int(order[(n + 3) // 4 - 1][0])

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def q3_udaf(cents, key):
        order = sorted(zip(cents.tolist(), key.tolist()))
        n = len(order)
        return int(order[(3 * n + 3) // 4 - 1][0])

    # GROUPED_AGG UDFs cannot mix with built-in aggregates in one
    # .agg() — the count rides a third pandas UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_udaf(cents):
        return len(cents)

    agg = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        n_udaf(F.col("cents")).alias("n_orders"),
        q1_udaf(F.col("cents"), F.col("o_orderkey")).alias("q1_cents"),
        q3_udaf(F.col("cents"), F.col("o_orderkey")).alias("q3_cents"),
    )
    return agg.selectExpr(
        "pri",
        "n_orders",
        "q1_cents",
        "q3_cents",
        "q3_cents - q1_cents AS iqr_cents",
    ).orderBy("pri")


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
    category="events",
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
        f"CAST(n * sxy - sx * sy AS {_DEC}) AS dxy",
        f"CAST(n * sxz - sx * sz AS {_DEC}) AS dxz",
        f"CAST(n * szy - sz * sy AS {_DEC}) AS dzy",
        f"CAST(n * sxx - sx * sx AS {_DEC}) AS vx",
        f"CAST(n * syy - sy * sy AS {_DEC}) AS vy",
        f"CAST(n * szz - sz * sz AS {_DEC}) AS vz",
    )
    return d.selectExpr(
        "n AS n_days", _PC_SEL + " AS partial_corr_milli"
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
    category="temporal",
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
    category="temporal",
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
# Clustering quality: simplified silhouette + Calinski-Harabasz
# ---------------------------------------------------------------------------

# Shared milli-grid embedding quantization + per-label centroids (the
# embedding_centroid_drift_labels grid): q = floor(v*1000 + 0.5),
# centroid component = sign-split micro floor of the exact sums.
_EMB_CENT_CTE = """
comp AS (
  SELECT vec_id, label, t.i AS pos,
         CAST(floor(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000 + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(len(embedding))) AS t(i)
),
cent AS (
  SELECT label, pos,
         CASE WHEN SUM(q) >= 0
              THEN CAST(SUM(q) * 1000 // count(*) AS BIGINT)
              ELSE -CAST((-SUM(q)) * 1000 // count(*) AS BIGINT)
         END AS c_micro,
         CAST(count(*) AS BIGINT) AS n_members
  FROM comp GROUP BY 1, 2
)
"""


def _emb_comp_cent(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).selectExpr(
        "vec_id",
        "label",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    cent = comp.groupBy("label", "pos").agg(
        F.expr(
            "CASE WHEN SUM(q) >= 0"
            " THEN CAST(SUM(q) * 1000 div count(*) AS BIGINT)"
            " ELSE -CAST((-SUM(q)) * 1000 div count(*) AS BIGINT) END"
        ).alias("c_micro"),
        F.count("*").alias("n_members"),
    )
    return comp, cent


@register(
    "silhouette_simplified_labels",
    oracle="""
WITH
""" + _EMB_CENT_CTE + """,
d2 AS (
  SELECT comp.vec_id, comp.label AS own_label, cent.label AS to_label,
         CAST(SUM(CAST(comp.q * 1000 - cent.c_micro AS HUGEINT)
                  * (comp.q * 1000 - cent.c_micro)) AS HUGEINT) AS dd
  FROM comp JOIN cent ON cent.pos = comp.pos
  GROUP BY 1, 2, 3
),
ab AS (
  SELECT vec_id, own_label,
         CAST(max(CASE WHEN to_label = own_label THEN dd END)
              AS HUGEINT) AS a2,
         CAST(min(CASE WHEN to_label <> own_label THEN dd END)
              AS HUGEINT) AS b2
  FROM d2 GROUP BY 1, 2
),
s AS (
  SELECT own_label AS label,
         CASE WHEN b2 > a2 THEN CAST((b2 - a2) * 1000000
                   // (CASE WHEN a2 > b2 THEN a2 ELSE b2 END)
                   AS BIGINT)
              WHEN a2 > b2 THEN -CAST((a2 - b2) * 1000000
                   // (CASE WHEN a2 > b2 THEN a2 ELSE b2 END)
                   AS BIGINT)
              ELSE 0 END AS s_ppm
  FROM ab WHERE a2 IS NOT NULL AND b2 IS NOT NULL
)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_points,
       CASE WHEN SUM(s_ppm) >= 0
            THEN CAST(SUM(s_ppm) // count(*) AS BIGINT)
            ELSE -CAST((-SUM(s_ppm)) // count(*) AS BIGINT)
       END AS mean_silhouette_ppm
FROM s GROUP BY label ORDER BY label
""",
    category="llm_embeddings",
)
def silhouette_simplified_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIMPLIFIED SILHOUETTE per embedding label — the cluster-
    quality score kmeans_inertia_elbow (within-scatter only) cannot
    see: for each vector, a = squared distance to its OWN centroid,
    b = squared distance to the NEAREST other centroid, s =
    (b−a)/max(a,b) — the centroid-based simplified silhouette
    (Hruschka 2004; O(N·k) instead of the O(N²) full silhouette),
    here on SQUARED distances (the documented monotone discrete
    variant — sign and ranking agree with the classic; no sqrt
    ever runs). Vectors and centroids meet on the micro grid
    (comp·1000 vs the micro centroid — same scale), all distances
    exact HUGEINT ⟷ decimal(38,0); per-point and per-label means
    are SIGN-SPLIT floors. Scale: one posexplode rollup, one
    (pos)-join of N·64 rows against the 640-row broadcast centroid
    table, one per-point reduce."""
    comp, cent = _emb_comp_cent(spark, sf_dir)
    d2 = (
        comp.join(
            F.broadcast(
                cent.selectExpr(
                    "label AS to_label", "pos AS cpos", "c_micro"
                )
            ),
            F.col("cpos") == F.col("pos"),
        )
        .groupBy("vec_id", F.col("label").alias("own_label"), "to_label")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(q * 1000 - c_micro AS {_DEC})"
                    " * (q * 1000 - c_micro)"
                )
            ).alias("dd")
        )
    )
    ab = d2.groupBy("vec_id", "own_label").agg(
        F.max(
            F.when(F.col("to_label") == F.col("own_label"), F.col("dd"))
        ).alias("a2"),
        F.min(
            F.when(F.col("to_label") != F.col("own_label"), F.col("dd"))
        ).alias("b2"),
    )
    s = ab.filter(
        F.col("a2").isNotNull() & F.col("b2").isNotNull()
    ).selectExpr(
        "own_label AS label",
        "CASE WHEN b2 > a2 THEN CAST((b2 - a2) * 1000000"
        " div (CASE WHEN a2 > b2 THEN a2 ELSE b2 END) AS BIGINT)"
        " WHEN a2 > b2 THEN -CAST((a2 - b2) * 1000000"
        " div (CASE WHEN a2 > b2 THEN a2 ELSE b2 END) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS s_ppm",
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").alias("n_points"),
            F.expr(
                "CASE WHEN SUM(s_ppm) >= 0"
                " THEN CAST(SUM(s_ppm) div count(*) AS BIGINT)"
                " ELSE -CAST((-SUM(s_ppm)) div count(*) AS BIGINT)"
                " END"
            ).alias("mean_silhouette_ppm"),
        )
        .selectExpr(
            "CAST(label AS INT) AS label",
            "n_points",
            "mean_silhouette_ppm",
        )
        .orderBy("label")
    )


@register(
    "calinski_harabasz_labels",
    oracle="""
WITH
""" + _EMB_CENT_CTE + """,
gmean AS (
  SELECT pos,
         CASE WHEN SUM(q) >= 0
              THEN CAST(SUM(q) * 1000 // count(*) AS BIGINT)
              ELSE -CAST((-SUM(q)) * 1000 // count(*) AS BIGINT)
         END AS g_micro
  FROM comp GROUP BY 1
),
ssw AS (
  SELECT CAST(SUM(CAST(comp.q * 1000 - cent.c_micro AS HUGEINT)
              * (comp.q * 1000 - cent.c_micro)) AS HUGEINT) AS w
  FROM comp JOIN cent
    ON cent.label = comp.label AND cent.pos = comp.pos
),
ssb AS (
  SELECT CAST(SUM(CAST(cent.n_members AS HUGEINT)
              * (cent.c_micro - gmean.g_micro)
              * (cent.c_micro - gmean.g_micro)) AS HUGEINT) AS b
  FROM cent JOIN gmean ON gmean.pos = cent.pos
),
dims AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
         CAST(count(DISTINCT label) AS BIGINT) AS k
  FROM comp
)
SELECT dims.n, dims.k,
       CASE WHEN ssw.w > 0 AND dims.k > 1
            THEN CAST(ssb.b * (dims.n - dims.k) * 1000
                      // (ssw.w * (dims.k - 1)) AS BIGINT)
       END AS ch_milli
FROM ssw, ssb, dims
""",
    category="llm_embeddings",
)
def calinski_harabasz_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALINSKI-HARABASZ VARIANCE-RATIO CRITERION of the embedding
    label clustering — CH = (SSB/(k−1))/(SSW/(n−k)), the
    cluster-separation index that is a PURE RATIONAL in the scatter
    sums (no sqrt, no log — unlike Davies-Bouldin): between-scatter
    weights each centroid's squared offset from the global mean by
    its membership, within-scatter sums squared member-to-centroid
    offsets, all on the shared micro grid with exact HUGEINT ⟷
    decimal(38,0) accumulation and ONE milli floor-division.
    Complements silhouette_simplified_labels (per-point view) with
    the global ANOVA-style view. Scale: one posexplode, two
    broadcast centroid joins, 1-row algebra."""
    comp, cent = _emb_comp_cent(spark, sf_dir)
    gmean = comp.groupBy("pos").agg(
        F.expr(
            "CASE WHEN SUM(q) >= 0"
            " THEN CAST(SUM(q) * 1000 div count(*) AS BIGINT)"
            " ELSE -CAST((-SUM(q)) * 1000 div count(*) AS BIGINT) END"
        ).alias("g_micro")
    )
    ssw = (
        comp.join(
            F.broadcast(
                cent.selectExpr(
                    "label AS cl", "pos AS cpos", "c_micro"
                )
            ),
            (F.col("cl") == F.col("label"))
            & (F.col("cpos") == F.col("pos")),
        )
        .agg(
            F.sum(
                F.expr(
                    f"CAST(q * 1000 - c_micro AS {_DEC})"
                    " * (q * 1000 - c_micro)"
                )
            ).alias("w")
        )
    )
    ssb = (
        cent.join(F.broadcast(gmean), "pos")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(n_members AS {_DEC})"
                    " * (c_micro - g_micro) * (c_micro - g_micro)"
                )
            ).alias("b")
        )
    )
    dims = comp.agg(
        F.countDistinct("vec_id").alias("n"),
        F.countDistinct("label").alias("k"),
    )
    return (
        ssw.crossJoin(ssb)
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "n",
            "k",
            "CASE WHEN w > 0 AND k > 1 THEN"
            " CAST(b * (n - k) * 1000 div (w * (k - 1)) AS BIGINT)"
            " END AS ch_milli",
        )
    )


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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
    )
    z = daily.crossJoin(F.broadcast(g)).selectExpr(
        f"CAST(CAST(n * v - s AS {_DEC}) * (n * v - s) AS {_DEC})"
        " AS dev2",
        f"CAST(n * q - CAST(s AS {_DEC}) * s AS {_DEC}) AS vv",
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
    category="temporal",
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
        F.sum(F.expr(f"CAST(2 * i AS {_DEC}) * v")).alias("s2iv"),
        F.sum("v").alias("s"),
    )
    return m.selectExpr(
        "n",
        "CASE WHEN n > 1 THEN"
        f" CAST((2 * (s2iv - CAST(n + 1 AS {_DEC}) * s))"
        f" div (CAST(n AS {_DEC}) * (n - 1)) AS BIGINT)"
        " END AS gmd_cents",
        "CASE WHEN s > 0 AND n > 1 THEN"
        f" CAST((s2iv - CAST(n + 1 AS {_DEC}) * s) * 1000000"
        f" div (CAST(n AS {_DEC}) * s) AS BIGINT)"
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
    category="temporal",
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
    category="temporal",
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
        "x", f"CAST(CAST(r AS {_DEC}) * r AS {_DEC}) AS r2"
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
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
        F.sum(F.col("z").cast(_DEC) * F.col("z")).alias("szz"),
        F.sum(F.col("z").cast(_DEC) * F.col("y")).alias("szy"),
    )
    d = mom.selectExpr(
        "m",
        f"CAST(m * szy - CAST(sz AS {_DEC}) * sy AS {_DEC}) AS dzy",
        f"CAST(m * szz - CAST(sz AS {_DEC}) * sz AS {_DEC}) AS dzz",
        f"CAST(m * syy - CAST(sy AS {_DEC}) * sy AS {_DEC}) AS dyy",
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
    "qini_uplift_deciles",
    oracle="""
WITH
""" + _LAB_CTE + """,
expo AS (
  SELECT lab.score, lab.pos, lab.o_orderkey AS okey,
         CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             AS treated
  FROM lab
  JOIN orders o ON o.o_orderkey = lab.o_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
),
rk AS (
  SELECT pos, treated,
         ntile(10) OVER (ORDER BY score DESC, treated, pos, okey)
             AS decile
  FROM expo
),
byd AS (
  SELECT CAST(decile AS INT) AS decile,
         CAST(SUM(CASE WHEN treated = 1 THEN pos ELSE 0 END)
              AS BIGINT) AS yt,
         CAST(SUM(treated) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treated = 0 THEN pos ELSE 0 END)
              AS BIGINT) AS yc,
         CAST(SUM(1 - treated) AS BIGINT) AS nc
  FROM rk GROUP BY 1
),
cum AS (
  SELECT decile,
         CAST(SUM(yt) OVER w AS BIGINT) AS cyt,
         CAST(SUM(nt) OVER w AS BIGINT) AS cnt_t,
         CAST(SUM(yc) OVER w AS BIGINT) AS cyc,
         CAST(SUM(nc) OVER w AS BIGINT) AS cnc
  FROM byd WINDOW w AS (ORDER BY decile)
)
SELECT decile, cyt AS cum_treated_pos, cnt_t AS cum_treated,
       cyc AS cum_control_pos, cnc AS cum_control,
       CASE WHEN cnc > 0
            THEN CAST(cyt AS BIGINT)
                 - CAST(CAST(cyc AS HUGEINT) * cnt_t // cnc AS BIGINT)
       END AS qini_scaled
FROM cum ORDER BY decile
""",
    category="relational",
)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI UPLIFT CURVE by score decile — the uplift-model
    evaluation standard (Radcliffe): order the population by model
    score (here the price score, BUILDING membership as the
    'treatment' — the same derived task as the epidemiology 2×2),
    then at each cumulative decile publish Qini(k) = Y_t(k) −
    Y_c(k)·N_t(k)/N_c(k) — incremental positives versus a
    control-scaled counterfactual. The only division is ONE
    non-negative HUGEINT ⟷ decimal(38,0) floor per decile; ntile
    runs on a deterministic (score, treated, key) total order so
    decile boundaries are reproducible. Complements
    decile_lift_table_returns (lift without a control arm) and
    diff_in_diff (two-period, no ranking). Scale: one fact rollup,
    two dim joins, one rank window + bounded decile rollup."""
    lab = _lab(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # global decile WITHOUT a single-task ntile window: grank's
    # binned 2-pass global rank + the exact ntile_from_rank closed
    # form (the order is made TOTAL by the okey tiebreak — an
    # ntile over a non-total order is nondeterministic)
    from spark_lever_spark.operators.grank import (
        ntile_from_rank,
        with_global_rank,
    )

    expo = (
        lab.join(o, "o_orderkey")
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .select(
            "score",
            "pos",
            F.col("o_orderkey").alias("okey"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("treated"),
        )
    )
    ranked = with_global_rank(
        expo, -F.col("score"), ["treated", "pos", "okey"]
    )
    rk = ranked.select(
        "pos",
        "treated",
        ntile_from_rank(
            F.col("_rk"), F.col("_n_tot"), 10
        ).alias("decile"),
    )
    byd = rk.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.sum(
            F.when(F.col("treated") == 1, F.col("pos")).otherwise(0)
        ).alias("yt"),
        F.sum("treated").alias("nt"),
        F.sum(
            F.when(F.col("treated") == 0, F.col("pos")).otherwise(0)
        ).alias("yc"),
        F.sum(1 - F.col("treated")).alias("nc"),
    )
    w = Window.orderBy("decile")
    cum = byd.select(
        "decile",
        F.sum("yt").over(w).alias("cyt"),
        F.sum("nt").over(w).alias("cnt_t"),
        F.sum("yc").over(w).alias("cyc"),
        F.sum("nc").over(w).alias("cnc"),
    )
    return cum.selectExpr(
        "decile",
        "cyt AS cum_treated_pos",
        "cnt_t AS cum_treated",
        "cyc AS cum_control_pos",
        "cnc AS cum_control",
        "CASE WHEN cnc > 0 THEN CAST(cyt AS BIGINT)"
        f" - CAST(CAST(cyc AS {_DEC}) * cnt_t div cnc AS BIGINT)"
        " END AS qini_scaled",
    ).orderBy("decile")


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
    category="temporal",
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
    category="events",
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
# Dunn post-hoc pairwise rank test + monthly pivot points
# ---------------------------------------------------------------------------

_DUNN_Z = (
    "CASE WHEN (CAST(nn AS DOUBLE) * (nn + 1) * (nn - 1) - tt) > 0"
    " THEN CAST(floor(CAST(num AS DOUBLE) * 1000"
    " / (2 * sqrt((CAST(nn AS DOUBLE) * (nn + 1) * (nn - 1) - tt)"
    " * CAST(ni AS DOUBLE) * nj * (ni + nj)"
    " / (12.0 * (nn - 1))))) AS BIGINT) END"
)


@register(
    "dunn_posthoc_priorities",
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
),
pts AS (
  SELECT x, priority, CAST(count(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2
),
tv AS (
  SELECT x, CAST(SUM(c) AS BIGINT) AS t FROM pts GROUP BY 1
),
cum AS (
  SELECT x, t,
         CAST(SUM(t) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - t
              AS BIGINT) AS before_all
  FROM tv
),
grp AS (
  SELECT p.priority, CAST(SUM(p.c) AS BIGINT) AS n_g,
         CAST(SUM(CAST(p.c AS HUGEINT)
                  * (2 * cum.before_all + cum.t + 1)) AS HUGEINT)
             AS s2r
  FROM pts p JOIN cum ON cum.x = p.x GROUP BY 1
),
g AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS nn FROM grp
),
ties AS (
  SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tt
  FROM tv
),
pairs AS (
  SELECT a.priority AS pri_a, b.priority AS pri_b,
         a.n_g AS ni, b.n_g AS nj,
         CAST(a.s2r * b.n_g - b.s2r * a.n_g AS HUGEINT) AS num,
         g.nn, CAST(ties.tt AS DOUBLE) AS tt
  FROM grp a JOIN grp b ON b.priority > a.priority, g, ties
)
SELECT pri_a, pri_b, ni, nj,
       CAST(FLOOR(CAST(num AS DOUBLE)
            / CAST(2 * CAST(ni AS HUGEINT) * nj AS DOUBLE)) AS BIGINT)
           AS mean_rank_diff_x1,
       """ + _DUNN_Z + """ AS dunn_z_milli
FROM pairs ORDER BY pri_a, pri_b
""",
    category="relational",
)
def dunn_posthoc_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DUNN'S POST-HOC TEST after Kruskal-Wallis — WHICH priority
    pairs differ (KW only says "some do"): pairwise z = (R̄ᵢ−R̄ⱼ)/
    √(V·(1/nᵢ+1/nⱼ)) with the tie-corrected rank variance V =
    (n(n+1) − Σ(t³−t)/(n−1))/12, on the kruskal_wallis_priorities
    machinery (doubled midranks 2·before+t+1 — integers ALWAYS; the
    value-domain rollup, never a row-level rank). The rank-mean
    difference cross-multiplies to the exact HUGEINT ⟷
    decimal(38,0) numerator S2ᵢnⱼ − S2ⱼnᵢ; z is ONE shared double
    tree (sqrt of exact products), milli-floored; the signed
    mean-rank gap also publishes exactly (⌊num/2nᵢnⱼ⌋ — num is signed, and
    DuckDB's HUGEINT // TRUNCATES on negatives while FLOOR(double)
    floors, so BOTH engines publish via the identical FLOOR-on-
    double text — operands ≪ 2⁵³, conversion exact). All 10 pairs.
    Scale: value-domain rollups (cent-price domain), a 5-row
    self-join."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    pts = v.groupBy("x", "priority").agg(F.count("*").alias("c"))
    tv = pts.groupBy("x").agg(F.sum("c").alias("t"))
    wc = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tv.select(
        "x",
        "t",
        (F.sum("t").over(wc) - F.col("t")).alias("before_all"),
    )
    grp = (
        pts.join(cum, "x")
        .groupBy("priority")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(
                F.col("c").cast(_DEC)
                * (2 * F.col("before_all") + F.col("t") + 1)
            ).alias("s2r"),
        )
    )
    g = grp.agg(F.sum("n_g").alias("nn"))
    ties = tv.agg(
        F.sum(
            F.col("t").cast(_DEC) * F.col("t") * F.col("t")
            - F.col("t")
        ).alias("tt")
    )
    a = grp.selectExpr(
        "priority AS pri_a", "n_g AS ni", "s2r AS s2a"
    )
    b = grp.selectExpr(
        "priority AS pri_b", "n_g AS nj", "s2r AS s2b"
    )
    pairs = (
        a.join(b, F.col("pri_b") > F.col("pri_a"))
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "pri_a",
            "pri_b",
            "ni",
            "nj",
            f"CAST(s2a * nj - s2b * ni AS {_DEC}) AS num",
            "nn",
            "CAST(tt AS DOUBLE) AS tt",
        )
    )
    return pairs.selectExpr(
        "pri_a",
        "pri_b",
        "ni",
        "nj",
        "CAST(FLOOR(CAST(num AS DOUBLE)"
        f" / CAST(2 * CAST(ni AS {_DEC}) * nj AS DOUBLE)) AS BIGINT)"
        " AS mean_rank_diff_x1",
        _DUNN_Z + " AS dunn_z_milli",
    ).orderBy("pri_a", "pri_b")


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
    category="temporal",
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
    category="temporal",
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
            (F.col("v") - F.col("pred")).cast(_DEC)
            * (F.col("v") - F.col("pred"))
        ).alias("se"),
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("sa"),
        F.sum(F.col("pred").cast(_DEC) * F.col("pred")).alias("sp"),
    )
    return m.selectExpr("n", _THEIL_U + " AS theil_u1_ppm")


_TS_SEL = _ss_div("cfe * cnt", "sae", 1000)


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
       CASE WHEN sae > 0 THEN """ + _duck(_TS_SEL) + """
       END AS tracking_signal_milli
FROM run ORDER BY x
""",
    category="temporal",
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
        "CASE WHEN sae > 0 THEN " + _spark(_TS_SEL)
        + " END AS tracking_signal_milli",
    ).orderBy("x")


# ---------------------------------------------------------------------------
# Causal diagnostics: covariate balance + E-value
# ---------------------------------------------------------------------------

_SMD_SEL = (
    "CASE WHEN nt > 1 AND nc > 1 AND"
    " (CAST(qt AS DOUBLE) * nt - CAST(st AS DOUBLE) * st)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1))"
    " + (CAST(qc AS DOUBLE) * nc - CAST(sc AS DOUBLE) * sc)"
    " / (CAST(nc AS DOUBLE) * nc * (nc - 1)) > 0"
    " THEN CAST(floor((CAST(st AS DOUBLE) / nt"
    " - CAST(sc AS DOUBLE) / nc) * 1000"
    " / sqrt(((CAST(qt AS DOUBLE) * nt - CAST(st AS DOUBLE) * st)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1))"
    " + (CAST(qc AS DOUBLE) * nc - CAST(sc AS DOUBLE) * sc)"
    " / (CAST(nc AS DOUBLE) * nc * (nc - 1))) / 2)) AS BIGINT) END"
)


@register(
    "smd_covariate_balance_building",
    oracle="""
WITH base AS (
  SELECT CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             AS treated,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS price,
         CAST(EXTRACT(month FROM CAST(o.o_orderdate AS DATE))
              AS BIGINT) AS mth,
         CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT)
             AS prio_proxy
  FROM orders o JOIN customer cu ON cu.c_custkey = o.o_custkey
),
long AS (
  SELECT treated, 'price_cents' AS covariate, price AS val FROM base
  UNION ALL
  SELECT treated, 'order_month', mth FROM base
  UNION ALL
  SELECT treated, 'priority_proxy', prio_proxy FROM base
),
m AS (
  SELECT covariate,
         CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS nt,
         CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS nc,
         CAST(SUM(CASE WHEN treated = 1 THEN val ELSE 0 END)
              AS BIGINT) AS st,
         CAST(SUM(CASE WHEN treated = 0 THEN val ELSE 0 END)
              AS BIGINT) AS sc,
         CAST(SUM(CASE WHEN treated = 1
                  THEN CAST(val AS HUGEINT) * val ELSE 0 END)
              AS HUGEINT) AS qt,
         CAST(SUM(CASE WHEN treated = 0
                  THEN CAST(val AS HUGEINT) * val ELSE 0 END)
              AS HUGEINT) AS qc
  FROM long GROUP BY 1
)
SELECT covariate, nt AS n_treated, nc AS n_control,
       """ + _SMD_SEL + """ AS smd_milli
FROM m ORDER BY covariate
""",
    category="relational",
)
def smd_covariate_balance_building(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STANDARDIZED MEAN DIFFERENCE covariate-balance table for the
    BUILDING 'treatment' — the table every observational study
    prints FIRST (|SMD| < 0.1 ⇒ covariate balanced; the
    prerequisite the odds-ratio / Qini queries implicitly assume):
    SMD = (x̄_t − x̄_c)/√((s²_t + s²_c)/2) per covariate (order
    price, order month, the numeric priority code), long-format. All moments
    are exact int64/HUGEINT per arm; the SMD is one fixed double
    tree (sample variances via the n·Q−S² collapse over n²(n−1) —
    identical text both engines), milli-floored, degenerate arms
    CASE-NULL. Scale: one dim join, one 3-covariate long rollup."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("treated"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price"),
        F.month(F.to_date("o_orderdate")).cast("long").alias("mth"),
        F.substring("o_orderpriority", 1, 1)
        .cast("long")
        .alias("prio_proxy"),
    )
    long = (
        base.selectExpr(
            "treated", "'price_cents' AS covariate", "price AS val"
        )
        .unionByName(
            base.selectExpr(
                "treated", "'order_month' AS covariate", "mth AS val"
            )
        )
        .unionByName(
            base.selectExpr(
                "treated",
                "'priority_proxy' AS covariate",
                "prio_proxy AS val",
            )
        )
    )
    m = long.groupBy("covariate").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias(
            "nt"
        ),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias(
            "nc"
        ),
        F.sum(
            F.when(F.col("treated") == 1, F.col("val")).otherwise(0)
        ).alias("st"),
        F.sum(
            F.when(F.col("treated") == 0, F.col("val")).otherwise(0)
        ).alias("sc"),
        F.sum(
            F.when(
                F.col("treated") == 1,
                F.col("val").cast(_DEC) * F.col("val"),
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("qt"),
        F.sum(
            F.when(
                F.col("treated") == 0,
                F.col("val").cast(_DEC) * F.col("val"),
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("qc"),
    )
    return m.selectExpr(
        "covariate",
        "nt AS n_treated",
        "nc AS n_control",
        _SMD_SEL + " AS smd_milli",
    ).orderBy("covariate")


_EVALUE_SEL = (
    "CASE WHEN rr_ppm >= 1000000"
    " THEN CAST(floor(CAST(rr_ppm AS DOUBLE) / 1000"
    " + sqrt(CAST(rr_ppm AS DOUBLE) / 1000000"
    " * (CAST(rr_ppm AS DOUBLE) / 1000000 - 1)) * 1000) AS BIGINT)"
    " ELSE CAST(floor(1000000000.0 / rr_ppm"
    " + sqrt(1000000.0 / rr_ppm"
    " * (1000000.0 / rr_ppm - 1)) * 1000) AS BIGINT) END"
)


@register(
    "evalue_building_returns",
    oracle="""
WITH
""" + _LAB_CTE + """,
expo AS (
  SELECT lab.pos,
         CASE WHEN cu.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             AS exposed
  FROM lab
  JOIN orders o ON o.o_orderkey = lab.o_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
),
conf AS (
  SELECT
    CAST(SUM(CASE WHEN exposed = 1 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(SUM(CASE WHEN exposed = 1 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS b,
    CAST(SUM(CASE WHEN exposed = 0 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS c,
    CAST(SUM(CASE WHEN exposed = 0 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS d
  FROM expo
),
rr AS (
  SELECT a, b, c, d,
         CAST(CAST(a AS HUGEINT) * (c + d) * 1000000
              // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT) AS rr_ppm
  FROM conf WHERE c > 0 AND a + b > 0
)
SELECT a, b, c, d, rr_ppm,
       """ + _EVALUE_SEL + """ AS evalue_milli
FROM rr
""",
    category="relational",
)
def evalue_building_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VANDERWEELE E-VALUE for the BUILDING→return risk ratio — the
    sensitivity-analysis headline of modern epidemiology: the
    minimum strength of unmeasured confounding (on the risk-ratio
    scale, with both treatment and outcome) that could explain away
    the observed association, E = RR* + √(RR*(RR*−1)) with RR* the
    risk ratio oriented above 1 (the reciprocal convention for
    protective effects, encoded in the CASE). RR comes exact from
    the same 2×2 as odds_risk_ratio_building_returns (ppm
    floor-division); the E-value is one fixed double tree on the
    published rr_ppm grid (the grid is the contract), milli-
    floored. An E-value near 1 says the smd-unbalanced covariates
    could easily explain the effect — the three causal queries
    (balance → effect → robustness) read as a pipeline. Scale: one
    fact rollup + dim joins, 1-row algebra."""
    lab = _lab(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    expo = (
        lab.join(o, "o_orderkey")
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .select(
            "pos",
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("exposed"),
        )
    )
    conf = expo.agg(
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("d"),
    )
    rr = conf.filter("c > 0 AND a + b > 0").selectExpr(
        "a",
        "b",
        "c",
        "d",
        f"CAST(CAST(a AS {_DEC}) * (c + d) * 1000000"
        f" div (CAST(c AS {_DEC}) * (a + b)) AS BIGINT) AS rr_ppm",
    )
    return rr.selectExpr(
        "a", "b", "c", "d", "rr_ppm", _EVALUE_SEL + " AS evalue_milli"
    )


# ---------------------------------------------------------------------------
# Double-sweep diameter lower bound
# ---------------------------------------------------------------------------

_SWEEP_SQL = """
walk{tag}(v, hop) AS (
  SELECT {seed}, 0
  UNION
  SELECT s.pb, w.hop + 1
  FROM walk{tag} w JOIN sym s ON s.pa = w.v
  WHERE w.hop < 4
),
dist{tag} AS (
  SELECT v, CAST(min(hop) AS BIGINT) AS hop FROM walk{tag} GROUP BY v
),
far{tag} AS (
  SELECT v, hop FROM dist{tag}
  ORDER BY hop DESC, v LIMIT 1
)"""


@register(
    "diameter_double_sweep_copurchase",
    oracle="""
WITH RECURSIVE
""" + _COPURCHASE_CTE.replace(
        "pairs AS (", "pairs AS MATERIALIZED ("
    ) + """,
sym AS MATERIALIZED (
  SELECT pa, pb FROM pairs UNION ALL SELECT pb, pa FROM pairs
),
""" + _SWEEP_SQL.format(tag="1", seed="(SELECT min(pa) FROM sym)")
    + ","
    + _SWEEP_SQL.format(tag="2", seed="(SELECT v FROM far1)") + """
SELECT (SELECT min(pa) FROM sym) AS start_vertex,
       (SELECT v FROM far1) AS turn_vertex,
       (SELECT hop FROM far1) AS first_sweep_dist,
       (SELECT v FROM far2) AS far_vertex,
       (SELECT hop FROM far2) AS diameter_lower_bound,
       (SELECT CAST(count(*) AS BIGINT) FROM dist2) AS n_reached
""",
    category="llm_graph",
)
def diameter_double_sweep_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOUBLE-SWEEP DIAMETER LOWER BOUND of the co-purchase graph —
    the classic 2-BFS heuristic (Magnien/Latapy/Habib: BFS from an
    arbitrary vertex, re-BFS from the farthest found; the second
    eccentricity is a lower bound that is EXACT on trees and
    near-tight in practice — how 'how wide is the catalog graph'
    gets answered without all-pairs work): both sweeps are the
    bfs_hops_copurchase frontier-relaxation (hop budget 4, a query
    constant; each round ONE frontier-adjacency equi-join with the
    visited-set anti-join, per-round persist — the iterative-
    algorithm caching doctrine), the turn vertex picked by the
    deterministic (hop DESC, vertex) order. Scale: 2 × 4 bounded
    rounds of Σdeg-work joins."""
    pairs = _copurchase_pairs(spark, sf_dir).persist()
    sym = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(
        pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    ).persist()

    def sweep(seed_df):
        # seed_df: single row (v) — frontier relaxation, 4 bounded
        # rounds (the bfs_hops budget), built LAZILY: no per-round
        # driver action — one collect at the end materializes the
        # whole sweep (per-round isEmpty/count actions measured ~3s
        # of job overhead each on a graph this small)
        dist = seed_df.select(
            F.col("v"), F.lit(0).cast("long").alias("hop")
        ).localCheckpoint()
        frontier = dist
        for hop in range(1, 5):
            fr = frontier.select(F.col("v").alias("fv"))
            visited = dist.select(F.col("v").alias("dv"))
            sy = sym.alias("sy")
            nxt = frontier = (
                fr.join(sy, F.col("fv") == F.col("sy.u"))
                .select(F.col("sy.v").alias("nv"))
                .distinct()
                .join(
                    visited, F.col("nv") == F.col("dv"), "left_anti"
                )
                .select(
                    F.col("nv").alias("v"),
                    F.lit(hop).cast("long").alias("hop"),
                )
            )
            # localCheckpoint truncates the per-round lineage: the
            # lazy 4-round DAG otherwise compounds to ~200 stages of
            # shuffle bookkeeping on a graph this small
            dist = dist.unionByName(nxt).localCheckpoint(eager=False)
        far_rows = (
            dist.orderBy(F.desc("hop"), "v").limit(1).collect()
        )
        n_reached = dist.count()
        return far_rows[0], n_reached

    start = sym.agg(F.min("u").alias("v"))
    far1, _ = sweep(start)
    far2, n2 = sweep(
        sym.sparkSession.createDataFrame([(far1["v"],)], "v bigint")
    )
    start_v = start.collect()[0]["v"]
    pairs.unpersist()
    sym.unpersist()
    return spark.createDataFrame(
        [
            (
                int(start_v),
                int(far1["v"]),
                int(far1["hop"]),
                int(far2["v"]),
                int(far2["hop"]),
                int(n2),
            )
        ],
        "start_vertex bigint, turn_vertex bigint,"
        " first_sweep_dist bigint, far_vertex bigint,"
        " diameter_lower_bound bigint, n_reached bigint",
    )


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
    category="events",
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
        F.sum(F.col("c").cast(_DEC) * (F.col("c") - 1)).alias("rep2"),
    )
    per_state = st.selectExpr(
        "from_type",
        "n_s",
        "c_max",
        "CAST(c_max * 1000000 div n_s AS BIGINT) AS greedy_acc_ppm",
        "CASE WHEN n_s > 1 THEN CAST(rep2 * 1000000"
        f" div (CAST(n_s AS {_DEC}) * (n_s - 1)) AS BIGINT)"
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
            f" div (CAST(n_s AS {_DEC}) * (n_s - 1)) * n_s)"
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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
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
                    f"CAST(((CAST(n AS {_DEC}) * s_g"
                    f" - CAST(n_g AS {_DEC}) * s)"
                    f" * (CAST(n AS {_DEC}) * s_g"
                    f" - CAST(n_g AS {_DEC}) * s)"
                    f" - (CAST(n AS {_DEC}) * s_g"
                    f" - CAST(n_g AS {_DEC}) * s)"
                    f" * (CAST(n AS {_DEC}) * s_g"
                    f" - CAST(n_g AS {_DEC}) * s) % n_g) / n_g"
                    f" AS {_DEC})"
                )
            ).alias("b_terms"),
        )
    )
    return (
        ssb.join(tot, "seasonality")
        .selectExpr(
            "seasonality",
            "n_groups",
            f"CASE WHEN CAST(n AS {_DEC}) * q"
            f" - CAST(s AS {_DEC}) * s > 0"
            f" THEN CAST(b_terms * 1000000 div (CAST(n AS {_DEC})"
            f" * (CAST(n AS {_DEC}) * q - CAST(s AS {_DEC}) * s))"
            " AS BIGINT) END AS eta_sq_ppm",
        )
        .orderBy("seasonality")
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval recall
# ---------------------------------------------------------------------------


@register(
    "matryoshka_prefix_recall",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < 20
),
pairs AS (
  SELECT q.qid, e.vec_id AS cid,
         CAST(SUM(CAST(floor(CAST(q.qe[CAST(t.i AS INT) + 1]
                             AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                  * CAST(floor(CAST(e.embedding[CAST(t.i AS INT) + 1]
                               AS DOUBLE) * 1000 + 0.5) AS BIGINT))
              AS BIGINT) AS dot_full,
         CAST(SUM(CASE WHEN t.i < 16
                  THEN CAST(floor(CAST(q.qe[CAST(t.i AS INT) + 1]
                            AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                       * CAST(floor(CAST(e.embedding[CAST(t.i AS INT)
                                    + 1] AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS dot_16
  FROM q, embeddings e, LATERAL unnest(range(len(q.qe))) AS t(i)
  WHERE e.vec_id <> q.qid
  GROUP BY 1, 2
),
rk AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot_full DESC, cid) AS r_full,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot_16 DESC, cid) AS r_16
  FROM pairs
),
hits AS (
  SELECT a.qid, CAST(count(*) AS BIGINT) AS n_overlap
  FROM rk a JOIN rk b
    ON b.qid = a.qid AND b.cid = a.cid
  WHERE a.r_full <= 10 AND b.r_16 <= 10
  GROUP BY 1
)
SELECT q.qid AS query_id, COALESCE(h.n_overlap, 0) AS overlap_at_10,
       CAST(COALESCE(h.n_overlap, 0) * 100000 AS BIGINT)
           AS recall_ppm
FROM q LEFT JOIN hits h ON h.qid = q.qid
ORDER BY query_id
""",
    category="llm_similarity",
)
def matryoshka_prefix_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATRYOSHKA PREFIX-DIMENSION RECALL@10 — the evaluation
    behind dimension-truncated (MRL-style) retrieval: for each of
    the first 20 query vectors, rank the corpus by exact
    milli-grid dot product using ONLY the first 16 of 64
    dimensions, and report the overlap with the full-dimension
    top-10 (recall = overlap/10 in ppm). This is the measurement a
    vector-store operator runs before switching to truncated
    embeddings (¼ the memory/bandwidth — what does it cost in
    recall?); complements ann_jl_projected_topk (random projection)
    with the PREFIX projection MRL training promises.
    Exactness: components quantize to the shared milli grid
    (floor(v·1000 + 0.5)), dot products are exact int64 sums,
    ranks deterministic (dot DESC, vec_id). Scale: 20 × N exact
    scoring — the brute baseline; the IVF/LSH variants are the
    scale path (same doctrine as knn_cosine_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).selectExpr(
        "vec_id",
        "pos",
        "CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS q",
    )
    qc = comp.filter(F.col("vec_id") < 20).selectExpr(
        "vec_id AS qid", "pos AS qpos", "q AS qq"
    )
    pairs = (
        F.broadcast(qc)
        .join(
            comp.selectExpr(
                "vec_id AS cid", "pos AS cpos", "q AS cq"
            ),
            (F.col("qpos") == F.col("cpos"))
            & (F.col("cid") != F.col("qid")),
        )
        .groupBy("qid", "cid")
        .agg(
            F.sum(F.col("qq") * F.col("cq")).alias("dot_full"),
            F.sum(
                F.when(
                    F.col("qpos") < 16, F.col("qq") * F.col("cq")
                ).otherwise(0)
            ).alias("dot_16"),
        )
    )
    wq_full = Window.partitionBy("qid").orderBy(
        F.desc("dot_full"), "cid"
    )
    wq_16 = Window.partitionBy("qid").orderBy(F.desc("dot_16"), "cid")
    rk = pairs.select(
        "qid",
        "cid",
        F.row_number().over(wq_full).alias("r_full"),
        F.row_number().over(wq_16).alias("r_16"),
    )
    hits = (
        rk.filter((F.col("r_full") <= 10) & (F.col("r_16") <= 10))
        .groupBy("qid")
        .agg(F.count("*").alias("n_overlap"))
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        q.join(hits, q["query_id"] == hits["qid"], "left")
        .selectExpr(
            "query_id",
            "COALESCE(n_overlap, 0) AS overlap_at_10",
            "CAST(COALESCE(n_overlap, 0) * 100000 AS BIGINT)"
            " AS recall_ppm",
        )
        .orderBy("query_id")
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


_ADL_TERM = _ss_div("(2 * cl - lo - hi) * vol", "hi - lo", 1000000)


@register(
    "accumulation_distribution_daily",
    oracle="""
WITH
""" + _EVENT_BARS_CTE + """,
clv AS (
  SELECT d, hi, lo, cl, vol,
         CASE WHEN hi > lo THEN """ + _duck(_ADL_TERM) + """
              ELSE 0 END AS mf_micro
  FROM bars
)
SELECT d, hi AS high_cents, lo AS low_cents, cl AS close_cents,
       vol AS volume, mf_micro AS money_flow_micro,
       CAST(SUM(mf_micro) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS adl_micro
FROM clv ORDER BY d
""",
    category="events",
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
        "CASE WHEN hi > lo THEN " + _spark(_ADL_TERM)
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


_FI_SEL = _ss_div("s13", "13", 1)


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
       """ + _duck(_FI_SEL) + """ AS force_index_sma13
FROM win WHERE cnt = 13 ORDER BY d
""",
    category="events",
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
            _spark(_FI_SEL) + " AS force_index_sma13",
        )
        .orderBy("d")
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
    category="temporal",
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
    category="temporal",
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
        F.sum(F.col("v").cast(_DEC) * F.col("v")).alias("q"),
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
        F.expr(f"CAST(n * q - CAST(s AS {_DEC}) * s AS {_DEC})").alias(
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
