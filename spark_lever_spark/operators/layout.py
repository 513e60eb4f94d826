"""Z-order data layout: multi-dimensional clustering for file pruning.

At 100 TB a table sorted on one column prunes scans on that column
only; interleaving the bits of two (or more) dimension columns into a
single Z-value and range-partitioning + sorting on it gives every
interleaved dimension locality, so parquet min/max stats prune on ANY
of them (the technique behind Delta/Iceberg Z-ORDER clustering —
public Morton-order layout, not present in the reference, whose only
layout control was partitioner choice).

The Z-value is pure integer bit arithmetic, generated once as a SQL
expression string and used verbatim by both the Spark plan and the
DuckDB oracle — zero cross-dialect drift by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


def zorder_expr(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """SQL expression interleaving the low ``bits`` of two integer
    expressions (Morton order). Operands are masked and cast to BIGINT
    so shifts up to 2*bits-1 never overflow 32-bit ints."""
    mask = (1 << bits) - 1
    x = f"(CAST({x_expr} AS BIGINT) & {mask})"
    y = f"(CAST({y_expr} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_Z_EVENTS = zorder_expr("user_id", "dayofyear(ts)", bits=16)


@register(
    "layout_zorder_events",
    oracle=f"""
SELECT event_id, {_Z_EVENTS} AS zval
FROM events
ORDER BY event_id
""",
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton Z-value per event over (user_id, day-of-year) — the
    key a Z-ordered write range-partitions and sorts by. Identical expression
    text runs on both engines (dayofyear exists in Spark SQL and DuckDB
    with identical semantics under the pinned UTC session)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.expr(_Z_EVENTS).alias("zval")
    ).orderBy("event_id")


@register(
    "partition_stats_prune_report",
    oracle="""
WITH part AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_cents,
         CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_cents,
         CAST(sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_matching
  FROM orders GROUP BY 1
)
SELECT month, n_rows, min_cents, max_cents,
       CAST(max_cents <= 40000000 AS BOOLEAN) AS can_prune,
       n_matching
FROM part ORDER BY month
""",
)
def partition_stats_prune_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DATA-SKIPPING EFFECTIVENESS report — the min/max zone-map
    arithmetic behind parquet row-group pruning and Iceberg/Delta
    file skipping, surfaced as an operator: per monthly partition of
    orders, the column stats a manifest would store (row count,
    min/max in exact cents) and the pruning verdict for the predicate
    ``o_totalprice > 400000`` (skip iff partition max <= threshold).
    ``n_matching`` rides along as the SOUNDNESS witness: every
    partition the stats prune must show 0 matching rows — the
    invariant that makes stats-based skipping safe (asserted in
    tests/test_layout.py). This is the same decision Spark's own
    parquet PushedFilters row-group skipping makes (pinned by
    test_scan_project_filter_pushdown); here the math is explicit and
    auditable at the table's partition grain. One aggregation; stats
    are 84 rows regardless of table size."""
    orders = load_table(spark, sf_dir, "orders")
    threshold_cents = 40000000
    part = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min(F.round(F.col("o_totalprice") * 100)).cast("long").alias(
            "min_cents"
        ),
        F.max(F.round(F.col("o_totalprice") * 100)).cast("long").alias(
            "max_cents"
        ),
        F.sum(
            F.when(F.col("o_totalprice") > 400000, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_matching"),
    )
    return part.select(
        "month",
        "n_rows",
        "min_cents",
        "max_cents",
        (F.col("max_cents") <= threshold_cents).alias("can_prune"),
        "n_matching",
    ).orderBy("month")


def hilbert_step_exprs(s: int) -> tuple[str, str, str]:
    """One xy2d iteration of the Hilbert curve (the Wikipedia
    iterative form) as three SQL expressions over input columns
    (x, y, d) — the SAME strings run in the DuckDB oracle's CTE chain
    and in Spark's selectExpr chain, so the bit-twiddling cannot
    diverge. Quadrant code (3·rx) XOR ry is spelled as a CASE (no
    XOR-operator dialect differences); the ry=0 rotation flips by
    s−1 when rx=1 and swaps x/y."""
    rx = f"(x & {s}) > 0"
    ry = f"(y & {s}) > 0"
    x_new = (
        f"CASE WHEN {ry} THEN x"
        f" WHEN {rx} THEN {s} - 1 - y ELSE y END AS x"
    )
    y_new = (
        f"CASE WHEN {ry} THEN y"
        f" WHEN {rx} THEN {s} - 1 - x ELSE x END AS y"
    )
    d_new = (
        f"d + {s * s} * (CASE WHEN ({rx}) AND ({ry}) THEN 2"
        f" WHEN {rx} THEN 3 WHEN {ry} THEN 1 ELSE 0 END) AS d"
    )
    return x_new, y_new, d_new


def _hilbert_oracle() -> str:
    ctes = [
        "h0 AS (SELECT event_id,"
        " CAST(user_id & 255 AS BIGINT) AS x,"
        " CAST(dayofyear(ts) & 255 AS BIGINT) AS y,"
        " CAST(0 AS BIGINT) AS d FROM events)"
    ]
    for i, s in enumerate([128, 64, 32, 16, 8, 4, 2, 1], start=1):
        xe, ye, de = hilbert_step_exprs(s)
        ctes.append(
            f"h{i} AS (SELECT event_id, {xe}, {ye}, {de} FROM h{i - 1})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT event_id, d AS hval FROM h8 ORDER BY event_id"
    )


@register(
    "layout_hilbert_events",
    oracle=_hilbert_oracle(),
)
def layout_hilbert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE clustering value per event over (user_id,
    day-of-year) on a 256×256 grid — the locality upgrade over
    layout_zorder_events' Morton value: Z-order has quadrant seams
    where consecutive keys jump across the space, while every
    consecutive pair of Hilbert values is ADJACENT in (x, y)
    (|Δx|+|Δy| = 1, pinned by the reference test), which is why
    Delta/Iceberg added Hilbert layout for multi-dimensional file
    skipping — min/max ranges per file are tighter when the curve
    never teleports. The 8 bit-plane iterations (rotate + reflect +
    quadrant offset) run as a chained selectExpr whose per-step
    expressions are the IDENTICAL strings the DuckDB oracle's CTE
    chain executes — single-sourced via hilbert_step_exprs, the
    zorder_expr doctrine. Scale: a map-only projection (no shuffle,
    no UDF — pure integer CASE arithmetic in whole-stage codegen);
    writers sort by hval exactly as a Z-ordered write sorts by zval."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.selectExpr(
        "event_id",
        "CAST(user_id & 255 AS BIGINT) AS x",
        "CAST(dayofyear(ts) & 255 AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    for s in [128, 64, 32, 16, 8, 4, 2, 1]:
        xe, ye, de = hilbert_step_exprs(s)
        df = df.selectExpr("event_id", xe, ye, de)
    return df.selectExpr("event_id", "d AS hval").orderBy("event_id")
