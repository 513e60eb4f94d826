"""UDF / UDAF surface (SURVEY.md §2.H).

Reference parity map:
- Python UDF w/ batched pickle execution (reference
  sql/core/.../execution/pythonUdfs.scala + python/pyspark/sql/
  functions.py) -> `F.udf` (kept for SQL-registration parity; it is
  the SLOW path — row-at-a-time pickle)
- the modern replacement: `F.pandas_udf` (Arrow-vectorized; ~10-100x
  the row UDF; the engine's default for anything not expressible in
  built-ins)
- UDAF (reference: Hive UDAFs only, hiveUdfs.scala) ->
  `groupBy().applyInPandas` grouped aggregation
- registration for SQL (reference UDFRegistration.scala) ->
  `spark.udf.register`
- grouped-aggregate pandas UDF -> `pandas_udf` of type GROUPED_AGG,
  reducing each group to one value inside `.agg()` (exact IQR)

Every entry computes something a built-in could also compute so the
DuckDB oracle can verify the UDF machinery itself (serialization,
batching, null handling) — in production code you would of course use
the built-in.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register


@F.pandas_udf(StringType())
def _norm_text(s: pd.Series) -> pd.Series:
    """Vectorized text normalization: lowercase + collapse runs of
    whitespace (the first stage of every dedup pipeline)."""
    return s.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()


@register(
    "pandas_udf_text_norm",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
""",
)
def pandas_udf_text_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (the engine's standard escape
    hatch): one Arrow batch per partition chunk crosses the JVM<->Python
    boundary, never a row at a time."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select("doc_id", _norm_text(F.col("text")).alias("norm_text")).orderBy(
        "doc_id"
    )


@register(
    "grouped_pandas_median",
    oracle="""
SELECT event_type, median(value) AS med_value, COUNT(*) AS cnt
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def grouped_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF via applyInPandas (reference had no native UDAF surface —
    SURVEY.md §2.H): per-group pandas computation. Each group must fit
    one executor's memory — fine for bounded key domains; for heavy
    keys pre-aggregate or use a sketch instead."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def median_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "med_value": [float(pdf["value"].median())],
                "cnt": [len(pdf)],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInPandas(median_fn, "event_type string, med_value double, cnt long")
        .orderBy("event_type")
    )


@register(
    "sql_registered_udf",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events WHERE event_type IN ('click', 'view')
GROUP BY event_type ORDER BY event_type
""",
)
def sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.udf.register + use from SQL (reference
    UDFRegistration.scala / callUDF): a row-at-a-time Python UDF kept
    deliberately tiny and pre-filtered — the pattern when a legacy UDF
    must run; everything around it stays JVM-side.

    Rounding is half-AWAY-FROM-ZERO to match SQL round() in both Spark
    and DuckDB — Python's round() is banker's and diverges on exact
    .5-cent values."""
    import math

    def to_cents(v: float | None) -> int | None:
        if v is None:
            return None
        x = v * 100
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    spark.udf.register("to_cents", to_cents, "long")
    return spark.sql(
        """
        SELECT event_type, SUM(to_cents(value)) AS value_cents
        FROM {events} WHERE event_type IN ('click', 'view')
        GROUP BY event_type ORDER BY event_type
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@register(
    "udtf_word_offsets",
    oracle="""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id < 20
),
w AS (
  SELECT doc_id, ws[pos] AS word, CAST(pos AS BIGINT) AS pos
  FROM s, LATERAL unnest(generate_series(1, len(ws))) AS t(pos)
)
SELECT doc_id, pos, word,
       CAST(COALESCE(SUM(length(word) + 1) OVER (
         PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start_off
FROM w
ORDER BY doc_id, pos
""",
)
def udtf_word_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4 table function) used via SQL LATERAL:
    one input row fans out to many output rows with per-row state
    carried across yields (the running character offset) — the piece
    posexplode cannot produce in one step. Like the row UDF above, this
    exists to exercise the UDTF registration + lateral-join surface and
    stays off hot paths (a built-in posexplode + window computes the
    same thing, as the oracle demonstrates); it runs pre-filtered on a
    bounded input."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, word: string, start_off: bigint")
    class WordOffsets:
        def eval(self, text: str):  # noqa: D102 — contract fixed by Spark
            if text is None:
                # Match the oracle: string_split(NULL) yields no rows
                # (generate_series(1, NULL) is empty), not one '' row.
                return
            off = 0
            for pos, w in enumerate(text.split(" "), start=1):
                yield (pos, w, off)
                off += len(w) + 1

    spark.udtf.register("word_offsets", WordOffsets)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word, t.start_off
        FROM {docs} d, LATERAL word_offsets(d.text) t
        ORDER BY d.doc_id, t.pos
        """,
        docs=docs,
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
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "cents"
        ),
        "o_orderkey",
    )

    # series-to-scalar type hints make these GROUPED_AGG pandas UDFs
    @F.pandas_udf("long")
    def q1_udaf(cents: pd.Series, key: pd.Series) -> int:
        order = sorted(zip(cents.tolist(), key.tolist()))
        n = len(order)
        return int(order[(n + 3) // 4 - 1][0])

    @F.pandas_udf("long")
    def q3_udaf(cents: pd.Series, key: pd.Series) -> int:
        order = sorted(zip(cents.tolist(), key.tolist()))
        n = len(order)
        return int(order[(3 * n + 3) // 4 - 1][0])

    # GROUPED_AGG UDFs cannot mix with built-in aggregates in one
    # .agg() — the count rides a third pandas UDAF
    @F.pandas_udf("long")
    def n_udaf(cents: pd.Series) -> int:
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
