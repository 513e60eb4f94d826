"""Scalar expression surface (reference §2.F expression library).

Covers the reference's catalyst expression inventory — arithmetic
(reference expressions/arithmetic.scala), predicates + CASE WHEN
(predicates.scala), null handling (nullFunctions.scala), strings
(stringOperations.scala), complex types (complexTypes.scala), Cast
(Cast.scala) — plus the modern datetime/JSON superset. All computed
JVM-side inside whole-stage codegen; no Python UDFs anywhere here.

Oracle parity pitfalls handled:
- DuckDB CAST(double AS INT) rounds, Spark truncates → oracle uses
  trunc() to match Spark semantics.
- Spark dayofweek is 1-based Sunday-first; DuckDB 0-based → +1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import checkpoint, load_table, pin
from spark_lever_spark.functions.exact import cents
from spark_lever_spark.registry import register


@register(
    "expr_string_funcs",
    oracle="""
SELECT c_custkey,
       upper(c_name)                      AS uname,
       lower(c_mktsegment)                AS lseg,
       substr(c_name, 1, 8)               AS prefix,
       CAST(length(c_name) AS INT)        AS name_len,
       c_name || ':' || c_mktsegment      AS joined,
       replace(c_name, '#', '-')          AS dashed,
       trim(lpad(c_mktsegment, 12, ' '))  AS padded_trimmed,
       reverse(c_mktsegment)              AS rev
FROM customer
ORDER BY c_custkey
""",
)
def expr_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String ops (reference stringOperations.scala: Upper:140 Lower:150
    Substring:211 + modern concat/replace/pad/reverse superset)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.upper("c_name").alias("uname"),
            F.lower("c_mktsegment").alias("lseg"),
            F.substring("c_name", 1, 8).alias("prefix"),
            F.length("c_name").alias("name_len"),
            F.concat_ws(":", "c_name", "c_mktsegment").alias("joined"),
            F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("dashed"),
            F.trim(F.lpad("c_mktsegment", 12, " ")).alias("padded_trimmed"),
            F.reverse("c_mktsegment").alias("rev"),
        )
        .orderBy("c_custkey")
    )


@register(
    "expr_like_rlike",
    oracle="""
SELECT p_partkey, p_name, p_type
FROM part
WHERE p_name LIKE '%gold%'
   OR regexp_matches(p_type, '^(PROMO|ECONOMY)$')
ORDER BY p_partkey
""",
)
def expr_like_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + RLIKE predicates (reference stringOperations.scala Like:98
    RLike:129; LikeSimplification rewrite Optimizer.scala:188)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_name").like("%gold%")
            | F.col("p_type").rlike("^(PROMO|ECONOMY)$")
        )
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    )


@register(
    "expr_case_null",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'rich' END AS tier,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
       CAST(c_acctbal IS NULL AS BOOLEAN) AS bal_is_null,
       CASE WHEN c_custkey % 2 = 0 THEN c_custkey ELSE NULL END AS even_or_null
FROM customer
ORDER BY c_custkey
""",
)
def expr_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / IF / null functions (reference predicates.scala
    CaseWhen:363 If:319; nullFunctions.scala Coalesce:23 IsNull:56)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, "debt")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("rich")
            .alias("tier"),
            F.coalesce(
                F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
            ).alias("seg_or_other"),
            F.col("c_acctbal").isNull().alias("bal_is_null"),
            F.when(F.col("c_custkey") % 2 == 0, F.col("c_custkey")).alias(
                "even_or_null"
            ),
        )
        .orderBy("c_custkey")
    )


@register(
    "expr_cast_matrix",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(trunc(l_extendedprice) AS BIGINT)      AS price_long,
       CAST(l_quantity AS VARCHAR)                  AS qty_str,
       CAST(l_linenumber AS DOUBLE)                 AS ln_dbl,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR)    AS ship_day,
       CAST(l_orderkey % 2 = 0 AS BOOLEAN)          AS even_key,
       CAST(CAST(l_linenumber AS VARCHAR) AS INT)   AS roundtrip_int
FROM lineitem
WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber
""",
)
def expr_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix (reference Cast.scala full coercion table).

    Spark double→integral truncates toward zero; the oracle matches
    with trunc()."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("long").alias("price_long"),
            F.col("l_quantity").cast("string").alias("qty_str"),
            F.col("l_linenumber").cast("double").alias("ln_dbl"),
            F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
            (F.col("l_orderkey") % 2 == 0).alias("even_key"),
            F.col("l_linenumber").cast("string").cast("int").alias("roundtrip_int"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "expr_math",
    oracle="""
SELECT s_suppkey,
       round(abs(s_acctbal), 2)            AS abs_bal,
       round(sqrt(abs(s_acctbal)), 4)      AS sqrt_bal,
       CAST(floor(s_acctbal) AS BIGINT)    AS floor_bal,
       CAST(ceil(s_acctbal)  AS BIGINT)    AS ceil_bal,
       round(ln(abs(s_acctbal) + 1), 4)    AS ln_bal,
       round(log10(abs(s_acctbal) + 1), 4) AS log10_bal,
       round(pow(s_suppkey, 2), 1)         AS key_sq,
       s_suppkey % 3                       AS key_mod,
       CAST(sign(s_acctbal) AS DOUBLE)     AS bal_sign
FROM supplier
ORDER BY s_suppkey
""",
)
def expr_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/math (reference arithmetic.scala: Add..Remainder
    :110-233, Sqrt:47, Abs:375 + modern ln/log10/pow/sign)."""
    s = load_table(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    return (
        s.select(
            "s_suppkey",
            F.round(F.abs(bal), 2).alias("abs_bal"),
            F.round(F.sqrt(F.abs(bal)), 4).alias("sqrt_bal"),
            F.floor(bal).alias("floor_bal"),
            F.ceil(bal).alias("ceil_bal"),
            F.round(F.log(F.abs(bal) + 1), 4).alias("ln_bal"),
            F.round(F.log10(F.abs(bal) + 1), 4).alias("log10_bal"),
            F.round(F.pow("s_suppkey", F.lit(2)), 1).alias("key_sq"),
            (F.col("s_suppkey") % 3).alias("key_mod"),
            F.signum(bal).alias("bal_sign"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "expr_datetime",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)      AS yr,
       CAST(month(o_orderdate) AS INT)     AS mo,
       CAST(day(o_orderdate) AS INT)       AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
       CAST(quarter(o_orderdate) AS INT)   AS qtr,
       date_trunc('month', o_orderdate)    AS month_start,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS due_date,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT) AS days_to_y2002
FROM orders
WHERE o_orderkey <= 200
ORDER BY o_orderkey
""",
)
def expr_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime superset (the reference had ONLY date/timestamp casts —
    SURVEY.md §2.F; modern year/month/dayofweek/trunc/add/diff exposed)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.quarter("o_orderdate").alias("qtr"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.date_add(F.col("o_orderdate").cast("date"), 30)
            .cast("string")
            .alias("due_date"),
            F.datediff(
                F.lit("2002-01-01").cast("timestamp"), F.col("o_orderdate")
            ).alias("days_to_y2002"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "expr_complex_types",
    oracle="""
SELECT l_orderkey, l_linenumber,
       [l_quantity, l_discount, l_tax][1]          AS arr_first,
       CAST(len([l_quantity, l_discount, l_tax]) AS INT) AS arr_len,
       round(l_quantity + l_tax, 2)                AS struct_sum,
       round(l_discount, 2)                        AS map_val
FROM lineitem
WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber
""",
)
def expr_complex_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type construction + access (reference complexTypes.scala:
    GetItem:27 StructGetField:87 CreateArray:120; MapType dataTypes.scala:1132).

    Arrays/structs/maps are built then fields extracted back to scalars
    so the oracle compares flat values."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    arr = F.array("l_quantity", "l_discount", "l_tax")
    st = F.struct(
        F.col("l_quantity").alias("q"), F.col("l_tax").alias("t")
    )
    mp = F.create_map(F.lit("disc"), F.col("l_discount"))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.element_at(arr, 1).alias("arr_first"),
            F.size(arr).alias("arr_len"),
            F.round(st.getField("q") + st.getField("t"), 2).alias("struct_sum"),
            F.round(F.element_at(mp, F.lit("disc")), 2).alias("map_val"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "expr_explode_words",
    oracle="""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 25
""",
)
def expr_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate/explode (reference execution/Generate.scala:35, Explode
    generators.scala:98) — the classic wordcount as explode + agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(25)
    )


@register(
    "expr_posexplode",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos,
       unnest(string_split(text, ' ')) AS word
FROM documents
WHERE doc_id < 5
ORDER BY doc_id, pos
""",
)
def expr_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (reference UserDefinedGenerator analog, generators.scala:79)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
        )
        .orderBy("doc_id", "pos")
    )


@register(
    "expr_json_extract",
    oracle="""
SELECT event_id, CAST(props->>'k' AS INT) AS k_val
FROM events
WHERE event_id < 100
ORDER BY event_id
""",
)
def expr_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (modern superset of the reference's
    JSON-source schema inference, json/JsonRDD.scala)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )
        .orderBy("event_id")
    )


@register(
    "expr_variant_json",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'k' AS INT)) AS INT) AS min_k,
       CAST(MAX(CAST(props->>'k' AS INT)) AS INT) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def expr_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via Spark 4's VARIANT type:
    `parse_json` converts the JSON string to the binary variant
    encoding ONCE, then every `variant_get` path extraction reads the
    binary form directly — at 100 TB this replaces N string re-parses
    per row (what chained get_json_object does) with one. Superset of
    the reference's JSON handling (json/JsonRDD.scala infers a static
    schema up front; variant defers typing to extraction, handling
    heterogeneous rows). Oracle uses DuckDB's JSON operators on the
    same column."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "expr_xml_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderstatus AS s, o_totalprice AS p
FROM orders WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
)
def expr_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level XML functions (Spark 4 `from_xml` — completes the
    XML story next to Spark's file-level `format("xml")` source): build an
    XML fragment from row values, parse it back through the schema'd
    struct, and emit the extracted fields. The oracle computes the same
    values directly, so the hash check verifies the construct->parse->
    extract machinery is lossless (incl. double->string->double, exact
    because Spark's cast emits the shortest round-trippable decimal)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    xml = F.concat(
        F.lit("<r><s>"),
        F.col("o_orderstatus"),
        F.lit("</s><p>"),
        F.col("o_totalprice").cast("string"),
        F.lit("</p></r>"),
    )
    parsed = F.from_xml(xml, "s string, p double")
    return (
        o.select("o_orderkey", parsed.alias("x"))
        .select("o_orderkey", F.col("x.s").alias("s"), F.col("x.p").alias("p"))
        .orderBy("o_orderkey")
    )


@register(
    "expr_bitwise_in_greatest",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS band,
       o_orderkey | 15 AS bor,
       xor(o_orderkey, 129) AS bxor,
       ~o_orderkey AS bnot,
       o_orderkey << 3 AS shl,
       o_orderkey >> 2 AS shr,
       o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_hot,
       greatest(o_orderkey % 7, o_orderkey % 5, 3) AS g3,
       least(o_orderkey % 7, o_orderkey % 5, 3) AS l3
FROM orders
ORDER BY o_orderkey
""",
)
def expr_bitwise_in_greatest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and/or/xor/not/shifts (reference arithmetic.scala:
    234-297), IN-list predicate (predicates.scala In/InSet — Catalyst
    still compiles long IN lists to a hash set), and greatest/least
    (the n-ary generalization of the reference's MaxOf). Pure row-wise
    codegen, no shuffle except the presentation sort."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(15)).alias("bor"),
        k.bitwiseXOR(F.lit(129)).alias("bxor"),
        F.expr("~o_orderkey").alias("bnot"),
        F.shiftleft(k, 3).cast("long").alias("shl"),
        F.shiftright(k, 2).cast("long").alias("shr"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_hot"),
        F.greatest(k % 7, k % 5, F.lit(3)).alias("g3"),
        F.least(k % 7, k % 5, F.lit(3)).alias("l3"),
    ).orderBy("o_orderkey")


@register(
    "na_fill_drop_replace",
    oracle="""
WITH base AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END
           AS status,
         CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS tp
  FROM orders
)
SELECT status,
       COUNT(*) AS n_rows,
       COUNT(tp) AS n_after_drop,
       CAST(SUM(CAST(round(COALESCE(tp, 0.0) * 100) AS BIGINT)) AS BIGINT)
         AS sum_filled_cents
FROM base GROUP BY status ORDER BY status
""",
)
def na_fill_drop_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions parity (reference DataFrame.na in 1.3:
    fill/drop/replace): nulls are synthesized on 'P' orders, then the
    three na ops feed one rollup — count survives na.drop, the exact-
    cents sum uses na.fill(0), and na.replace rewrites the group key.
    All three are pure projections (no extra shuffle beyond the one
    group-by)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    base = o.withColumn(
        "tp",
        F.when(F.col("o_orderstatus") == "P", None).otherwise(
            F.col("o_totalprice")
        ),
    ).na.replace({"P": "PENDING"}, subset=["o_orderstatus"])
    n = base.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_rows")
    )
    dropped = (
        base.na.drop(subset=["tp"])
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("n_after_drop"))
    )
    filled = (
        base.na.fill({"tp": 0.0})
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.sum(cents(F.col("tp"))).alias("sum_filled_cents"))
    )
    return (
        n.join(dropped, "status", "left")
        .join(filled, "status", "left")
        .select(
            "status",
            "n_rows",
            F.coalesce("n_after_drop", F.lit(0)).alias("n_after_drop"),
            "sum_filled_cents",
        )
        .orderBy("status")
    )


@register(
    "unpivot_melt_orders",
    oracle="""
WITH wide AS (
  SELECT o_orderpriority,
         CAST(count(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
           AS total_price,
         round(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / count(*)) / 100 AS avg_price
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, metric, val
FROM wide
UNPIVOT (val FOR metric IN (n_orders, total_price, avg_price))
ORDER BY o_orderpriority, metric
""",
)
def unpivot_melt_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of pivot (reference has neither;
    pivot_event_type_daily covers the forward direction). Wide
    per-priority stats become long (priority, metric, value) rows —
    the Expand-based plan Spark generates is the same family as CUBE.
    Map-only after the aggregation; value columns are pre-cast to one
    type (unpivot requires it, exactly like the SQL standard)."""
    orders = load_table(spark, sf_dir, "orders")
    cents_sum = F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    wide = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        (cents_sum.cast("double") / 100).alias("total_price"),
        (F.round(cents_sum.cast("double") / F.count("*")) / 100).alias(
            "avg_price"
        ),
    )
    return wide.unpivot(
        "o_orderpriority",
        ["n_orders", "total_price", "avg_price"],
        "metric",
        "val",
    ).orderBy("o_orderpriority", "metric")


@register(
    "lateral_topk_per_customer",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, round(o_totalprice * 100) / 100 AS o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_custkey < 300
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
""",
)
def lateral_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group LIMIT — top-2 orders
    per customer written the declarative way. Spark decorrelates this
    into a ranked window join (DecorrelateInnerQuery), i.e. the same
    physical plan as window_topk_per_group — the test is that the SQL
    surface exists and plans without a per-customer re-execution.
    The reference's 1.3 parser had no LATERAL at all."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lat_v"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat_v"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lat_v c, LATERAL (
          SELECT o_orderkey, round(o_totalprice * 100) / 100 AS o_totalprice
          FROM orders_lat_v
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey < 300
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        """
    )


@register(
    "recursive_cte_dup_chains",
    oracle="""
WITH RECURSIVE base AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
grams AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(list_transform(
      range(1, greatest(len(l) - 6, 1)),
      i -> list_aggregate(l[CAST(i AS INT):CAST(i AS INT) + 7],
                          'string_agg', ' ')))), 1, 12))::BIGINT AS gh
  FROM base
),
fp AS (SELECT doc_id, min(gh) AS fp FROM grams GROUP BY doc_id),
chain AS (
  SELECT doc_id, fp,
         lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS prev_id
  FROM fp
),
edges AS (
  SELECT prev_id AS src, doc_id AS dst FROM chain WHERE prev_id IS NOT NULL
),
roots AS (
  SELECT doc_id FROM chain c
  WHERE prev_id IS NULL
    AND EXISTS (SELECT 1 FROM edges e WHERE e.src = c.doc_id)
),
closure(root_id, member_id) AS (
  SELECT doc_id, doc_id FROM roots
  UNION ALL
  SELECT c.root_id, e.dst FROM closure c JOIN edges e ON e.src = c.member_id
)
SELECT root_id, member_id FROM closure
ORDER BY root_id, member_id
""",
)
def recursive_cte_dup_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 superset — the 1.3 parser had no CTEs
    at all): walk near-dup candidate chains to their roots. Documents
    are bucketed by a 1-permutation MinHash fingerprint (minimum
    48-bit 8-gram hash — the same gram/hash family as
    text_decontaminate, so the bucketing is a real LSH blocking key),
    linked into id-ordered chains per bucket by a window, and the
    recursion re-derives every (root, member) reachability pair — the
    declarative twin of the iterative large-star/small-star closure in
    llm/graph.py. Depth is bounded by the largest bucket (single-digit
    here; the recursion budget mirrors graph.py's iteration budget).

    The edge and root sets are MATERIALIZED (persist + count) before
    the recursion: Spark re-executes the recursive step's inputs every
    iteration, so an unmaterialized edge view would re-run the full
    gram-hashing scan per level (measured 5s -> ~1s at sf0.01; at
    corpus scale it is the difference between one pass and depth
    passes over the corpus). Same discipline as llm/graph.py's
    per-round persist."""
    from pyspark.sql.window import Window

    from spark_lever_spark.llm.curation import _md5_long, _token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    fp = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id", F.explode(_token_ngrams(F.col("toks"), 8)).alias("g")
        )
        .groupBy("doc_id")
        .agg(F.min(_md5_long(F.col("g"), 12)).alias("fp"))
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    chain = fp.withColumn("prev_id", F.lag("doc_id").over(w))
    edges = pin(
        chain.filter(F.col("prev_id").isNotNull())
        .select(F.col("prev_id").alias("src"), F.col("doc_id").alias("dst"))
    )
    edges.count()  # materialize before the iterative consumer
    roots = pin(
        chain.filter(F.col("prev_id").isNull())
        .join(edges, chain.doc_id == edges.src, "left_semi")
        .select("doc_id")
    )
    roots.count()
    edges.createOrReplaceTempView("dup_edges_v")
    roots.createOrReplaceTempView("dup_roots_v")
    return checkpoint(
        spark.sql(
            """
            WITH RECURSIVE closure(root_id, member_id) AS (
              SELECT doc_id, doc_id FROM dup_roots_v
              UNION ALL
              SELECT c.root_id, e.dst FROM closure c JOIN dup_edges_v e
                ON e.src = c.member_id
            )
            SELECT root_id, member_id FROM closure
            ORDER BY root_id, member_id
            """
        )
    )


@register(
    "expr_try_arithmetic",
    oracle="""
SELECT o_orderkey,
       o_totalprice / nullif(CAST(o_orderkey % 3 AS DOUBLE), 0) AS safe_div,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE round(o_totalprice / (o_orderkey % 3) * 100) / 100 END
         AS safe_div_rounded,
       [o_orderstatus, o_orderpriority][CAST(o_orderkey % 4 + 1 AS INT)]
         AS maybe_elem
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
)
def expr_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe TRY_* expression family (superset — 1.3 had no ANSI
    mode at all): try_divide yields NULL on division by zero instead
    of erroring, try_element_at yields NULL out of range instead of
    INVALID_ARRAY_INDEX. The oracle states the same semantics with
    explicit NULL guards (nullif / bounds CASE) — the point is that
    the TRY forms keep an ANSI-mode pipeline total without wrapping
    every expression in CASE."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    idx = ((F.col("o_orderkey") % 4) + 1).cast("int")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 3).cast("double")
        ).alias("safe_div"),
        (
            F.round(
                F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3)
                * 100
            )
            / 100
        ).alias("safe_div_rounded"),
        F.try_element_at(
            F.array("o_orderstatus", "o_orderpriority"), idx
        ).alias("maybe_elem"),
    ).orderBy("o_orderkey")


@register(
    "expr_map_hof",
    oracle="""
WITH per_line AS (
  SELECT l_orderkey, l_linenumber,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS net_cents
  FROM lineitem WHERE l_orderkey < 200
  GROUP BY l_orderkey, l_linenumber
)
SELECT l_orderkey, l_linenumber, net_cents / 2 AS adj_cents
FROM per_line
WHERE net_cents > 2000000
ORDER BY l_orderkey, l_linenumber
""",
)
def expr_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type higher-order functions: build a per-order
    linenumber -> net-cents map (map_from_entries over collect_list;
    keys made unique by a per-(order, linenumber) pre-aggregation),
    map_filter to big lines, transform_values to apply an adjustment,
    explode back to rows. The oracle states the same semantics as plain
    row arithmetic — the point here is the map surface (absent in 1.3:
    complexTypes.scala had only GetItem), with row-comparable output.
    Integer-cents arithmetic end to end; map ops are JVM higher-order
    functions operating after the per-order collect."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    net_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum(net_cents).alias("net_cents")
    )
    per_order = per_line.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "net_cents"))
            )
        ).alias("m")
    )
    adjusted = per_order.select(
        "l_orderkey",
        F.transform_values(
            F.map_filter(F.col("m"), lambda k, v: v > 2000000),
            lambda k, v: v / 2,
        ).alias("m"),
    )
    return (
        adjusted.select(
            "l_orderkey", F.explode("m").alias("l_linenumber", "adj_cents")
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "expr_regexp_extract_all",
    oracle="""
SELECT event_type,
       CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
         AS n_numbers,
       CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT)
         AS sum_first_number
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def expr_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all + regexp_extract over the semi-structured
    props column (log-parsing surface; 1.3 had only LIKE/RLIKE
    predicates, no extraction). Counts every number run and sums the
    first per row — both purely JVM-side regex, aggregated to exact
    integers."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(
                F.size(F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0))
            ).alias("n_numbers"),
            F.sum(
                F.regexp_extract(F.col("props"), "[0-9]+", 0).cast("long")
            ).alias("sum_first_number"),
        )
        .orderBy("event_type")
    )


@register(
    "expr_timezone_convert",
    oracle="""
SELECT event_id,
       CAST(ts AS VARCHAR) AS utc_ts,
       CAST(timezone('America/New_York', timezone('UTC', ts)) AS VARCHAR)
         AS ny_local,
       CAST(timezone('Asia/Tokyo', timezone('UTC', ts)) AS VARCHAR)
         AS tokyo_local
FROM events WHERE event_id < 200 ORDER BY event_id
""",
)
def expr_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion surface (convert_timezone, Spark 3.4+ —
    1.3's expression library had no tz functions at all): wall-clock
    rendering of UTC event times in two IANA zones, one of which
    (America/New_York) crosses a DST transition inside the data's
    range — so the check pins that BOTH engines consult the same
    IANA rules, not just a fixed offset. Map-only."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    def local(zone: str):
        return F.convert_timezone(
            F.lit("UTC"), F.lit(zone), F.col("ts").cast("timestamp_ntz")
        ).cast("string")
    return ev.select(
        "event_id",
        F.col("ts").cast("string").alias("utc_ts"),
        local("America/New_York").alias("ny_local"),
        local("Asia/Tokyo").alias("tokyo_local"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# array/map aggregation HOF parity
# ---------------------------------------------------------------------------


@register(
    "hof_reduce_order_lines",
    oracle="""
WITH x AS (
  SELECT l_orderkey, l_linenumber,
         (CAST(round(l_extendedprice * 100) AS BIGINT)
          + CAST(l_quantity AS BIGINT) * 31 + l_linenumber) % 1000 AS x
  FROM lineitem WHERE l_orderkey % 97 = 0
),
r AS (
  SELECT l_orderkey, x,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, x) AS rn,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM x
)
SELECT a.l_orderkey,
       CAST(max(a.n) AS BIGINT) AS n_lines,
       CAST(sum(a.x * CAST(power(7, a.n - a.rn) AS BIGINT)) AS BIGINT)
           AS horner,
       CAST(sum(a.x * b.x) AS BIGINT) AS sym_dot
FROM r a
JOIN r b ON a.l_orderkey = b.l_orderkey AND b.rn = a.n + 1 - a.rn
GROUP BY a.l_orderkey ORDER BY a.l_orderkey
""",
)
def hof_reduce_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation HOF chain — ``aggregate`` (SQL ``reduce``),
    ``transform``, ``zip_with``, ``reverse`` composed over a
    per-order collected array: an order-DEPENDENT Horner fold
    (acc*31 + x, closed form sum x_i * 31^(n-i)) and a symmetric dot
    product (zip_with the array against its reverse). The fold order
    comes from array_sort on (linenumber, x) structs — linenumber alone
    is NOT unique in this corpus, so x joins the sort key in both
    engines (the one rule that makes collect_list + HOF
    oracle-checkable: a total, engine-independent element order). The
    oracle has no list HOFs: it replays both folds via their
    window-rank closed forms, so a hash match proves the Spark HOF
    semantics, not just a shared implementation. All arithmetic int64
    with x < 1000 and n <= 13 here -> max |term| x*7^12 ~ 1.4e13, no
    overflow (base 7, not 31: 31^12 would pass 2^63); at
    100 TB this is one keyed shuffle of pre-projected 3-column rows,
    HOFs evaluate map-side in codegen."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                (
                    cents(F.col("l_extendedprice"))
                    + F.col("l_quantity").cast("long") * 31
                    + F.col("l_linenumber")
                )
                % 1000
            ).alias("x"),
        )
    )
    arr = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("l_linenumber").alias("ln"), "x"))
        ).alias("a")
    )
    xs = F.transform(F.col("a"), lambda e: e["x"])
    return arr.select(
        "l_orderkey",
        F.size("a").cast("long").alias("n_lines"),
        F.aggregate(
            xs,
            F.lit(0).cast("long"),
            lambda acc, v: acc * 7 + v,
        ).alias("horner"),
        F.aggregate(
            F.zip_with(xs, F.reverse(xs), lambda p, q: p * q),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("sym_dot"),
    ).orderBy("l_orderkey")


@register(
    "map_hof_weekend_shift",
    oracle="""
WITH g AS (
  SELECT user_id, event_type,
         CAST(sum(CASE WHEN EXTRACT(dow FROM ts) IN (0, 6)
                       THEN 0 ELSE 1 END) AS BIGINT) AS weekday_n,
         CAST(sum(CASE WHEN EXTRACT(dow FROM ts) IN (0, 6)
                       THEN 1 ELSE 0 END) AS BIGINT) AS weekend_n
  FROM events WHERE user_id < 200
  GROUP BY user_id, event_type
)
SELECT user_id, event_type, weekday_n, weekend_n,
       weekday_n - weekend_n AS shift
FROM g ORDER BY user_id, event_type
""",
)
def map_hof_weekend_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed aggregation HOF chain — ``map_from_entries`` ->
    ``map_filter`` -> ``map_zip_with`` -> ``explode``: per user, a
    weekday-count map and a weekend-count map (each filtered to
    nonzero entries, so the two maps genuinely have DIFFERENT key
    sets), zipped by key union with null-coalescing into
    (weekday, weekend, shift) structs, then exploded back to rows.
    The oracle is plain conditional aggregation — a hash match proves
    map_zip_with's key-union and missing-key-null semantics, which is
    the part a wrong mental model silently corrupts (inner-join-like
    zipping would drop every type a user did only on weekends). Maps
    stay per-row (bounded by |event types|), so the whole chain is
    map-side; one user-keyed shuffle total."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    wk_end = F.dayofweek("ts").isin(1, 7)
    g = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.when(wk_end, 0).otherwise(1)).alias("wk"),
        F.sum(F.when(wk_end, 1).otherwise(0)).alias("we"),
    )
    maps = g.groupBy("user_id").agg(
        F.map_filter(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "wk"))
            ),
            lambda _, v: v > 0,
        ).alias("m_wk"),
        F.map_filter(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "we"))
            ),
            lambda _, v: v > 0,
        ).alias("m_we"),
    )
    zipped = maps.select(
        "user_id",
        F.explode(
            F.map_zip_with(
                "m_wk",
                "m_we",
                lambda _, a, b: F.struct(
                    F.coalesce(a, F.lit(0)).alias("weekday_n"),
                    F.coalesce(b, F.lit(0)).alias("weekend_n"),
                ),
            )
        ).alias("event_type", "v"),
    )
    return zipped.select(
        "user_id",
        "event_type",
        F.col("v.weekday_n").alias("weekday_n"),
        F.col("v.weekend_n").alias("weekend_n"),
        (F.col("v.weekday_n") - F.col("v.weekend_n")).alias("shift"),
    ).orderBy("user_id", "event_type")


@register(
    "luhn_reference_numbers",
    oracle="""
WITH s AS (
  SELECT o_orderkey,
         CAST(CASE WHEN 2*((o_orderkey // 1) % 10) > 9 THEN 2*((o_orderkey // 1) % 10) - 9 ELSE 2*((o_orderkey // 1) % 10) END
           + ((o_orderkey // 10) % 10)
           + CASE WHEN 2*((o_orderkey // 100) % 10) > 9 THEN 2*((o_orderkey // 100) % 10) - 9 ELSE 2*((o_orderkey // 100) % 10) END
           + ((o_orderkey // 1000) % 10)
           + CASE WHEN 2*((o_orderkey // 10000) % 10) > 9 THEN 2*((o_orderkey // 10000) % 10) - 9 ELSE 2*((o_orderkey // 10000) % 10) END
           + ((o_orderkey // 100000) % 10)
           + CASE WHEN 2*((o_orderkey // 1000000) % 10) > 9 THEN 2*((o_orderkey // 1000000) % 10) - 9 ELSE 2*((o_orderkey // 1000000) % 10) END
           + ((o_orderkey // 10000000) % 10)
           + CASE WHEN 2*((o_orderkey // 100000000) % 10) > 9 THEN 2*((o_orderkey // 100000000) % 10) - 9 ELSE 2*((o_orderkey // 100000000) % 10) END
           + ((o_orderkey // 1000000000) % 10)
           + CASE WHEN 2*((o_orderkey // 10000000000) % 10) > 9 THEN 2*((o_orderkey // 10000000000) % 10) - 9 ELSE 2*((o_orderkey // 10000000000) % 10) END
           + ((o_orderkey // 100000000000) % 10) AS BIGINT) AS luhn_sum
  FROM orders WHERE o_orderkey < 5000
)
SELECT o_orderkey,
       CAST((10 - luhn_sum % 10) % 10 AS BIGINT) AS check_digit,
       lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
         || CAST((10 - luhn_sum % 10) % 10 AS VARCHAR) AS ref_number,
       CAST(CASE WHEN (luhn_sum + (10 - luhn_sum % 10) % 10) % 10 = 0
            THEN 1 ELSE 0 END AS BIGINT) AS luhn_valid
FROM s ORDER BY o_orderkey
""",
)
def luhn_reference_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUHN check-digit issuance (ISO/IEC 7812 mod-10 — the checksum
    on every payment card and most invoice-reference schemes): mint a
    13-digit payment reference per order whose last digit makes the
    Luhn sum divisible by 10, then re-validate the minted number in
    the same query (luhn_valid pins the generate/verify involution —
    a regression in either direction breaks the constant-1 column).
    The digit walk is UNROLLED integer arithmetic ((k div 10^j) mod
    10, doubling even positions-from-right with the >9 fold), no
    strings, no UDF, no array — pure whole-stage-codegen expressions
    bit-identical across engines. Map-only: zero shuffles beyond the
    presentation sort; at 100 TB this is a free rider on any scan."""
    _LUHN_SUM = "(CASE WHEN 2*((o_orderkey div 1) % 10) > 9 THEN 2*((o_orderkey div 1) % 10) - 9 ELSE 2*((o_orderkey div 1) % 10) END) + ((o_orderkey div 10) % 10) + (CASE WHEN 2*((o_orderkey div 100) % 10) > 9 THEN 2*((o_orderkey div 100) % 10) - 9 ELSE 2*((o_orderkey div 100) % 10) END) + ((o_orderkey div 1000) % 10) + (CASE WHEN 2*((o_orderkey div 10000) % 10) > 9 THEN 2*((o_orderkey div 10000) % 10) - 9 ELSE 2*((o_orderkey div 10000) % 10) END) + ((o_orderkey div 100000) % 10) + (CASE WHEN 2*((o_orderkey div 1000000) % 10) > 9 THEN 2*((o_orderkey div 1000000) % 10) - 9 ELSE 2*((o_orderkey div 1000000) % 10) END) + ((o_orderkey div 10000000) % 10) + (CASE WHEN 2*((o_orderkey div 100000000) % 10) > 9 THEN 2*((o_orderkey div 100000000) % 10) - 9 ELSE 2*((o_orderkey div 100000000) % 10) END) + ((o_orderkey div 1000000000) % 10) + (CASE WHEN 2*((o_orderkey div 10000000000) % 10) > 9 THEN 2*((o_orderkey div 10000000000) % 10) - 9 ELSE 2*((o_orderkey div 10000000000) % 10) END) + ((o_orderkey div 100000000000) % 10)"
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 5000
    )
    s = o.select(
        "o_orderkey",
        F.expr("CAST(" + _LUHN_SUM + " AS BIGINT)").alias("luhn_sum"),
    )
    return s.select(
        "o_orderkey",
        F.expr("(10 - luhn_sum % 10) % 10").alias("check_digit"),
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.expr("CAST((10 - luhn_sum % 10) % 10 AS STRING)"),
        ).alias("ref_number"),
        F.expr(
            "CAST(CASE WHEN (luhn_sum + (10 - luhn_sum % 10) % 10) % 10 = 0"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("luhn_valid"),
    ).orderBy("o_orderkey")
