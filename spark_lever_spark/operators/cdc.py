"""CDC apply / MERGE-upsert operators.

The reference's surface stops at insertInto/saveAsTable (Spark 1.3 had
no MERGE; sql/core DataFrame.scala:1289 `insertInto`); applying a
change feed required a hand-written RDD join. These operators provide
the modern lakehouse counterpart re-expressed as single-pass DataFrame
plans: MERGE INTO semantics (update/delete/insert in one keyed full
outer join) and multi-batch CDC compaction (a day of ordered change
batches collapsed to latest-op-per-key before ONE merge join — the
shape that keeps a 100 TB nightly apply at exactly two shuffles: the
compaction window and the merge join, both on the table key).

The change batches are derived deterministically from the base table
(hash/mod selections), so both engines merge identical feeds and the
DuckDB oracles replay the semantics exactly. Money stays exact: sums
are in integer cents (round(x*100) -> BIGINT) on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_lever_spark.catalog import load_table
from spark_lever_spark.registry import register

_INSERT_OFFSET = 10_000_000


def merge_apply(base: DataFrame, batch: DataFrame, key: str) -> DataFrame:
    """MERGE INTO semantics via one keyed full outer join.

    ``batch`` rows carry ``op`` in {'U','D'}: U upserts the batch row's
    payload columns (update when matched, insert when not), D removes
    the key. Base rows without a batch row pass through. Exactly one
    shuffle on the key (or zero with co-bucketed inputs —
    tests/test_bucketing.py's contract).
    """
    payload = [c for c in batch.columns if c not in (key, "op")]
    b = base.alias("t")
    c = batch.alias("s")
    j = b.join(c, F.col(f"t.{key}") == F.col(f"s.{key}"), "full")
    take_batch = F.col(f"s.{key}").isNotNull()
    cols = [
        F.coalesce(F.col(f"s.{key}"), F.col(f"t.{key}")).alias(key),
        *[
            F.when(take_batch, F.col(f"s.{p}")).otherwise(F.col(f"t.{p}")).alias(p)
            for p in payload
        ],
    ]
    return j.filter(
        F.col("s.op").isNull() | (F.col("s.op") != F.lit("D"))
    ).select(*cols)


def compact_cdc(batches: DataFrame, key: str) -> DataFrame:
    """Collapse an ordered change feed to the latest op per key
    (row_number over seq desc — one window shuffle on the key)."""
    w = Window.partitionBy(key).orderBy(F.col("seq").desc())
    return (
        batches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def _summary(merged: DataFrame) -> DataFrame:
    """Hashable compact answer: per-status row count, exact cents sum,
    key span — pins both membership and payload values."""
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


_SUMMARY_SQL = """
SELECT o_orderstatus, count(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register(
    "merge_apply_cdc_orders",
    oracle=f"""
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
batch AS (
  SELECT o_orderkey, 'D' AS op,
         CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS DOUBLE) AS o_totalprice
  FROM base WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_orderstatus,
         round(o_totalprice * 1.1 * 100) / 100
  FROM base WHERE o_orderkey % 13 = 0 AND o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + {_INSERT_OFFSET}, 'U', 'N',
         100.0 + o_orderkey % 500
  FROM base WHERE o_orderkey % 101 = 0
),
merged AS (
  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice
  FROM base t FULL JOIN batch s ON t.o_orderkey = s.o_orderkey
  WHERE s.op IS NULL OR s.op <> 'D'
)
{_SUMMARY_SQL}
""",
)
def merge_apply_cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO orders semantics: one change batch with deletes
    (key%97), in-place updates (price bump on key%13), and inserts
    (fresh keys for key%101) applied in a single full-outer-join pass.
    At 100 TB the batch is typically <<1% of the table and arrives
    sorted by key; with a bucketed base the merge is exchange-free on
    the table side."""
    base = _orders_base(spark, sf_dir)
    deletes = base.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    updates = base.filter(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 97 != 0)
    ).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_orderstatus",
        (F.round(F.col("o_totalprice") * 1.1 * 100) / 100).alias("o_totalprice"),
    )
    inserts = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + _INSERT_OFFSET).alias("o_orderkey"),
        F.lit("U").alias("op"),
        F.lit("N").alias("o_orderstatus"),
        (F.lit(100.0) + (F.col("o_orderkey") % 500).cast("double")).alias(
            "o_totalprice"
        ),
    )
    batch = deletes.unionByName(updates).unionByName(inserts)
    return _summary(merge_apply(base, batch, "o_orderkey"))


@register(
    "merge_cdc_sequence_orders",
    oracle=f"""
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
feed AS (
  SELECT 1 AS seq, o_orderkey, 'U' AS op, o_orderstatus,
         round(o_totalprice * 1.1 * 100) / 100 AS o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT 2, o_orderkey, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM base WHERE o_orderkey % 14 = 0
  UNION ALL
  SELECT 3, o_orderkey, 'U', 'R', 555.55
  FROM base WHERE o_orderkey % 21 = 0
),
latest AS (
  SELECT o_orderkey, op, o_orderstatus, o_totalprice
  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rn
        FROM feed)
  WHERE rn = 1
),
merged AS (
  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice
  FROM base t FULL JOIN latest s ON t.o_orderkey = s.o_orderkey
  WHERE s.op IS NULL OR s.op <> 'D'
)
{_SUMMARY_SQL}
""",
)
def merge_cdc_sequence_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-batch CDC apply: three overlapping change batches
    (price bump on key%7; delete on key%14, superseding batch 1 on
    overlap; re-upsert on key%21, superseding both) compacted to
    latest-op-per-key (one window shuffle) then applied with ONE merge
    join — never three sequential merges. Keys %42==0 exercise the full
    U->D->U chain: the final upsert must resurrect the deleted key."""
    base = _orders_base(spark, sf_dir)
    k = F.col("o_orderkey")
    b1 = base.filter(k % 7 == 0).select(
        F.lit(1).alias("seq"),
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_orderstatus",
        (F.round(F.col("o_totalprice") * 1.1 * 100) / 100).alias("o_totalprice"),
    )
    b2 = base.filter(k % 14 == 0).select(
        F.lit(2).alias("seq"),
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    b3 = base.filter(k % 21 == 0).select(
        F.lit(3).alias("seq"),
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit("R").alias("o_orderstatus"),
        F.lit(555.55).alias("o_totalprice"),
    )
    feed = b1.unionByName(b2).unionByName(b3)
    latest = compact_cdc(feed, "o_orderkey")
    return _summary(merge_apply(base, latest, "o_orderkey"))


@register(
    "matview_incremental_orders_by_status",
    oracle=f"""
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
batch AS (
  SELECT o_orderkey, 'D' AS op,
         CAST(NULL AS VARCHAR) AS o_orderstatus,
         CAST(NULL AS DOUBLE) AS o_totalprice
  FROM base WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_orderstatus,
         round(o_totalprice * 1.1 * 100) / 100
  FROM base WHERE o_orderkey % 13 = 0 AND o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + {_INSERT_OFFSET}, 'U', 'N',
         100.0 + o_orderkey % 500
  FROM base WHERE o_orderkey % 101 = 0
),
merged AS (
  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice
  FROM base t FULL JOIN batch s ON t.o_orderkey = s.o_orderkey
  WHERE s.op IS NULL OR s.op <> 'D'
)
SELECT o_orderstatus, count(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def matview_incremental_orders_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance: the per-status
    (count, sum) aggregate is UPDATED from the CDC batch alone — the
    maintenance path never rescans the base table (the extra base
    scans in THIS plan only derive the synthetic change feed, which a
    real deployment receives externally with before/after images, e.g.
    Debezium). Each change contributes signed deltas using
    its before/after images (delete: (-1, -old); update: (-1, -old) at
    the old group and (+1, +new) at the new — general across
    group-changing updates; insert: (+1, +new)); the view merge is one
    tiny outer join of aggregates, with emptied groups dropped. At
    100 TB this is THE pattern that turns a nightly full recompute
    into seconds of delta math. The oracle recomputes the aggregate
    from the fully-merged snapshot, so the hash check IS the proof
    that incremental == recompute."""
    base = _orders_base(spark, sf_dir)
    cents_of = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    view = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(cents_of(F.col("o_totalprice"))).alias("sum_cents"),
    )
    k = F.col("o_orderkey")
    # before-images (rows leaving a group)
    minus_del = base.filter(k % 97 == 0)
    minus_upd = base.filter((k % 13 == 0) & (k % 97 != 0))
    minus = minus_del.unionByName(minus_upd).select(
        "o_orderstatus",
        F.lit(-1).cast("long").alias("dn"),
        (-cents_of(F.col("o_totalprice"))).alias("dc"),
    )
    # after-images (rows entering a group)
    plus_upd = base.filter((k % 13 == 0) & (k % 97 != 0)).select(
        "o_orderstatus",
        F.lit(1).cast("long").alias("dn"),
        cents_of(F.round(F.col("o_totalprice") * 1.1 * 100) / 100).alias("dc"),
    )
    plus_ins = base.filter(k % 101 == 0).select(
        F.lit("N").alias("o_orderstatus"),
        F.lit(1).cast("long").alias("dn"),
        cents_of(
            F.lit(100.0) + (F.col("o_orderkey") % 500).cast("double")
        ).alias("dc"),
    )
    delta = (
        minus.unionByName(plus_upd)
        .unionByName(plus_ins)
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    v, d = view.alias("v"), delta.alias("d")
    return (
        v.join(d, F.col("v.o_orderstatus") == F.col("d.o_orderstatus"), "full")
        .select(
            F.coalesce(F.col("v.o_orderstatus"), F.col("d.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            (
                F.coalesce(F.col("v.n"), F.lit(0))
                + F.coalesce(F.col("d.dn"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("v.sum_cents"), F.lit(0))
                + F.coalesce(F.col("d.dc"), F.lit(0))
            ).alias("sum_cents"),
        )
        .filter(F.col("n") > 0)
        .orderBy("o_orderstatus")
    )


@register(
    "backfill_dirty_partitions",
    oracle="""
SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type, CAST(ts AS DATE)
ORDER BY event_type, day
""",
)
def backfill_dirty_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data backfill with PARTITION PRUNING: a late-arriving batch
    (event_id % 50 == 0 plays the late rows) dirties only the
    (event_type, day) partitions it touches; the restatement recomputes
    JUST those partitions (on-time rows semi-joined to the dirty set,
    plus the late rows) and splices them over the untouched rollup rows
    (anti-join). The base table is never rescanned outside the dirty
    partitions — at 100 TB this is the difference between a nightly
    restatement touching ~1 day of partitions and a full-history
    recompute. The oracle aggregates ALL events flat, so the hash match
    proves pruned-backfill == full recompute."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        (F.col("event_id") % 50 == 0).alias("is_late"),
    )
    ontime = ev.filter(~F.col("is_late"))
    late = ev.filter(F.col("is_late"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count("*").alias("n"), F.sum("vc").alias("sum_cents")
        )

    original = rollup(ontime)
    dirty = late.select("event_type", "day").distinct()
    untouched = original.join(
        F.broadcast(dirty), ["event_type", "day"], "left_anti"
    )
    restated = rollup(
        ontime.join(F.broadcast(dirty), ["event_type", "day"], "left_semi")
        .unionByName(late)
        .select("event_type", "day", "vc")
    )
    return (
        untouched.unionByName(restated)
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            "sum_cents",
        )
        .orderBy("event_type", "day")
    )


@register(
    "cdc_change_feed_detail",
    oracle=f"""
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0
              THEN round(o_totalprice * 1.1 * 100) / 100
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE o_orderkey % 97 <> 0
)
SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'insert'
            WHEN b.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       CAST(round(a.o_totalprice * 100) AS BIGINT) AS old_cents,
       CAST(round(b.o_totalprice * 100) AS BIGINT) AS new_cents
FROM base a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
   OR a.o_orderstatus <> b.o_orderstatus
   OR a.o_totalprice <> b.o_totalprice
ORDER BY o_orderkey
""",
)
def cdc_change_feed_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed GENERATION at row detail (the Delta CDF /
    Debezium envelope shape): diff two snapshot versions and emit one
    row per changed key carrying op + BEFORE and AFTER images — the
    feed that downstream incremental consumers (the matview/backfill
    operators above) ingest. Unchanged keys are filtered INSIDE the
    single full-outer join, so the output is change-sized, not
    table-sized; with co-bucketed snapshots the join is
    exchange-free."""
    base = _orders_base(spark, sf_dir)
    v2 = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0,
                F.round(F.col("o_totalprice") * 1.1 * 100) / 100,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    a, b = base.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full")
    changed = (
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    )
    op = (
        F.when(F.col("a.o_orderkey").isNull(), "insert")
        .when(F.col("b.o_orderkey").isNull(), "delete")
        .otherwise("update")
    )
    return (
        j.filter(changed)
        .select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            op.alias("op"),
            F.round(F.col("a.o_totalprice") * 100)
            .cast("long")
            .alias("old_cents"),
            F.round(F.col("b.o_totalprice") * 100)
            .cast("long")
            .alias("new_cents"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "orders_integrity_checksum",
    oracle="""
WITH d AS (
  SELECT o_orderstatus,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                             CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                  AS VARCHAR) || '|' ||
                             o_orderstatus), 1, 10))::BIGINT AS dig
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(dig) AS BIGINT) AS xor_sig,
       CAST(sum(dig) AS BIGINT) AS sum_sig
FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def orders_integrity_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-group table fingerprint — the
    content-equality primitive CDC pipelines and migrations verify
    with: after a MERGE/compaction/backfill, the target must reproduce
    the source's (count, xor, sum) signature per group without sorting
    or shipping rows. Each row digests to 40 md5 bits (engine-identical
    serialization: '|'-joined exact-typed fields — keys, integer
    cents, status; never raw floats) and the group signature is
    (COUNT, BIT_XOR, SUM) of digests — all three commutative,
    associative, mergeable across partitions, and collision-checking
    each other (xor alone cancels duplicated row PAIRS; sum alone is
    weaker per-bit; together with the count a mismatch in any field of
    any row flips at least one signature with overwhelming
    probability). SUM headroom: 2^40 x n_rows < 2^63 holds to ~8e6
    rows per group at 40-bit digests — shrink the digest or promote to
    DECIMAL beyond (documented bound, tv_distance convention).
    Map-side digest, one group-by: the cheapest possible full-table
    verification at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    dig = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.round(F.col("o_totalprice") * 100)
                    .cast("long")
                    .cast("string"),
                    F.col("o_orderstatus"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    return (
        orders.select("o_orderstatus", dig.alias("dig"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(dig)").alias("xor_sig"),
            F.sum("dig").alias("sum_sig"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "fk_orphan_audit",
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS relationship,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_orphans,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST((SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM customer) AS BIGINT)
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       CAST((SELECT count(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = s.s_nationkey))
            AS BIGINT),
       CAST((SELECT count(*) FROM supplier) AS BIGINT)
ORDER BY relationship
""",
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's FK graph: for
    each declared relationship, the count of child rows whose key has
    NO parent (left-anti join — at scale each is one hash semi-join,
    and dimension parents broadcast). The after-every-load DQ gate
    that catches partial loads and botched CDC applies; pairs with
    orders_integrity_checksum (content equality) as the other half of
    pipeline verification."""
    rels = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
         "nation", "n_nationkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in rels:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        orphans = c.join(p, "k", "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        total = c.agg(F.count("*").alias("n_rows"))
        parts.append(
            orphans.crossJoin(total).select(
                F.lit(name).alias("relationship"), "n_orphans", "n_rows"
            )
        )
    out = parts[0]
    for pday in parts[1:]:
        out = out.unionByName(pday)
    return out.orderBy("relationship")


@register(
    "cdc_state_asof_versions",
    oracle="""
WITH log AS (
  SELECT o_orderkey, 1 AS seq, 'insert' AS op, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'update', o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT)
         + CAST(round(o_totalprice * 5) AS BIGINT)
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'delete', o_orderstatus,
         CAST(0 AS BIGINT)
  FROM orders WHERE o_orderkey % 11 = 0
),
ao AS (
  SELECT t.asof_seq, l.o_orderkey, l.op, l.o_orderstatus, l.price_cents,
         row_number() OVER (PARTITION BY t.asof_seq, l.o_orderkey
                            ORDER BY l.seq DESC) AS rn
  FROM log l, (VALUES (1), (2), (3)) t(asof_seq)
  WHERE l.seq <= t.asof_seq
),
state AS (
  SELECT asof_seq, o_orderkey, o_orderstatus, price_cents
  FROM ao WHERE rn = 1 AND op <> 'delete'
)
SELECT CAST(asof_seq AS INT) AS asof_seq, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(price_cents) AS BIGINT) AS sum_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM state GROUP BY asof_seq, o_orderstatus
ORDER BY asof_seq, o_orderstatus
""",
)
def cdc_state_asof_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over a change log: reconstruct the table state AS OF
    every sequence point (the Delta/Iceberg `VERSION AS OF` read,
    implemented directly on the CDC envelope): a deterministic 3-epoch
    log (insert-all, update every 7th key +5%, delete every 11th key),
    and for each as-of point the state is last-writer-wins per key
    over entries with seq <= T, minus deletions. One shuffle keyed on
    (asof_seq, key) — the 3-row version spine broadcasts onto the log,
    so reconstructing V versions costs V x |log| map work and ONE
    aggregation, not V table scans (the matview/backfill family's
    incremental doctrine applied to reads). Last-writer-wins is a
    max_by on seq — no per-key window. Summaries are exact integer
    cents per (version, status) so every reconstructed state is
    hash-pinned."""
    base = _orders_base(spark, sf_dir)
    cents_c = F.round(F.col("o_totalprice") * 100).cast("long")
    log = (
        base.select(
            "o_orderkey",
            F.lit(1).alias("seq"),
            F.lit("insert").alias("op"),
            "o_orderstatus",
            cents_c.alias("price_cents"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 7 == 0).select(
                "o_orderkey",
                F.lit(2).alias("seq"),
                F.lit("update").alias("op"),
                "o_orderstatus",
                (
                    cents_c + F.round(F.col("o_totalprice") * 5).cast("long")
                ).alias("price_cents"),
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 11 == 0).select(
                "o_orderkey",
                F.lit(3).alias("seq"),
                F.lit("delete").alias("op"),
                "o_orderstatus",
                F.lit(0).cast("long").alias("price_cents"),
            )
        )
    )
    spine = spark.range(1, 4).select(F.col("id").cast("int").alias("asof_seq"))
    latest = (
        log.crossJoin(F.broadcast(spine))
        .filter(F.col("seq") <= F.col("asof_seq"))
        .groupBy("asof_seq", "o_orderkey")
        .agg(
            F.max_by(
                F.struct("op", "o_orderstatus", "price_cents"), F.col("seq")
            ).alias("v")
        )
    )
    state = latest.filter(F.col("v.op") != "delete").select(
        "asof_seq",
        "o_orderkey",
        F.col("v.o_orderstatus").alias("o_orderstatus"),
        F.col("v.price_cents").alias("price_cents"),
    )
    return (
        state.groupBy("asof_seq", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("price_cents").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("asof_seq", "o_orderstatus")
    )


@register(
    "matview_join_ivm_orders",
    oracle=f"""
WITH ins AS (
  SELECT o_orderkey + {_INSERT_OFFSET} AS o_orderkey, o_custkey,
         round(o_totalprice * 1.07 * 100) / 100 AS o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
merged AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_custkey, o_totalprice FROM ins
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(m.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
FROM merged m
JOIN customer c ON c.c_custkey = m.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name ORDER BY n.n_name
""",
)
def matview_join_ivm_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — revenue-by-nation over
    orders ⋈ customer ⋈ nation — under a CDC batch of inserts and
    deletes. Where matview_incremental_orders_by_status maintains a
    single-table aggregate, the join view's maintenance rule is the
    DELTA-JOIN rule (ΔV = ΔO ⋈ C ⋈ N, the textbook IVM identity for
    one changing input): ONLY the change batch is joined against the
    dimension chain — deletes contribute (−1, −cents) to their
    nation's group, inserts (+1, +cents) — and the result merges into
    the standing view with one 25-row outer join. The base fact table
    is joined once to BUILD the view and never rescanned by
    maintenance (the extra base scans here only derive the synthetic
    feed, which a real deployment receives externally). At 100 TB
    this turns a nightly 3-table re-join into delta-sized work. The
    oracle recomputes from the merged snapshot, so the hash check IS
    the incremental == recompute proof."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents_of = lambda col: F.round(col * 100).cast("long")  # noqa: E731

    def to_nation(df: DataFrame) -> DataFrame:
        return df.join(c, df.o_custkey == c.c_custkey).join(
            F.broadcast(n), c.c_nationkey == n.n_nationkey
        )

    view = to_nation(base).groupBy("n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(cents_of(F.col("o_totalprice"))).alias("rev_cents"),
    )
    k = F.col("o_orderkey")
    dels = base.filter(k % 97 == 0).select(
        "o_custkey", F.lit(-1).cast("long").alias("dn"),
        (-cents_of(F.col("o_totalprice"))).alias("dc"),
    )
    ins = base.filter(k % 101 == 0).select(
        "o_custkey",
        F.lit(1).cast("long").alias("dn"),
        cents_of(
            F.round(F.col("o_totalprice") * 1.07 * 100) / 100
        ).alias("dc"),
    )
    delta = (
        to_nation(dels.unionByName(ins))
        .groupBy(F.col("n_name").alias("dname"))
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    return (
        view.join(delta, F.col("n_name") == F.col("dname"), "full")
        .select(
            F.coalesce(F.col("n_name"), F.col("dname")).alias("n_name"),
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("rev_cents"), F.lit(0))
                + F.coalesce(F.col("dc"), F.lit(0))
            ).alias("rev_cents"),
        )
        .filter(F.col("n_orders") > 0)
        .orderBy("n_name")
    )
