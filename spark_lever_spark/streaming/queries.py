"""Oracle-checked streaming queries over the driver's parquet tables.

Pattern: stream the table through the file source (availableNow drains
it in deterministic micro-batches), maintain state incrementally, and
return the FINAL result — which must equal the batch/SQL answer. This
is the strongest correctness statement Structured Streaming allows: the
incremental stateful plan converges to the relational result the DuckDB
oracle computes (reference parity target: §2.C keyed streaming ops,
which the reference could only golden-test per batch —
TestSuiteBase.scala).

Every query stages, drains and cleans up through one
``harness.StreamDrain``; what it returns reads nothing the drain wrote.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lever_spark.catalog import checkpoint, load_table, pin, release
from spark_lever_spark.llm.dedup import _MINHASH_BAND_CTES, minhash_bands
from spark_lever_spark.registry import register
from spark_lever_spark.streaming.harness import BatchCollector, StreamDrain


@register(
    "stream_agg_orders_status",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def stream_agg_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keyed aggregation over a drained stream
    (reduceByKey parity, PairDStreamFunctions.scala:78-103): final
    state == the batch GROUP BY."""
    with StreamDrain(spark) as drain:
        agg = drain.table(sf_dir, "orders").groupBy("o_orderstatus").agg(
            F.count("*").alias("cnt"), F.sum("o_totalprice").alias("total")
        )
        final = drain.run(agg, "complete")
    return final.orderBy("o_orderstatus")


@register(
    "stream_windowed_events_hourly",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       event_type,
       COUNT(*) AS events,
       SUM(value) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_windowed_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation over the drained events
    stream (groupByKeyAndWindow parity, PairDStreamFunctions.scala:
    124-195; window impl WindowedDStream.scala:63-71): hourly windows
    equal the batch date_trunc rollup."""
    from spark_lever_spark.streaming.core import tumbling_window_agg

    with StreamDrain(spark) as drain:
        win = tumbling_window_agg(
            drain.table(sf_dir, "events"),
            "ts",
            "1 hour",
            keys=["event_type"],
            aggs=[F.count("*").alias("events"), F.sum("value").alias("sum_value")],
        )
        final = drain.run(win, "complete")
    return final.select(
        F.col("window.start").alias("hour_start"),
        "event_type",
        "events",
        "sum_value",
    ).orderBy("hour_start", "event_type")


@register(
    "stream_update_state_customer_counts",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS cnt
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def stream_update_state_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updateStateByKey parity (StateDStream.scala:29-110) through
    applyInPandasWithState: running per-segment counts; after draining
    all batches the state equals the batch GROUP BY count."""
    from spark_lever_spark.streaming.stateful import (
        running_count_update,
        update_state_by_key,
    )

    collector = BatchCollector()
    with StreamDrain(spark) as drain:
        out = update_state_by_key(
            drain.table(sf_dir, "customer").select("c_mktsegment"),
            ["c_mktsegment"],
            running_count_update,
            state_schema="cnt long",
            output_schema="c_mktsegment string, cnt long",
        )
        drain.run(out, "update", collector)
    # last emission per key == final state
    final: dict[str, int] = {}
    for _, rows in sorted(collector.batches):
        for seg, cnt in rows:
            final[seg] = cnt
    return spark.createDataFrame(
        sorted(final.items()), "c_mktsegment string, cnt long"
    ).orderBy("c_mktsegment")


@register(
    "stream_dedup_events",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
""",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates keyed state emits each
    (user_id, event_type) exactly once across all micro-batches — the
    streaming-ingest half of the dedup pipeline (exact dedup at ingest
    time, before any LSH pass). Only the key columns are emitted, so
    the output is deterministic regardless of which arrival 'wins'
    inside a batch; final union == batch DISTINCT. At scale the state
    store holds one entry per distinct key — bound it with a watermark
    on an event-time column when keys grow unboundedly."""
    with StreamDrain(spark) as drain:
        deduped = (
            drain.table(sf_dir, "events")
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
        final = drain.run(deduped, "append")
    return final.orderBy("user_id", "event_type")


@register(
    "stream_static_orders_by_nation",
    oracle="""
SELECT n.n_name AS nation,
       COUNT(*) AS cnt,
       SUM(o.o_totalprice) AS total
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def stream_static_orders_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment join (the pattern DStream.transform +
    rdd.join(staticRDD) served in the reference, DStream.scala
    transform ops): the orders stream joins two STATIC dimensions
    (customer, nation) inside the micro-batch plan — Catalyst
    broadcasts the dims, so each micro-batch pays zero shuffle for the
    join and only the keyed-agg state shuffle. Final drained state
    equals the batch three-way join the oracle computes. At 100 TB the
    static side is the standard slowly-changing dim broadcast; the
    stream side never re-shuffles on the join key."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    with StreamDrain(spark) as drain:
        sdf = drain.table(sf_dir, "orders")
        enriched = (
            sdf.join(F.broadcast(cust), sdf.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        )
        agg = enriched.groupBy("nation").agg(
            F.count("*").alias("cnt"),
            F.sum("o_totalprice").alias("total"),
        )
        final = drain.run(agg, "complete")
    return final.orderBy("nation")


@register(
    "stream_sliding_events_30m",
    oracle="""
WITH contrib AS (
  SELECT e.event_type, e.ts,
         date_trunc('minute', e.ts)
           - ((EXTRACT(minute FROM e.ts)::INT % 15) * INTERVAL 1 MINUTE)
           - (k.k * INTERVAL 15 MINUTE) AS win_start
  FROM events e, (SELECT unnest(range(2)) AS k) k
)
SELECT CAST(win_start AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS events
FROM contrib
WHERE ts >= win_start AND ts < win_start + INTERVAL 30 MINUTE
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_sliding_events_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (30 min window, 15 min slide) over
    the drained events stream — reduceByKeyAndWindow with overlap
    (PairDStreamFunctions.scala:198-347; the reference maintained the
    overlap incrementally with invReduceFunc, Structured Streaming's
    stateful window agg does natively). Each event lands in exactly 2
    windows; the oracle enumerates the same 2 candidate windows per
    event (bucket minus k*slide) and filters to containment — exact
    integer counts."""
    from spark_lever_spark.streaming.core import sliding_window_agg

    with StreamDrain(spark) as drain:
        win = sliding_window_agg(
            drain.table(sf_dir, "events"),
            "ts",
            "30 minutes",
            "15 minutes",
            keys=["event_type"],
            aggs=[F.count("*").alias("events")],
        )
        final = drain.run(win, "complete")
    return final.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "events",
    ).orderBy("window_start", "event_type")


@register(
    "stream_session_window_events",
    oracle="""
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
g AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS s
  FROM d
)
SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, s
ORDER BY user_id, session_start
""",
)
def stream_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows over the drained events stream
    (F.session_window, 30 min gap) — the stateful merging-window
    operator the reference had no counterpart for (its window surface
    was fixed tumbling/sliding only, WindowedDStream.scala); sessions
    here MERGE as late events bridge gaps, which a DStream user had to
    hand-roll with updateStateByKey. Final complete-mode state must
    equal the batch gaps-and-islands sessionization (Spark closes a
    session when the next event is >= gap after the last, and reports
    session end = last event + gap — the oracle mirrors both). State
    per key is bounded by open sessions; production adds a watermark to
    age them out."""
    with StreamDrain(spark) as drain:
        agg = drain.table(sf_dir, "events").groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(F.count("*").alias("n_events"))
        final = drain.run(agg, "complete")
    return final.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@register(
    "stream_foreachbatch_upsert_users",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       max(struct_pack(ts := ts, event_id := event_id,
                       event_type := event_type)).event_type
         AS last_event_type
FROM events
GROUP BY user_id ORDER BY user_id
""",
)
def stream_foreachbatch_upsert_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch incremental-upsert sink — the standard 'MERGE INTO
    a lakehouse table from a stream' pattern (foreachBatch + keyed
    merge, the Structured Streaming replacement for the reference's
    foreachRDD + hand-rolled saveAsHadoopFiles, DStream.scala
    foreachRDD/saveAs*). The events stream is drained in FOUR
    micro-batches (the events re-written as 4 files by event_id mod 4,
    one per trigger); every batch is pre-aggregated per user then
    merged into the versioned parquet target: counts ADD, the
    last-event payload takes the max (ts, event_id) — both operations
    associative and commutative, so the final table is independent of
    batch boundaries and equals the batch GROUP BY the oracle
    computes. At scale this is
    the idempotent-writer shape: per-batch merge keyed on the table
    key, target partitioned/bucketed by that key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    target_holder = {"path": None}
    with StreamDrain(spark) as drain:
        sdf = drain.batches([ev.filter(F.col("event_id") % 4 == i) for i in range(4)])

        def upsert(batch_df: DataFrame, batch_id: int) -> None:
            b = batch_df.groupBy("user_id").agg(
                F.count("*").alias("n_events"),
                F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
            )
            if target_holder["path"] is not None:
                t = batch_df.sparkSession.read.parquet(target_holder["path"])
                tt, bb = t.alias("t"), b.alias("b")
                merged = tt.join(bb, F.col("t.user_id") == F.col("b.user_id"), "full").select(
                    F.coalesce(F.col("b.user_id"), F.col("t.user_id")).alias("user_id"),
                    (
                        F.coalesce(F.col("t.n_events"), F.lit(0))
                        + F.coalesce(F.col("b.n_events"), F.lit(0))
                    ).alias("n_events"),
                    F.greatest(F.col("t.last"), F.col("b.last")).alias("last"),
                )
            else:
                merged = b
            out = os.path.join(drain.dir, f"target_v{batch_id}")
            merged.write.mode("overwrite").parquet(out)
            target_holder["path"] = out

        drain.run(sdf, "update", upsert)
        final = checkpoint(
            spark.read.parquet(target_holder["path"]).select(
                "user_id", "n_events", F.col("last.event_type").alias("last_event_type")
            )
        )
    return final.orderBy("user_id")


@register(
    "stream_stream_join_click_purchase",
    oracle="""
SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id ORDER BY c.user_id
""",
)
def stream_stream_join_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-STREAM inner join (clicks x purchases per user within the
    following hour) — the operator class the reference could only
    approximate by aligning two DStreams' micro-batches (join worked
    per-batch only; cross-batch matches were silently lost,
    PairDStreamFunctions.scala join). Structured Streaming buffers both
    sides in keyed state, so matches span micro-batch boundaries; the
    drained append output must equal the batch interval join. The
    time-bound predicate is what lets a production run add symmetric
    watermarks and evict state; at test SF the drain is exhaustive so
    no watermark is needed. The per-user rollup happens batch-side on
    the drained pairs (chaining a second stateful agg behind a
    stream-stream join needs watermarks by construction)."""
    with StreamDrain(spark) as drain:
        c = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        )
        p = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        )
        joined = c.join(
            p,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        pairs = drain.run(joined, "append")
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "stream_watermark_append_close",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS cnt
FROM events, mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 HOUR
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def stream_watermark_append_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermark FINALIZATION semantics, driver-checked:
    an hourly windowed count with a 1-hour watermark emits each window
    EXACTLY ONCE — when the watermark passes its end — so after an
    availableNow drain (which runs a final flush batch to advance the
    watermark to max(ts) − 1 h) the appended output is precisely the
    set of CLOSED windows, each with its complete count. This is the
    guaranteed half of watermarking (late-data *dropping* is
    documented best-effort and empirically version-dependent, so it is
    deliberately not hash-gated); closed-window finalization is what
    downstream exactly-once consumers key on, and what bounds state at
    100 TB. Two deterministic micro-batches (even event_ids then odd)
    prove emissions survive cross-batch state."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    collector = BatchCollector()
    with StreamDrain(spark) as drain:
        sdf = drain.batches(
            [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]
        ).withWatermark("ts", "1 hour")
        agg = sdf.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(F.count("*").alias("cnt"))
        drain.run(agg, "append", collector)
    rows = [
        (w[0], etype, int(cnt))
        for _, batch_rows in sorted(collector.batches)
        for w, etype, cnt in batch_rows
    ]
    return spark.createDataFrame(
        rows, "window_start timestamp, event_type string, cnt long"
    ).orderBy("window_start", "event_type")


@register(
    "stream_stream_left_join_unmatched_clicks",
    oracle="""
WITH w AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 1 HOUR AS wm
),
c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
matched AS (
  SELECT c.user_id, c.event_id
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
),
unmatched AS (
  SELECT c.user_id, c.event_id
  FROM c, w
  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR)
    AND c.ts + INTERVAL 1 HOUR <= w.wm
)
SELECT user_id,
       CAST((SELECT count(*) FROM matched m WHERE m.user_id = u.user_id)
            AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM unmatched x WHERE x.user_id = u.user_id)
            AS BIGINT) AS n_expired_unmatched
FROM (SELECT DISTINCT user_id FROM matched
      UNION SELECT DISTINCT user_id FROM unmatched) u
ORDER BY user_id
""",
)
def stream_stream_left_join_unmatched_clicks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark state expiry — the
    half of the join surface stream_stream_join_click_purchase leaves
    open: a click with NO purchase in its following hour must still be
    emitted (with nulls), and Structured Streaming can only do that
    once the join watermark proves no future match can arrive. This
    pins the EXPIRY semantics: both sides carry a 1-hour watermark;
    the join watermark is min(max clicked ts, max purchase ts) − 1 h
    (the availableNow drain's final flush advances it); a click whose
    match window [ts, ts+1h) closes at or before that watermark is
    emitted as unmatched (<= at the EXACT boundary — empirically pinned
    by tests/test_streaming.py::
    test_stream_stream_left_join_exact_watermark_boundary, so the
    oracle's `c.ts + 1h <= wm` mirrors Spark's real eviction
    inequality), and a click whose window is still open when
    the drain ends stays in state and is NEVER emitted — the oracle
    reproduces exactly that set algebraically. Matched pairs emit
    regardless (inner semantics are watermark-independent). Output
    rolls up per user: matched-pair count and expired-unmatched count."""
    with StreamDrain(spark) as drain:
        c = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"),
            )
        )
        p = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 hour")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        )
        joined = c.join(
            p,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        )
        pairs = drain.run(joined, "append")
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_user").alias("n_pairs"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_expired_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_stream_full_outer_join_expiry",
    oracle="""
WITH w AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 1 HOUR AS wm
),
c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'),
matched AS (
  SELECT c.user_id
  FROM c JOIN p ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
),
uc AS (
  SELECT c.user_id
  FROM c, w
  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR)
    AND c.ts + INTERVAL 1 HOUR <= w.wm
),
up AS (
  SELECT p.user_id
  FROM p, w
  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR)
    AND p.ts < w.wm
)
SELECT user_id,
       CAST((SELECT count(*) FROM matched m WHERE m.user_id = u.user_id)
            AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM uc WHERE uc.user_id = u.user_id)
            AS BIGINT) AS n_expired_clicks,
       CAST((SELECT count(*) FROM up WHERE up.user_id = u.user_id)
            AS BIGINT) AS n_expired_purchases
FROM (SELECT DISTINCT user_id FROM matched
      UNION SELECT DISTINCT user_id FROM uc
      UNION SELECT DISTINCT user_id FROM up) u
ORDER BY user_id
""",
)
def stream_stream_full_outer_join_expiry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER join — the last open cell of the join
    surface (inner: stream_stream_join_click_purchase, left outer:
    stream_stream_left_join_unmatched_clicks): BOTH sides emit
    unmatched rows once the join watermark proves no future match can
    arrive, and the two sides expire under DIFFERENT inequalities,
    both empirically pinned (tests/test_streaming.py::
    test_stream_stream_full_outer_exact_boundaries): a click whose
    match window [ts, ts+1h) closes AT the watermark IS emitted
    (c.ts + 1h <= wm), while a purchase sitting EXACTLY at the
    watermark is NOT (p.ts < wm, strict) — the asymmetry falls out of
    Spark deriving each side's state-value watermark from a different
    join predicate (p.ts < c.ts + 1h vs c.ts <= p.ts). The oracle
    reproduces both sets algebraically with exactly those
    inequalities. Output rolls up per user: matched pairs,
    expired-unmatched clicks, expired-unmatched purchases."""
    with StreamDrain(spark) as drain:
        clicks = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .withWatermark("ts", "1 hour")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        )
        purchases = (
            drain.table(sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 hour")
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        )
        joined = clicks.join(
            purchases,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "fullOuter",
        )
        rows = drain.run(joined, "append")
    return (
        rows.groupBy(
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("c_user").isNotNull()
                    & F.col("p_user").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.when(F.col("p_user").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_expired_clicks"),
            F.sum(F.when(F.col("c_user").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_expired_purchases"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_windowed_distinct_users",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1 ORDER BY 1
""",
)
def stream_windowed_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT windowed COUNT(DISTINCT) on a stream — the metric
    Structured Streaming's aggregation refuses directly (distinct
    aggregates are unsupported in streaming groupBy), recovered by
    CHAINING two stateful operators: dropDuplicates on
    (window, user_id) — keyed dedup state holds one entry per
    (hour, user), the exact-distinct state a 100 TB stream also needs,
    bounded by adding a watermark in production — feeding a windowed
    count of the surviving rows (countByValueAndWindow-exact parity,
    PairDStreamFunctions countByKeyAndWindow family; the DStream lineage
    could only approximate this per batch). Drained availableNow, the
    chained state equals the batch count(DISTINCT) per hour."""
    with StreamDrain(spark) as drain:
        dedup = (
            drain.table(sf_dir, "events")
            .select(F.window("ts", "1 hour").alias("window"), "user_id")
            .dropDuplicates(["window", "user_id"])
        )
        agg = dedup.groupBy("window").agg(F.count("*").alias("n_users"))
        final = drain.run(agg, "complete")
    return final.select(
        F.col("window.start").alias("hour_start"), "n_users"
    ).orderBy("hour_start")


@register(
    "stream_hourly_top2_event_types",
    oracle="""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         event_type, CAST(count(*) AS BIGINT) AS events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT hour_start, event_type, events,
         CAST(row_number() OVER (PARTITION BY hour_start
                ORDER BY events DESC, event_type) AS INT) AS rnk
  FROM hourly
)
SELECT hour_start, event_type, events, rnk
FROM ranked WHERE rnk <= 2 ORDER BY hour_start, rnk
""",
)
def stream_hourly_top2_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming LEADERBOARD: top-2 event types per hourly window —
    the per-window ranking Structured Streaming cannot express inside
    the stream (window functions are unsupported over streaming
    aggregates), recovered by the standard two-tier shape real
    dashboards use: the STREAM maintains the windowed counts (the
    unbounded, stateful part — exactly stream_windowed_events_hourly's
    state), and the rank-truncate runs on the drained state table,
    whose size is (windows × types) — already aggregate-domain, so
    the batch tier is broadcast-scale at any corpus size. Counts are
    exact int64; the rank tiebreak (events DESC, type ASC) is total,
    so the leaderboard is deterministic."""
    with StreamDrain(spark) as drain:
        win = (
            drain.table(sf_dir, "events")
            .select(F.window("ts", "1 hour").alias("window"), "event_type")
            .groupBy("window", "event_type")
            .agg(F.count("*").alias("events"))
        )
        final = drain.run(win, "complete")
    from pyspark.sql.window import Window as W

    ranked = final.select(
        F.col("window.start").alias("hour_start"), "event_type", "events"
    ).withColumn(
        "rnk",
        F.row_number()
        .over(
            W.partitionBy("hour_start").orderBy(
                F.col("events").desc(), "event_type"
            )
        )
        .cast("int"),
    )
    return ranked.where(F.col("rnk") <= 2).orderBy("hour_start", "rnk")


@register(
    "stream_minhash_near_dup",
    oracle=f"""
WITH {_MINHASH_BAND_CTES},
p AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b
    ON b.band_idx = a.band_idx AND b.band_digest = a.band_digest
   AND a.doc_id < b.doc_id
),
bi AS (SELECT id_a AS d, id_b AS o FROM p
       UNION ALL
       SELECT id_b, id_a FROM p)
SELECT d AS doc_id, CAST(count(*) AS BIGINT) AS n_dup_partners,
       CAST(min(o) AS BIGINT) AS min_partner
FROM bi GROUP BY d ORDER BY doc_id
""",
)
def stream_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection with an INCREMENTAL band index —
    the continuous-ingestion marriage of the banded-LSH dedup stack
    and foreachBatch. The corpus arrives in
    four micro-batches; each batch (a) minhashes only its own
    documents, (b) equi-joins its band digests against the persistent
    index of all EARLIER batches (cross-batch pairs), (c) self-joins
    within the batch (same-batch pairs), then appends its bands to the
    index. Every near-dup pair is discovered exactly once — within its
    later member's batch — so the union of per-batch emissions equals
    the batch-free LSH pair table regardless of how documents were
    split into batches (the oracle computes exactly that, batch-free).
    Per-batch work is O(batch x band-collisions) against the index,
    never O(corpus^2); at scale the index is a parquet table
    partitioned by band digest and the batch side broadcasts.
    Replay/restart safety (ADVICE r17 medium): index presence is
    derived from the index DIRECTORY, not an in-memory flag (a driver
    restart from the same checkpoint would otherwise silently drop all
    cross-batch pairs), and the cross-batch join excludes self-matches
    — a replayed micro-batch finds its own band rows already in the
    index, and least/greatest of the same doc would emit id_a == id_b
    rows that survive distinct and corrupt partner counts. At cluster
    scale the existence probe is the same check through the Hadoop FS
    API against the durable index table's path.
    Reference analog: DStream transform + updateStateByKey composition
    (DStream.scala / PairDStreamFunctions.scala)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with StreamDrain(spark) as drain:
        sdf = drain.batches([docs.filter(F.col("doc_id") % 4 == i) for i in range(4)])
        index_dir = os.path.join(drain.dir, "band_index")
        pairs_dir = os.path.join(drain.dir, "pairs")

        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            s = batch_df.sparkSession
            _, bands = minhash_bands(batch_df)
            # the callback runs outside the query's pin scope
            bands = pin(bands)
            try:
                bl = bands.alias("b")
                within = bl.join(
                    bands.alias("c"),
                    (F.col("c.band_idx") == F.col("b.band_idx"))
                    & (F.col("c.band_digest") == F.col("b.band_digest"))
                    & (F.col("b.doc_id") < F.col("c.doc_id")),
                ).select(
                    F.col("b.doc_id").alias("id_a"),
                    F.col("c.doc_id").alias("id_b"),
                )
                new_pairs = within
                if os.path.isdir(index_dir):
                    idx = s.read.parquet(index_dir).alias("i")
                    cross = bl.join(
                        idx,
                        (F.col("i.band_idx") == F.col("b.band_idx"))
                        & (F.col("i.band_digest") == F.col("b.band_digest"))
                        & (F.col("i.doc_id") != F.col("b.doc_id")),
                    ).select(
                        F.least("b.doc_id", "i.doc_id").alias("id_a"),
                        F.greatest("b.doc_id", "i.doc_id").alias("id_b"),
                    )
                    new_pairs = new_pairs.unionByName(cross)
                new_pairs.distinct().write.mode("append").parquet(pairs_dir)
                bands.write.mode("append").parquet(index_dir)
            finally:
                release(bands)

        drain.run(sdf, "update", on_batch)
        # distinct at read: foreachBatch is at-least-once, so a replayed
        # micro-batch may append its emissions twice — the pair SET is
        # the idempotent unit, partner counts must come from it.
        pairs = spark.read.parquet(pairs_dir).distinct()
        bi = pairs.select(
            F.col("id_a").alias("d"), F.col("id_b").alias("o")
        ).unionByName(
            pairs.select(F.col("id_b").alias("d"), F.col("id_a").alias("o"))
        )
        out = checkpoint(
            bi.groupBy(F.col("d").alias("doc_id")).agg(
                F.count("*").alias("n_dup_partners"),
                F.min("o").alias("min_partner"),
            )
        )
    return out.orderBy("doc_id")
