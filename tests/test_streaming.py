"""Streaming operator parity: per-batch golden-output tests in the
reference's TestSuiteBase style (SURVEY.md §5.1) — deterministic input
batches via one-file-per-trigger, expected output per batch.

Covers §2.B element-wise ops, §2.C keyed ops (per-batch and stateful),
windows, updateStateByKey parity, and stream-static join."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_lever_spark.streaming.core import (
    sliding_window_agg,
    tumbling_window_agg,
)
from spark_lever_spark.streaming.stateful import update_state_by_key
from tests.golden_stream import run_file_batches

SCHEMA_KV = "k string, v long"
SCHEMA_LINE = "line string"
SCHEMA_TS = "ts timestamp, k string, v long"

BATCHES_KV = [
    [{"k": "a", "v": 1}, {"k": "b", "v": 2}],
    [{"k": "a", "v": 3}],
    [{"k": "b", "v": 4}, {"k": "c", "v": 5}],
]


def test_map_filter_per_batch(spark):
    """DStream.map + filter (DStream.scala:442,:455): element-wise on
    the streaming plan, batch boundaries preserved."""
    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        transform=lambda df: df.filter(F.col("v") >= 2).select(
            "k", (F.col("v") * 10).alias("v10")
        ),
    )
    assert col.rows_per_batch == [
        [("b", 20)],
        [("a", 30)],
        [("b", 40), ("c", 50)],
    ]


def test_flatmap_explode_per_batch(spark):
    """DStream.flatMap (DStream.scala:450) as explode(split(...))."""
    batches = [[{"line": "x y"}, {"line": "z"}], [{"line": "p q r"}]]
    col = run_file_batches(
        spark,
        batches,
        SCHEMA_LINE,
        transform=lambda df: df.select(
            F.explode(F.split("line", " ")).alias("w")
        ),
    )
    assert col.rows_per_batch == [
        [("x",), ("y",), ("z",)],
        [("p",), ("q",), ("r",)],
    ]


def test_per_batch_reduce_by_key(spark):
    """reduceByKey per batch (PairDStreamFunctions.scala:78) — the
    reference recomputes each batch independently; modeled with the
    foreachBatch-side transform (DStream.transform parity)."""
    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        batch_transform=lambda df: df.groupBy("k").agg(
            F.sum("v").alias("s")
        ),
    )
    assert col.rows_per_batch == [
        [("a", 1), ("b", 2)],
        [("a", 3)],
        [("b", 4), ("c", 5)],
    ]


def test_stateful_running_agg_update_mode(spark):
    """Cross-batch incremental aggregation (what the reference needed
    updateStateByKey or invReduceFunc for): update mode emits only the
    keys touched in the batch, with running totals."""
    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        transform=lambda df: df.groupBy("k").agg(F.sum("v").alias("s")),
        output_mode="update",
    )
    assert col.rows_per_batch == [
        [("a", 1), ("b", 2)],
        [("a", 4)],
        [("b", 6), ("c", 5)],
    ]


def test_update_state_by_key_running_count(spark):
    """updateStateByKey parity (StateDStream.scala:29-110) via
    applyInPandasWithState: full state emitted per touched key."""
    from spark_lever_spark.streaming.stateful import running_count_update

    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        transform=lambda df: update_state_by_key(
            df,
            ["k"],
            running_count_update,
            state_schema="cnt long",
            output_schema="k string, cnt long",
        ),
        output_mode="update",
    )
    assert col.rows_per_batch == [
        [("a", 1), ("b", 1)],
        [("a", 2)],
        [("b", 2), ("c", 1)],
    ]


def test_update_state_by_key_running_sum_drop(spark):
    """State removal: update_fn returning None drops the key
    (reference Option[S] => None semantics)."""

    def sum_until_10(key, pdf, old):
        total = (old[0] if old else 0) + int(pdf["v"].sum())
        return None if total >= 10 else (total,)

    batches = [
        [{"k": "a", "v": 4}],
        [{"k": "a", "v": 7}],  # total 11 -> state dropped, no emit
        [{"k": "a", "v": 2}],  # starts fresh
    ]
    col = run_file_batches(
        spark,
        batches,
        SCHEMA_KV,
        transform=lambda df: update_state_by_key(
            df,
            ["k"],
            sum_until_10,
            state_schema="s long",
            output_schema="k string, s long",
        ),
        output_mode="update",
    )
    assert col.rows_per_batch == [[("a", 4)], [], [("a", 2)]]


def _ts(s: str) -> str:
    return f"2026-01-01 00:00:{s}"


def test_tumbling_window_counts(spark):
    """window(winDur) tumbling counts (DStream.scala:640) keyed by an
    event-time column — arrival-time order reproduced with explicit ts."""
    batches = [
        [
            {"ts": _ts("01"), "k": "a", "v": 1},
            {"ts": _ts("02"), "k": "a", "v": 1},
        ],
        [
            {"ts": _ts("11"), "k": "a", "v": 1},
            {"ts": _ts("12"), "k": "b", "v": 1},
        ],
    ]
    col = run_file_batches(
        spark,
        batches,
        SCHEMA_TS,
        transform=lambda df: tumbling_window_agg(
            df, "ts", "10 seconds", keys=["k"], aggs=[F.count("*").alias("count")]
        ).select(
            F.col("window.start").cast("string").alias("ws"),
            "k",
            "count",
        ),
        output_mode="update",
    )
    assert col.rows_per_batch == [
        [("2026-01-01 00:00:00", "a", 2)],
        [("2026-01-01 00:00:10", "a", 1), ("2026-01-01 00:00:10", "b", 1)],
    ]


def test_sliding_window_counts(spark):
    """Sliding window (DStream.scala:651 / reduceByKeyAndWindow):
    each event lands in windowDur/slideDur overlapping windows."""
    batches = [[{"ts": _ts("05"), "k": "a", "v": 1}]]
    col = run_file_batches(
        spark,
        batches,
        SCHEMA_TS,
        transform=lambda df: sliding_window_agg(
            df,
            "ts",
            "10 seconds",
            "5 seconds",
            keys=["k"],
            aggs=[F.count("*").alias("count")],
        ).select(F.col("window.start").cast("string").alias("ws"), "k", "count"),
        output_mode="update",
    )
    # event at :05 belongs to windows [00:00,00:10) and [00:05,00:15)
    assert col.rows_per_batch == [
        [
            ("2026-01-01 00:00:00", "a", 1),
            ("2026-01-01 00:00:05", "a", 1),
        ]
    ]


def test_stream_static_join(spark):
    """Stream-batch join (the reference did this via transform + RDD
    join, DStream.scala:552): dimension enrichment of a stream."""
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "k string, name string"
    )
    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        transform=lambda df: df.join(dim, "k").select("k", "v", "name"),
    )
    assert col.rows_per_batch == [
        [("a", 1, "alpha"), ("b", 2, "beta")],
        [("a", 3, "alpha")],
        [("b", 4, "beta")],  # 'c' has no dim row -> inner join drops it
    ]


def test_union_and_count_per_batch(spark):
    """DStream.union + count (DStream.scala:494,:747) per batch."""
    col = run_file_batches(
        spark,
        BATCHES_KV,
        SCHEMA_KV,
        batch_transform=lambda df: df.union(df).agg(
            F.count("*").alias("n")
        ),
    )
    assert col.rows_per_batch == [[(4,)], [(2,)], [(4,)]]


def test_stream_stream_inner_join(spark, tmp_path):
    """Stream-stream inner join with watermarks
    (PairDStreamFunctions.scala:513-542 parity): two file-source
    streams joined on key; both sides drained with availableNow."""
    import json as _json
    import os

    from spark_lever_spark.streaming.core import file_stream

    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    ck = str(tmp_path / "ck")
    os.makedirs(left_dir)
    os.makedirs(right_dir)
    ts = "2026-01-01 00:00:{:02d}"
    with open(os.path.join(left_dir, "b0.json"), "w") as f:
        for i, k in enumerate(["a", "b", "c"]):
            f.write(_json.dumps({"lts": ts.format(i), "k": k, "lv": i}) + "\n")
    with open(os.path.join(right_dir, "b0.json"), "w") as f:
        for i, k in enumerate(["b", "c", "d"]):
            f.write(_json.dumps({"rts": ts.format(i), "k": k, "rv": i * 10}) + "\n")

    left = file_stream(
        spark, left_dir, "lts timestamp, k string, lv long"
    ).withWatermark("lts", "10 seconds")
    right = file_stream(
        spark, right_dir, "rts timestamp, k string, rv long"
    ).withWatermark("rts", "10 seconds")
    joined = left.join(right, on=["k"]).select("k", "lv", "rv")

    from spark_lever_spark.streaming.harness import BatchCollector

    collector = BatchCollector()
    q = (
        joined.writeStream.foreachBatch(collector)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination()
    assert collector.all_rows == [("b", 1, 0), ("c", 2, 10)]


def test_streaming_file_sink_roundtrip(spark, tmp_path):
    """saveAsTextFiles/saveAsObjectFiles parity (DStream.scala:787-806):
    writeStream to parquet, read back the union of all batches."""
    import json as _json
    import os

    from tests.golden_stream import one_file_per_batch

    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    os.makedirs(in_dir)
    for i in range(2):
        with open(os.path.join(in_dir, f"b{i}.json"), "w") as f:
            f.write(_json.dumps({"k": "x", "v": i}) + "\n")

    sdf = one_file_per_batch(spark, in_dir, "k string, v long")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [("x", 0), ("x", 1)]


def test_session_window_merging(spark):
    """Session windows (beyond-reference superset): events <=10s apart
    merge; a >10s gap starts a new session."""
    batches = [
        [
            {"ts": _ts("01"), "k": "a", "v": 1},
            {"ts": _ts("05"), "k": "a", "v": 1},  # same session (gap 4s)
            {"ts": _ts("30"), "k": "a", "v": 1},  # new session (gap 25s)
        ]
    ]
    col = run_file_batches(
        spark,
        batches,
        SCHEMA_TS,
        transform=lambda df: df.groupBy(
            F.session_window("ts", "10 seconds"), "k"
        ).count().select(
            F.col("session_window.start").cast("string").alias("ss"),
            "k",
            "count",
        ),
        output_mode="complete",
    )
    assert col.rows_per_batch == [
        [
            ("2026-01-01 00:00:01", "a", 2),
            ("2026-01-01 00:00:30", "a", 1),
        ]
    ]


def test_socket_source_live(spark):
    """socketTextStream parity (SocketInputDStream.scala) against a
    real local TCP server: lines arrive as `value` rows."""
    import socket
    import threading
    import time as _time

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(b"hello\nworld\n")
            _time.sleep(3)  # keep the connection up past the first batch
        finally:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    sdf = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", str(port))
        .load()
    )
    assert sdf.isStreaming and sdf.columns == ["value"]
    q = (
        sdf.writeStream.format("memory")
        .queryName("socket_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 20
        rows = []
        while _time.time() < deadline:
            rows = [r["value"] for r in spark.table("socket_t").collect()]
            if len(rows) >= 2:
                break
            _time.sleep(0.3)
        assert sorted(rows[:2]) == ["hello", "world"]
    finally:
        q.stop()
        server.close()


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join (PairDStreamFunctions.scala:
    544-578 parity): a left row with no match is held in state and
    emitted with nulls only once the watermark proves no future right
    row can join it — Structured Streaming needs the event-time range
    condition to bound that state, where the reference's per-batch
    cogroup used the batch boundary."""
    import json as _json
    import os

    from pyspark.sql import functions as F
    from spark_lever_spark.streaming.harness import BatchCollector
    from tests.golden_stream import one_file_per_batch

    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    ck = str(tmp_path / "ck")
    os.makedirs(left_dir)
    os.makedirs(right_dir)

    import time as _time

    base = _time.time() - 100

    def write(d, name, rows):
        path = os.path.join(d, name)
        with open(path, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        # strict mtime ordering so BOTH sources process files in batch
        # order — otherwise the pairing is arbitrary and a "late" right
        # row gets dropped by the already-advanced watermark
        i = int(name[1])
        os.utime(path, (base + i * 10, base + i * 10))

    # batch files (one per side; file source orders by mtime/name):
    # a matches within the 5-min band, b never matches, z rows advance
    # both watermarks far enough to prove b unmatched
    write(left_dir, "b0.json", [
        {"lts": "2026-01-01 00:00:00", "k": "a", "lv": 1},
        {"lts": "2026-01-01 00:00:00", "k": "b", "lv": 2},
    ])
    write(right_dir, "b0.json", [{"rts": "2026-01-01 00:02:00", "k": "a", "rv": 10}])
    write(left_dir, "b1.json", [{"lts": "2026-01-01 01:00:00", "k": "z", "lv": 0}])
    write(right_dir, "b1.json", [{"rts": "2026-01-01 01:00:00", "k": "z", "rv": 0}])
    write(left_dir, "b2.json", [{"lts": "2026-01-01 02:00:00", "k": "z2", "lv": 0}])
    write(right_dir, "b2.json", [{"rts": "2026-01-01 02:00:00", "k": "z2", "rv": 0}])

    left = one_file_per_batch(
        spark, left_dir, "lts timestamp, k string, lv long"
    ).withWatermark("lts", "10 minutes").alias("l")
    right = one_file_per_batch(
        spark, right_dir, "rts timestamp, k string, rv long"
    ).withWatermark("rts", "10 minutes").alias("r")
    joined = left.join(
        right,
        on=F.expr(
            "l.k = r.k AND rts BETWEEN lts - INTERVAL 5 MINUTES "
            "AND lts + INTERVAL 5 MINUTES"
        ),
        how="left_outer",
    ).select("l.k", "lv", "rv")

    collector = BatchCollector()
    q = (
        joined.writeStream.foreachBatch(collector)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination()
    rows = sorted(collector.all_rows, key=str)
    matched = [r for r in rows if r[2] is not None and r[0] != "z" and r[0] != "z2"]
    nulls = [r for r in rows if r[2] is None]
    assert matched == [("a", 1, 10)]
    assert nulls == [("b", 2, None)]


def test_stream_stream_left_join_exact_watermark_boundary(spark, tmp_path):
    """ADVICE r7 (low): pin the outer-join expiry INEQUALITY at an
    exact boundary hit. A click whose match window [ts, ts+1h) closes
    EXACTLY at the final join watermark (wm = min(max click ts, max
    purchase ts) - 1h) IS emitted as unmatched — Spark's state eviction
    uses <=, which is exactly what the registered DuckDB oracle's
    `c.ts + 1h <= wm` mirrors. Empirically verified (this test is the
    probe, frozen): user 1's window closes at wm to the second and the
    row appears; user 2's window is still open and never emits."""
    import datetime as dt
    import glob
    import shutil

    from spark_lever_spark.registry import all_queries

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        ("e1", base + 1 * h, "click", 3),
        ("e2", base + dt.timedelta(hours=1, minutes=30), "purchase", 3),
        ("e3", base + 2 * h, "click", 1),  # window closes base+3h == wm
        ("e4", base + 5 * h, "click", 2),  # max click ts; window open
        ("e5", base + 4 * h, "purchase", 99),  # max purchase ts
    ]
    df = spark.createDataFrame(
        rows, "event_id string, ts timestamp, event_type string, user_id long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "w"))
    part = glob.glob(str(tmp_path / "w" / "part-*.parquet"))[0]
    shutil.copy(part, str(tmp_path / "events.parquet"))

    q = all_queries()["stream_stream_left_join_unmatched_clicks"]
    got = [tuple(r) for r in q.fn(spark, str(tmp_path)).collect()]
    assert got == [(1, 0, 1), (3, 1, 0)]


def test_stream_stream_full_outer_exact_boundaries(spark, tmp_path):
    """Both expiry inequalities of the FULL outer stream-stream join,
    pinned at exact watermark hits (the probe, frozen): with
    wm = min(max click ts, max purchase ts) - 1h = base+2h,
    - a purchase AT the watermark (p.ts == wm) is NOT emitted
      (strict p.ts < wm on the purchase side),
    - a purchase strictly before it IS,
    - a click whose window closes at/below wm IS (c.ts + 1h <= wm),
    - open-window rows on either side never emit."""
    import datetime as dt
    import glob
    import shutil

    from spark_lever_spark.registry import all_queries

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=1)
    rows = [
        ("c2", base, "click", 2),  # window closes 1h <= wm -> expired
        ("c3", base + 30 * m, "click", 3),
        ("p3", base + 45 * m, "purchase", 3),  # matched pair
        ("p4", base + 1 * h, "purchase", 4),  # p.ts < wm -> expired
        ("p1", base + 2 * h, "purchase", 1),  # p.ts == wm -> NOT emitted
        ("c90", base + 3 * h, "click", 90),  # max click; window open
        ("p99", base + 4 * h, "purchase", 99),  # max purchase; > wm
    ]
    df = spark.createDataFrame(
        rows, "event_id string, ts timestamp, event_type string, user_id long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "w"))
    part = glob.glob(str(tmp_path / "w" / "part-*.parquet"))[0]
    shutil.copy(part, str(tmp_path / "events.parquet"))

    q = all_queries()["stream_stream_full_outer_join_expiry"]
    got = [tuple(r) for r in q.fn(spark, str(tmp_path)).collect()]
    # (user_id, n_pairs, n_expired_clicks, n_expired_purchases)
    assert got == [(2, 0, 1, 0), (3, 1, 0, 0), (4, 0, 0, 1)]


def test_drop_duplicates_within_watermark_semantics(spark, tmp_path):
    """dropDuplicatesWithinWatermark (Spark 3.5+) semantics pinned
    across micro-batches (empirically probed, frozen):
    - first arrival per key emits; duplicates within the live state
      window are dropped EVEN IF their own event time is far ahead
      (the dedup check precedes any state refresh — e4 at t0+3h is
      dropped because X's state is still live),
    - state eviction runs at batch END against the advanced watermark,
      so a duplicate arriving in the same batch its state would expire
      is STILL dropped (e6),
    - a later batch re-emits the key once the state was evicted
      (e7/e8) — the bounded-state guarantee that distinguishes this
      operator from unbounded dropDuplicates (stream_dedup_events)."""
    import datetime as dt
    import glob
    import os
    import shutil

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=1)
    batches = [
        [("e1", base, "X"), ("e2", base + 30 * m, "X"),
         ("e3", base + 10 * m, "Y")],
        [("e4", base + 3 * h, "X"), ("e5", base + 40 * m, "Y")],
        [("e6", base + 5 * h, "Y")],
        [("e7", base + 6 * h, "Y"), ("e8", base + 6 * h, "X")],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "event_id string, ts timestamp, k string"
        )
        tmp = str(tmp_path / f"t{i}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{i:02d}.parquet"))

    sdf = (
        spark.readStream.schema("event_id string, ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    dedup = sdf.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["k"]
    )
    emitted: list[tuple[str, str]] = []
    q = (
        dedup.writeStream.foreachBatch(
            lambda df, _eid: emitted.extend(
                (r.event_id, r.k) for r in df.collect()
            )
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    assert sorted(emitted) == [
        ("e1", "X"),
        ("e3", "Y"),
        ("e7", "Y"),
        ("e8", "X"),
    ]
