"""Z-order layout (operators/layout.py): files clustered on the Morton
curve must carry tighter per-file min/max stats on BOTH dimensions than
single-column-sorted layouts — that tightness IS the file-pruning
benefit at scale."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from spark_lever_spark.catalog import load_table
from spark_lever_spark.operators.layout import zorder_expr


def _mean_file_span(spark, path, col_expr):
    spans = []
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        row = (
            spark.read.parquet(f)
            .select(F.expr(col_expr).alias("c"))
            .agg((F.max("c") - F.min("c")).alias("span"))
            .collect()[0]
        )
        if row.span is not None:
            spans.append(row.span)
    return sum(spans) / len(spans)


def test_zorder_write_tightens_stats_on_both_dims(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    zpath = str(tmp_path / "z")
    upath = str(tmp_path / "by_user")
    tpath = str(tmp_path / "by_time")
    # range-partition on the Z-value (each file owns a contiguous block
    # of the curve) and sort within files
    z = F.expr(zorder_expr("user_id", "dayofyear(ts)"))
    ev.withColumn("z", z).repartitionByRange(8, "z").sortWithinPartitions(
        "z"
    ).drop("z").write.parquet(zpath)
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(upath)
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(tpath)

    # time-sorted files see every user; z-ordered files must not
    assert _mean_file_span(spark, zpath, "user_id") < _mean_file_span(
        spark, tpath, "user_id"
    )
    # user-sorted files see the whole month; z-ordered files must not
    assert _mean_file_span(spark, zpath, "dayofyear(ts)") < _mean_file_span(
        spark, upath, "dayofyear(ts)"
    )
    # and no rows were lost
    assert spark.read.parquet(zpath).count() == ev.count()


def test_prune_report_is_sound(spark, sf_dir):
    """Stats-based skipping soundness: every partition the min/max
    zone map prunes (can_prune) must contain ZERO rows matching the
    predicate — the invariant that makes data skipping safe."""
    from spark_lever_spark import registry

    df = registry.all_queries()["partition_stats_prune_report"].fn(
        spark, sf_dir
    )
    rows = df.collect()
    assert rows, "no partitions"
    for r in rows:
        if r["can_prune"]:
            assert r["n_matching"] == 0, r
        assert r["min_cents"] <= r["max_cents"]
