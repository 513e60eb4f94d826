"""SparkContext-level primitives of the reference (§2.E core): broadcast
variables, accumulators, and observable metrics — their modern
DataFrame-era forms."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_broadcast_variable_in_pandas_udf(spark):
    # reference sc.broadcast: ship a read-only lookup once per executor
    lookup = spark.sparkContext.broadcast({0: "even", 1: "odd"})

    @F.pandas_udf("string")
    def parity(v: pd.Series) -> pd.Series:
        m = lookup.value
        return (v % 2).map(m)

    got = dict(
        spark.range(0, 4).select("id", parity("id").alias("p")).collect()
    )
    assert got == {0: "even", 1: "odd", 2: "even", 3: "odd"}


def test_accumulator_counts_rows_in_map_in_pandas(spark):
    # reference sc.accumulator: side-channel counters from executors
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    df = spark.range(0, 100, 1, 4)
    assert df.mapInPandas(count_rows, df.schema).count() == 100
    assert acc.value == 100


def test_observation_metrics_piggyback_on_action(spark):
    # modern observable metrics: aggregates computed DURING the action,
    # no second scan — the DataFrame-era accumulator
    from pyspark.sql import Observation

    obs = Observation("stats")
    df = spark.range(0, 50).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    )
    assert df.count() == 50
    assert obs.get == {"n": 50, "s": 1225}


def test_pipe_partitions_roundtrip(spark):
    from spark_lever_spark.operators.relational import pipe_partitions

    df = spark.range(0, 5000).selectExpr("CAST(id AS STRING) AS s").repartition(4)
    out = pipe_partitions(df, ["cat"], input_col="s")
    got = sorted(int(r.value) for r in out.collect())
    assert got == list(range(5000))


def test_pipe_partitions_transform(spark):
    from spark_lever_spark.operators.relational import pipe_partitions

    df = spark.createDataFrame([("AbC",), ("XyZ",)], ["s"]).coalesce(1)
    out = pipe_partitions(df, ["tr", "A-Z", "a-z"], input_col="s")
    assert sorted(r.value for r in out.collect()) == ["abc", "xyz"]


def test_pipe_partitions_failure_is_loud(spark):
    import pytest
    from spark_lever_spark.operators.relational import pipe_partitions

    df = spark.createDataFrame([("x",)], ["s"]).coalesce(1)
    out = pipe_partitions(df, ["false"], input_col="s")
    with pytest.raises(Exception, match="exited with|PythonException"):
        out.collect()


def test_udtf_word_offsets_null_text_yields_no_rows(spark, tmp_path):
    """NULL text must produce ZERO output rows — matching the DuckDB
    oracle's string_split(NULL) → generate_series(1, NULL) → empty —
    not one (1, '', 0) row (ADVICE r5: latent hash mismatch if the
    driver ever regenerates documents with a NULL text)."""
    import pandas as pd

    from spark_lever_spark.functions.udfs import udtf_word_offsets

    pd.DataFrame({"doc_id": [1, 2], "text": [None, "a b"]}).to_parquet(
        tmp_path / "documents.parquet", index=False
    )
    rows = udtf_word_offsets(spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.pos, r.word, r.start_off) for r in rows] == [
        (2, 1, "a", 0),
        (2, 2, "b", 2),
    ]
