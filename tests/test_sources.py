"""Batch source/sink parity (SURVEY.md §2.G) on Spark's own readers
and writers: round-trips, schema inference, partition discovery +
pruning, and the catalog's post-load schema contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def sample_df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25), (3, "a", 30.0)],
        "id long, tag string, x double",
    )


def test_parquet_roundtrip_with_pruning(spark, sample_df, tmp_path):
    path = str(tmp_path / "t.parquet")
    sample_df.write.parquet(path)
    back = spark.read.parquet(path).select("id", "tag")
    assert back.columns == ["id", "tag"]
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "a")]


def test_partitioned_write_discovery_and_pruning(spark, sample_df, tmp_path):
    path = str(tmp_path / "part")
    sample_df.write.partitionBy("tag").parquet(path)
    # hive-style layout on disk
    assert sorted(
        d for d in os.listdir(path) if d.startswith("tag=")
    ) == ["tag=a", "tag=b"]
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("tag") == "a")
    assert sorted(r["id"] for r in pruned.collect()) == [1, 3]
    # partition pruning: only the tag=a directory is scanned
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "tag=b" not in plan


def test_json_roundtrip_and_inference(spark, sample_df, tmp_path):
    path = str(tmp_path / "t.json")
    sample_df.write.json(path)
    inferred = spark.read.json(path)  # schema by sampling
    assert dict(inferred.dtypes)["id"] == "bigint"
    assert dict(inferred.dtypes)["x"] == "double"
    assert inferred.count() == 3
    explicit = spark.read.schema("id long, tag string, x double").json(path)
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, sample_df.collect())
    )


def test_csv_roundtrip_header_and_inference(spark, sample_df, tmp_path):
    path = str(tmp_path / "t.csv")
    sample_df.write.mode("overwrite").option("header", "true").csv(path)
    inferred = spark.read.csv(path, header=True, inferSchema=True)
    assert dict(inferred.dtypes)["id"] == "int"  # CSV inference -> int
    assert inferred.count() == 3
    typed = spark.read.csv(path, schema="id long, tag string, x double", header=True)
    assert sorted(map(tuple, typed.collect())) == sorted(
        map(tuple, sample_df.collect())
    )


def test_csv_malformed_modes(spark, tmp_path):
    path = str(tmp_path / "bad.csv")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        f.write("id,x\n1,2.5\nnot_a_number,oops,extra\n3,4.5\n")
    dropped = spark.read.csv(
        path, schema="id long, x double", header=True, mode="DROPMALFORMED"
    )
    assert sorted(map(tuple, dropped.collect())) == [(1, 2.5), (3, 4.5)]


def test_text_source(spark, tmp_path):
    path = str(tmp_path / "t.txt")
    os.makedirs(path)
    with open(os.path.join(path, "a.txt"), "w") as f:
        f.write("hello\nworld\n")
    df = spark.read.text(path)
    assert sorted(r["value"] for r in df.collect()) == ["hello", "world"]


def test_max_records_per_file(spark, tmp_path):
    path = str(tmp_path / "split")
    df = spark.range(0, 100).coalesce(1)
    df.write.option("maxRecordsPerFile", 25).parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= 4  # 100 rows / 25 per file


def test_sql_entry_point(spark, sf_dir):
    """SQL over catalog tables: the reference SQL dialect's core clauses
    in one statement (SELECT/JOIN/WHERE/GROUP BY/HAVING/ORDER BY/LIMIT/
    CASE/BETWEEN/IN/LIKE), with the tables passed to ``spark.sql`` as
    DataFrame arguments, so no temp view outlives the call."""
    from spark_lever_spark.catalog import load_table

    out = spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS suppliers,
               SUM(CASE WHEN s_acctbal BETWEEN 0 AND 5000 THEN 1 ELSE 0 END)
                 AS mid_bal
        FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
        WHERE n_name LIKE 'NATION%' AND n_nationkey IN (0, 1, 2, 3, 4)
        GROUP BY n_name
        HAVING COUNT(*) >= 0
        ORDER BY n_name
        LIMIT 10
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
        nation=load_table(spark, sf_dir, "nation"),
    )
    rows = out.collect()
    assert len(rows) <= 10
    assert out.columns == ["n_name", "suppliers", "mid_bal"]


def test_orc_roundtrip_with_pruning(spark, sample_df, tmp_path):
    # ORC ships in Spark core (the reference's Hadoop-format I/O class,
    # §2.E I/O row, maps to parquet/orc in modern Spark); same
    # predicate-pushdown contract as parquet
    path = str(tmp_path / "orc_rt")
    sample_df.write.partitionBy("tag").orc(path)
    back = spark.read.orc(path)
    assert back.count() == sample_df.count()
    only_a = back.filter(back.tag == "a")
    # partition pruning: the executed plan's scan lists only the tag=a
    # directory (same contract the parquet test pins)
    plan = only_a._jdf.queryExecution().executedPlan().toString()
    assert "tag=b" not in plan
    assert only_a.count() == sample_df.filter(sample_df.tag == "a").count()


def test_catalog_timestamp_normalization(spark, sf_dir):
    # The driver has regenerated events.ts with different physical
    # encodings across rounds (TIMESTAMP(NANOS)-as-long, then plain
    # timestamp[us] = TIMESTAMP_NTZ — the latter broke unix_micros and
    # numeric casts at two call sites in round 4). catalog.load_table is
    # the single chokepoint that normalizes every variant to TIMESTAMP,
    # so downstream operators only ever see one timestamp type. Pin that
    # contract for every time-bearing column of every table.
    from pyspark.sql import types as T

    from spark_lever_spark.catalog import TABLES, load_table

    expected = {
        "events": ["ts"],
        "lineitem": ["l_shipdate"],
        "orders": ["o_orderdate"],
    }
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        for f in df.schema.fields:
            assert not isinstance(f.dataType, T.TimestampNTZType), (
                f"{name}.{f.name} leaked TIMESTAMP_NTZ past the catalog"
            )
        for col in expected.get(name, []):
            assert isinstance(df.schema[col].dataType, T.TimestampType), (
                f"{name}.{col} should normalize to TIMESTAMP, "
                f"got {df.schema[col].dataType}"
            )
    # NTZ -> TIMESTAMP under the pinned-UTC session is the identity on
    # the stored value: spot-check against a raw NTZ read of the file.
    import os

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if isinstance(raw.schema["ts"].dataType, T.TimestampNTZType):
        raw_min = raw.agg(F.min("ts")).collect()[0][0]
        norm_min = (
            load_table(spark, sf_dir, "events").agg(F.min("ts")).collect()[0][0]
        )
        assert raw_min.replace(tzinfo=None) == norm_min.replace(tzinfo=None)


def test_xml_roundtrip(spark, sample_df, tmp_path):
    # Native XML source (new in Spark 4's sql module; superset — the
    # reference predates any XML source). Write partitions as rooted
    # documents, read back via rowTag with schema inference.
    path = str(tmp_path / "x")
    sample_df.write.option("rowTag", "rec").option("rootTag", "recs").xml(path)
    back = spark.read.option("rowTag", "rec").xml(path)
    assert back.count() == sample_df.count()
    got = sorted(
        (r["id"], r["tag"], r["x"]) for r in back.collect()
    )
    want = sorted(
        (r["id"], r["tag"], r["x"]) for r in sample_df.collect()
    )
    assert got == want
    # explicit schema skips the inference pass (the at-scale path)
    back2 = spark.read.schema(sample_df.schema).option("rowTag", "rec").xml(path)
    assert back2.schema == sample_df.schema


def test_data_contract_full_schemas(spark, sf_dir):
    # Full post-catalog schema pin for every driver table. The driver
    # regenerates /root/testdata between rounds and has already shifted
    # physical types once (see test_catalog_timestamp_normalization);
    # when it happens again, this test names the exact column that
    # moved instead of leaving operators to fail mid-round. Types here
    # are what the ENGINE expects after catalog normalization — update
    # deliberately (with the affected operators) if the contract moves.
    from spark_lever_spark.catalog import load_table

    expected = {
        "region": [("r_regionkey", "int"), ("r_name", "string")],
        "nation": [
            ("n_nationkey", "int"), ("n_name", "string"),
            ("n_regionkey", "int"),
        ],
        "customer": [
            ("c_custkey", "bigint"), ("c_name", "string"),
            ("c_nationkey", "int"), ("c_acctbal", "double"),
            ("c_mktsegment", "string"),
        ],
        "supplier": [
            ("s_suppkey", "bigint"), ("s_name", "string"),
            ("s_nationkey", "int"), ("s_acctbal", "double"),
        ],
        "part": [
            ("p_partkey", "bigint"), ("p_name", "string"),
            ("p_brand", "string"), ("p_type", "string"),
            ("p_size", "int"), ("p_retailprice", "double"),
        ],
        "orders": [
            ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
            ("o_orderstatus", "string"), ("o_totalprice", "double"),
            ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
        ],
        "lineitem": [
            ("l_orderkey", "bigint"), ("l_partkey", "bigint"),
            ("l_suppkey", "bigint"), ("l_linenumber", "int"),
            ("l_quantity", "double"), ("l_extendedprice", "double"),
            ("l_discount", "double"), ("l_tax", "double"),
            ("l_returnflag", "string"), ("l_linestatus", "string"),
            ("l_shipdate", "timestamp"),
        ],
        "events": [
            ("event_id", "bigint"), ("ts", "timestamp"),
            ("user_id", "bigint"), ("event_type", "string"),
            ("value", "double"), ("props", "string"),
        ],
        "documents": [
            ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
            ("source", "string"), ("n_chars", "bigint"),
        ],
        "embeddings": [
            ("vec_id", "bigint"), ("embedding", "array<float>"),
            ("label", "int"),
        ],
    }
    for name, want in expected.items():
        got = [
            (f.name, f.dataType.simpleString())
            for f in load_table(spark, sf_dir, name).schema.fields
        ]
        assert got == want, f"{name} schema drifted: {got} != {want}"


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across parquet files: a reader with
    mergeSchema=True unions the fields (missing columns become NULL) —
    the contract that lets a 100 TB table add columns without
    rewriting history. Default readers take footer-of-first-file, so
    the option must be explicit."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(
        p + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "y", 9.5)], "id long, a string, score double"
    ).write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"id", "a", "score", "batch"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def _assert_footer_schema_is_inferred(spark, sf_dir, name):
    """``load_table`` hands the reader the first data file's footer
    schema: the scan's full StructType (nullability and field metadata
    included) must be the one inference gives, before and after
    timestamp normalization."""
    from spark_lever_spark.catalog import (
        data_files,
        load_table,
        normalize_timestamps,
        parquet_schema,
        table_path,
    )

    path = table_path(sf_dir, name)
    inferred = spark.read.parquet(path)
    given = spark.read.schema(parquet_schema(spark, data_files(sf_dir, name)[0]))
    assert given.parquet(path).schema == inferred.schema, name
    want = normalize_timestamps(inferred, name).schema
    assert load_table(spark, sf_dir, name).schema == want, name


def test_load_table_runs_no_spark_job(spark, sf_dir, jobs_run_by):
    """Building a scan reads the schema from a parquet footer on the
    driver; inference would run a one-task job per call."""
    from spark_lever_spark.catalog import TABLES, load_table, table_path

    def load_all():
        for name in TABLES:
            load_table(spark, sf_dir, name)

    assert jobs_run_by(load_all) == []
    # the count sees inference's job when there is one
    assert jobs_run_by(lambda: spark.read.parquet(table_path(sf_dir, "region")))


def test_load_table_schema_is_inferred_schema(spark, sf_dir):
    from spark_lever_spark.catalog import TABLES, _ensure_parity_confs

    _ensure_parity_confs(spark)
    for name in TABLES:
        _assert_footer_schema_is_inferred(spark, sf_dir, name)


def test_load_table_schema_nanos_ntz_and_directory_layouts(spark, tmp_path):
    """The footer schema is the inferred one for the encodings the
    generator has shipped and for a Spark-written table: TIMESTAMP(NANOS)
    ``events`` (long under the parity confs), a directory of Spark part
    files whose footers carry Spark's own schema (TIMESTAMP_NTZ, a
    non-nullable column, field metadata), and a directory of plain
    parquet files."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from spark_lever_spark.catalog import (
        _ensure_parity_confs,
        data_files,
        parquet_schema,
    )

    _ensure_parity_confs(spark)
    sf = str(tmp_path)
    ts_ns = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    events = pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts_ns})
    pq.write_table(events, os.path.join(sf, "events.parquet"), version="2.6")
    spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1, i)) for i in range(6)],
        "id bigint not null, ts timestamp_ntz",
    ).select(F.col("id").alias("id", metadata={"comment": "key"}), "ts").repartition(
        3
    ).write.parquet(os.path.join(sf, "ntz.parquet"))
    plain = os.path.join(sf, "plain.parquet")
    os.makedirs(plain)
    for i in (1, 0):
        pq.write_table(pa.table({"x": [i]}), os.path.join(plain, f"part-{i}.parquet"))

    ts = parquet_schema(spark, data_files(sf, "events")[0])["ts"].dataType
    assert isinstance(ts, T.LongType)
    ntz = data_files(sf, "ntz")
    assert len(ntz) == 3 and ntz == sorted(ntz)
    assert all(os.path.basename(f).startswith("part-") for f in ntz)
    assert [os.path.basename(f) for f in data_files(sf, "plain")] == [
        "part-0.parquet",
        "part-1.parquet",
    ]
    for name in ("events", "ntz", "plain"):
        _assert_footer_schema_is_inferred(spark, sf, name)
