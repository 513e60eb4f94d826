"""Table catalog over the driver-provided parquet test data.

Mirrors the reference's data-source layer conceptually
(sql/core/.../parquet/ParquetRelation.scala in the reference tree):
scans are plain ``spark.read.parquet`` so Catalyst gets filter
pushdown, column pruning and partition discovery for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_parity_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set defensively because the
    caller (e.g. the correctness driver) may hand us a vanilla session:
    nanos timestamps in `events` parquet, and a pinned UTC session TZ so
    collected timestamps match the (naive) DuckDB oracle values."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down — session.py defaults already cover it


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize a scan of table ``name`` (batch or streaming) to exactly
    ONE timestamp type: TIMESTAMP, i.e. LTZ under the pinned-UTC
    session. The generator has shipped the same column as
    TIMESTAMP(NANOS) (surfaces as long under nanosAsLong) and as plain
    timestamp[us] (surfaces as TIMESTAMP_NTZ, which Spark forbids in
    unix_micros / numeric casts); every downstream operator is written
    against the single post-catalog type."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # legacy TIMESTAMP(NANOS) footer read as long via
        # spark.sql.legacy.parquet.nanosAsLong — truncate to micros
        # exactly like DuckDB's nanos->micros read. Integer division:
        # `/ 1000` would go through DOUBLE, and a 2024-era nanos value
        # (~1.7e18) exceeds double's 2^53 exact range — the last
        # microseconds digit comes back wrong.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))

    # timestamp[us] parquet (no tz) surfaces as TIMESTAMP_NTZ; cast to
    # TIMESTAMP. Under the pinned UTC session TZ the cast is the
    # identity on the stored micros value, so DuckDB (which reads the
    # same file as naive TIMESTAMP) still sees identical values.
    ntz_casts = {
        f.name: F.col(f.name).cast(T.TimestampType())
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    }
    if ntz_casts:
        df = df.withColumns(ntz_casts)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table with its timestamps normalized
    (``normalize_timestamps``) whichever way the parquet encodes them."""
    _ensure_parity_confs(spark)
    return normalize_timestamps(spark.read.parquet(table_path(sf_dir, name)), name)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer for one
    parquet file, read from its footer on the driver through Spark's
    own converter (so session confs such as ``nanosAsLong`` apply)
    without the Spark job that inference runs."""
    import json

    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), jvm.org.apache.hadoop.fs.Path(path)
    )
    converter = jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    converted = converter.convert(footer.getFileMetaData().getSchema())
    return StructType.fromJson(json.loads(converted.json()))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table that exists under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            # via load_table so the events nanos->micros normalization
            # applies on the view/SQL path too (same data both entry points)
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """SQL entry point (reference SQLContext.sql, SQLContext.scala:913):
    registers the driver tables as views and delegates to spark.sql —
    the reference's whole parser/analyzer/optimizer pipeline (SURVEY.md
    §3.2) IS Catalyst here; the dialect is a strict superset of the
    reference's SqlParser (§2.F)."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128m", plain
    int) — best-effort, falling back to ``default``."""
    import re

    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
        m = re.fullmatch(r"(\d+)\s*([bkmgt]?)b?", raw)
        mult = {
            "": 1, "b": 1, "k": 1 << 10, "m": 1 << 20,
            "g": 1 << 30, "t": 1 << 40,
        }[m.group(2)]
        return int(m.group(1)) * mult
    except Exception:
        return default


def _scan_width_estimate(df: DataFrame) -> int | None:
    """Cheap scan-width estimate for ``spread_scan`` — the number of
    tasks the frame's scan will run with, WITHOUT converting the plan
    to an RDD (``df.rdd.getNumPartitions()`` plans the whole query a
    second time on the driver; measured per-call latency on every
    spread consumer).

    File-backed frames reproduce Spark's split math from the file
    listing: each file costs ``openCostInBytes`` extra and splits pack
    to ``maxPartitionBytes``, so the estimate is
    ``ceil((Σsize + n·openCost) / maxPartitionBytes)`` — large inputs
    at cluster scale estimate wide (no-op) whether they are many small
    files or few huge ones. Remote schemes (s3://, hdfs://) skip the
    size probe and use the advisory file count. Non-file frames fall
    back to the classic RDD probe; if that is unavailable too (Spark
    Connect), return None — the caller decides the unknown case."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        try:
            return df.rdd.getNumPartitions()
        except Exception:  # Spark Connect + non-file source
            return None
    spark = df.sparkSession
    try:
        import os as _os
        from urllib.parse import unquote, urlparse

        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("file", ""):
                raise ValueError("non-local input file")
            total += _os.path.getsize(unquote(p.path))
        mpb = _conf_bytes(
            spark, "spark.sql.files.maxPartitionBytes", 128 << 20
        )
        oc = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
        return max(1, -(-(total + len(files) * oc) // mpb))
    except Exception:
        return len(files)  # advisory: remote/unsizable listing


def default_parallelism(df: DataFrame) -> int:
    """The session's target task parallelism (classic mode), falling
    back to the shuffle-partition conf under Spark Connect."""
    try:
        return df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )


def spread_scan(
    df: DataFrame, key: str | None = None, default_narrow: bool = False
) -> DataFrame:
    """Widen a CPU-dense pipeline over a narrow scan to session
    parallelism (optimization r18, guide §2.5/§6 — the minhash_bands
    probe pattern made shared; r19: single helper, cheap file-based
    probe instead of a plan-to-RDD conversion per call).

    The test/bench parquet inputs carry a SINGLE row group per file, so
    scan parallelism is hard-capped at one task per file no matter how
    splits are configured — every scan-side stage (basket collect_set,
    tokenize/shingle explodes, per-doc hashing) then runs on 1-3 cores
    of 32. A conditional repartition spreads that work; at cluster
    scale inputs carry >= parallelism row groups and this is a no-op.
    With ``key`` the repartition hashes on the downstream aggregation
    key so the following groupBy REUSES the exchange (guide §2.4: same
    key, same partition count — one shuffle total, the CPU just moves
    to the wide side of it); keyless spreads round-robin for per-row
    map pipelines. Row-preserving either way — results of every
    consumer are partition-independent by construction.

    ``default_narrow`` decides the UNKNOWN case (Spark Connect AND a
    non-file source, so neither probe can answer): False (default)
    never adds a blind shuffle; True repartitions — for consumers
    whose downstream stage is expensive enough that under-parallelism
    costs more than one shuffle of the input (the minhash signature
    map, ADVICE r16)."""
    par = default_parallelism(df)
    width = _scan_width_estimate(df)
    if width is None:
        if not default_narrow:
            return df
    elif width >= par:
        return df
    return df.repartition(par, key) if key else df.repartition(par)
