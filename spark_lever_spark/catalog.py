"""Table catalog over the driver-provided parquet test data.

Mirrors the reference's data-source layer conceptually
(sql/core/.../parquet/ParquetRelation.scala in the reference tree):
scans are ``spark.read.parquet`` so Catalyst gets filter pushdown,
column pruning and partition discovery for free; the schema comes
from a parquet footer, so building a scan runs no Spark job.

The catalog also owns every pin a query makes on what it scans:
``pin`` (a persist), ``checkpoint`` (a ``localCheckpoint``) and
``release``. A pin is recorded in the pin scope open in the calling
context, which the registry opens around each query (``pin_scope``);
when the query returns or raises, the scope releases every persist and
every checkpoint the returned frame does not read, so no query body
frees anything at its end. Outside a scope pins are not recorded and
last until released or garbage-collected.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextvars import ContextVar
from typing import TypeVar

from pyspark import StorageLevel
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


def data_files(sf_dir: str, name: str) -> list[str]:
    """The parquet data files of one table, in sorted name order. A
    table is one parquet file or a directory of them; hidden and
    ``_``-prefixed entries (``_SUCCESS``, ``.crc``) are not data."""
    src = table_path(sf_dir, name)
    if not os.path.isdir(src):
        return [src]
    files = sorted(
        os.path.join(src, f)
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not files:
        raise ValueError(f"no parquet data files under {src}")
    return files


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet`` infers from the parquet file
    ``path``, read on the driver by the call inference makes
    (``ParquetFileFormat.readSchemaFromFooter``: a Spark writer's stored
    schema, else the parquet types under the session confs such as
    ``nanosAsLong``), without inference's Spark job."""
    import json

    from py4j.java_gateway import JavaClass

    def jclass(name: str) -> JavaClass:
        # by full name: ``spark._jvm.org.apache...`` costs one py4j
        # round trip per package level
        return JavaClass("org.apache." + name, spark._jvm._gateway_client)

    file = jclass("hadoop.fs.Path")(path)
    metadata = jclass("parquet.hadoop.ParquetFileReader").readFooter(
        spark._jsc.hadoopConfiguration(),
        file,
        jclass("parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    parquet = "spark.sql.execution.datasources.parquet."
    schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(
        jclass("parquet.hadoop.Footer")(file, metadata),
        jclass(parquet + "ParquetToSparkSchemaConverter")(
            spark._jsparkSession.sessionState().conf()
        ),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table with its timestamps normalized
    (``normalize_timestamps``) whichever way the parquet encodes them,
    under the schema of its first data file (inference, too, reads one
    file and assumes the others agree)."""
    _ensure_parity_confs(spark)
    schema = parquet_schema(spark, data_files(sf_dir, name)[0])
    return normalize_timestamps(
        spark.read.schema(schema).parquet(table_path(sf_dir, name)), name
    )


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


def _scan_width_estimate(df: DataFrame) -> int:
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
    back to the classic RDD probe."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df.rdd.getNumPartitions()
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
    """The session's target task parallelism."""
    return df.sparkSession.sparkContext.defaultParallelism


def spread_scan(df: DataFrame, key: str | None = None) -> DataFrame:
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
    consumer are partition-independent by construction."""
    par = default_parallelism(df)
    if _scan_width_estimate(df) >= par:
        return df
    return df.repartition(par, key) if key else df.repartition(par)


# The pins of the scope open in this context, as (frame, is a
# checkpoint) pairs; None outside a scope. A context variable, not a
# global, because queries run on parallel threads (each thread starts
# with an empty context) and no scope may see another's pins.
_PINS: ContextVar[list[tuple[DataFrame, bool]] | None] = ContextVar(
    "pins", default=None
)


def _record(df: DataFrame, checkpointed: bool) -> DataFrame:
    pins = _PINS.get()
    if pins is not None:
        pins.append((df, checkpointed))
    return df


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (``MEMORY_AND_DISK``: a pin spills rather than
    recomputes) until ``release`` or the end of the pin scope."""
    return _record(df.persist(StorageLevel.MEMORY_AND_DISK), False)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``: the returned frame reads the blocks
    of one RDD, so lineage is truncated. Its blocks are the only copy of
    the data; the pin scope keeps them past its end only when the
    returned frame reads them. A lazy checkpoint the returned frame
    reads must not read another checkpoint of the scope, which is freed
    before it is computed."""
    return _record(df.localCheckpoint(eager=eager), True)


def _checkpoint_rdd(df: DataFrame):
    # a checkpoint's blocks belong to the RDD behind its LogicalRDD
    # plan, not to the cache: ``unpersist`` is a no-op for it
    return df._jdf.queryExecution().analyzed().rdd()


def _free(df: DataFrame, checkpointed: bool) -> None:
    if checkpointed:
        _checkpoint_rdd(df).unpersist(False)
    else:
        df.unpersist()


def release(df: DataFrame) -> None:
    """Free the blocks of the pin or checkpoint ``df`` now — for the
    per-round frees of an iterative loop; the pin scope frees the rest.
    Neither ``df`` nor a frame derived from it may run again after a
    checkpoint is released: nothing can recompute its blocks."""
    pins = _PINS.get()
    kinds = {c for d, c in pins or () if d is df} or {not df.is_cached}
    if pins:
        pins[:] = [p for p in pins if p[0] is not df]
    for checkpointed in kinds:
        _free(df, checkpointed)


def _rdds_read_by(df: DataFrame) -> set[int]:
    """The ids of the RDDs the LogicalRDD leaves of ``df``'s analyzed
    plan read."""
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    ids = set()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


T = TypeVar("T")


def pin_scope(fn: Callable[..., T], *args) -> T:
    """Call ``fn(*args)`` in a new pin scope. When it returns or raises,
    release every pin made in the scope, and every checkpoint but those
    that a LogicalRDD leaf of the returned frame reads."""
    pins: list[tuple[DataFrame, bool]] = []
    token = _PINS.set(pins)
    out = None
    try:
        out = fn(*args)
        return out
    finally:
        _PINS.reset(token)
        read = (
            _rdds_read_by(out)
            if isinstance(out, DataFrame) and any(c for _, c in pins)
            else set()
        )
        for df, checkpointed in pins:
            if not checkpointed:
                df.unpersist()
                continue
            rdd = _checkpoint_rdd(df)
            if rdd.id() not in read:
                rdd.unpersist(False)
