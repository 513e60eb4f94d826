"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (the part that must be right at 100 TB):
- media is carried as a `binary` column with a sibling struct of typed
  metadata (`media_type`, `byte_len`, `digest`), never as
  driver-materialized objects;
- decode / feature-extraction runs in `mapInPandas` so each Arrow
  batch of payloads is processed vectorized in one Python call, with
  per-batch memory bounded by `spark.sql.execution.arrow.maxRecordsPerBatch`;
- codec-library formats (JPEG/MP3/H.264 via PIL/librosa/av) are NOT
  decodable in this container, so `decode_image_batch` is a
  clearly-marked deterministic stub behind the injectable signature —
  BUT the codec-free formats ARE decoded for real: NetPBM P5 images
  (`decode_pgm_batch`) and RIFF/WAVE PCM audio (`decode_wav_batch`)
  get genuine magic/header/raster parsing with fail-loud validation,
  so both media modalities exercise a real decode path end-to-end
  (tests/test_multimodal.py pins the fail-loud contract).

Features on the decoded media: PGM Sobel energy and centroid moments,
PPM color quantization, WAV difference energy and zero crossings.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_lever_spark.catalog import load_table
from spark_lever_spark.functions.exact import DEC38
from spark_lever_spark.registry import register

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary column + typed metadata struct from
    the text column (stands in for real image/audio bytes)."""
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        blob.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            F.octet_length(blob).alias("byte_len"),
            F.md5(blob).alias("digest"),
        ).alias("media_meta"),
    )


def decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """STUB decoder: deterministic fake of image decode.

    Real implementation would be e.g. PIL.Image.open over each byte
    buffer; this container has no image libs, so dimensions are derived
    arithmetically from the payload length — deterministic, so the
    whole pipeline (including the oracle) stays checkable.
    """
    lens = payloads.str.len().astype("int64")
    return pd.DataFrame(
        {
            "byte_len": lens.astype("int32"),
            "width": (lens % 640 + 1).astype("int32"),
            "height": (lens % 480 + 1).astype("int32"),
            "n_frames": ((lens % 16) + 1).astype("int32"),
        }
    )


def decode_media(
    df: DataFrame,
    decoder: Callable[[pd.Series], pd.DataFrame] = decode_image_batch,
    schema: T.StructType = DECODED_SCHEMA,
) -> DataFrame:
    """mapInPandas decode: one Arrow batch of payloads per Python call.

    ``decoder`` is injectable: a production deployment passes its real
    codec (e.g. a PIL/av-backed batch function returning the same
    frame shape); the deterministic stub is only the default so the
    container-testable path and the production path share all Spark
    plumbing (schema, batching, partitioning).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decoder(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.mapInPandas(run, schema)


@register(
    "multimodal_decode_meta",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT)            AS byte_len,
       CAST(strlen(text) % 640 + 1 AS INT)  AS width,
       CAST(strlen(text) % 480 + 1 AS INT)  AS height,
       CAST(strlen(text) % 16 + 1 AS INT)   AS n_frames
FROM documents
ORDER BY doc_id
""",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → mapInPandas (Arrow-batched) decode stub →
    typed metadata. The oracle checks the full plumbing because the
    stub decode is a deterministic function of payload length.

    (Texts are ASCII in the synthetic corpus, so strlen == octet_length.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(attach_binary_payload(docs)).orderBy("doc_id")


@register(
    "multimodal_meta_stats",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(max(strlen(text)) AS INT)    AS max_bytes,
       min(md5(text)) AS min_digest
FROM documents
GROUP BY source
ORDER BY source
""",
)
def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation over the media struct — the planner
    prunes the binary payload column entirely (check ReadSchema)."""
    docs = load_table(spark, sf_dir, "documents")
    withbin = docs.select(
        "source",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).select(
        "source",
        F.octet_length("payload").alias("byte_len"),
        F.md5("payload").alias("digest"),
    )
    return (
        withbin.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("byte_len").cast("long").alias("total_bytes"),
            F.max("byte_len").alias("max_bytes"),
            F.min("digest").alias("min_digest"),
        )
        .orderBy("source")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id, CAST(unnest(generate_series(0, strlen(text) % 16, 4)) AS INT)
         AS frame_idx
FROM documents
WHERE doc_id < 100
ORDER BY doc_id, frame_idx
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per selected frame (stride 4) from each
    video payload (n_frames from the stub decoder, = strlen%16+1).
    The explode happens JVM-side (`sequence` + `explode`) — per-frame
    work distributes over the cluster; at 100 TB the payload column is
    carried as a pointer (doc_id) and frames re-fetch lazily, never
    duplicating the binary per frame row."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    decoded = decode_media(attach_binary_payload(docs))
    return (
        decoded.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(4))
            ).alias("frame_idx"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "multimodal_resize_plan",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CAST(strlen(text) % 640 + 1 AS INT) AS width,
         CAST(strlen(text) % 480 + 1 AS INT) AS height
  FROM documents WHERE doc_id < 100
)
SELECT doc_id, width, height,
       CAST(FLOOR(224.0 * width  / GREATEST(width, height)) AS INT) AS out_w,
       CAST(FLOOR(224.0 * height / GREATEST(width, height)) AS INT) AS out_h
FROM d ORDER BY doc_id
""",
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-fit-224 planning: target dimensions computed JVM-side
    from decoded metadata (aspect-preserving letterbox). The pixel-level
    resample itself would run in the same mapInPandas slot as
    decode_image_batch (stubbed here — no image libs in container); the
    schema and batch shape are what a real PIL/torchvision stage uses."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    decoded = decode_media(attach_binary_payload(docs))
    longest = F.greatest(F.col("width"), F.col("height"))
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.floor(224.0 * F.col("width") / longest).cast("int").alias("out_w"),
        F.floor(224.0 * F.col("height") / longest).cast("int").alias("out_h"),
    ).orderBy("doc_id")


def encode_pgm(doc_id: int) -> bytes:
    """Deterministic REAL PGM (NetPBM P5) image for a doc id: binary
    header + raw 8-bit raster. w/h/pixels are fixed functions of the
    id so an analytic oracle can predict what a correct decoder must
    extract."""
    w = doc_id % 16 + 4
    h = doc_id % 12 + 4
    import numpy as np

    i = np.arange(w * h, dtype=np.int64)
    raster = ((doc_id * 31 + i * 7) % 256).astype(np.uint8)
    return b"P5\n%d %d\n255\n" % (w, h) + raster.tobytes()


def decode_pgm_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL binary-image decoder (no stub): validates the P5 magic,
    parses dimensions from the NetPBM header, reads the raster with
    numpy and computes pixel statistics — the exact work a PIL-backed
    decoder does for codec formats, runnable in this container because
    NetPBM needs no codec library. Anything that is not a valid P5
    stream raises (fail-loud, not fake-succeed)."""
    import numpy as np

    widths, heights, sums, npx = [], [], [], []
    for buf in payloads:
        b = bytes(buf)
        if not b.startswith(b"P5\n"):
            raise ValueError("not a binary PGM (P5) stream")
        hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
        dims_line = b[3 : b.index(b"\n", 3)].split()
        w, h = int(dims_line[0]), int(dims_line[1])
        maxval = int(b[b.index(b"\n", 3) + 1 : hdr_end])
        if maxval != 255:
            raise ValueError("unsupported maxval")
        raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
        if raster.size != w * h:
            raise ValueError("raster size mismatch")
        widths.append(w)
        heights.append(h)
        sums.append(int(raster.astype(np.int64).sum()))
        npx.append(w * h)
    return pd.DataFrame(
        {
            "width": pd.Series(widths, dtype="int32"),
            "height": pd.Series(heights, dtype="int32"),
            "pixel_sum": pd.Series(sums, dtype="int64"),
            "n_pixels": pd.Series(npx, dtype="int32"),
        }
    )


@register(
    "multimodal_pgm_real_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         CAST(SUM((doc_id * 31 + t.i * 7) % 256) AS BIGINT) AS pixel_sum
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
  GROUP BY doc_id, w, h
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       pixel_sum, CAST(w * h AS INT) AS n_pixels
FROM px ORDER BY doc_id
""",
)
def multimodal_pgm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (upgrade over the injectable stub
    above): deterministic NetPBM P5 binaries are materialized as the
    payload column, then a genuine parser — magic-byte validation,
    header parse, numpy raster read, pixel statistics — runs in the
    same Arrow-batched mapInPandas slot a PIL/av codec would occupy.
    NetPBM is chosen precisely because it needs no codec library, so
    the decode path stops being a stub in this container; JPEG/audio
    stay injectable via decode_media's decoder argument. The oracle
    predicts header dims and exact pixel sums analytically from the
    generator formula, so a parser that misreads the header or raster
    CANNOT hash-match."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_pgm(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def decode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_pgm_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    decoded = with_media.mapInPandas(
        decode_run,
        "doc_id long, width int, height int, pixel_sum long, n_pixels int",
    )
    return decoded.orderBy("doc_id")


def encode_wav(doc_id: int) -> bytes:
    """Deterministic REAL RIFF/WAVE PCM file: canonical 44-byte header
    + 16-bit mono samples from a fixed formula of the doc id."""
    import struct

    import numpy as np

    n = doc_id % 200 + 50
    rate = 8000
    i = np.arange(n, dtype=np.int64)
    samples = (((doc_id * 131 + i * 17) % 2048) - 1024).astype("<i2")
    data = samples.tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def decode_wav_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL WAV decoder: validates RIFF/WAVE magic, parses the fmt
    chunk (PCM only), reads the int16 sample block with numpy and
    computes duration + amplitude statistics. Corrupt streams raise."""
    import struct

    import numpy as np

    rates, nsamps, ssum, smax = [], [], [], []
    for buf in payloads:
        b = bytes(buf)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE stream")
        if b[12:16] != b"fmt ":
            raise ValueError("missing fmt chunk")
        fmt_len, audio_fmt, channels, rate = struct.unpack("<IHHI", b[16:28])
        bits = struct.unpack("<H", b[34:36])[0]
        if audio_fmt != 1 or channels != 1 or bits != 16 or fmt_len != 16:
            raise ValueError("unsupported WAV encoding")
        if b[36:40] != b"data":
            raise ValueError("missing data chunk")
        (data_len,) = struct.unpack("<I", b[40:44])
        samples = np.frombuffer(b, dtype="<i2", offset=44, count=data_len // 2)
        if samples.size * 2 != data_len:
            raise ValueError("sample block size mismatch")
        rates.append(rate)
        nsamps.append(samples.size)
        ssum.append(int(samples.astype(np.int64).sum()))
        smax.append(int(np.abs(samples.astype(np.int64)).max()))
    return pd.DataFrame(
        {
            "sample_rate": pd.Series(rates, dtype="int32"),
            "n_samples": pd.Series(nsamps, dtype="int32"),
            "sample_sum": pd.Series(ssum, dtype="int64"),
            "peak_amplitude": pd.Series(smax, dtype="int64"),
        }
    )


@register(
    "multimodal_wav_real_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 200 + 50 AS ns FROM d),
sm AS (
  SELECT doc_id, ns,
         CAST(SUM((doc_id * 131 + t.i * 17) % 2048 - 1024) AS BIGINT)
           AS sample_sum,
         CAST(MAX(abs((doc_id * 131 + t.i * 17) % 2048 - 1024)) AS BIGINT)
           AS peak_amplitude
  FROM n, LATERAL unnest(range(ns)) AS t(i)
  GROUP BY doc_id, ns
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(ns AS INT) AS n_samples,
       sample_sum, peak_amplitude
FROM sm ORDER BY doc_id
""",
)
def multimodal_wav_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (the audio sibling of
    multimodal_pgm_real_decode): deterministic RIFF/WAVE PCM binaries
    materialize as the payload column, then a genuine parser — RIFF
    magic, fmt-chunk validation, numpy int16 sample read, amplitude
    statistics — runs in the Arrow-batched mapInPandas codec slot.
    WAV/PCM needs no codec library, so both claimed media modalities
    (image, audio) now have a real, fail-loud decode path in this
    container; compressed formats remain injectable. The analytic
    oracle predicts sample counts and exact amplitude sums, so a
    parser that misreads the header or byte order cannot hash-match."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def decode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_wav_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_media.mapInPandas(
        decode_run,
        "doc_id long, sample_rate int, n_samples int, "
        "sample_sum long, peak_amplitude long",
    ).orderBy("doc_id")


def encode_bmp(doc_id: int) -> bytes:
    """Deterministic REAL 24-bit uncompressed BMP (BI_RGB) for a doc
    id: BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows padded
    to 4-byte stride. Channel values are fixed functions of the doc id
    and the LOGICAL (top-down) pixel index, so an analytic oracle can
    predict exact channel sums — and a decoder that forgets the
    bottom-up row order or the row padding cannot match (padding bytes
    are 0xFF to poison naive flat reads; the top-row sum is
    row-order-sensitive)."""
    import struct

    import numpy as np

    w = doc_id % 13 + 4
    h = doc_id % 9 + 3
    idx = np.arange(w * h, dtype=np.int64)  # logical top-down index
    b_ch = ((doc_id * 17 + idx * 5) % 256).astype(np.uint8).reshape(h, w)
    g_ch = ((doc_id * 23 + idx * 3) % 256).astype(np.uint8).reshape(h, w)
    r_ch = ((doc_id * 29 + idx * 11) % 256).astype(np.uint8).reshape(h, w)
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for y in range(h - 1, -1, -1):  # file stores bottom-up
        row = np.empty(w * 3, dtype=np.uint8)
        row[0::3], row[1::3], row[2::3] = b_ch[y], g_ch[y], r_ch[y]
        rows.append(row.tobytes() + b"\xff" * (stride - w * 3))
    raster = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    return file_hdr + info + raster


def decode_bmp_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL BMP decoder (no stub, no codec library): validates the BM
    magic, parses the little-endian headers, rejects anything but
    24-bit BI_RGB, then reads the raster honoring the 4-byte row
    stride AND the bottom-up row order — the two details a naive flat
    read gets wrong (pinned by the order-sensitive top_row_r_sum).
    Fail-loud on anything malformed."""
    import struct

    import numpy as np

    out = {
        "width": [], "height": [], "r_sum": [], "g_sum": [], "b_sum": [],
        "top_row_r_sum": [],
    }
    for buf in payloads:
        b = bytes(buf)
        if len(b) < 54 or b[:2] != b"BM":
            raise ValueError("not a BMP stream")
        offset = struct.unpack_from("<I", b, 10)[0]
        hdr_size, w, h, planes, bpp, comp = struct.unpack_from(
            "<IiiHHI", b, 14
        )
        if hdr_size != 40 or planes != 1 or bpp != 24 or comp != 0 or h <= 0:
            raise ValueError("unsupported BMP variant")
        stride = (w * 3 + 3) // 4 * 4
        if len(b) < offset + stride * h:
            raise ValueError("truncated raster")
        raw = np.frombuffer(b, dtype=np.uint8, offset=offset,
                            count=stride * h).reshape(h, stride)
        rows = raw[::-1, : w * 3]  # undo bottom-up, drop padding
        px = rows.reshape(h, w, 3).astype(np.int64)
        out["width"].append(w)
        out["height"].append(h)
        out["b_sum"].append(int(px[:, :, 0].sum()))
        out["g_sum"].append(int(px[:, :, 1].sum()))
        out["r_sum"].append(int(px[:, :, 2].sum()))
        out["top_row_r_sum"].append(int(px[0, :, 2].sum()))
    return pd.DataFrame(
        {
            "width": pd.Series(out["width"], dtype="int32"),
            "height": pd.Series(out["height"], dtype="int32"),
            "r_sum": pd.Series(out["r_sum"], dtype="int64"),
            "g_sum": pd.Series(out["g_sum"], dtype="int64"),
            "b_sum": pd.Series(out["b_sum"], dtype="int64"),
            "top_row_r_sum": pd.Series(out["top_row_r_sum"], dtype="int64"),
        }
    )


@register(
    "multimodal_bmp_real_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 9 + 3 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         CAST(SUM((doc_id * 29 + t.i * 11) % 256) AS BIGINT) AS r_sum,
         CAST(SUM((doc_id * 23 + t.i * 3) % 256) AS BIGINT) AS g_sum,
         CAST(SUM((doc_id * 17 + t.i * 5) % 256) AS BIGINT) AS b_sum,
         CAST(SUM(CASE WHEN t.i < w
                       THEN (doc_id * 29 + t.i * 11) % 256 END) AS BIGINT)
           AS top_row_r_sum
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
  GROUP BY doc_id, w, h
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       r_sum, g_sum, b_sum, top_row_r_sum
FROM px ORDER BY doc_id
""",
)
def multimodal_bmp_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL image format next to NetPBM: 24-bit uncompressed
    BMP, whose bottom-up row order and 4-byte stride padding are
    exactly the kind of wire-format detail a codec-backed decoder
    handles — parsed here for real (struct headers + numpy raster)
    in the same Arrow-batched mapInPandas slot. The analytic oracle
    predicts per-channel sums AND the row-order-sensitive top-row sum,
    so a decoder that flat-reads the raster or skips the flip cannot
    hash-match."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_bmp(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def decode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_bmp_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    decoded = with_media.mapInPandas(
        decode_run,
        "doc_id long, width int, height int, r_sum long, g_sum long,"
        " b_sum long, top_row_r_sum long",
    )
    return decoded.orderBy("doc_id")


def encode_au(doc_id: int) -> bytes:
    """Deterministic REAL Sun/NeXT .au audio stream: BIG-endian header
    (magic '.snd', data offset, size, encoding 3 = 16-bit linear PCM,
    rate, channels) + big-endian int16 samples — the endianness
    mirror-image of the little-endian RIFF/WAVE path."""
    import struct

    import numpy as np

    n = doc_id % 50 + 10
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 13 + i * 7) % 2003 - 1001).astype(">i2")
    data = samples.tobytes()
    hdr = struct.pack(">4sIIIII", b".snd", 24, len(data), 3, 8000, 1)
    return hdr + data


def decode_au_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL .au decoder: validates the magic, parses the BIG-endian
    header, requires 16-bit linear PCM, reads big-endian samples and
    computes sample statistics. A decoder that reads the samples (or
    the header) little-endian produces garbage sums and cannot
    hash-match. Fail-loud on malformed streams."""
    import struct

    import numpy as np

    rates, counts, sums, peaks = [], [], [], []
    for buf in payloads:
        b = bytes(buf)
        if len(b) < 24 or b[:4] != b".snd":
            raise ValueError("not a .au stream")
        offset, size, enc, rate, ch = struct.unpack_from(">IIIII", b, 4)
        if enc != 3 or ch != 1:
            raise ValueError("unsupported .au encoding")
        if len(b) < offset + size or size % 2:
            raise ValueError("truncated .au data")
        samples = np.frombuffer(b, dtype=">i2", offset=offset,
                                count=size // 2).astype(np.int64)
        rates.append(rate)
        counts.append(samples.size)
        sums.append(int(samples.sum()))
        peaks.append(int(np.abs(samples).max()))
    return pd.DataFrame(
        {
            "sample_rate": pd.Series(rates, dtype="int32"),
            "n_samples": pd.Series(counts, dtype="int32"),
            "sample_sum": pd.Series(sums, dtype="int64"),
            "peak": pd.Series(peaks, dtype="int32"),
        }
    )


@register(
    "multimodal_au_real_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 50 + 10 AS cnt FROM d),
s AS (
  SELECT doc_id, cnt,
         CAST(SUM((doc_id * 13 + t.i * 7) % 2003 - 1001) AS BIGINT)
           AS sample_sum,
         CAST(MAX(abs((doc_id * 13 + t.i * 7) % 2003 - 1001)) AS INT)
           AS peak
  FROM n, LATERAL unnest(range(cnt)) AS t(i)
  GROUP BY doc_id, cnt
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(cnt AS INT) AS n_samples,
       sample_sum, peak
FROM s ORDER BY doc_id
""",
)
def multimodal_au_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL audio format next to RIFF/WAVE: Sun/NeXT .au, whose
    header AND samples are big-endian — the exact wire detail that
    separates a real parser from a byte-blind stub (WAV is
    little-endian; a decoder reusing its byte order produces garbage).
    Same Arrow-batched mapInPandas slot; analytic oracle predicts
    exact sample sums and peaks from the generator formula."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_au(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def decode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_au_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    decoded = with_media.mapInPandas(
        decode_run,
        "doc_id long, sample_rate int, n_samples int, sample_sum long,"
        " peak int",
    )
    return decoded.orderBy("doc_id")


def encode_ppm(doc_id: int) -> bytes:
    """Deterministic REAL PPM (NetPBM P6) COLOR image: binary header +
    interleaved RGB raster, every byte a fixed formula of the id so
    the oracle can predict per-channel statistics analytically."""
    import numpy as np

    w = doc_id % 12 + 4
    h = doc_id % 8 + 4
    j = np.arange(w * h * 3, dtype=np.int64)
    raster = ((doc_id * 37 + (j // 3) * 11 + (j % 3) * 71) % 256).astype(
        np.uint8
    )
    return b"P6\n%d %d\n255\n" % (w, h) + raster.tobytes()


def decode_ppm_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL color-image decoder: P6 magic validation, header parse,
    numpy interleaved-RGB read, per-channel statistics. The 3-channel
    sibling of decode_pgm_batch — the shape a real JPEG decoder hands
    downstream (H x W x 3 uint8). Corrupt streams raise."""
    import numpy as np

    widths, heights, rs, gs, bs, npx = [], [], [], [], [], []
    for buf in payloads:
        b = bytes(buf)
        if not b.startswith(b"P6\n"):
            raise ValueError("not a binary PPM (P6) stream")
        hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
        dims_line = b[3 : b.index(b"\n", 3)].split()
        w, h = int(dims_line[0]), int(dims_line[1])
        maxval = int(b[b.index(b"\n", 3) + 1 : hdr_end])
        if maxval != 255:
            raise ValueError("unsupported maxval")
        raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
        if raster.size != w * h * 3:
            raise ValueError("raster size mismatch")
        rgb = raster.reshape(-1, 3).astype(np.int64)
        widths.append(w)
        heights.append(h)
        rs.append(int(rgb[:, 0].sum()))
        gs.append(int(rgb[:, 1].sum()))
        bs.append(int(rgb[:, 2].sum()))
        npx.append(w * h)
    return pd.DataFrame(
        {
            "width": pd.Series(widths, dtype="int32"),
            "height": pd.Series(heights, dtype="int32"),
            "r_sum": pd.Series(rs, dtype="int64"),
            "g_sum": pd.Series(gs, dtype="int64"),
            "b_sum": pd.Series(bs, dtype="int64"),
            "n_pixels": pd.Series(npx, dtype="int32"),
        }
    )


@register(
    "multimodal_ppm_rgb_decode",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 8 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         CAST(SUM((doc_id * 37 + t.i * 11) % 256) AS BIGINT) AS r_sum,
         CAST(SUM((doc_id * 37 + t.i * 11 + 71) % 256) AS BIGINT) AS g_sum,
         CAST(SUM((doc_id * 37 + t.i * 11 + 142) % 256) AS BIGINT) AS b_sum
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
  GROUP BY doc_id, w, h
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       r_sum, g_sum, b_sum, CAST(w * h AS INT) AS n_pixels
FROM px ORDER BY doc_id
""",
)
def multimodal_ppm_rgb_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COLOR image decode (the 3-channel upgrade over
    multimodal_pgm_real_decode's grayscale): deterministic NetPBM P6
    binaries with interleaved RGB rasters, parsed by a genuine
    decoder — magic validation, header parse, numpy (N, 3) channel
    split, per-channel sums — in the Arrow-batched mapInPandas codec
    slot a JPEG decoder would occupy. Channel INTERLEAVING is exactly
    what this pins: a decoder that transposes channels or misreads
    stride produces wrong r/g/b sums and cannot hash-match the
    analytic oracle (channel c at pixel i is (id*37 + 11 i + 71 c)
    mod 256)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_ppm(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def decode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = decode_ppm_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_media.mapInPandas(
        decode_run,
        "doc_id long, width int, height int, r_sum long, g_sum long, "
        "b_sum long, n_pixels int",
    ).orderBy("doc_id")


def silence_runs_batch(payloads: pd.Series) -> pd.DataFrame:
    """Silence/VAD analysis over decoded PCM: |sample| < 256 marks a
    silent sample; reports the silent total, longest consecutive run,
    and run count — pure integer run-length logic on the numpy sample
    block (the audio-curation signal that decides whether a clip is
    dead air before any ASR spend)."""
    import numpy as np

    nsil, longest, nruns, nsamp = [], [], [], []
    for buf in payloads:
        b = bytes(buf)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE stream")
        import struct

        (data_len,) = struct.unpack("<I", b[40:44])
        samples = np.frombuffer(b, dtype="<i2", offset=44, count=data_len // 2)
        silent = np.abs(samples.astype(np.int64)) < 256
        # run-length encode the boolean mask
        edges = np.flatnonzero(np.diff(silent.astype(np.int8)))
        bounds = np.concatenate(([0], edges + 1, [silent.size]))
        lengths = np.diff(bounds)
        vals = silent[bounds[:-1]]
        sil_lengths = lengths[vals]
        nsamp.append(samples.size)
        nsil.append(int(sil_lengths.sum()))
        longest.append(int(sil_lengths.max()) if sil_lengths.size else 0)
        nruns.append(int(sil_lengths.size))
    return pd.DataFrame(
        {
            "n_samples": pd.Series(nsamp, dtype="int32"),
            "n_silent": pd.Series(nsil, dtype="int64"),
            "longest_silence_run": pd.Series(longest, dtype="int64"),
            "n_silence_runs": pd.Series(nruns, dtype="int64"),
        }
    )


@register(
    "audio_silence_runs",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 200 + 50 AS ns FROM d),
sm AS (
  SELECT doc_id, ns, t.i,
         (doc_id * 131 + t.i * 17) % 2048 - 1024 AS s
  FROM n, LATERAL unnest(range(ns)) AS t(i)
),
sil AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM sm WHERE abs(s) < 256
),
runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS rl
  FROM sil GROUP BY doc_id, grp
),
agg AS (
  SELECT doc_id,
         CAST(sum(rl) AS BIGINT) AS n_silent,
         CAST(max(rl) AS BIGINT) AS longest_silence_run,
         CAST(count(*) AS BIGINT) AS n_silence_runs
  FROM runs GROUP BY doc_id
)
SELECT n.doc_id, CAST(n.ns AS INT) AS n_samples,
       coalesce(a.n_silent, 0) AS n_silent,
       coalesce(a.longest_silence_run, 0) AS longest_silence_run,
       coalesce(a.n_silence_runs, 0) AS n_silence_runs
FROM n LEFT JOIN agg a ON a.doc_id = n.doc_id
ORDER BY n.doc_id
""",
)
def audio_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run detection over REAL decoded PCM (the curation
    signal layered on multimodal_wav_real_decode's decoder): per clip,
    how much of it is dead air (|sample| < 256), the longest
    consecutive silent stretch, and how many silent stretches — the
    VAD-lite gate an audio-corpus pipeline runs before transcription
    spend. Run-length logic is exact integer numpy inside the same
    Arrow-batched decode pass (one traversal, no per-row Python); the
    oracle reproduces the runs with SQL gaps-and-islands over the
    generator formula, so a decoder that drops or duplicates a sample
    shifts every run boundary and cannot hash-match."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def analyze_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = silence_runs_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_media.mapInPandas(
        analyze_run,
        "doc_id long, n_samples int, n_silent long, "
        "longest_silence_run long, n_silence_runs long",
    ).orderBy("doc_id")


def mean_pool_2x_batch(payloads: pd.Series) -> pd.DataFrame:
    """2x2 mean-pool downsample of decoded PGM rasters (floor
    division — exact integers): the resize kernel of an image
    preprocessing pipeline, with odd edges cropped (standard
    floor-dims pooling). Returns pooled dims + pooled pixel sum."""
    import numpy as np

    pws, phs, sums = [], [], []
    for buf in payloads:
        b = bytes(buf)
        if not b.startswith(b"P5\n"):
            raise ValueError("not a binary PGM (P5) stream")
        hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
        dims_line = b[3 : b.index(b"\n", 3)].split()
        w, h = int(dims_line[0]), int(dims_line[1])
        raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
        img = raster.reshape(h, w).astype(np.int64)
        pw, ph = w // 2, h // 2
        pooled = (
            img[: ph * 2, : pw * 2].reshape(ph, 2, pw, 2).sum(axis=(1, 3))
            // 4
        )
        pws.append(pw)
        phs.append(ph)
        sums.append(int(pooled.sum()))
    return pd.DataFrame(
        {
            "pool_w": pd.Series(pws, dtype="int32"),
            "pool_h": pd.Series(phs, dtype="int32"),
            "pooled_sum": pd.Series(sums, dtype="int64"),
        }
    )


@register(
    "image_mean_pool_2x",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h,
         (doc_id % 16 + 4) // 2 AS pw, (doc_id % 12 + 4) // 2 AS ph
  FROM d
),
pooled AS (
  SELECT doc_id, w, pw, ph,
         ((doc_id * 31 + ((t.j // pw) * 2 * w + (t.j % pw) * 2) * 7) % 256
          + (doc_id * 31 + ((t.j // pw) * 2 * w + (t.j % pw) * 2 + 1) * 7)
            % 256
          + (doc_id * 31 + (((t.j // pw) * 2 + 1) * w + (t.j % pw) * 2) * 7)
            % 256
          + (doc_id * 31 + (((t.j // pw) * 2 + 1) * w + (t.j % pw) * 2 + 1)
             * 7) % 256) // 4 AS pv
  FROM dims, LATERAL unnest(range(pw * ph)) AS t(j)
)
SELECT doc_id, CAST(pw AS INT) AS pool_w, CAST(ph AS INT) AS pool_h,
       CAST(SUM(pv) AS BIGINT) AS pooled_sum
FROM pooled GROUP BY doc_id, pw, ph ORDER BY doc_id
""",
)
def image_mean_pool_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image RESIZE (2x2 mean pooling, odd edges cropped) over
    decoded PGM rasters — the downsample kernel multimodal_resize_plan
    only planned, now executed with exact integer arithmetic in the
    Arrow-batched decode pass (numpy reshape-pool, floor-of-4 means).
    The oracle recomputes every pooled pixel analytically from the
    raster formula, so a pooler with wrong stride, wrong crop, or
    float rounding cannot hash-match. The preprocessing shape a vision
    pipeline runs corpus-wide: map-only, one decode+pool traversal per
    image, no shuffle but the presentation sort."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_pgm(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def pool_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = mean_pool_2x_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_media.mapInPandas(
        pool_run,
        "doc_id long, pool_w int, pool_h int, pooled_sum long",
    ).orderBy("doc_id")


def pgm_histogram_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL per-image intensity histogram: parses the P5 stream like
    decode_pgm_batch, then buckets the raster into 16 intensity bins
    (pixel // 16) with numpy bincount — the feature-extraction stage a
    vision-data pipeline runs right after decode. Corrupt streams
    raise (fail-loud)."""
    import numpy as np

    rows_bin, rows_cnt, rows_idx = [], [], []
    for pos, buf in enumerate(payloads):
        b = bytes(buf)
        if not b.startswith(b"P5\n"):
            raise ValueError("not a binary PGM (P5) stream")
        hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
        dims_line = b[3 : b.index(b"\n", 3)].split()
        w, h = int(dims_line[0]), int(dims_line[1])
        raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
        if raster.size != w * h:
            raise ValueError("raster size mismatch")
        counts = np.bincount(raster >> 4, minlength=16)
        rows_idx.extend([pos] * 16)
        rows_bin.extend(range(16))
        rows_cnt.extend(int(c) for c in counts)
    return pd.DataFrame(
        {
            "_pos": pd.Series(rows_idx, dtype="int64"),
            "bin": pd.Series(rows_bin, dtype="int64"),
            "n_pixels": pd.Series(rows_cnt, dtype="int64"),
        }
    )


@register(
    "multimodal_pgm_histogram",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, ((doc_id * 31 + t.i * 7) % 256) // 16 AS bin
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
)
SELECT doc_id, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_pixels
FROM px GROUP BY doc_id, bin ORDER BY doc_id, bin
""",
)
def multimodal_pgm_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-IMAGE INTENSITY HISTOGRAM over REAL decoded rasters — the
    canonical post-decode feature-extraction stage (exposure/contrast
    QC, near-dup binning, dataset balance reports run on exactly this
    16-bin profile): deterministic P5 binaries materialize as the
    payload column, a genuine parser re-reads header + raster, and
    numpy buckets pixels into 16 intensity bins inside the same
    Arrow-batched mapInPandas slot a torchvision transform would
    occupy — emitting LONG-format (doc_id, bin, count) rows so the
    downstream shuffle is by histogram row, never by raster. Empty
    bins are emitted as explicit zero counts... and then dropped to
    match the oracle's GROUP BY (only observed bins), keeping both
    engines on the same support. The analytic oracle replays the
    generator formula through the same ``// 16`` bucketing, so a
    decoder that misreads the raster or an off-by-one in the binning
    cannot hash-match. Scale: decode parallelism is row-partitioned;
    the output is 16 rows per image — reduction, not blow-up."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 120
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_pgm(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def hist_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pgm_histogram_batch(pdf["payload"])
            out["doc_id"] = pdf["doc_id"].values[out["_pos"].values]
            yield out[["doc_id", "bin", "n_pixels"]]

    return (
        with_media.mapInPandas(
            hist_run, "doc_id long, bin long, n_pixels long"
        )
        .filter(F.col("n_pixels") > 0)
        .orderBy("doc_id", "bin")
    )


def wav_energy_batch(payloads: pd.Series) -> pd.DataFrame:
    """REAL per-clip energy features: parses the RIFF/WAVE stream like
    decode_wav_batch, then computes the exact sum of squared samples
    and the strict zero-crossing count (s_i·s_{i+1} < 0) — the
    features VAD/silence-trim stages run right after decode."""
    import struct

    import numpy as np

    nsamps, ssq, zc = [], [], []
    for buf in payloads:
        b = bytes(buf)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE" or b[36:40] != b"data":
            raise ValueError("not a canonical RIFF/WAVE stream")
        (data_len,) = struct.unpack("<I", b[40:44])
        samples = np.frombuffer(
            b, dtype="<i2", offset=44, count=data_len // 2
        ).astype(np.int64)
        if samples.size * 2 != data_len:
            raise ValueError("sample block size mismatch")
        nsamps.append(samples.size)
        ssq.append(int((samples * samples).sum()))
        zc.append(int(((samples[:-1] * samples[1:]) < 0).sum()))
    return pd.DataFrame(
        {
            "n_samples": pd.Series(nsamps, dtype="int64"),
            "sum_sq": pd.Series(ssq, dtype="int64"),
            "zero_crossings": pd.Series(zc, dtype="int64"),
        }
    )


@register(
    "multimodal_wav_rms_energy",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 200 + 50 AS ns FROM d),
sq AS (
  SELECT doc_id, ns,
         CAST(SUM(((doc_id * 131 + t.i * 17) % 2048 - 1024)
                  * ((doc_id * 131 + t.i * 17) % 2048 - 1024))
              AS BIGINT) AS sum_sq
  FROM n, LATERAL unnest(range(ns)) AS t(i)
  GROUP BY doc_id, ns
),
zc AS (
  SELECT n.doc_id,
         CAST(SUM(CASE WHEN ((n.doc_id * 131 + t.i * 17) % 2048 - 1024)
                          * ((n.doc_id * 131 + (t.i + 1) * 17) % 2048
                             - 1024) < 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM n, LATERAL unnest(range(ns - 1)) AS t(i)
  GROUP BY n.doc_id
)
SELECT sq.doc_id, CAST(sq.ns AS BIGINT) AS n_samples, sq.sum_sq,
       CAST(floor(sqrt(CAST(sq.sum_sq * 1000000 AS DOUBLE) / sq.ns))
            AS BIGINT) AS rms_milli,
       zc.zero_crossings
FROM sq JOIN zc ON zc.doc_id = sq.doc_id
ORDER BY sq.doc_id
""",
)
def multimodal_wav_rms_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-CLIP RMS ENERGY + ZERO-CROSSING RATE over REAL decoded
    audio — the two features every voice-activity / silence-trim /
    music-vs-speech gate computes first (audio_silence_runs finds the
    quiet SPANS; this scores the whole clip): deterministic RIFF/WAVE
    PCM binaries materialize as the payload column and a genuine
    parser reads the int16 block with numpy, accumulating the EXACT
    int64 sum of squares and the strict sign-product zero-crossing
    count (s_i·s_{i+1} < 0 — zeros break runs, the convention stated
    rather than implied). RMS publishes as one IEEE sqrt of
    sum_sq·10⁶/n — both operands exact and < 2⁵³ (|s| ≤ 1024, n ≤
    250 ⇒ sum_sq·10⁶ ≤ 2.7e14), floored onto the milli grid. The
    analytic oracle replays the sample generator through the same
    arithmetic, so an endianness or offset mistake in the parser
    cannot hash-match. Scale: decode + features are one
    row-partitioned Arrow pass; output is one row per clip."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def encode_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def energy_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = wav_energy_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    decoded = with_media.mapInPandas(
        energy_run,
        "doc_id long, n_samples long, sum_sq long, zero_crossings long",
    )
    return decoded.select(
        "doc_id",
        "n_samples",
        "sum_sq",
        F.floor(
            F.sqrt(
                (F.col("sum_sq") * 1000000).cast("double")
                / F.col("n_samples")
            )
        )
        .cast("long")
        .alias("rms_milli"),
        "zero_crossings",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal: Sobel gradient energy over decoded PGM rasters
# ---------------------------------------------------------------------------


@register(
    "multimodal_pgm_sobel_energy",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
inter AS (
  SELECT doc_id, w, h,
         CAST(t.i % (w - 2) + 1 AS BIGINT) AS px,
         CAST(t.i // (w - 2) + 1 AS BIGINT) AS py
  FROM dims, LATERAL unnest(range((w - 2) * (h - 2))) AS t(i)
),
g AS (
  SELECT doc_id, w, h,
         ((doc_id * 31 + ((py - 1) * w + px + 1) * 7) % 256
          + 2 * ((doc_id * 31 + (py * w + px + 1) * 7) % 256)
          + (doc_id * 31 + ((py + 1) * w + px + 1) * 7) % 256)
         - ((doc_id * 31 + ((py - 1) * w + px - 1) * 7) % 256
            + 2 * ((doc_id * 31 + (py * w + px - 1) * 7) % 256)
            + (doc_id * 31 + ((py + 1) * w + px - 1) * 7) % 256)
             AS gx,
         ((doc_id * 31 + ((py + 1) * w + px - 1) * 7) % 256
          + 2 * ((doc_id * 31 + ((py + 1) * w + px) * 7) % 256)
          + (doc_id * 31 + ((py + 1) * w + px + 1) * 7) % 256)
         - ((doc_id * 31 + ((py - 1) * w + px - 1) * 7) % 256
            + 2 * ((doc_id * 31 + ((py - 1) * w + px) * 7) % 256)
            + (doc_id * 31 + ((py - 1) * w + px + 1) * 7) % 256)
             AS gy
  FROM inter
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST((w - 2) * (h - 2) AS BIGINT) AS n_interior,
       CAST(SUM(gx * gx + gy * gy) AS BIGINT) AS sobel_energy
FROM g GROUP BY doc_id, w, h ORDER BY doc_id
""",
)
def multimodal_pgm_sobel_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL IMAGE-GRADIENT compute over binary image payloads: Sobel
    edge energy Σ(Gx² + Gy²) over every interior pixel — the
    standard blur/quality screen a production image-curation
    pipeline runs after decode (blurry → low gradient energy). The
    pipeline is genuinely end-to-end binary: deterministic NetPBM P5
    payloads (multimodal_pgm_real_decode's generator) are decoded —
    magic check, header parse, numpy raster — and convolved with the
    3×3 Sobel kernels via numpy slicing inside one Arrow-batched
    mapInPandas stage (the slot a PIL/OpenCV kernel would occupy; a
    100 TB corpus maps this per-partition with zero shuffle). The
    oracle predicts the exact integer energy analytically from the
    raster formula (doc·31 + i·7) mod 256, so a decoder that misreads
    the header, raster order, or kernel CANNOT hash-match. All
    integers; no floats anywhere."""
    import numpy as np  # noqa: F401 (imported for the worker closure)

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_pgm(int(x)) for x in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def sobel_run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, ws, hs, ni, en = [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P5\n"):
                    raise ValueError("not a binary PGM (P5) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims[0]), int(dims[1])
                img = (
                    np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
                    .astype(np.int64)
                    .reshape(h, w)
                )
                gx = (
                    (img[:-2, 2:] + 2 * img[1:-1, 2:] + img[2:, 2:])
                    - (img[:-2, :-2] + 2 * img[1:-1, :-2] + img[2:, :-2])
                )
                gy = (
                    (img[2:, :-2] + 2 * img[2:, 1:-1] + img[2:, 2:])
                    - (img[:-2, :-2] + 2 * img[:-2, 1:-1] + img[:-2, 2:])
                )
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                ni.append((w - 2) * (h - 2))
                en.append(int((gx * gx + gy * gy).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "n_interior": pd.Series(ni, dtype="int64"),
                    "sobel_energy": pd.Series(en, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        sobel_run,
        "doc_id long, width int, height int,"
        " n_interior long, sobel_energy long",
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal feature extraction + embedding drift
# ---------------------------------------------------------------------------


@register(
    "multimodal_pgm_centroid_moments",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
dims AS (
  SELECT doc_id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         t.i % w AS xx, t.i // w AS yy,
         (doc_id * 31 + t.i * 7) % 256 AS p
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
),
m AS (
  SELECT doc_id, CAST(max(w) AS INT) AS width,
         CAST(max(h) AS INT) AS height,
         CAST(SUM(p) AS BIGINT) AS m00,
         CAST(SUM(xx * p) AS BIGINT) AS m10,
         CAST(SUM(yy * p) AS BIGINT) AS m01
  FROM px GROUP BY doc_id
)
SELECT doc_id, width, height, m00, m10, m01,
       CASE WHEN m00 > 0
            THEN CAST(m10 * 1000 // m00 AS BIGINT)
       END AS cx_milli,
       CASE WHEN m00 > 0
            THEN CAST(m01 * 1000 // m00 AS BIGINT)
       END AS cy_milli
FROM m ORDER BY doc_id
""",
)
def multimodal_pgm_centroid_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RAW IMAGE MOMENTS + INTENSITY CENTROID over REAL decoded PGM
    rasters — the M00/M10/M01 moment stage every blob-tracking /
    alignment / crop-heuristic pipeline runs right after decode (and
    the precursor to Hu invariants): deterministic P5 binaries
    materialize as the payload column (same generator as
    multimodal_pgm_histogram / _sobel_energy), a genuine numpy
    parser re-reads header + raster and accumulates the exact int64
    moment sums; the centroid publishes as two non-negative milli
    floor-divisions. The analytic oracle replays the pixel formula
    ((id·31 + i·7) mod 256 at x = i mod w, y = i div w), so a
    row-major/column-major mixup in the decoder cannot hash-match.
    Scale: decode + moments are one row-partitioned Arrow pass."""
    from typing import Iterator

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )

    def encode_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_pgm(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def moments_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, m00s, m10s, m01s = [], [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P5\n"):
                    raise ValueError("not a binary PGM (P5) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims[0]), int(dims[1])
                img = (
                    np.frombuffer(
                        b, dtype=np.uint8, offset=hdr_end + 1
                    )
                    .astype(np.int64)
                    .reshape(h, w)
                )
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                ids.append(int(doc_id))
                ws.append(w)
                hs.append(h)
                m00s.append(int(img.sum()))
                m10s.append(int((img * xs[None, :]).sum()))
                m01s.append(int((img * ys[:, None]).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "m00": pd.Series(m00s, dtype="int64"),
                    "m10": pd.Series(m10s, dtype="int64"),
                    "m01": pd.Series(m01s, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        moments_run,
        "doc_id long, width int, height int,"
        " m00 long, m10 long, m01 long",
    )
    return out.selectExpr(
        "doc_id",
        "width",
        "height",
        "m00",
        "m10",
        "m01",
        "CASE WHEN m00 > 0 THEN CAST(m10 * 1000 div m00 AS BIGINT)"
        " END AS cx_milli",
        "CASE WHEN m00 > 0 THEN CAST(m01 * 1000 div m00 AS BIGINT)"
        " END AS cy_milli",
    ).orderBy("doc_id")


@register(
    "multimodal_wav_diff_energy",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
dims AS (
  SELECT doc_id, doc_id % 200 + 50 AS n FROM d
),
s AS (
  SELECT doc_id, n, t.i AS i,
         (doc_id * 131 + t.i * 17) % 2048 - 1024 AS v
  FROM dims, LATERAL unnest(range(n)) AS t(i)
),
led AS (
  SELECT doc_id, n, v,
         lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS v1
  FROM s
),
m AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
         CAST(SUM(v * v) AS BIGINT) AS energy,
         CAST(SUM(CASE WHEN v1 IS NULL THEN 0
                       ELSE (v1 - v) * (v1 - v) END) AS BIGINT)
             AS diff_energy
  FROM led GROUP BY doc_id
)
SELECT doc_id, n_samples, energy, diff_energy,
       CASE WHEN energy > 0
            THEN CAST(CAST(diff_energy AS HUGEINT) * 1000000
                      // (4 * CAST(energy AS HUGEINT)) AS BIGINT)
       END AS hf_ratio_ppm
FROM m ORDER BY doc_id
""",
)
def multimodal_wav_diff_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIRST-DIFFERENCE ENERGY RATIO over REAL decoded audio — the
    log-free high-frequency proxy (Σ(sᵢ₊₁−sᵢ)²/4Σsᵢ² is the
    normalized difference energy, monotone in the spectral centroid
    for band-limited signals — the music/speech/hiss triage feature
    computed when an FFT is not affordable or, here, not
    hash-exact). Same deterministic RIFF/WAVE payloads and numpy
    parser as multimodal_wav_rms_energy; both energies accumulate
    as exact int64 (|s| ≤ 1024 ⇒ per-clip sums ≪ 2⁶³), the ratio is
    one non-negative HUGEINT ⟷ decimal(38,0) ppm floor-division,
    Cauchy-Schwarz-bounded by 10⁶. The analytic oracle replays the
    sample formula through a lead window, so off-by-one framing in
    the parser cannot hash-match. Scale: one row-partitioned Arrow
    pass."""
    from typing import Iterator

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_wav(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    with_media = docs.mapInPandas(
        encode_run, "doc_id long, payload binary"
    )

    def diff_run(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            ids, ns, es, ds = [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE stream")
                (nbytes,) = struct.unpack("<I", b[40:44])
                samples = np.frombuffer(
                    b, dtype="<i2", offset=44, count=nbytes // 2
                ).astype(np.int64)
                diff = np.diff(samples)
                ids.append(int(doc_id))
                ns.append(len(samples))
                es.append(int((samples * samples).sum()))
                ds.append(int((diff * diff).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "energy": pd.Series(es, dtype="int64"),
                    "diff_energy": pd.Series(ds, dtype="int64"),
                }
            )

    out = with_media.mapInPandas(
        diff_run,
        "doc_id long, n_samples long, energy long, diff_energy long",
    )
    return out.selectExpr(
        "doc_id",
        "n_samples",
        "energy",
        "diff_energy",
        "CASE WHEN energy > 0 THEN"
        f" CAST(CAST(diff_energy AS {DEC38}) * 1000000"
        f" div (4 * CAST(energy AS {DEC38})) AS BIGINT)"
        " END AS hf_ratio_ppm",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal: color quantization + zero-crossing audio features
# ---------------------------------------------------------------------------


@register(
    "multimodal_ppm_color_quantize",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 150),
dims AS (
  SELECT doc_id, doc_id % 12 + 4 AS w, doc_id % 8 + 4 AS h FROM d
),
px AS (
  SELECT doc_id, w, h,
         (((doc_id * 37 + t.i * 11) % 256) // 64) * 16
         + (((doc_id * 37 + t.i * 11 + 71) % 256) // 64) * 4
         + ((doc_id * 37 + t.i * 11 + 142) % 256) // 64 AS bin
  FROM dims, LATERAL unnest(range(w * h)) AS t(i)
),
bc AS (
  SELECT doc_id, w, h, bin, CAST(count(*) AS BIGINT) AS c
  FROM px GROUP BY doc_id, w, h, bin
),
ranked AS (
  SELECT doc_id, w, h, bin, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bin)
             AS rn,
         count(*) OVER (PARTITION BY doc_id) AS nb
  FROM bc
)
SELECT doc_id, CAST(w * h AS INT) AS n_pixels,
       CAST(bin AS INT) AS dominant_bin, c AS dominant_count,
       CAST(nb AS INT) AS n_bins
FROM ranked WHERE rn = 1 ORDER BY doc_id
""",
)
def multimodal_ppm_color_quantize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLOR-SPACE QUANTIZATION over real decoded P6 images: every
    pixel maps to a 4x4x4 RGB cube bin (r//64, g//64, b//64 -> 64
    bins), per image the DOMINANT bin (max count, tie -> lowest bin
    id) and the occupied-bin count — the palette-histogram feature a
    multimodal curation pipeline uses for near-duplicate screening and
    low-information-image filtering. The decode is the genuine P6
    parser (magic check, header parse, numpy interleaved-RGB read) in
    the Arrow-batched mapInPandas codec slot (see
    multimodal_ppm_rgb_decode, llm/multimodal.py); the oracle replays
    bins analytically from the deterministic raster formula. Scale:
    payloads never leave the executor; output is 5 small columns per
    image."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def encode_run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_ppm(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def quantize_run(batches):
        import numpy as np

        for pdf in batches:
            ids, npx, dbin, dcnt, nbins = [], [], [], [], []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if not b.startswith(b"P6\n"):
                    raise ValueError("not a binary PPM (P6) stream")
                hdr_end = b.index(b"\n", b.index(b"\n", 3) + 1)
                dims_line = b[3 : b.index(b"\n", 3)].split()
                w, h = int(dims_line[0]), int(dims_line[1])
                raster = np.frombuffer(b, dtype=np.uint8, offset=hdr_end + 1)
                if raster.size != w * h * 3:
                    raise ValueError("raster size mismatch")
                rgb = raster.reshape(-1, 3).astype(np.int64)
                bins = (
                    (rgb[:, 0] // 64) * 16
                    + (rgb[:, 1] // 64) * 4
                    + rgb[:, 2] // 64
                )
                counts = np.bincount(bins, minlength=64)
                dom = int(np.argmax(counts))  # first max = lowest bin id
                ids.append(int(did))
                npx.append(w * h)
                dbin.append(dom)
                dcnt.append(int(counts[dom]))
                nbins.append(int(np.count_nonzero(counts)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_pixels": pd.Series(npx, dtype="int32"),
                    "dominant_bin": pd.Series(dbin, dtype="int32"),
                    "dominant_count": pd.Series(dcnt, dtype="int64"),
                    "n_bins": pd.Series(nbins, dtype="int32"),
                }
            )

    return with_media.mapInPandas(
        quantize_run,
        "doc_id long, n_pixels int, dominant_bin int, dominant_count long,"
        " n_bins int",
    ).orderBy("doc_id")


@register(
    "multimodal_wav_zero_crossings",
    oracle="""
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
n AS (SELECT doc_id, doc_id % 200 + 50 AS ns FROM d),
s AS (
  SELECT doc_id, ns, t.i AS i,
         (doc_id * 131 + t.i * 17) % 2048 - 1024 AS v
  FROM n, LATERAL unnest(range(ns)) AS t(i)
),
lagd AS (
  SELECT doc_id, ns, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id, CAST(ns AS INT) AS n_samples,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND v * pv < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings,
       CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
       CAST(MIN(CASE WHEN pv IS NOT NULL AND v * pv < 0 THEN i END)
            AS BIGINT) AS first_crossing_idx
FROM lagd GROUP BY doc_id, ns ORDER BY doc_id
""",
)
def multimodal_wav_zero_crossings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZERO-CROSSING-RATE features over real decoded PCM: per clip the
    count of strict sign flips (s_i * s_{i-1} < 0), exact-zero sample
    count, and the first crossing index — the cheapest
    voiced/unvoiced + spectral-centroid proxy an audio curation
    pipeline computes before any FFT. Decode is the genuine RIFF/WAVE
    parser (magic + fmt validation, numpy int16 read — the
    decode_wav_batch contract, llm/multimodal.py); the feature math
    runs vectorized in the same Arrow batch. The oracle replays the
    deterministic sample formula with a lag window. Distinct from
    audio_silence_runs (amplitude-threshold VAD runs) and
    multimodal_wav_diff_energy (first-difference energy)."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )

    def encode_run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [encode_wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    with_media = docs.mapInPandas(encode_run, "doc_id long, payload binary")

    def zcr_run(batches):
        import struct

        import numpy as np

        for pdf in batches:
            ids, nsamp, ncross, nzero, firsts = [], [], [], [], []
            for did, buf in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(buf)
                if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                    raise ValueError("not a RIFF/WAVE stream")
                (data_len,) = struct.unpack("<I", b[40:44])
                s = np.frombuffer(
                    b, dtype="<i2", offset=44, count=data_len // 2
                ).astype(np.int64)
                prod = s[1:] * s[:-1]
                cross = prod < 0
                ids.append(int(did))
                nsamp.append(int(s.size))
                ncross.append(int(cross.sum()))
                nzero.append(int((s == 0).sum()))
                firsts.append(
                    int(np.argmax(cross)) + 1 if cross.any() else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(nsamp, dtype="int32"),
                    "n_crossings": pd.Series(ncross, dtype="int64"),
                    "n_zeros": pd.Series(nzero, dtype="int64"),
                    "first_crossing_idx": pd.Series(
                        firsts, dtype="Int64"
                    ),
                }
            )

    return with_media.mapInPandas(
        zcr_run,
        "doc_id long, n_samples int, n_crossings long, n_zeros long,"
        " first_crossing_idx long",
    ).orderBy("doc_id")
