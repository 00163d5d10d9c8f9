"""Multimodal-column plumbing (north-star additions).

Treats media payloads as opaque ``binary`` columns with typed
metadata. The container has no image/audio codecs, so the decode step
is a clearly-marked deterministic stub — but the Spark-side plumbing
(binary columns, Arrow-batched ``mapInPandas``, output schema,
partition behavior) is real and tested (tests/test_multimodal.py).

At scale: binary payloads ride in parquet as BYTE_ARRAY; decode /
feature-extract runs as ``mapInPandas`` so each Arrow batch crosses
the JVM<->Python boundary once, and metadata-only queries never touch
the payload column (columnar pruning).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.pyworker import worker_setup
from ..registry import query
from ..session import tune
from ..sources.tables import fanout, table


def with_binary_payload(d: DataFrame) -> DataFrame:
    """Attach a synthetic binary payload column (UTF-8 bytes of ``text``).

    Stands in for an image/audio blob column; the driver's testdata has
    no native binary table.
    """
    return d.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def fake_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for an image decode.

    A real deployment replaces the body with e.g. PIL/ffmpeg calls
    (``NotImplementedError`` path below); the batch shape, schema, and
    Arrow transfer are exactly what the real decoder uses.
    """
    worker_setup()
    for pdf in batches:
        payload = pdf["payload"]
        n_bytes = payload.map(len).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n_bytes,
                "format": n_bytes.map(lambda n: "png" if n % 2 == 0 else "jpeg"),
                "width": (n_bytes % 640).astype("int32"),
                "height": ((n_bytes * 7) % 480).astype("int32"),
            }
        )


def real_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The production decode hook. Codec libraries are not available in
    this environment; wire PIL/torchaudio/ffmpeg here."""
    worker_setup()
    raise NotImplementedError(
        "image/audio codecs not available in this container; "
        "use fake_decode_batches for plumbing tests"
    )


def decode_metadata(d: DataFrame, decoder=fake_decode_batches) -> DataFrame:
    """binary payload -> typed metadata via Arrow-batched mapInPandas."""
    return d.select("doc_id", "payload").mapInPandas(decoder, schema=DECODE_SCHEMA)


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: byte length + content checksum.

    Pure JVM expressions over the payload — the query a catalog scan
    runs without ever decoding media.
    """
    tune(spark)
    d = with_binary_payload(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.length(F.col("payload")).alias("n_bytes"),
        F.md5(F.col("text")).alias("checksum"),
    )


@query(
    "multimodal_fake_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CASE WHEN octet_length(encode(text)) % 2 = 0
                THEN 'png' ELSE 'jpeg' END AS format,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_fake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-to-metadata pipeline with the stubbed decoder.

    Oracle-backed (r8, closing the registry's last rows-only gap): the
    Spark side runs the REAL plumbing — Arrow-batched ``mapInPandas``
    over the binary column — while the oracle recomputes the stub's
    documented arithmetic (n_bytes/format/width/height are pure
    functions of the payload byte length) SQL-side, the same
    invariant-column pattern as ``multimodal_audio_features``. A real
    decoder swaps ``fake_decode_batches`` for codec calls and keeps
    the identical batch shape; only the oracle is stub-specific.
    """
    tune(spark)
    # fanout: the decode is CPU-bound Python; spread the single
    # row-group scan across workers before the Arrow exchange
    d = with_binary_payload(fanout(table(spark, sf_dir, "documents")))
    return decode_metadata(d)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("thumb_w", T.IntegerType()),
        T.StructField("thumb_h", T.IntegerType()),
        T.StructField("thumb_bytes", T.IntegerType()),
    ]
)


def fake_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for a thumbnail resize (PIL goes here).
    Output thumbnails are 64px-wide with aspect preserved against the
    fake decode's dimensions."""
    worker_setup()
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        w = (n_bytes % 640).clip(lower=1)
        h = ((n_bytes * 7) % 480).clip(lower=1)
        tw = pd.Series(64, index=pdf.index)
        th = (64 * h / w).astype("int32").clip(lower=1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "thumb_w": tw.astype("int32"),
                "thumb_h": th,
                "thumb_bytes": (tw * th * 3).astype("int32"),  # RGB
            }
        )


@query(
    "multimodal_resize",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             GREATEST(1, octet_length(encode(text)) % 640) AS w,
             GREATEST(1, (octet_length(encode(text)) * 7) % 480) AS h
      FROM documents)
    SELECT doc_id,
           CAST(64 AS INTEGER) AS thumb_w,
           CAST(GREATEST(1, CAST(FLOOR(64.0 * h / w) AS INTEGER))
                AS INTEGER) AS thumb_h,
           CAST(64 * 3 * GREATEST(1, CAST(FLOOR(64.0 * h / w) AS INTEGER))
                AS INTEGER) AS thumb_bytes
    FROM b
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-resize pipeline over the binary payload column —
    Arrow-batched mapInPandas, one row out per image in.

    Oracle-backed (r8): the stub's aspect-ratio arithmetic
    (w,h from byte length; th = trunc(64*h/w), all positive) is
    recomputed SQL-side. ``64.0 * h / w`` is the same IEEE-double
    expression in pandas and DuckDB, and FLOOR-of-positive == the
    stub's ``astype(int32)`` truncation, so the comparison is exact,
    not fixture-lucky."""
    tune(spark)
    d = with_binary_payload(fanout(table(spark, sf_dir, "documents")))
    return d.select("doc_id", "payload").mapInPandas(
        fake_resize_batches, schema=RESIZE_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_off", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)

_FRAME_SIZE = 32  # bytes per fake "frame"
_FRAME_STRIDE = 4  # sample every 4th frame


def frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for video frame sampling (ffmpeg goes
    here): treat the payload as fixed-size frames, emit every
    ``_FRAME_STRIDE``-th one — a ROW-EXPANDING mapInPandas (N frames
    out per payload in), the shape a real frame sampler has."""
    worker_setup()
    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "frame_off": [], "frame_bytes": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = max(1, len(payload) // _FRAME_SIZE)
            for idx in range(0, n_frames, _FRAME_STRIDE):
                off = idx * _FRAME_SIZE
                out["doc_id"].append(int(doc_id))
                out["frame_idx"].append(idx)
                out["frame_off"].append(off)
                out["frame_bytes"].append(bytes(payload[off : off + _FRAME_SIZE]))
        yield pd.DataFrame(out)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             GREATEST(1, octet_length(encode(text)) // {_FRAME_SIZE}) AS n_frames
      FROM documents)
    SELECT doc_id, CAST(p.i AS INTEGER) AS frame_idx,
           CAST(p.i * {_FRAME_SIZE} AS INTEGER) AS frame_off,
           CAST(LEAST({_FRAME_SIZE}, n_bytes - p.i * {_FRAME_SIZE}) AS INTEGER)
             AS frame_len
    FROM f, UNNEST(range(0, n_frames, {_FRAME_STRIDE})) AS p(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling with its row-expanding Python plumbing, but
    checked against a SQL oracle on the frame *geometry* (index,
    offset, length) — the byte payloads themselves stay in the rows-
    only realm, the geometry proves the sampler walks the payload
    identically."""
    tune(spark)
    d = with_binary_payload(fanout(table(spark, sf_dir, "documents")))
    frames = d.select("doc_id", "payload").mapInPandas(
        frame_sample_batches, schema=FRAME_SCHEMA
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_off",
        F.length("frame_bytes").cast("int").alias("frame_len"),
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("n_frames_10ms", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)

_SAMPLE_RATE = 16_000  # fake PCM16 mono


def audio_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for audio feature extraction
    (torchaudio/librosa go here): treat the payload as 16kHz PCM16
    mono — sample count, duration, 10ms frame count, plus an md5 of
    the exact bytes the worker saw (proves the Arrow transfer is
    byte-faithful, since the oracle recomputes it SQL-side)."""
    import hashlib

    worker_setup()

    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        n_samples = (n_bytes // 2).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_samples": n_samples,
                "duration_sec": n_samples / float(_SAMPLE_RATE),
                "n_frames_10ms": (n_samples // (_SAMPLE_RATE // 100)).astype("int64"),
                "checksum": pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()
                ),
            }
        )


@query(
    "multimodal_audio_features",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) // 2 AS n_samples,
           CAST(octet_length(encode(text)) // 2 AS DOUBLE) / {_SAMPLE_RATE}.0
             AS duration_sec,
           (octet_length(encode(text)) // 2) // {_SAMPLE_RATE // 100}
             AS n_frames_10ms,
           md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction plumbing (completes the image/audio/
    video triad): Python computes waveform geometry AND an md5 of the
    received bytes; the oracle recomputes both SQL-side, so the check
    proves the Arrow payload transfer is byte-faithful end to end."""
    tune(spark)
    d = with_binary_payload(fanout(table(spark, sf_dir, "documents")))
    return d.select("doc_id", "payload").mapInPandas(
        audio_feature_batches, schema=AUDIO_SCHEMA
    )


# real file-format magic numbers (public specs): PNG, JPEG/JFIF, WAV
_MAGICS = {
    0: ("89504E470D0A1A0A", "png"),
    1: ("FFD8FFE0", "jpeg"),
    2: ("52494646", "wav"),  # RIFF container
    3: (None, "unknown"),  # raw bytes, no recognized header
}


@query(
    "multimodal_magic_sniff",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN unhex('89504E470D0A1A0A') || encode(text)
               WHEN 1 THEN unhex('FFD8FFE0') || encode(text)
               WHEN 2 THEN unhex('52494646') || encode(text)
               ELSE encode(text) END AS payload
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN substr(hex(payload), 1, 16) = '89504E470D0A1A0A' THEN 'png'
             WHEN substr(hex(payload), 1, 6) = 'FFD8FF' THEN 'jpeg'
             WHEN substr(hex(payload), 1, 8) = '52494646' THEN 'wav'
             ELSE 'unknown' END AS detected_format,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           doc_id % 4 <= 2 AS header_present
    FROM p
    """,
)
def multimodal_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type sniffing by magic bytes: classify each binary
    payload as png/jpeg/wav/unknown from its real file-signature
    prefix — the routing step a multimodal ingest runs BEFORE picking
    a decoder, and the guard against mislabeled blobs (payloads here
    are synthesized with genuine magic numbers on 3/4 of rows).

    Scale shape: pure JVM binary/string expressions (concat, hex,
    substring) at scan speed — no Python, no decode; the sniff reads
    at most the first 8 payload bytes' hex, so a router over 100 TB
    of media touches headers, not contents.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    body = F.encode(F.col("text"), "UTF-8")
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.unhex(F.lit(_MAGICS[0][0])), body))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.unhex(F.lit(_MAGICS[1][0])), body))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.unhex(F.lit(_MAGICS[2][0])), body))
        .otherwise(body)
    )
    # Spark slices the BINARY before hexing (reads 8 bytes per row);
    # DuckDB can't slice blobs so the oracle hexes the whole payload —
    # identical first-16-hex-chars either way
    hx = F.hex(F.substring(payload, 1, 8))
    detected = (
        F.when(F.substring(hx, 1, 16) == "89504E470D0A1A0A", F.lit("png"))
        .when(F.substring(hx, 1, 6) == "FFD8FF", F.lit("jpeg"))
        .when(F.substring(hx, 1, 8) == "52494646", F.lit("wav"))
        .otherwise(F.lit("unknown"))
    )
    return d.select(
        "doc_id",
        detected.alias("detected_format"),
        F.length(payload).cast("long").alias("n_bytes"),
        (F.col("doc_id") % 4 <= 2).alias("header_present"),
    )


_CHUNK_BYTES = 64


@query(
    "multimodal_payload_dedup",
    oracle=f"""
    WITH ch AS (
      SELECT md5(substr(text, CAST(p.i * {_CHUNK_BYTES} + 1 AS INTEGER),
                        {_CHUNK_BYTES})) AS h,
             CAST(octet_length(encode(substr(text,
                        CAST(p.i * {_CHUNK_BYTES} + 1 AS INTEGER),
                        {_CHUNK_BYTES}))) AS BIGINT) AS nb
      FROM documents,
           UNNEST(range((octet_length(encode(text)) + {_CHUNK_BYTES - 1})
                        // {_CHUNK_BYTES})) AS p(i)),
    g AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS c, MIN(nb) AS nb
      FROM ch GROUP BY h)
    SELECT CAST(SUM(c) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_chunks,
           CAST(SUM(c * nb) AS BIGINT) AS total_bytes,
           CAST(SUM((c - 1) * nb) AS BIGINT) AS reclaimable_bytes,
           CAST(SUM((c - 1) * nb) AS DOUBLE) / SUM(c * nb)
             AS reclaim_ratio
    FROM g
    """,
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level storage dedup audit of the binary payload column:
    payloads are sliced into fixed 64-byte chunks (the
    fixed-block form of the content-defined chunking every dedup
    store — borg, ZFS, restic — runs on media blobs), chunks are
    keyed by checksum, and the result is the one-row storage planning
    summary: how many chunks, how many unique, and how many bytes a
    chunk store would reclaim. The media-lake capacity answer the
    per-object checksum (``multimodal_binary_stats``) cannot give
    when blobs share content without being identical.

    The synthetic payload is the UTF-8 bytes of ASCII text, so the
    64-char substring chunking used by both engines is exactly
    64-byte chunking of the binary column.

    Scale: chunk fan-out is a map-only explode (sequence over
    ceil(bytes/64) positions); the only shuffle is the
    checksum groupBy, map-side combinable with exact integer
    aggregates; the final summary is a 1-row reduce. No window, no
    join.
    """
    tune(spark)
    d = table(spark, sf_dir, "documents")
    nchunks = F.floor(
        (F.octet_length("text") + F.lit(_CHUNK_BYTES - 1)) / _CHUNK_BYTES
    ).cast("int")
    ch = d.select(
        F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("i"), "text"
    ).select(
        F.md5(
            F.substring(
                F.col("text"), F.col("i") * _CHUNK_BYTES + 1, _CHUNK_BYTES
            )
        ).alias("h"),
        F.octet_length(
            F.encode(
                F.substring(
                    F.col("text"), F.col("i") * _CHUNK_BYTES + 1, _CHUNK_BYTES
                ),
                "UTF-8",
            )
        )
        .cast("long")
        .alias("nb"),
    )
    g = ch.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.min("nb").alias("nb"),
    )
    return g.agg(
        F.sum("c").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("dup_chunks"),
        F.sum(F.col("c") * F.col("nb")).cast("long").alias("total_bytes"),
        F.sum((F.col("c") - 1) * F.col("nb"))
        .cast("long")
        .alias("reclaimable_bytes"),
        (
            F.sum((F.col("c") - 1) * F.col("nb")).cast("double")
            / F.sum(F.col("c") * F.col("nb"))
        ).alias("reclaim_ratio"),
    )
