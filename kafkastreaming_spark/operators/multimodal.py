"""Multimodal (opaque-binary) columns: ingest, frame sampling, decode
plumbing (driver north star; extends SURVEY.md §2.11).

Media (image/audio/video) is modeled as an opaque ``binary`` payload
column plus typed metadata — here synthesized as the UTF-8 encoding of
``documents.text`` so every engine sees identical bytes.  The corpus is
ASCII by construction, so DuckDB's string functions (which hash/slice
UTF-8 text) agree byte-for-byte with Spark's binary functions; the
oracle exploits that: ``sha2(payload, 256)`` ≡ ``sha256(text)``.

The decode stage (`mm_decode_features`) is the real Spark plumbing a
media pipeline needs — Arrow-batched ``mapInPandas`` over binary
payloads, explicit output schema, per-batch feature math — AND a real
container codec: payloads are valid PCM WAV files (synthesized
deterministically from the fixture text, since no binary media fixture
exists), parsed back with the stdlib ``wave`` reader.  Heavier codecs
(PIL / torchaudio / pyav) drop into the same seam with no plumbing
change.

Scale: payloads at 100 TB live in parquet binary columns (or pointers
into object storage); ``mapInPandas`` streams Arrow batches so executor
memory is bounded by batch size, not partition size — set
``spark.sql.execution.arrow.maxRecordsPerBatch`` to keep
(records × payload) within executor budget.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkastreaming_spark.hashing import H_SPARK, char_codes
from kafkastreaming_spark.io import load_table
from kafkastreaming_spark.registry import query


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + opaque binary payload column (the media blob)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.encode("text", "utf-8").alias("payload"),
    )


@query(
    "mm_ingest",
    oracle="""
    SELECT doc_id, lang,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
)
def mm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingest manifest: typed metadata (mime, byte length, content
    hash) per opaque payload — the dedup/integrity layer of a media lake.
    Content-hash is the exact-dedup key for binary blobs, the direct
    analogue of ``llm_exact_dedup``'s md5(text)."""
    return _with_payload(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.lit("text/plain").alias("media_type"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             unnest(generate_series(0, (octet_length(encode(text)) - 32) // 64))
               AS frame_idx,
             text
      FROM documents
      WHERE octet_length(encode(text)) >= 32
    )
    SELECT doc_id, frame_idx,
           sha256(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 32))
             AS frame_sha
    FROM f
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque payload: every other 32-byte window
    (stride 64) hashed — the video-keyframe / audio-chunk access pattern,
    done JVM-side with zero Python.

    ``sequence`` + ``explode`` fans each payload into its frames; at
    100 TB the fanout is map-side only (no shuffle) and frames inherit
    the payload partitioning."""
    return (
        _with_payload(spark, sf_dir)
        # guard sub-frame payloads: Spark's int cast truncates toward zero
        # while the oracle's // floors, so a <32-byte payload would diverge
        .filter(F.octet_length("payload") >= 32)
        .select(
            "doc_id",
            "payload",
            F.explode(
                F.expr("sequence(0, CAST((octet_length(payload) - 32) / 64 AS INT))")
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.sha2(F.expr("substring(payload, frame_idx * 64 + 1, 32)"), 256).alias(
                "frame_sha"
            ),
        )
    )


_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        # per-channel amplitude stats as exact integers: int16 samples sum
        # below 2^53 at any plausible clip length, so no float discipline
        # is needed for the driver's stringified hash
        T.StructField("amp_min", T.IntegerType()),
        T.StructField("amp_max", T.IntegerType()),
        T.StructField("amp_sum", T.LongType()),
    ]
)

_WAV_RATE = 8000


def _make_wav(codes: "np.ndarray") -> bytes:
    """Deterministic producer: a VALID mono 16-bit PCM WAV container whose
    samples are ``(char_code - 64) * 256`` — spread across the signed
    int16 range yet exactly reproducible by integer SQL in the oracle.
    stdlib ``wave`` writes the canonical 44-byte RIFF/fmt/data layout."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_RATE)
        w.writeframes(((codes - 64) * 256).astype("<i2").tobytes())
    return buf.getvalue()


def _decode_wav(payload: bytes) -> tuple[int, int, int, int, "np.ndarray"]:
    """Real container decode: parse the RIFF/WAVE header and PCM frames
    with the stdlib ``wave`` codec (no stub, no fallback).  A deployment
    swaps in PIL / torchaudio / pyav here for richer media; the Spark
    plumbing around it is identical."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch = w.getnchannels()
        bits = w.getsampwidth() * 8
        rate = w.getframerate()
        n = w.getnframes()
        data = np.frombuffer(w.readframes(n), dtype="<i2")
    return nch, bits, rate, n, data


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: synthesize the WAV payload (producer) then
    round-trip it through the real decoder — one Arrow batch in, one
    feature batch out.  The per-row loop is the codec call itself (same
    shape as a PIL/pyav loop); all surrounding math is numpy."""
    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            payload = _make_wav(char_codes(text, "mm_decode_features"))
            nch, bits, rate, n, data = _decode_wav(payload)
            rows.append(
                (
                    int(doc_id),
                    "audio/wav",
                    nch,
                    rate,
                    bits,
                    n,
                    len(payload),
                    int(data.min()),
                    int(data.max()),
                    int(data.astype(np.int64).sum()),
                )
            )
        yield pd.DataFrame(rows, columns=_FEAT_SCHEMA.fieldNames())


@query(
    "mm_decode_features",
    oracle=f"""
    WITH amp AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
                            ch -> (ascii(ch) - 64) * 256) AS a
      FROM documents WHERE length(text) >= 1
    )
    SELECT doc_id,
           'audio/wav' AS media_type,
           CAST(1 AS INTEGER) AS n_channels,
           CAST({_WAV_RATE} AS INTEGER) AS sample_rate,
           CAST(16 AS INTEGER) AS bits,
           CAST(len(a) AS BIGINT) AS n_frames,
           CAST(44 + 2 * len(a) AS BIGINT) AS n_bytes,
           CAST(list_aggregate(a, 'min') AS INTEGER) AS amp_min,
           CAST(list_aggregate(a, 'max') AS INTEGER) AS amp_max,
           CAST(list_aggregate(a, 'sum') AS BIGINT) AS amp_sum
    FROM amp
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract via Arrow-batched ``mapInPandas``, with a
    REAL container codec end to end: each document becomes a valid mono
    16-bit PCM WAV payload (deterministic producer), and the kernel
    parses the RIFF header + frames back with the stdlib ``wave`` reader
    and emits typed audio metadata plus exact integer amplitude stats.

    The DuckDB oracle reproduces every value arithmetically from the
    text (header constants + ``(ascii(ch)-64)*256`` sample math), so the
    whole decode path — container write, header parse, PCM frame read,
    channel stats — is value-checked, not just rows-only.  At 100 TB the
    payload column arrives from the lake instead of the synthesizer and
    the kernel drops ``_make_wav``; nothing else changes."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 1)
        .select("doc_id", "text")
    )
    return docs.mapInPandas(_decode_batches, _FEAT_SCHEMA)


_ENERGY_FRAME = 64  # samples per analysis frame (8 ms at 8 kHz)


@query(
    "mm_audio_energy",
    oracle=f"""
    WITH amp AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
                            ch -> (ascii(ch) - 64) * 256) AS a
      FROM documents WHERE length(text) >= {_ENERGY_FRAME}
    ),
    frames AS (
      SELECT doc_id, a,
             unnest(generate_series(0, len(a) // {_ENERGY_FRAME} - 1))
               AS frame_idx
      FROM amp
    ),
    sliced AS (
      SELECT doc_id, frame_idx,
             a[(frame_idx * {_ENERGY_FRAME} + 1):((frame_idx + 1) * {_ENERGY_FRAME})]
               AS fr
      FROM frames
    )
    SELECT doc_id, frame_idx,
           CAST(list_aggregate(list_transform(fr, x -> x * x), 'sum')
                AS BIGINT) AS energy,
           CAST(GREATEST(list_aggregate(fr, 'max'),
                         -list_aggregate(fr, 'min')) AS INTEGER) AS peak
    FROM sliced
    """,
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio energy over the REAL WAV payloads: decode the
    PCM container (same stdlib ``wave`` codec as ``mm_decode_features``),
    chop the sample stream into 64-sample frames (8 ms at 8 kHz), and
    emit each frame's energy (Σ s²) and peak amplitude — the
    voice-activity / silence-trim primitive of an audio training
    pipeline (incomplete tail frames are dropped, the standard DSP
    convention).

    All stats are exact int64 (|s| ≤ 16384 ⇒ frame energy ≤ 2^34·2^6 ≪
    2^53), so the DuckDB oracle reproduces them arithmetically from the
    text and the whole decode→frame→energy path is hash-checked.  The
    kernel is numpy throughout: frames via reshape, energy/peak as C
    reductions; per-doc output fans out map-side only (no shuffle) —
    the same scale shape as ``mm_frame_sample``."""
    frame = _ENERGY_FRAME

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_en, out_pk = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = _make_wav(char_codes(text, "mm_audio_energy"))
                _, _, _, n, data = _decode_wav(payload)
                n_frames = n // frame
                if n_frames == 0:
                    continue
                fr = (
                    data[: n_frames * frame].astype(np.int64).reshape(n_frames, frame)
                )
                out_doc.append(np.full(n_frames, doc_id, dtype=np.int64))
                out_idx.append(np.arange(n_frames, dtype=np.int64))
                out_en.append((fr * fr).sum(axis=1))
                out_pk.append(np.abs(fr).max(axis=1))
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_doc),
                        "frame_idx": np.concatenate(out_idx),
                        "energy": np.concatenate(out_en),
                        "peak": np.concatenate(out_pk).astype(np.int32),
                    }
                )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= frame)
        .select("doc_id", "text")
    )
    return docs.mapInPandas(
        energy_batches, "doc_id long, frame_idx long, energy long, peak int"
    )


@query(
    "mm_dedup_binary",
    oracle="""
    WITH payloads AS (
      SELECT doc_id, lang,
             sha256(text) AS payload_sha,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    per_sha AS (
      SELECT lang, payload_sha,
             COUNT(*) AS cnt,
             MIN(n_bytes) AS n_bytes,
             MIN(doc_id) AS keep_doc
      FROM payloads GROUP BY lang, payload_sha
    )
    SELECT lang,
           CAST(SUM(cnt) AS BIGINT) AS n_payloads,
           COUNT(*) AS n_unique,
           CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_rows,
           CAST(SUM(cnt * n_bytes) AS BIGINT) AS bytes_total,
           CAST(SUM((cnt - 1) * n_bytes) AS BIGINT) AS bytes_saved
    FROM per_sha GROUP BY lang
    """,
)
def mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup for the media lake: group opaque payloads by
    content hash (sha-256) within each language shard, keep the earliest
    doc per hash, and report the storage ledger — payload count, unique
    count, duplicate rows, and bytes reclaimed.

    This is llm_exact_dedup lifted to BINARY columns: the content hash
    is computed map-side on the opaque payload (never decoded), the
    shuffle key is the uniform 256-bit digest (no skew by construction),
    and the second aggregation is over the already-tiny per-hash table.
    At 100 TB of media this ledger IS the dedup business case; the
    keep_doc column generalizes to the same cluster-canonical policies
    as the text path (llm_dedup_clusters / graph_pagerank)."""
    payloads = _with_payload(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.sha2("payload", 256).alias("payload_sha"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )
    per_sha = payloads.groupBy("lang", "payload_sha").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("n_bytes").alias("n_bytes"),
        F.min("doc_id").alias("keep_doc"),
    )
    return per_sha.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_payloads"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("cnt") - 1).cast("bigint").alias("n_dup_rows"),
        F.sum(F.col("cnt") * F.col("n_bytes")).cast("bigint").alias("bytes_total"),
        F.sum((F.col("cnt") - 1) * F.col("n_bytes"))
        .cast("bigint")
        .alias("bytes_saved"),
    )


_BMP_W = 16  # pixels per row; 24-bit rows = 48 bytes, already 4-aligned


def _make_bmp(codes: "np.ndarray") -> bytes:
    """Deterministic producer: a VALID 24-bit BITMAPINFOHEADER BMP whose
    grayscale pixels are the document's char codes (B=G=R=code), rows
    stored bottom-up per the spec.  Width is fixed at 16 so each row is
    48 bytes — a multiple of 4, so the format's row padding is exercised
    as a no-op rather than skipped."""
    import struct

    h = len(codes) // _BMP_W
    px = codes[: h * _BMP_W].astype(np.uint8).reshape(h, _BMP_W)
    rows = np.repeat(px[::-1], 3, axis=1)  # bottom-up; B=G=R
    body = rows.tobytes()
    file_size = 54 + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, _BMP_W, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + body


def _decode_bmp(payload: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """Real container decode: parse the BITMAPFILEHEADER +
    BITMAPINFOHEADER with struct, then read the bottom-up pixel array
    back into top-down (height, width, 3) uint8."""
    import struct

    magic, file_size, _, _, offset = struct.unpack("<2sIHHI", payload[:14])
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    (hdr_size, width, height, planes, bpp) = struct.unpack(
        "<IiiHH", payload[14:30]
    )
    if (hdr_size, planes, bpp) != (40, 1, 24):
        raise ValueError("unsupported BMP variant")
    row_bytes = (width * 3 + 3) // 4 * 4
    px = (
        np.frombuffer(payload, dtype=np.uint8, count=height * row_bytes, offset=offset)
        .reshape(height, row_bytes)[:, : width * 3]
        .reshape(height, width, 3)[::-1]
    )
    return width, height, bpp, px


_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bpp", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
    ]
)


@query(
    "mm_image_decode",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(string_split(text, ''), ch -> ascii(ch))
               [1:(length(text) // {_BMP_W}) * {_BMP_W}] AS p,
             length(text) // {_BMP_W} AS h
      FROM documents WHERE length(text) >= {_BMP_W}
    )
    SELECT doc_id,
           'image/bmp' AS media_type,
           CAST({_BMP_W} AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST(54 + h * {_BMP_W} * 3 AS BIGINT) AS n_bytes,
           CAST(list_aggregate(p, 'min') AS INTEGER) AS px_min,
           CAST(list_aggregate(p, 'max') AS INTEGER) AS px_max,
           CAST(3 * list_aggregate(p, 'sum') AS BIGINT) AS px_sum
    FROM px
    """,
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image counterpart of ``mm_decode_features``: every document
    becomes a VALID 24-bit BMP (fixed 16-pixel rows, grayscale pixels =
    char codes, bottom-up row order per the spec), and the kernel parses
    the two binary headers with ``struct``, reconstructs the pixel
    array, and emits typed image metadata plus exact integer pixel
    stats — the decode/validate/profile pass of an image-lake ingest.

    Same contract as the WAV path: the DuckDB oracle reproduces every
    value arithmetically from the text (header constants + codepoint
    pixel math), so the container write → header parse → pixel read
    round-trip is hash-checked end to end.  Arrow-batched mapInPandas,
    map-side only; swap the synthesizer for a payload column and the
    kernel for PIL at deployment — the plumbing is identical."""

    def image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = _make_bmp(char_codes(text, "mm_image_decode"))
                width, height, bpp, px = _decode_bmp(payload)
                flat = px.astype(np.int64)
                rows.append(
                    (
                        int(doc_id),
                        "image/bmp",
                        width,
                        height,
                        bpp,
                        len(payload),
                        int(flat.min()),
                        int(flat.max()),
                        int(flat.sum()),
                    )
                )
            if rows:
                yield pd.DataFrame(rows, columns=_IMAGE_SCHEMA.fieldNames())

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= _BMP_W)
        .select("doc_id", "text")
    )
    return docs.mapInPandas(image_batches, _IMAGE_SCHEMA)


def _phash_col_sums_duck() -> tuple[str, str]:
    """DuckDB spellings for the 16 per-column pixel sums and the 15-bit
    adjacent-column comparison signature (exact integers end to end)."""
    cols = ", ".join(
        "list_sum(list_transform(generate_series(0, h - 1), "
        f"i -> p[i * {_BMP_W} + {j + 1}])) AS c{j}"
        for j in range(_BMP_W)
    )
    bits = " + ".join(
        f"CASE WHEN c{j} > c{j + 1} THEN {1 << j} ELSE 0 END"
        for j in range(_BMP_W - 1)
    )
    return cols, bits


_PHASH_COLS, _PHASH_BITS = _phash_col_sums_duck()


@query(
    "mm_phash_dedup",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(string_split(text, ''), ch -> ascii(ch))
               [1:(length(text) // {_BMP_W}) * {_BMP_W}] AS p,
             length(text) // {_BMP_W} AS h
      FROM documents WHERE length(text) >= {_BMP_W}
    ),
    cs AS (SELECT doc_id, {_PHASH_COLS} FROM px),
    sig AS (SELECT doc_id, CAST({_PHASH_BITS} AS BIGINT) AS dhash FROM cs),
    grp AS (
      SELECT dhash, CAST(COUNT(*) AS BIGINT) AS bucket_size,
             MIN(doc_id) AS keep_doc
      FROM sig GROUP BY dhash
    )
    SELECT s.doc_id, s.dhash, g.bucket_size,
           CASE WHEN s.doc_id = g.keep_doc THEN 1 ELSE 0 END AS keep
    FROM sig s JOIN grp g USING (dhash)
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL near-dup image dedup (added r8) — the dHash pipeline
    of an image lake: decode each BMP payload, collapse it to a
    16-column brightness profile (sum over rows per pixel column —
    integer block-downsampling), sign the profile with the classic
    difference-hash bit trick (bit j = col_j > col_{{j+1}}, 15 bits),
    then dedup by signature bucket keeping the lowest doc_id.  Two
    images with the same left-to-right brightness ORDERING collide
    regardless of absolute brightness/contrast — exactly dHash's
    invariance, on a real decoded container.

    Exactness: column sums and comparisons are pure int64 — no resize
    interpolation, no floats — so the whole perceptual signature is
    hash-checked against the oracle's arithmetic reconstruction from
    the char codes (same contract as mm_image_decode: the kernel runs
    the REAL bytes path — synth → header parse → bottom-up pixel read —
    and the oracle never sees a byte).  Plan: map-side decode+signature
    (Arrow batches), one uniform-key groupBy on the 15-bit signature,
    broadcast-join of the tiny bucket table back onto the manifest.  At
    100 TB: signatures are cheap map work streaming off the blob store;
    collisions shuffle only (doc_id, dhash) pairs.  Swap the column-
    profile for a full 8×8 dHash / pHF DCT at deployment — the
    plumbing, bucketing, and keep policy are identical."""

    def phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = _make_bmp(char_codes(text, "mm_phash_dedup"))
                _, _, _, px = _decode_bmp(payload)
                col = px[:, :, 0].astype(np.int64).sum(axis=0)
                dh = 0
                for j in range(_BMP_W - 1):
                    if col[j] > col[j + 1]:
                        dh |= 1 << j
                rows.append((int(doc_id), dh))
            if rows:
                yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= _BMP_W)
        .select("doc_id", "text")
    )
    # r16: sig feeds BOTH the bucket aggregate and the join probe — without
    # a pin the decode+signature kernel executes twice per run (the
    # tpch_q15 shared-intermediate disease).  localCheckpoint materializes
    # the (doc_id, dhash) pairs once; at any scale that intermediate is 16
    # bytes/doc, far cheaper than a second decode pass over the blobs.
    sig = docs.mapInPandas(
        phash_batches, "doc_id long, dhash long"
    ).localCheckpoint(eager=False)
    grp = sig.groupBy("dhash").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_size"),
        F.min("doc_id").alias("keep_doc"),
    )
    return sig.join(F.broadcast(grp), "dhash").select(
        "doc_id",
        "dhash",
        "bucket_size",
        F.when(F.col("doc_id") == F.col("keep_doc"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )


@query(
    "mm_audio_vad",
    oracle=f"""
    WITH amp AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
                            ch -> (ascii(ch) - 64) * 256) AS a
      FROM documents WHERE length(text) >= {_ENERGY_FRAME}
    ),
    frames AS (
      SELECT doc_id, a,
             unnest(generate_series(0, len(a) // {_ENERGY_FRAME} - 1))
               AS frame_idx
      FROM amp
    ),
    en AS (
      SELECT doc_id, frame_idx,
             CAST(list_aggregate(
               list_transform(
                 a[(frame_idx * {_ENERGY_FRAME} + 1):((frame_idx + 1) * {_ENERGY_FRAME})],
                 x -> x * x), 'sum') AS BIGINT) AS energy
      FROM frames
    ),
    stats AS (
      SELECT doc_id, CAST(SUM(energy) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nf
      FROM en GROUP BY doc_id
    ),
    active AS (
      SELECT e.doc_id, e.frame_idx, e.energy
      FROM en e JOIN stats s ON s.doc_id = e.doc_id
      WHERE e.energy * s.nf > s.tot
    ),
    islands AS (
      SELECT doc_id, frame_idx, energy,
             frame_idx - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS grp
      FROM active
    )
    SELECT doc_id,
           CAST(MIN(frame_idx) AS BIGINT) AS seg_start,
           CAST(MAX(frame_idx) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM islands GROUP BY doc_id, grp
    """,
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold VOICE-ACTIVITY segments over the decoded WAV
    frame stream — the silence-split step an audio training pipeline
    runs between ingest and feature extraction: frames louder than
    their clip's mean energy are "speech", and maximal consecutive
    runs become segments (start/end frame, length, energy mass).

    Layering: this CONSUMES ``mm_audio_energy``'s frame table (same
    real wave-codec kernel — container write, header parse, PCM read —
    executed, not mocked), then runs pure relational post-processing:
    the per-doc mean threshold is the exact integer cross-multiply
    energy·n_frames > total (no float division gates a row), and
    segmentation is the gaps-and-islands window (``win_streak``'s
    idiom at frame granularity).

    Plan: map-only decode fanout → one doc-keyed agg for the
    threshold + broadcast-sized join back → one doc-keyed window.
    Per-doc frame counts are container-bounded, so window partitions
    never funnel; at 100 TB every stage shuffles rows ∝ frames of
    ACTIVE audio only."""
    # r16: en feeds BOTH the threshold aggregate and the active-frame
    # join — checkpoint the frame table so the wave-decode kernel runs
    # once per query, not twice (same fix as mm_phash_dedup).
    en = (
        mm_audio_energy(spark, sf_dir)
        .select("doc_id", "frame_idx", "energy")
        .localCheckpoint(eager=False)
    )
    stats = en.groupBy("doc_id").agg(
        F.sum("energy").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    active = en.join(stats, "doc_id").filter(
        F.col("energy") * F.col("nf") > F.col("tot")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    islands = active.select(
        "doc_id",
        "frame_idx",
        "energy",
        (F.col("frame_idx") - F.row_number().over(w)).alias("grp"),
    )
    return islands.groupBy("doc_id", "grp").agg(
        F.min("frame_idx").cast("long").alias("seg_start"),
        F.max("frame_idx").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("seg_energy"),
    ).drop("grp")


@query(
    "mm_shard_manifest",
    oracle=f"""
    WITH blobs AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             {{h}} AS hv
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, n_bytes, hv, hv % 4 AS shard,
             512 + ((n_bytes + 511) // 512) * 512 AS padded_bytes
      FROM blobs
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
           n_bytes, padded_bytes,
           CAST(COALESCE(SUM(padded_bytes) OVER (
                  PARTITION BY shard ORDER BY hv, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS byte_offset
    FROM sharded
    WINDOW w AS (PARTITION BY shard ORDER BY hv, doc_id)
    """.format(h="CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mmshard'), 1, 15) AS BIGINT)"),
)
def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard MANIFEST for binary blobs: every payload
    is hashed into one of 4 tar shards, ordered deterministically
    within its shard, and assigned its exact tar byte offset — 512-byte
    header block plus data rounded up to 512-byte blocks, offsets as
    the running sum of preceding members' padded sizes.  This is the
    planning table a multimodal training loader seeks by (shard, offset)
    without reading headers — and the random-access contract tar gives
    you for free once offsets are precomputed.

    All tar arithmetic is exact integers (header + ceil(n/512)·512);
    the shard hash is the portable 60-bit md5 with a ':mmshard' salt
    (decorrelated from every other split).  One shuffle on shard, one
    sort, one running sum — the llm_shuffle_shard plan with a byte
    ledger on top; at 100 TB one task per output shard writes its tar
    sequentially, which is exactly why shard count is the parallelism
    knob."""
    docs = load_table(spark, sf_dir, "documents")
    hv = F.expr(H_SPARK.format(x="CAST(doc_id AS STRING) || ':mmshard'"))
    blobs = docs.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        hv.alias("hv"),
    )
    sharded = blobs.select(
        "doc_id",
        "n_bytes",
        "hv",
        (F.col("hv") % 4).alias("shard"),
        (512 + F.expr("((n_bytes + 511) DIV 512) * 512")).alias(
            "padded_bytes"
        ),
    )
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    woff = w.rowsBetween(Window.unboundedPreceding, -1)
    return sharded.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("seq"),
        "n_bytes",
        "padded_bytes",
        F.coalesce(F.sum("padded_bytes").over(woff), F.lit(0))
        .cast("long")
        .alias("byte_offset"),
    )
