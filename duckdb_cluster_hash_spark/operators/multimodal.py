"""Multimodal column plumbing (SURVEY.md §2 Tier C: image/audio/video).

Media travel as opaque ``binary`` columns with typed metadata — the only
sane representation at 100 TB (parquet binary + column pruning means a
metadata-only query never reads the payload bytes).  Decode / resize /
feature-extraction run as Arrow-batched ``mapInPandas`` stages so payload
bytes cross into Python once per batch, not once per row.

Compressed codecs (PIL / libsndfile / ffmpeg) are NOT in this container,
so ``decode_image`` handles them behind an import guard — but netpbm
images (binary PGM ``P5`` / PPM ``P6``) decode NATIVELY via
:func:`decode_pnm`, a dependency-free parser of the real format (header
grammar, ``#`` comments, raster offset), graded end-to-end by the
``docs_pnm_decode_stats`` catalog query over spec-compliant images
synthesized by :func:`attach_fake_pnm`.  The test/demo path for opaque
media uses :func:`attach_fake_media`, which synthesizes a deterministic
16-byte header + payload whose "decoded" metadata is pure arithmetic —
making the whole pipeline (schema, batching, partitioning, UDF
signatures) real and oracle-checkable even where the codec is fake.

Fake media format (deterministic from doc_id):
  bytes 0-3   magic ``FIMG``
  bytes 4-7   width  = 16 + doc_id % 64          (big-endian uint32)
  bytes 8-11  height = 16 + (doc_id * 7) % 48    (big-endian uint32)
  bytes 12-15 n_frames = 1 + doc_id % 8          (big-endian uint32)
  bytes 16-   payload = UTF-8 bytes of the doc text
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "attach_fake_media",
    "attach_fake_pnm",
    "attach_fake_wav",
    "media_metadata",
    "media_byte_features",
    "decode_image",
    "decode_pnm",
    "decode_wav",
    "pnm_decode_stats",
    "wav_decode_stats",
    "wav_energy_dhash",
    "y4m_luma_dhash",
    "sample_frames",
    "MEDIA_META_SCHEMA",
    "BYTE_FEATURES_SCHEMA",
    "PNM_STATS_SCHEMA",
    "WAV_STATS_SCHEMA",
]

_MAGIC = b"FIMG"

# pandas dtype of an output column, by the Spark type its schema declares
_PANDAS_DTYPES = {"bigint": "int64", "int": "int32", "string": object}


def _map_media(
    df: DataFrame,
    schema: StructType,
    per_blob: Callable[[bytes], tuple],
    id_col: str = "doc_id",
    carry: tuple = (),
) -> DataFrame:
    """The one batch loop of the per-blob media kernels: an Arrow-batched
    ``mapInPandas`` that turns each ``media`` blob into one output row
    ``(id, *per_blob(blob), *carry)``.  ``schema`` declares the id column
    first and ``per_blob``'s fields after it; each column's pandas dtype
    comes from its declared Spark type.  Payload bytes cross into Python
    once per batch and only the per-blob results come out.

    ``carry`` names input columns passed through unchanged, appended after
    the schema's fields.  One row comes out per input row, in input order,
    so carried values align positionally — the streaming ingest path needs
    its event-time column to survive the kernel so the watermark can ride
    on it (plans/streaming.docs_streaming_media_dedup).
    """
    out_schema = StructType(schema.fields + [df.schema[c] for c in carry])
    fields = [
        (f.name, _PANDAS_DTYPES[f.dataType.simpleString()])
        for f in schema.fields[1:]
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [per_blob(bytes(m)) for m in pdf["media"]]
            cols = list(zip(*rows)) if rows else [()] * len(fields)
            yield pd.DataFrame(
                {
                    schema.fields[0].name: pdf[id_col].to_numpy(dtype="int64"),
                    **{
                        name: np.array(vals, dtype=dtype)
                        for (name, dtype), vals in zip(fields, cols)
                    },
                    **{c: pdf[c].reset_index(drop=True) for c in carry},
                }
            )

    return df.select(id_col, "media", *carry).mapInPandas(run, out_schema)


def attach_fake_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic binary media column (see module doc).

    Pure Column expressions: header ints are big-endian via substring
    arithmetic on hex, payload is the UTF-8 text — no Python involved in
    *creating* 100 TB of test media.
    """
    def be32(col):
        # 4-byte big-endian binary of a non-negative int < 2^32
        hexed = F.lpad(F.conv(col.cast("string"), 10, 16), 8, "0")
        return F.unhex(hexed)

    ident = F.col(id_col).cast("bigint")
    width = (F.lit(16) + ident % 64).cast("int")
    height = (F.lit(16) + (ident * 7) % 48).cast("int")
    frames = (F.lit(1) + ident % 8).cast("int")
    media = F.concat(
        F.lit(_MAGIC),
        be32(width),
        be32(height),
        be32(frames),
        F.encode(F.col(text_col), "UTF-8"),
    )
    return df.withColumn("media", media).withColumn(
        "media_type", F.lit("image/fake")
    )


MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("aspect_milli", LongType()),
    ]
)


def media_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode media headers to typed metadata via Arrow-batched Python.

    ``mapInPandas`` keeps the payload in Arrow buffers end-to-end; each
    batch is a zero-copy pandas view.  Output schema is fixed and narrow
    so downstream pruning works.  aspect_milli = width*1000//height
    (integer, cross-engine exact).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf["media"]
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "media_type": pdf["media_type"],
                    "byte_len": media.map(len).astype("int64"),
                    "width": media.map(
                        lambda b: int.from_bytes(b[4:8], "big")
                    ).astype("int32"),
                    "height": media.map(
                        lambda b: int.from_bytes(b[8:12], "big")
                    ).astype("int32"),
                    "n_frames": media.map(
                        lambda b: int.from_bytes(b[12:16], "big")
                    ).astype("int32"),
                }
            )
            out["aspect_milli"] = (
                out["width"].astype("int64") * 1000 // out["height"]
            )
            yield out

    return df.select(id_col, "media", "media_type").mapInPandas(
        decode_batches, MEDIA_META_SCHEMA
    )


BYTE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload_len", LongType()),
        StructField("distinct_bytes", IntegerType()),
        StructField("byte_sum", LongType()),
        StructField("byte_min", IntegerType()),
        StructField("byte_max", IntegerType()),
    ]
)


def media_byte_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature-extract over the raw payload bytes (codec-free stage of a
    real multimodal pipeline: corruption screens, entropy filters and
    format sniffing all run on byte histograms before any decode).

    Per document: payload length, distinct byte count, byte sum and
    min/max — each from a numpy ``bincount`` over the payload; bytes
    never leave the blob as Python ints.  Integer-exact, so the whole
    stage is oracle-checkable (the fake payload is the UTF-8 text, and
    the corpus is ASCII, so DuckDB reproduces it from code points).
    """

    def features(blob: bytes) -> tuple:
        payload = np.frombuffer(blob, dtype=np.uint8, offset=16)
        if not payload.size:
            return 0, 0, 0, -1, -1
        counts = np.bincount(payload, minlength=256)
        present = np.nonzero(counts)[0]
        return (
            payload.size,
            present.size,
            int(counts @ np.arange(256, dtype=np.int64)),
            int(present[0]),
            int(present[-1]),
        )

    return _map_media(df, BYTE_FEATURES_SCHEMA, features, id_col)


def decode_image(data: bytes):
    """Decode real image bytes -> (width, height, mode).

    PNM images (binary PGM ``P5`` / PPM ``P6``) decode natively via
    :func:`decode_pnm` — no external codec needed.  Every other format
    needs PIL, which the container does not ship, so the non-PNM path
    stays gated behind the import.
    """
    if data[:2] in (b"P5", b"P6"):
        width, height, channels, _maxval, _px = decode_pnm(data)
        return width, height, "RGB" if channels == 3 else "L"
    try:
        from PIL import Image  # type: ignore[import-not-found]
        import io
    except ImportError as exc:  # pragma: no cover - codec not in container
        raise NotImplementedError(
            "decoding non-PNM images requires PIL, which is not available "
            "in this environment; PGM/PPM decode natively (decode_pnm), "
            "and attach_fake_media covers pipeline tests"
        ) from exc
    img = Image.open(io.BytesIO(data))  # pragma: no cover
    return img.width, img.height, img.mode  # pragma: no cover


def decode_pnm(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Dependency-free binary PNM decoder: PGM (``P5``, 1 channel) and
    PPM (``P6``, 3 channels) -> (width, height, channels, maxval,
    uint8 pixel array in raster order).

    Implements the netpbm header grammar: magic, then three decimal
    tokens (width, height, maxval) separated by arbitrary whitespace,
    with ``#``-to-end-of-line comments allowed between tokens, then a
    SINGLE whitespace byte before the raster.  maxval > 255 (2-byte
    samples) is rejected rather than silently misread.
    """
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PNM: magic {magic!r}")
    channels = 3 if magic == b"P6" else 1
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos >= len(data):
            raise ValueError("truncated PNM header")
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        token = data[start:pos]
        if not token.isdigit():
            raise ValueError(f"bad PNM header token {token!r}")
        fields.append(int(token))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError(f"2-byte-sample PNM (maxval {maxval}) unsupported")
    n = width * height * channels
    if len(data) - pos < n:
        raise ValueError("truncated PNM raster")
    px = np.frombuffer(data, dtype=np.uint8, offset=pos, count=n)
    return width, height, channels, maxval, px


# Diversity knob for the synthetic PNM generator, scale-probe only
# (scripts/scale_probe.py): 0 = off (the oracle-graded closed form,
# whose rasters repeat with period lcm(256, 8, 5, 2) = 1280 in doc_id,
# saturating distinct dHash signatures at ~1-2k classes).  Set to a
# positive block size B to salt both the pixel STRIDE and OFFSET with
# doc_id div B, so distinct rasters — and distinct signatures — grow
# ~linearly with the corpus (measured: 29k distinct sigs at 50k docs
# with B=1280 vs 1040 unsalted).  This is how the banded-join scale
# claim is measured on a high-diversity corpus; graded queries always
# run with the knob OFF (their oracles encode the unsalted form).
PNM_DIVERSITY_BLOCK = 0


def attach_fake_pnm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL spec-compliant PNM images as a binary column:
    even doc_ids get a color PPM (``P6``), odd a grayscale PGM
    (``P5``); headers carry a comment line so the decoder's
    comment-skipping is exercised on every row.

    Deterministic from doc_id (oracle-reproducible arithmetic):
      width  = 4 + doc_id % 8, height = 3 + (doc_id * 3) % 5,
      pixel[i] = (doc_id * 7 + i * 13) % 256 in raster order
    (with ``PNM_DIVERSITY_BLOCK`` set, stride/offset are additionally
    salted by doc_id div block — probe-only, see the knob above).

    Pure Column expressions — the pixel raster builds as a
    sequence/transform/unhex chain, so synthesizing test media scales
    with the cluster, not the driver.  (transform's per-element lambda
    is interpreted, but it runs once per generated TEST pixel — the
    decode path the query grades is Arrow-batched numpy.)
    """
    ident = F.col(id_col).cast("bigint")
    width = (F.lit(4) + ident % 8).cast("int")
    height = (F.lit(3) + (ident * 3) % 5).cast("int")
    magic = F.when(ident % 2 == 0, F.lit("P6")).otherwise(F.lit("P5"))
    header = F.concat(
        magic,
        F.lit("\n# synthetic deterministic pnm\n"),
        width.cast("string"),
        F.lit(" "),
        height.cast("string"),
        F.lit("\n255\n"),
    )
    if PNM_DIVERSITY_BLOCK > 0:
        blk = f"({id_col} div {int(PNM_DIVERSITY_BLOCK)})"
        pix = f"{id_col} * 7 + i * (13 + 2 * {blk}) + 101 * {blk}"
    else:
        pix = f"{id_col} * 7 + i * 13"
    payload = F.unhex(
        F.expr(
            f"concat_ws('', transform("
            f"sequence(0, cast(4 + {id_col} % 8 as bigint) "
            f"* (3 + ({id_col} * 3) % 5) "
            f"* (case when {id_col} % 2 = 0 then 3 else 1 end) - 1), "
            f"i -> lpad(hex(pmod({pix}, 256)), 2, '0')))"
        )
    )
    return df.withColumn(
        "media", F.concat(F.encode(header, "UTF-8"), payload)
    ).withColumn(
        "media_type",
        F.when(ident % 2 == 0, F.lit("image/x-portable-pixmap")).otherwise(
            F.lit("image/x-portable-graymap")
        ),
    )


PNM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("maxval", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
        StructField("mean_milli", LongType()),
    ]
)


def pnm_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode a PNM binary column and emit per-image pixel statistics.

    The decode is the REAL parser (:func:`decode_pnm`) over the actual
    image bytes — header grammar, comments, raster offset — not
    arithmetic on the metadata; the deterministic generator only makes
    the result oracle-checkable.  Stats come off numpy views.
    """

    def stats(blob: bytes) -> tuple:
        w, h, ch, mv, px = decode_pnm(blob)
        px_sum = int(px.sum(dtype=np.int64))
        return (
            "P6" if ch == 3 else "P5",
            w, h, ch, mv,
            px_sum, int(px.min()), int(px.max()),
            1000 * px_sum // (w * h * ch),
        )

    return _map_media(df, PNM_STATS_SCHEMA, stats, id_col)


# The three perceptual fingerprints share one shape: an 8-row x 9-column
# int64 grid -> 8 horizontal-gradient bits per row -> 8 one-byte bands
# (:func:`_dhash_bands`).  The image grid is NEAREST-NEIGHBOR
# (x = w*gx//9, y = h*gy//8): integer-exact at any image size (area
# averaging has empty cells when w < 9) and closed-form reproducible by
# the SQL oracle.  Audio and video fill the same grid row-major from 72
# segment sums of one sample stream (:func:`_segment_grid`).
DHASH_GRID_W, DHASH_GRID_H = 9, 8
DHASH_SEGMENTS = DHASH_GRID_W * DHASH_GRID_H

DHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType())]
    + [StructField(f"b{i}", IntegerType()) for i in range(DHASH_GRID_H)]
)

_DHASH_SHIFTS = 1 << np.arange(DHASH_GRID_W - 1, dtype=np.int64)


def _dhash_bands(grid: np.ndarray) -> tuple:
    """8x9 int64 grid -> 8 band bytes: bit gx of band gy =
    ``grid[gy][gx+1] > grid[gy][gx]``."""
    bits = (grid[:, 1:] > grid[:, :-1]) * _DHASH_SHIFTS
    return tuple(int(b) for b in bits.sum(axis=1))


def _segment_grid(stream: np.ndarray) -> np.ndarray:
    """Sum an int64 stream of n values over 72 nearest-neighbor segments
    ``[n*g//72, n*(g+1)//72)`` (empty segments = 0) and arrange them
    row-major as the 8x9 dHash grid."""
    n = stream.size
    if n == 0:
        return np.zeros((DHASH_GRID_H, DHASH_GRID_W), dtype=np.int64)
    lo = (n * np.arange(DHASH_SEGMENTS + 1)) // DHASH_SEGMENTS
    seg = np.add.reduceat(stream, lo[:-1])
    seg[lo[:-1] == lo[1:]] = 0  # reduceat repeats the next value on an empty range
    return seg.reshape(DHASH_GRID_H, DHASH_GRID_W)


def pnm_dhash(
    df: DataFrame, id_col: str = "doc_id", carry: tuple = ()
) -> DataFrame:
    """Perceptual difference-hash of a PNM binary column, one row per
    image: ``(doc_id, b0..b7)`` — one byte per grid row (band), the
    unit of the banded-Hamming candidate join (band equality = at
    least 8 of 64 bits agree contiguously).

    The dHash recipe (real decode, integer-only arithmetic so the
    oracle can reproduce every bit from the generator's closed form):

    1. decode the actual bytes (:func:`decode_pnm` — header grammar,
       comments, raster offset);
    2. integer luma ``(299 R + 587 G + 114 B) // 1000`` for 3-channel
       images (the Rec.601 weights, trunc-div), raw pixel for 1-channel;
    3. sample a 9x8 grid at ``(h*gy//8, w*gx//9)``;
    4. bit gx of band gy = ``grid[gy][gx+1] > grid[gy][gx]``.

    8 small ints per image come out — at 100 TB the wire carries
    hashes, never rasters.  ``carry`` names input columns to pass
    through after the bands (see :func:`_map_media`).
    """

    def bands(blob: bytes) -> tuple:
        w, h, ch, _mv, px = decode_pnm(blob)
        if ch == 3:
            p = px.reshape(h, w, 3).astype(np.int64)
            gray = (p[..., 0] * 299 + p[..., 1] * 587 + p[..., 2] * 114) // 1000
        else:
            gray = px.reshape(h, w).astype(np.int64)
        ys = (h * np.arange(DHASH_GRID_H)) // DHASH_GRID_H
        xs = (w * np.arange(DHASH_GRID_W)) // DHASH_GRID_W
        return _dhash_bands(gray[np.ix_(ys, xs)])

    return _map_media(df, DHASH_SCHEMA, bands, id_col, carry)


def decode_wav(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Dependency-free RIFF/WAVE PCM decoder ->
    (sample_rate, channels, bits_per_sample, n_frames, int16 samples
    in interleaved order).

    Implements the real RIFF container rules: 12-byte RIFF/WAVE
    header, then a chunk walk — 4-byte id, 4-byte little-endian size,
    payload, ODD SIZES PADDED to even — skipping unknown chunks
    (LIST/INFO metadata etc.) until both ``fmt `` and ``data`` are
    seen.  Only integer PCM (format tag 1) at 16 bits is accepted;
    anything else raises instead of misreading.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= len(data) and (fmt is None or raw is None):
        cid = data[pos : pos + 4]
        csz = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + csz]
        if len(body) < csz:
            raise ValueError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if csz < 16:
                raise ValueError("fmt chunk too short")
            audio_format = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if audio_format != 1 or bits != 16:
                raise ValueError(
                    f"only 16-bit integer PCM supported "
                    f"(format {audio_format}, {bits} bits)"
                )
            fmt = (sample_rate, channels, bits)
        elif cid == b"data":
            raw = body
        pos += 8 + csz + (csz & 1)  # odd chunk sizes pad to even
    if fmt is None or raw is None:
        raise ValueError("missing fmt or data chunk")
    sample_rate, channels, bits = fmt
    if channels < 1:
        raise ValueError("zero-channel WAV")
    samples = np.frombuffer(raw, dtype="<i2", count=len(raw) // 2)
    n_frames = samples.size // channels
    return sample_rate, channels, bits, n_frames, samples


def attach_fake_wav(
    df: DataFrame, id_col: str = "doc_id", n_base: int = 8
) -> DataFrame:
    """Synthesize REAL spec-compliant RIFF/WAVE PCM16 audio as a binary
    column, deterministic from doc_id (oracle-reproducible):

      sample_rate = 8000 + (doc_id % 3) * 4000
      channels    = 1 + doc_id % 2
      n_frames    = n_base + doc_id % 9      (default n_base = 8)
      sample[k]   = (doc_id * 31 + k * 17) % 4096 - 2048   (int16, LE)

    ``n_base`` scales the clip length without changing the sample
    closed form: the decode-stats queries keep the tiny default, the
    audio near-dup fingerprint uses ``n_base=240`` so the 72-segment
    energy profile has multi-sample segments (at the default, segment
    EMPTINESS — a function of clip length alone — would dominate the
    fingerprint and every bit of content structure would be lost).

    Every file carries a LIST metadata chunk with an ODD body size
    between ``fmt `` and ``data``, so the decoder's unknown-chunk skip
    AND the RIFF even-padding rule are exercised on every row.  Pure
    Column expressions (hex-swap arithmetic builds the little-endian
    fields); the transform lambda runs once per generated TEST sample.
    """
    n_base = int(n_base)
    ident = F.col(id_col).cast("bigint")

    def le16(col):
        hexed = F.lpad(F.conv(col.cast("string"), 10, 16), 4, "0")
        return F.unhex(
            F.concat(F.substring(hexed, 3, 2), F.substring(hexed, 1, 2))
        )

    def le32(col):
        hexed = F.lpad(F.conv(col.cast("string"), 10, 16), 8, "0")
        return F.unhex(
            F.concat(
                F.substring(hexed, 7, 2),
                F.substring(hexed, 5, 2),
                F.substring(hexed, 3, 2),
                F.substring(hexed, 1, 2),
            )
        )

    sample_rate = F.lit(8000) + (ident % 3) * 4000
    channels = F.lit(1) + ident % 2
    n_total = (F.lit(n_base) + ident % 9) * channels  # interleaved samples
    data_size = n_total * 2
    # RIFF size: "WAVE"(4) + fmt(8+16) + LIST(8+5+1 pad) + data(8+size)
    riff_size = F.lit(4 + 24 + 14 + 8) + data_size
    samples_hex = F.expr(
        f"concat_ws('', transform(sequence(0, "
        f"({n_base} + {id_col} % 9) * (1 + {id_col} % 2) - 1), k -> "
        f"concat(substring(lpad(hex(pmod(pmod({id_col} * 31 + k * 17, "
        f"4096) - 2048, 65536)), 4, '0'), 3, 2), "
        f"substring(lpad(hex(pmod(pmod({id_col} * 31 + k * 17, 4096) "
        f"- 2048, 65536)), 4, '0'), 1, 2))))"
    )
    media = F.concat(
        F.lit(b"RIFF"),
        le32(riff_size),
        F.lit(b"WAVE"),
        F.lit(b"fmt "),
        le32(F.lit(16)),
        le16(F.lit(1)),  # integer PCM
        le16(channels),
        le32(sample_rate),
        le32(sample_rate * channels * 2),  # byte rate
        le16(channels * 2),  # block align
        le16(F.lit(16)),  # bits per sample
        F.lit(b"LIST"),
        le32(F.lit(5)),  # odd body -> pad byte follows
        F.lit(b"INFOx\x00"),
        F.lit(b"data"),
        le32(data_size),
        F.unhex(samples_hex),
    )
    return df.withColumn("media", media).withColumn(
        "media_type", F.lit("audio/wav")
    )


WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sample_sum", LongType()),
        StructField("sample_min", IntegerType()),
        StructField("sample_max", IntegerType()),
        StructField("energy", LongType()),
    ]
)


def wav_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode a WAV binary column and emit per-clip sample statistics
    (the screen an audio pipeline runs before feature extraction:
    silence/clipping detection = min/max/energy).  The decode is the
    REAL RIFF parser (:func:`decode_wav`) over the actual bytes; stats
    come off numpy int64 views.
    """

    def stats(blob: bytes) -> tuple:
        sr, ch, bits, nf, s = decode_wav(blob)
        s64 = s.astype(np.int64)
        return (
            sr, ch, bits, nf,
            int(s64.sum()),
            int(s.min()) if s.size else 0,
            int(s.max()) if s.size else 0,
            int((s64 * s64).sum()),
        )

    return _map_media(df, WAV_STATS_SCHEMA, stats, id_col)


def wav_energy_dhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual energy-profile hash of a WAV binary column, one row
    per clip: ``(doc_id, b0..b7)`` — the audio twin of the image
    dHash, shaped exactly like :func:`pnm_dhash` so all modalities
    share one pair-class machine (plans/dedup_text._sig_pair_classes).

    The recipe (real RIFF decode, integer-only arithmetic so the
    oracle can reproduce every bit from the generator's closed form):

    1. decode the actual bytes (:func:`decode_wav` — chunk walk,
       unknown-chunk skip, odd-size padding);
    2. per-sample energy ``s[k]^2`` over the raw interleaved int16
       stream (no mono mix: integer channel averaging would need a
       floor/trunc choice the engines disagree on for negatives);
    3. split the n-sample stream into 72 nearest-neighbor segments
       ``[n*g//72, n*(g+1)//72)`` and sum energy per segment (empty
       segments = 0);
    4. arrange row-major into 8 rows of 9; bit gx of band gy =
       ``E[9*gy + gx + 1] > E[9*gy + gx]``.

    Bits compare adjacent SEGMENT ENERGIES, so the fingerprint tracks
    the clip's energy envelope (robust to small sample perturbations
    that leave segment sums ordered).  8 small ints per clip come out
    — at 100 TB the wire carries fingerprints, never waveforms.
    """

    def bands(blob: bytes) -> tuple:
        s = decode_wav(blob)[4].astype(np.int64)
        return _dhash_bands(_segment_grid(s * s))

    return _map_media(df, DHASH_SCHEMA, bands, id_col)


def decode_y4m(data: bytes) -> tuple[int, int, int, int, str, np.ndarray]:
    """Dependency-free YUV4MPEG2 (y4m) video decoder ->
    (width, height, fps_num, fps_den, colorspace, Y planes as a
    uint8 array of shape (n_frames, width * height)).

    Implements the real container rules: a ``YUV4MPEG2`` stream header
    of space-separated tagged parameters (``W``/``H``/``F`` required,
    ``C`` colorspace defaulting to ``420jpeg`` per spec, ``I``/``A``/
    ``X`` tolerated and skipped), then per frame a ``FRAME`` line with
    OPTIONAL space-prefixed parameters, followed by the raw planar
    raster whose size depends on the chroma subsampling (420* -> 3/2
    bytes per pixel, 422 -> 2, 444 -> 3, mono -> 1).  Odd dimensions
    under 420/422, unknown colorspaces, and truncated rasters raise
    instead of misreading.  Only the luma plane (the first
    width*height bytes of every frame) is returned — chroma layout
    differs per subsampling and the pipeline stats here are luma-only.
    """
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = fps_num = fps_den = None
    colorspace = "420jpeg"
    for tok in data[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(b":")
            fps_num, fps_den = int(num), int(den)
        elif tag == b"C":
            colorspace = val.decode("ascii")
        elif tag in (b"I", b"A", b"X"):
            continue  # interlacing / aspect / comment: not needed for stats
        else:
            raise ValueError(f"unknown y4m stream parameter {tok!r}")
    if width is None or height is None or fps_num is None:
        raise ValueError("y4m header missing W, H or F")
    if colorspace.startswith("420"):
        if width % 2 or height % 2:
            raise ValueError("odd dimensions under 4:2:0 subsampling")
        frame_size = width * height * 3 // 2
    elif colorspace.startswith("422"):
        if width % 2:
            raise ValueError("odd width under 4:2:2 subsampling")
        frame_size = width * height * 2
    elif colorspace.startswith("444"):
        frame_size = width * height * 3
    elif colorspace == "mono":
        frame_size = width * height
    else:
        raise ValueError(f"unsupported y4m colorspace {colorspace!r}")
    pos = nl + 1
    lumas = []
    while pos < len(data):
        if not data.startswith(b"FRAME", pos):
            raise ValueError(f"expected FRAME marker at offset {pos}")
        fnl = data.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        params = data[pos + 5 : fnl]
        if params and not params.startswith(b" "):
            raise ValueError(f"malformed FRAME parameters {params!r}")
        pos = fnl + 1
        if len(data) - pos < frame_size:
            raise ValueError("truncated y4m frame raster")
        lumas.append(
            np.frombuffer(data, dtype=np.uint8, offset=pos, count=width * height)
        )
        pos += frame_size
    y = (
        np.stack(lumas)
        if lumas
        else np.empty((0, width * height), dtype=np.uint8)
    )
    return width, height, fps_num, fps_den, colorspace, y


def attach_fake_y4m(
    df: DataFrame, id_col: str = "doc_id", nf_base: int = 2
) -> DataFrame:
    """Synthesize REAL spec-compliant YUV4MPEG2 clips as a binary
    column, deterministic from doc_id (oracle-reproducible):

      width      = 4 + 2 * (doc_id % 3)            (even, 4:2:0-safe)
      height     = 2 + 2 * ((doc_id div 2) % 2)
      fps        = (24 + (doc_id % 2) * 6):1
      colorspace = C420jpeg for even doc_ids, Cmono for odd
      n_frames   = nf_base + doc_id % 4            (default nf_base = 2)
      frame byte = (doc_id * 11 + i * 29 + j * 7) % 256
                   (i = frame index, j = byte offset in the frame)

    ``nf_base`` scales the clip length without changing the frame-byte
    closed form: the decode-stats queries keep the tiny default, the
    video near-dup fingerprint uses ``nf_base=48`` so the 72-segment
    luma profile has multi-byte segments (at the default, segment
    EMPTINESS — a function of clip shape alone — would dominate the
    fingerprint, the same failure mode attach_fake_wav's n_base fixes
    for audio).

    Every ODD frame carries an ``X`` parameter on its FRAME line, so
    the decoder's frame-parameter skip is exercised inside every
    multi-frame clip.  Pure Column expressions (the raster builds as
    nested sequence/transform hex, decoded by one unhex) — test-media
    synthesis scales with the cluster, not the driver.
    """
    nf_base = int(nf_base)
    ident = F.col(id_col).cast("bigint")
    width = (F.lit(4) + (ident % 3) * 2).cast("int")
    # integer div, not float /: float division then cast truncates the
    # same way only while doc_id stays under 2^53
    height = (F.lit(2) + (F.expr(f"{id_col} div 2") % 2) * 2).cast("int")
    fps = (F.lit(24) + (ident % 2) * 6).cast("int")
    cs = F.when(ident % 2 == 0, F.lit("420jpeg")).otherwise(F.lit("mono"))
    header = F.concat(
        F.lit("YUV4MPEG2 W"), width.cast("string"),
        F.lit(" H"), height.cast("string"),
        F.lit(" F"), fps.cast("string"),
        F.lit(":1 Ip A1:1 C"), cs, F.lit("\n"),
    )
    fsize = (
        f"(CASE WHEN {id_col} % 2 = 0 "
        f"THEN (4 + ({id_col} % 3) * 2) * (2 + (({id_col} div 2) % 2) * 2) * 3 div 2 "
        f"ELSE (4 + ({id_col} % 3) * 2) * (2 + (({id_col} div 2) % 2) * 2) END)"
    )
    frames_hex = F.expr(
        f"concat_ws('', transform(sequence(0, cast({nf_base - 1} + {id_col} % 4 as bigint)), "
        f"i -> concat("
        f"hex(concat('FRAME', CASE WHEN i % 2 = 1 THEN ' Xq1' ELSE '' END, '\n')), "
        f"concat_ws('', transform(sequence(0, {fsize} - 1), "
        f"j -> lpad(hex(pmod({id_col} * 11 + i * 29 + j * 7, 256)), 2, '0'))))))"
    )
    media = F.concat(F.encode(header, "UTF-8"), F.unhex(frames_hex))
    return df.withColumn("media", media).withColumn(
        "media_type", F.lit("video/x-yuv4mpeg")
    )


Y4M_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("fps_den", IntegerType()),
        StructField("colorspace", StringType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("y_sum", LongType()),
        StructField("y_min", IntegerType()),
        StructField("y_max", IntegerType()),
    ]
)


def y4m_frame_stats(
    df: DataFrame, every_k: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Decode a y4m binary column, sample every ``every_k``-th frame,
    and emit per-clip luma statistics (the screen a video pipeline
    runs before feature extraction: black/blown-out detection =
    min/max, exposure drift = mean).  The decode is the REAL container
    parser (:func:`decode_y4m`) over the actual bytes; stats come off
    numpy uint8 views of the sampled Y planes only.
    """

    def stats(blob: bytes) -> tuple:
        w, h, fn, fd, cs, y = decode_y4m(blob)
        sampled = y[::every_k]
        return (
            w, h, fn, fd, cs,
            y.shape[0], sampled.shape[0],
            int(sampled.sum(dtype=np.int64)),
            int(sampled.min()) if sampled.size else 0,
            int(sampled.max()) if sampled.size else 0,
        )

    return _map_media(df, Y4M_STATS_SCHEMA, stats, id_col)


def y4m_luma_dhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual luma-profile hash of a y4m binary column, one row per
    clip: ``(doc_id, b0..b7)`` — the spatio-temporal twin of the image
    dHash, shaped exactly like :func:`pnm_dhash` /
    :func:`wav_energy_dhash` so all three modalities share one
    pair-class machine (plans/dedup_text._sig_pair_classes).

    The recipe (real container decode, integer-only arithmetic so the
    oracle can reproduce every bit from the generator's closed form):

    1. decode the actual bytes (:func:`decode_y4m` — stream-header
       parse, FRAME-parameter skip, per-colorspace raster sizing);
    2. concatenate the per-frame luma planes into one n-byte stream
       (n = n_frames * width * height — chroma never enters the
       fingerprint, matching the stats queries' luma-only contract);
    3. split the stream into 72 nearest-neighbor segments
       ``[n*g//72, n*(g+1)//72)`` and sum luma per segment (empty
       segments = 0; uint8 luma is non-negative, so plain sums carry
       the envelope — audio squares only because PCM is signed);
    4. arrange row-major into 8 rows of 9; bit gx of band gy =
       ``L[9*gy + gx + 1] > L[9*gy + gx]``.

    8 small ints per clip come out — at 100 TB the wire carries
    fingerprints, never rasters.
    """

    def bands(blob: bytes) -> tuple:
        y = decode_y4m(blob)[5]
        return _dhash_bands(_segment_grid(y.reshape(-1).astype(np.int64)))

    return _map_media(df, DHASH_SCHEMA, bands, id_col)


def sample_frames(
    df: DataFrame, every_k: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling for (fake) video: one row per sampled frame index.

    Frame extraction itself is deterministic arithmetic over the header
    (a real implementation would slice the container's frame table); the
    *shape* — explode to (doc_id, frame_idx, frame_bytes) — is the real
    contract a video pipeline needs.
    """
    frames_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_bytes", BinaryType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf["media"].to_numpy()
            ids = pdf[id_col].to_numpy(dtype="int64")
            n_arr = np.fromiter(
                (int.from_bytes(m[12:16], "big") for m in media),
                dtype=np.int64,
                count=len(media),
            )
            # explode structure computed columnar: each row contributes
            # ceil(n/k) frames; np.repeat fans out ids/payloads, a single
            # concat builds the per-frame index column
            reps = -(-n_arr // every_k)
            doc_ids = np.repeat(ids, reps)
            frame_idx = (
                np.concatenate([np.arange(0, n, every_k) for n in n_arr])
                if len(n_arr)
                else np.empty(0, dtype=np.int64)
            )
            payload_rep = np.repeat(media, reps)
            n_rep = np.repeat(n_arr, reps)
            # per-output-frame byte slice: irreducibly one bytes object per
            # frame, but built in one comprehension over the exploded
            # arrays (no per-row DataFrame iteration)
            frame_bytes = [
                p[16:][i::n] if n else b""
                for p, i, n in zip(payload_rep, frame_idx, n_rep)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_bytes": frame_bytes,
                }
            )

    return df.select(id_col, "media").mapInPandas(sample, frames_schema)
