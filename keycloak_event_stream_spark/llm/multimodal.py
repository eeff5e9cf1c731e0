"""Multimodal columns for LLM data pipelines (north-star mandate).

Treats media as opaque ``binary`` columns with typed metadata structs,
exactly how a 100 TB multimodal corpus is laid out in parquet:

- ``q_multimodal_cols``  — bundle text + embedding + metadata into one
  typed struct column (the "sample" record), then project scalars out.
- ``q_multimodal_media`` — encode each document to a REAL binary PPM
  (P6) image and PARSE it back byte-for-byte in a second Arrow
  ``mapInPandas`` pass; features oracle-checked against the closed-form
  pixel definition.
- ``q_multimodal_frames`` — video-shaped frame sampling (1→N fan-out),
  sampled frame bytes hash-compared as hex against DuckDB's own md5.
- ``q_multimodal_audio`` — encode a REAL canonical PCM WAV (RIFF header
  + 16-bit samples), parse the header back, window the PCM into integer
  energy/peak; oracle-checked from the closed-form sample definition.

All three decode paths are dependency-free pure Python running
in-container; ``decode_image``/``decode_audio`` are the gated hooks for
RICHER codecs (PIL/soundfile) and raise ``NotImplementedError`` when
the library is absent — clearly marked stubs per the build contract.

Scale notes: media bytes never shuffle — the mapInPandas pass is
map-side only, and anything that aggregates does so on the small
extracted features. Batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``; with ~MB-scale real
images you lower that instead of letting batches balloon.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_multimodal_cols",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           CAST(len(e.embedding) AS INTEGER) AS emb_dim,
           sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[]))) AS emb_l2
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One typed struct column per sample bundling text + embedding +
    metadata (the multimodal record layout), scalars projected back out
    for the oracle. Nested-struct projection is free in parquet — only
    the accessed leaves are read."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bundled = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("text"),
            F.struct(
                F.col("lang"), F.col("source"), F.col("n_chars")
            ).alias("meta"),
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.col("label"),
        ).alias("sample"),
    )
    dot = (
        "aggregate(zip_with(sample.embedding, sample.embedding, "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return bundled.select(
        "doc_id",
        F.col("sample.meta.lang").alias("lang"),
        F.col("sample.meta.source").alias("source"),
        F.col("sample.meta.n_chars").alias("n_chars"),
        F.col("sample.label").alias("label"),
        F.size("sample.embedding").alias("emb_dim"),
        F.sqrt(F.expr(dot)).alias("emb_l2"),
    )


# ---------------------------------------------------------------------------
# Binary media plumbing (deterministic fake codec, real Arrow path)
# ---------------------------------------------------------------------------

MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("byte_max", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def with_fake_media(df: DataFrame) -> DataFrame:
    """Attach a deterministic binary payload + metadata struct to each
    document: payload = 4 DISTINCT md5 blocks (md5(text), md5(text·x),
    md5(text·y), md5(text·z) — 64 bytes), header = (width, height)
    derived from doc_id. Stands in for image bytes so the binary-column
    pipeline is fully testable without codecs, and — because DuckDB has
    the same md5 — byte-level oracle-checkable."""
    payload = F.unhex(
        F.concat(
            F.md5("text"),
            F.md5(F.concat(F.col("text"), F.lit("x"))),
            F.md5(F.concat(F.col("text"), F.lit("y"))),
            F.md5(F.concat(F.col("text"), F.lit("z"))),
        )
    )
    return df.select(
        "doc_id",
        payload.alias("media"),
        F.struct(
            (64 + (F.col("doc_id") % 512)).cast("int").alias("width"),
            (64 + ((F.col("doc_id") * 7) % 512)).cast("int").alias("height"),
            F.lit("fake/raw").alias("mime"),
        ).alias("media_meta"),
    )


def extract_media_features(batches: Iterator, _unused=None) -> Iterator:
    """mapInPandas worker: per Arrow batch, compute byte-level features
    of the binary column. Real decode would replace the histogram with
    codec output; the batch interface is identical."""
    import pandas as pd

    for pdf in batches:
        media = pdf["media"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": media.map(len).astype("int32"),
                "byte_sum": media.map(lambda b: sum(b)).astype("int64"),
                "byte_max": media.map(lambda b: max(b)).astype("int32"),
                "width": pdf["width"].astype("int32"),
                "height": pdf["height"].astype("int32"),
            }
        )


def decode_image(data: bytes):
    """Decode image bytes to a pixel array. STUB: the container ships no
    image codecs; dispatches to PIL if present, else raises."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(data))
    except ImportError as exc:  # pragma: no cover - codec not installed
        raise NotImplementedError(
            "image decode requires PIL; install pillow on the cluster "
            "or swap in your codec here"
        ) from exc


# --- real image format: PPM (P6) encode + decode in pure Python -----------

PPM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pix_bytes", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("pixel_max", T.IntegerType()),
    ]
)


def ppm_encode(batches: Iterator) -> Iterator:
    """mapInPandas encoder: build a REAL binary PPM (P6) image per doc.
    Dimensions and pixel bytes are closed-form in doc_id —
    width = 4 + id%5, height = 3 + id%4, pixel byte k = (31·id + 7k) % 256
    — so an SQL oracle can recompute every byte without parsing."""
    import pandas as pd

    for pdf in batches:
        blobs = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            w, h = 4 + i % 5, 3 + i % 4
            header = f"P6\n{w} {h}\n255\n".encode("ascii")
            pix = bytes((31 * i + 7 * k) % 256 for k in range(w * h * 3))
            blobs.append(header + pix)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})


def ppm_decode_features(batches: Iterator) -> Iterator:
    """mapInPandas decoder: a genuine byte-level PPM (P6) parser — magic
    check, whitespace-delimited ASCII header (width, height, maxval),
    then the raw RGB plane — feeding integer pixel features. This is
    the dependency-free decode the NotImplementedError PIL hook gates
    for richer formats; for PPM the full parse runs in-container."""
    import pandas as pd

    def parse(blob: bytes):
        blob = bytes(blob)
        if blob[:2] != b"P6":
            raise ValueError("not a P6 PPM")
        # header = magic + 3 ASCII ints separated by whitespace
        fields, pos = [], 2
        while len(fields) < 3:
            while blob[pos : pos + 1].isspace():
                pos += 1
            start = pos
            while not blob[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(blob[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = fields
        if maxval != 255:
            raise ValueError("only 8-bit PPM supported")
        pix = blob[pos : pos + w * h * 3]
        if len(pix) != w * h * 3:
            raise ValueError("truncated pixel plane")
        return w, h, pix

    for pdf in batches:
        out = {
            "doc_id": [],
            "width": [],
            "height": [],
            "n_pix_bytes": [],
            "pixel_sum": [],
            "pixel_max": [],
        }
        for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
            w, h, pix = parse(blob)
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["n_pix_bytes"].append(len(pix))
            out["pixel_sum"].append(sum(pix))
            out["pixel_max"].append(max(pix))
        yield pd.DataFrame(out)


@_q(
    "q_multimodal_media",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             4 + doc_id % 5 AS width,
             3 + doc_id % 4 AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             (31 * doc_id + 7 * unnest(generate_series(
                0, width * height * 3 - 1))) % 256 AS b
      FROM dims
    )
    SELECT doc_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(width * height * 3 AS INTEGER) AS n_pix_bytes,
           CAST(sum(b) AS BIGINT) AS pixel_sum,
           CAST(max(b) AS INTEGER) AS pixel_max
    FROM px
    GROUP BY doc_id, width, height
    """,
)
def q_multimodal_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image pipeline end-to-end, byte-for-byte verified: encode
    each document to a REAL PPM (P6) binary — ASCII header + RGB plane —
    then a second Arrow ``mapInPandas`` pass PARSES those bytes back
    (magic, dims, maxval, pixel plane) and reduces them to integer
    features. The oracle recomputes the features from the closed-form
    pixel definition, so a single flipped byte anywhere in the
    encode→transport→decode path breaks the hash.

    Map-side only — media bytes are created and consumed inside the scan
    stage and never shuffle; only the tiny feature rows move. Swap the
    parser for PIL (``decode_image``) on a real cluster and the plan
    shape is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id").mapInPandas(
        ppm_encode,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("media", T.BinaryType()),
            ]
        ),
    )
    return media.mapInPandas(ppm_decode_features, PPM_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize / frame-sample plumbing (video-shaped binary, deterministic fake)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_hex", T.StringType()),
        T.StructField("frame_sum", T.LongType()),
    ]
)


def sample_frames(batches: Iterator, frame_bytes: int = 16, stride: int = 2) -> Iterator:
    """mapInPandas UDTF-shape: split each binary payload into fixed-size
    "frames" and emit every ``stride``-th one — the frame-sampling
    pattern for video columns (one input row -> many output rows). Real
    decoders swap in here; the Arrow batch interface and the 1->N row
    fan-out are the production shape. Frames surface as hex strings so
    the byte content itself is hash-comparable across engines."""
    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "frame_hex": [], "frame_sum": []}
        for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
            n = len(blob) // frame_bytes
            for i in range(0, n, stride):
                fr = bytes(blob[i * frame_bytes:(i + 1) * frame_bytes])
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_hex"].append(fr.hex())
                out["frame_sum"].append(sum(fr))
        yield pd.DataFrame(out)


def resize_image(data: bytes, width: int, height: int):
    """Resize stub: dispatches to PIL when available, else raises —
    clearly-marked placeholder for the codec-dependent step."""
    img = decode_image(data)  # raises NotImplementedError without PIL
    return img.resize((width, height))  # pragma: no cover


@_q(
    "q_multimodal_frames",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             unnest([0, 2]) AS frame_idx,
             unnest([md5(text), md5(text || 'y')]) AS hx
      FROM documents
    ),
    v AS (
      SELECT doc_id, frame_idx, hx,
             16 * (strpos('0123456789abcdef',
                          substr(hx, 2 * unnest(generate_series(1, 16)) - 1, 1)) - 1)
               + (strpos('0123456789abcdef',
                         substr(hx, 2 * unnest(generate_series(1, 16)), 1)) - 1)
               AS byte
      FROM f
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           hx AS frame_hex,
           CAST(sum(byte) AS BIGINT) AS frame_sum
    FROM v GROUP BY doc_id, frame_idx, hx
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-shaped binary columns: 64-byte payload
    of four DISTINCT md5 blocks -> four 16-byte frames -> every 2nd kept
    (frames 0 and 2 per doc). Map-side 1->N fan-out; frames never
    shuffle. Byte-level verified: the oracle regenerates the sampled
    frames' bytes from DuckDB's own md5 and hash-compares both the hex
    content and the byte sums — the framing arithmetic (16-byte cuts,
    stride-2 keep) has no slack."""
    d = load_table(spark, sf_dir, "documents")
    media = with_fake_media(d).select("doc_id", "media")
    return media.mapInPandas(sample_frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio-shaped binary: windowed energy features
# ---------------------------------------------------------------------------

AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def decode_audio(data: bytes, sample_rate: int = 16000):
    """Decode compressed audio bytes to PCM. STUB: the container ships
    no audio codecs; dispatches to soundfile/librosa if present, else
    raises. The windowing below consumes raw PCM directly, so only
    compressed formats need this hook."""
    try:  # pragma: no cover - codec not in container
        import soundfile  # noqa: F401

        raise NotImplementedError("wire soundfile.read here on a real cluster")
    except ImportError:
        raise NotImplementedError(
            "audio decode requires soundfile/librosa; install on the "
            "cluster image. Raw-PCM inputs skip this hook entirely."
        )


def window_audio(
    batches: Iterator, window: int = 32, hop: int = 16
) -> Iterator:
    """Interpret each binary payload as 16-bit little-endian PCM and
    emit overlapping analysis windows (``window`` samples every ``hop``)
    with integer energy (Σx²) and peak |x| per window — the framing +
    feature pass of every audio pipeline (VAD, loudness filtering,
    silence trimming), expressed as a map-side 1->N fan-out: windows
    are derived and reduced inside the scan stage and never shuffle.

    Integer features keep the op deterministic without codec floats;
    a real feature extractor swaps the energy line for an FFT and the
    schema for an array<float> column — the plumbing (Arrow batches,
    fan-out, schema) is exactly this."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = {
            "doc_id": [],
            "window_idx": [],
            "n_samples": [],
            "energy": [],
            "peak": [],
        }
        for doc_id, blob in zip(pdf["doc_id"], pdf["audio"]):
            pcm = np.frombuffer(
                bytes(blob)[: (len(blob) // 2) * 2], dtype="<i2"
            ).astype(np.int64)
            idx = 0
            for start in range(0, max(len(pcm) - window + 1, 1), hop):
                w = pcm[start : start + window]
                if len(w) == 0:
                    continue
                out["doc_id"].append(doc_id)
                out["window_idx"].append(idx)
                out["n_samples"].append(int(len(w)))
                out["energy"].append(int((w * w).sum()))
                out["peak"].append(int(np.abs(w).max()))
                idx += 1
        yield pd.DataFrame(out)


# --- real audio format: PCM-WAV (RIFF) encode + decode in pure Python -----

WAV_N_SAMPLES = 64
WAV_RATE = 8000

WAV_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def wav_encode(batches: Iterator) -> Iterator:
    """mapInPandas encoder: a REAL 44-byte RIFF/WAVE header (PCM, mono,
    16-bit, 8 kHz) + 64 little-endian samples, closed-form in doc_id:
    sample k = (13·id + 17k) % 4096 − 2048 — SQL-recomputable."""
    import struct

    import numpy as np
    import pandas as pd

    for pdf in batches:
        blobs = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            pcm = np.array(
                [(13 * i + 17 * k) % 4096 - 2048 for k in range(WAV_N_SAMPLES)],
                dtype="<i2",
            ).tobytes()
            hdr = struct.pack(
                "<4sI4s4sIHHIIHH4sI",
                b"RIFF", 36 + len(pcm), b"WAVE",
                b"fmt ", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16,
                b"data", len(pcm),
            )
            blobs.append(hdr + pcm)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})


def wav_decode_windows(batches: Iterator) -> Iterator:
    """mapInPandas decoder: parse the RIFF/WAVE header byte-for-byte
    (magic, fmt chunk, PCM/mono/16-bit assertions, data length), then
    window the PCM (32 samples, hop 16) into integer energy/peak — the
    dependency-free WAV path; compressed formats go through the gated
    ``decode_audio`` hook instead."""
    import struct

    import numpy as np
    import pandas as pd

    for pdf in batches:
        out = {
            "doc_id": [],
            "sample_rate": [],
            "window_idx": [],
            "n_samples": [],
            "energy": [],
            "peak": [],
        }
        for doc_id, blob in zip(pdf["doc_id"], pdf["audio"]):
            blob = bytes(blob)
            (riff, _sz, wave, fmt, fmt_len, codec, nchan, rate, _br,
             _align, bits, data, data_len) = struct.unpack(
                "<4sI4s4sIHHIIHH4sI", blob[:44]
            )
            if (riff, wave, fmt, data) != (b"RIFF", b"WAVE", b"fmt ", b"data"):
                raise ValueError("not a canonical PCM WAV")
            if (codec, nchan, bits) != (1, 1, 16):
                raise ValueError("only 16-bit mono PCM supported")
            pcm = np.frombuffer(blob[44 : 44 + data_len], dtype="<i2").astype(
                np.int64
            )
            idx = 0
            for start in range(0, max(len(pcm) - 32 + 1, 1), 16):
                w = pcm[start : start + 32]
                if len(w) == 0:
                    continue
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["window_idx"].append(idx)
                out["n_samples"].append(int(len(w)))
                out["energy"].append(int((w * w).sum()))
                out["peak"].append(int(np.abs(w).max()))
                idx += 1
        yield pd.DataFrame(out)


@_q(
    "q_multimodal_audio",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(generate_series(0, 2)) AS window_idx
      FROM documents
    ),
    x AS (
      SELECT doc_id, window_idx,
             (13 * doc_id + 17 * (window_idx * 16
                + unnest(generate_series(0, 31)))) % 4096 - 2048 AS v
      FROM w
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(window_idx AS INTEGER) AS window_idx,
           CAST(32 AS INTEGER) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(abs(v)) AS INTEGER) AS peak
    FROM x GROUP BY doc_id, window_idx
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline end-to-end, byte-for-byte verified: encode each
    document to a REAL canonical PCM WAV (44-byte RIFF header + 64
    little-endian 16-bit samples), then a second ``mapInPandas`` pass
    PARSES the header (magic/codec/channel/bit-depth assertions) and
    windows the PCM into integer Σx² energy and peak (32-sample
    windows, hop 16 → 3 windows/doc). The oracle recomputes every
    window from the closed-form sample definition, so header
    arithmetic, endianness, and framing are all on the hash.

    Map-side fan-out; audio bytes never shuffle. Compressed codecs
    swap in via the gated ``decode_audio`` hook with the same plan."""
    d = load_table(spark, sf_dir, "documents")
    audio = d.select("doc_id").mapInPandas(
        wav_encode,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("audio", T.BinaryType()),
            ]
        ),
    )
    return audio.mapInPandas(wav_decode_windows, WAV_WINDOW_SCHEMA)


# This module defines code that executes in Python workers; ship it by
# value so executors never need the package importable (see _shipping).
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
