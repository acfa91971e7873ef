"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``binary`` columns with a metadata
struct; decode / feature-extraction run as Arrow-batched ``mapInPandas``
stages so the Spark-side shape (schema, partitioning, batch signature) is
real and tested even where the codec itself is stubbed (media libraries are
not available in this container — the decode seam raises or fakes
deterministically, clearly marked).

At 100 TB the pattern is: payloads stay columnar in parquet, metadata-only
queries never touch bytes (column pruning), and decode stages scale by
repartitioning on a content key before the mapInPandas pass.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.operators.jpeg import MEDIA_DECODE_ERRORS

# ---------------------------------------------------------------------------
# Pure-stdlib image codecs (no media libraries in this container): binary
# PPM (P6), a real zlib-compressed PNG (8-bit RGB, filter 0), and — via
# :mod:`operators.jpeg` — real baseline JPEG (SOF0, Huffman + DCT).  These
# are genuine encode→decode round-trips over compressed/entropy-coded
# bytes; the remaining honest seams are progressive/multi-component JPEG
# and real video containers (PBV1 below is a genuine container, not MP4).
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6): ASCII header + raw RGB rows."""
    assert len(rgb) == width * height * 3
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM payload")
    # header = magic, width, height, maxval — whitespace-separated
    parts = payload.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    try:
        dims = [int(x) for x in parts[1].split()]
        maxval = int(parts[2])
    except ValueError:
        raise ValueError("malformed PPM header fields") from None
    if len(dims) != 2:
        raise ValueError("malformed PPM dimensions")
    width, height = dims
    if width <= 0 or height <= 0 or width * height > (1 << 28):
        raise ValueError("zero or implausibly large PPM dimensions")
    if maxval != 255:
        raise NotImplementedError("only 8-bit (maxval 255) PPMs are decoded here")
    rgb = parts[3]
    if len(rgb) < width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, rgb[: width * height * 3]


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal real PNG: 8-bit RGB, one IDAT, per-row filter byte 0."""
    assert len(rgb) == width * height * 3
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos, width, height, idat = len(_PNG_MAGIC), 0, 0, b""
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk body")
        if tag == b"IHDR":
            if len(body) < 10:
                raise ValueError("truncated IHDR chunk")
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if (depth, ctype) != (8, 2):
                raise NotImplementedError("only 8-bit RGB PNGs are decoded here")
            if not width or not height or width * height > (1 << 28):
                raise ValueError("zero or implausibly large PNG dimensions")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if not width or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from None
    stride = width * 3
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    rows = []
    for y in range(height):
        off = y * (stride + 1)
        if raw[off] != 0:
            raise NotImplementedError("only filter-0 PNG rows are decoded here")
        rows.append(raw[off + 1 : off + 1 + stride])
    return width, height, b"".join(rows)


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Sniff-and-decode: PPM, PNG, or baseline JPEG → (width, height,
    raw RGB).  JPEG (:mod:`operators.jpeg`) handles grayscale AND
    3-component YCbCr with 4:4:4/4:2:2/4:2:0 subsampling; gray expands
    luma to RGB.  Unknown containers raise — progressive/12-bit JPEG
    raises inside the jpeg decoder (the honest remaining seam)."""
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(_PNG_MAGIC):
        return decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        from pulseboard_spark.operators.jpeg import decode_jpeg

        w, h, ncomp, pix = decode_jpeg(payload)
        if ncomp == 1:
            pix = np.repeat(np.frombuffer(pix, dtype=np.uint8), 3).tobytes()
        return w, h, pix
    raise NotImplementedError("no codec for this payload in this environment")


def encode_wav(sample_rate: int, samples: "np.ndarray") -> bytes:
    """Minimal real WAV: 16-bit mono PCM (RIFF/fmt/data chunks)."""
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """WAV → (sample_rate, int16 samples).  16-bit mono PCM only — the
    shape this engine's synth table emits."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated WAV chunk body")
        if tag == b"fmt ":
            if len(body) < 8:
                raise ValueError("truncated WAV fmt chunk")
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            if (audio_fmt, channels) != (1, 1):
                raise NotImplementedError("only 16-bit mono PCM WAVs are decoded here")
        elif tag == b"data":
            if length % 2:
                raise ValueError("odd-length 16-bit PCM data chunk")
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + length + (length & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, data

MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, payload binary, "
    "meta_width int, meta_height int, meta_n_bytes bigint"
)


def synth_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from documents: the text bytes
    stand in for an opaque payload; metadata derives from content.

    NULL-text docs yield NO media row: without bytes there is no payload,
    and fabricating one sends NULL into every decode/resize kernel (the
    oracle-fuzz nulls profile crashed resize_media's ``len(payload)``).
    Mirrored by ``WHERE text IS NOT NULL`` in the oracle media CTEs."""
    documents = documents.filter(F.col("text").isNotNull())
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        _media_type_col().alias("media_type"),
        payload.alias("payload"),
        (F.col("n_chars") % 1024 + 16).cast("int").alias("meta_width"),
        (F.col("n_chars") % 768 + 16).cast("int").alias("meta_height"),
        F.length(payload).cast("bigint").alias("meta_n_bytes"),
    )


def _media_type_col():
    """The synth_media media-type assignment, shared with the inline
    manifest projection in :func:`media_text_pairs`."""
    return (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )


def synth_images(documents: DataFrame) -> DataFrame:
    """Deterministic REAL image table: every doc gets a small RGB image
    whose pixel i is ``(doc_id + i) % 256``, encoded as a genuine PNG
    (even ids) or binary PPM (odd ids).  Dimensions derive from doc_id
    (8+id%16 × 8+id%12) so the DuckDB oracle can reproduce every decoded
    statistic arithmetically — the codec round-trip is the thing under
    test, the pixels are closed-form."""

    return documents.select("doc_id").mapInPandas(
        _synth_image_batches,
        schema="doc_id bigint, media_type string, payload binary, meta_width int, meta_height int",
    )


def _synth_image_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {"doc_id": pdf["doc_id"], "media_type": [], "payload": [],
               "meta_width": [], "meta_height": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = 8 + d % 16, 8 + d % 12
            rgb = ((d + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
            if d % 2 == 0:
                out["media_type"].append("image/png")
                out["payload"].append(encode_png(w, h, rgb))
            else:
                out["media_type"].append("image/ppm")
                out["payload"].append(encode_ppm(w, h, rgb))
            out["meta_width"].append(w)
            out["meta_height"].append(h)
        yield pd.DataFrame(out)


def encode_ppm_video(width: int, height: int, frames: list[bytes]) -> bytes:
    """Minimal real video container: ``PBV1`` magic + frame count + w/h
    header, then concatenated raw RGB frames — the moving-picture twin of
    the PPM still (uncompressed, but a genuine multi-frame container with
    a header to parse and per-frame offsets to seek)."""
    assert all(len(f) == width * height * 3 for f in frames)
    return (
        b"PBV1"
        + struct.pack(">III", len(frames), width, height)
        + b"".join(frames)
    )


def pbv_geometry(payload: bytes) -> tuple[int, int, int]:
    """Validate a PBV1 header against the payload length and return
    ``(n_frames, width, height)`` — the malformed-payload gate shared by
    the per-frame seek and the frame sampler (a header that declares more
    frames than the payload carries must raise, never silently return
    short pixel slices)."""
    if payload[:4] != b"PBV1":
        raise ValueError("not a PBV1 video payload")
    if len(payload) < 16:
        raise ValueError("truncated PBV1 header")
    n_frames, width, height = struct.unpack(">III", payload[4:16])
    if not n_frames or not width or not height or width * height > (1 << 28):
        raise ValueError("zero or implausibly large PBV1 geometry")
    if len(payload) < 16 + n_frames * width * height * 3:
        raise ValueError("truncated PBV1 frame data")
    return n_frames, width, height


def decode_ppm_video_frame(payload: bytes, frame_index: int) -> tuple[int, int, int, bytes]:
    """Seek-decode ONE frame: (n_frames, width, height, rgb).  Seeking is
    O(1) via the fixed frame stride — the property a real frame sampler
    relies on (decode only the sampled frames, never the whole clip).
    An out-of-range ``frame_index`` is a caller error (IndexError), not a
    payload error — samplers derive indexes from the parsed frame count."""
    n_frames, width, height = pbv_geometry(payload)
    if not 0 <= frame_index < n_frames:
        raise IndexError(f"frame {frame_index} of {n_frames}")
    stride = width * height * 3
    off = 16 + frame_index * stride
    return n_frames, width, height, payload[off : off + stride]


def synth_video(documents: DataFrame) -> DataFrame:
    """Deterministic REAL video table: 4 + doc_id % 5 frames of an
    8+id%8 × 8+id%4 clip; frame f's pixel i is ``(doc_id + 31·f + i) % 256``
    — closed-form for the oracle, genuinely containerized for the parser."""

    return documents.select("doc_id").mapInPandas(
        _synth_video_batches,
        schema="doc_id bigint, media_type string, payload binary, meta_n_frames int",
    )


def _synth_video_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {"doc_id": pdf["doc_id"], "media_type": [], "payload": [], "meta_n_frames": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h, nf = 8 + d % 8, 8 + d % 4, 4 + d % 5
            frames = [
                ((d + 31 * f + np.arange(w * h * 3)) % 256).astype(np.uint8).tobytes()
                for f in range(nf)
            ]
            out["media_type"].append("video/pbv")
            out["payload"].append(encode_ppm_video(w, h, frames))
            out["meta_n_frames"].append(nf)
        yield pd.DataFrame(out)


FRAME_SCHEMA = (
    "doc_id bigint, frame_index int, n_frames int, width int, height int, "
    "sum_px bigint, decoded boolean"
)


#: Frame stride of the video samplers: every FRAME_EVERY_N-th frame is decoded.
FRAME_EVERY_N = 2


def sampled_frame_features(media: DataFrame) -> DataFrame:
    """REAL frame sampling: decode every ``FRAME_EVERY_N``-th frame via the O(1)
    container seek and emit integer pixel sums per sampled frame — the
    video twin of :func:`decoded_features`.  Unsampled frames are never
    materialized (the point of a sampler).  A payload that fails the
    :data:`~pulseboard_spark.operators.jpeg.MEDIA_DECODE_ERRORS` contract
    is quarantined as ONE ``decoded=false`` row (NULL frame fields) —
    the stage never dies on a corrupt clip."""

    return media.select("doc_id", "payload").mapInPandas(
        _frame_feature_batches, schema=FRAME_SCHEMA
    )


def _frame_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {c: [] for c in ("doc_id", "frame_index", "n_frames",
                               "width", "height", "sum_px", "decoded")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            payload = bytes(payload)
            try:
                n_frames, _, _ = pbv_geometry(payload)
            except MEDIA_DECODE_ERRORS:
                # quarantine: one decoded=false row per corrupt clip
                out["doc_id"].append(int(doc_id))
                for c in ("frame_index", "n_frames", "width", "height", "sum_px"):
                    out[c].append(None)
                out["decoded"].append(False)
                continue
            for f in range(0, n_frames, FRAME_EVERY_N):
                nf, w, h, rgb = decode_ppm_video_frame(payload, f)
                px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["frame_index"].append(f)
                out["n_frames"].append(nf)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_px"].append(int(px.sum()))
                out["decoded"].append(True)
        yield pd.DataFrame(out)


def synth_video_frame_features(documents: DataFrame) -> DataFrame:
    """Fused :func:`synth_video` → :func:`sampled_frame_features`: one
    Arrow stage, clip payloads never cross the Python↔JVM boundary (guide
    §4/§8) — row-identical to the chained form by iterator composition of
    the same kernels (pinned by test)."""
    return documents.select("doc_id").mapInPandas(
        _synth_video_frame_batches, schema=FRAME_SCHEMA
    )


def _synth_video_frame_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _frame_feature_batches(_synth_video_batches(it))


def synth_audio(documents: DataFrame) -> DataFrame:
    """Deterministic REAL audio table: every doc gets a short 16-bit mono
    PCM WAV whose sample i is ``(doc_id·7 + i·13) % 2001 − 1000`` — n
    samples = 64 + doc_id % 192, rate 8000 — closed-form so the DuckDB
    oracle reproduces every decoded statistic arithmetically."""

    return documents.select("doc_id").mapInPandas(
        _synth_audio_batches,
        schema="doc_id bigint, media_type string, payload binary, meta_n_samples int",
    )


def _synth_audio_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {"doc_id": pdf["doc_id"], "media_type": [], "payload": [], "meta_n_samples": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n = 64 + d % 192
            samples = (d * 7 + np.arange(n) * 13) % 2001 - 1000
            out["media_type"].append("audio/wav")
            out["payload"].append(encode_wav(8000, samples))
            out["meta_n_samples"].append(n)
        yield pd.DataFrame(out)


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, "
    "sum_abs bigint, max_abs bigint, n_zero_crossings bigint, decoded boolean"
)


def decoded_audio_features(media: DataFrame) -> DataFrame:
    """REAL WAV decode + integer signal statistics (abs-sum, peak, zero
    crossings) — the audio twin of :func:`decoded_features`; all-integer
    surface, engine-exact against the closed-form sample model.  Corrupt
    payloads quarantine (``decoded=false``, NULL features) per the codec
    exception contract instead of failing the stage."""

    return media.select("doc_id", "payload").mapInPandas(
        _audio_feature_batches, schema=AUDIO_SCHEMA
    )


def _audio_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {c: [] for c in ("doc_id", "sample_rate", "n_samples",
                               "sum_abs", "max_abs", "n_zero_crossings", "decoded")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            out["doc_id"].append(int(doc_id))
            try:
                rate, s = decode_wav(bytes(payload))
            except MEDIA_DECODE_ERRORS:
                for c in ("sample_rate", "n_samples", "sum_abs",
                          "max_abs", "n_zero_crossings"):
                    out[c].append(None)
                out["decoded"].append(False)
                continue
            s64 = s.astype(np.int64)
            out["sample_rate"].append(rate)
            out["n_samples"].append(len(s64))
            out["sum_abs"].append(int(np.abs(s64).sum()))
            out["max_abs"].append(int(np.abs(s64).max()) if len(s64) else 0)
            # sign flips between consecutive samples (zeros break runs)
            sgn = np.sign(s64)
            out["n_zero_crossings"].append(int(np.sum(sgn[1:] * sgn[:-1] < 0)))
            out["decoded"].append(True)
        yield pd.DataFrame(out)


def synth_audio_features(documents: DataFrame) -> DataFrame:
    """Fused :func:`synth_audio` → :func:`decoded_audio_features`: one
    Arrow stage, WAV payloads never cross the Python↔JVM boundary (guide
    §4/§8) — row-identical to the chained form by iterator composition of
    the same kernels (pinned by test)."""
    return documents.select("doc_id").mapInPandas(
        _synth_audio_feature_batches, schema=AUDIO_SCHEMA
    )


def _synth_audio_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _audio_feature_batches(_synth_audio_batches(it))


DECODED_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, "
    "n_pixels bigint, sum_r bigint, sum_g bigint, sum_b bigint, decoded boolean"
)


def decoded_features(media: DataFrame) -> DataFrame:
    """REAL decode + feature extraction: each payload is parsed by the
    in-module codec (PNG inflate + unfilter, or PPM), and integer channel
    statistics are computed from the recovered pixels.  All-integer
    surface — engine-exact against the oracle's closed-form pixel model.

    Scale shape: one Arrow-batched mapInPandas pass; payloads never
    shuffle (features extracted in place), and the stage parallelizes by
    input partition exactly like a production decoder fleet.  A payload
    that raises inside the documented codec contract
    (:data:`~pulseboard_spark.operators.jpeg.MEDIA_DECODE_ERRORS`) is
    quarantined — ``decoded=false``, NULL features, stage stays alive —
    mirroring P1's dead-letter routing; unexpected exception classes
    still propagate (codec bug, fail loudly)."""

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        _image_feature_batches, schema=DECODED_SCHEMA
    )


def _image_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = {c: [] for c in
               ("doc_id", "media_type", "width", "height", "n_pixels",
                "sum_r", "sum_g", "sum_b", "decoded")}
        for doc_id, mtype, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
            out["doc_id"].append(int(doc_id))
            out["media_type"].append(mtype)
            try:
                w, h, rgb = decode_image(bytes(payload))
            except MEDIA_DECODE_ERRORS:
                for c in ("width", "height", "n_pixels", "sum_r", "sum_g", "sum_b"):
                    out[c].append(None)
                out["decoded"].append(False)
                continue
            px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
            out["width"].append(w)
            out["height"].append(h)
            out["n_pixels"].append(w * h)
            out["sum_r"].append(int(px[0::3].sum()))
            out["sum_g"].append(int(px[1::3].sum()))
            out["sum_b"].append(int(px[2::3].sum()))
            out["decoded"].append(True)
        yield pd.DataFrame(out)


def synth_image_features(documents: DataFrame) -> DataFrame:
    """Fused :func:`synth_images` → :func:`decoded_features`: one Arrow
    stage, PNG/PPM payloads never cross the Python↔JVM boundary (guide
    §4/§8) — row-identical to the chained form by iterator composition of
    the same kernels (pinned by test)."""
    return documents.select("doc_id").mapInPandas(
        _synth_image_feature_batches, schema=DECODED_SCHEMA
    )


def _synth_image_feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    return _image_feature_batches(_synth_image_batches(it))


RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, out_width int, out_height int, "
    "out_n_bytes bigint, payload binary"
)


#: Long-side target of :func:`resize_media`, in pixels.
RESIZE_MAX_DIM = 224


def resize_media(media: DataFrame) -> DataFrame:
    """Resize stage: aspect-preserving downscale to ``RESIZE_MAX_DIM`` on
    the long side.  The geometry (out_width/out_height) is exact integer
    arithmetic; the pixel path is a stub (no codecs in this container):
    the fake payload is a deterministic truncation to out_w·out_h bytes, preserving the real operator's batch
    shape: binary in, binary out, one Arrow batch at a time, memory bounded
    by batch size × payload size.
    """
    max_dim = RESIZE_MAX_DIM

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            w = pdf["meta_width"].astype("int64")
            h = pdf["meta_height"].astype("int64")
            long_side = w.combine(h, max)
            # scale = max_dim / long_side, capped at 1 (never upscale);
            # floor arithmetic in int space: out = max(1, dim * max_dim // long)
            scale_needed = long_side > max_dim
            out_w = w.where(~scale_needed, (w * max_dim // long_side).clip(lower=1)).astype("int32")
            out_h = h.where(~scale_needed, (h * max_dim // long_side).clip(lower=1)).astype("int32")
            n_out = (out_w.astype("int64") * out_h.astype("int64"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "out_width": out_w,
                    "out_height": out_h,
                    "out_n_bytes": n_out.combine(pdf["payload"].map(len), min).astype("int64"),
                    "payload": [
                        bytes(p[: int(n)]) for p, n in zip(pdf["payload"], n_out)
                    ],
                }
            )

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Frame/chunk sampling *plan*: one row per sampled 1 KiB offset, computed
    without touching payload bytes (pure metadata arithmetic) — the shape
    of a video frame-sampler where the decode stage fills in pixels."""
    n = (F.col("meta_n_bytes") / 1024).cast("int")
    return media.select(
        "doc_id",
        "media_type",
        F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))).alias("chunk_index"),
    ).withColumn("byte_offset", (F.col("chunk_index") * 1024).cast("bigint"))


def media_text_pairs(documents: DataFrame) -> DataFrame:
    """Multimodal training-pair manifest: one row per (media payload,
    caption) pair with the quality gate and split assignment a
    vision/audio-text training job consumes.

    Chains the multimodal metadata (:func:`synth_media`), the Gopher
    quality gate (`text.gopher_quality`) and the deterministic split
    (`sampling.train_val_test_split`) — captions are the leading
    100 characters of the paired text.

    Physical shape (r10): ONE join.  The media metadata, caption, and
    split columns are all per-row projections of the same document row
    (the split is a pure hash bucket, the media columns are
    :func:`synth_media`'s own expressions), so they compute inline in a
    single pass instead of three 1:1 self-joins on doc_id; only the
    Gopher gate genuinely aggregates (its top-word share) and re-attaches
    by join.  gopher_quality runs on the non-null-text subset — its
    per-doc metrics depend only on the doc's own text, so the surviving
    rows are identical to gating the full corpus and inner-joining
    (pinned by the unchanged oracle).
    """
    from pulseboard_spark.operators.sampling import train_val_test_split
    from pulseboard_spark.operators.text import gopher_quality

    docs = documents.filter(F.col("text").isNotNull())
    quality = gopher_quality(docs).select("doc_id", "passes")
    manifest = train_val_test_split(
        docs.select(
            "doc_id",
            _media_type_col().alias("media_type"),
            F.length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("meta_n_bytes"),
            F.substring(F.col("text"), 1, 100).alias("caption"),
        ),
        "doc_id",
    )
    return manifest.join(quality, "doc_id").select(
        "doc_id", "media_type", "meta_n_bytes", "caption", "passes", "split"
    )


PHASH_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, phash string"
)


def perceptual_hash_dedup(media: DataFrame) -> DataFrame:
    """Image near-dup via a 64-chunk average hash over REAL-decoded
    grayscale pixels — the media twin of text MinHash: resolution-robust
    content grouping where byte-level dedup sees only distinct payloads.

    Recipe (aHash family, public method): decode to RGB, gray =
    (r+g+b)//3 per pixel, split the pixel sequence into 64 contiguous
    chunks, bit_k = (chunk mean > global mean), pack MSB-first into a
    16-hex-char string.  Every step is integer arithmetic on the decoded
    pixels, so the hash is engine-exact and the ORACLE recomputes it
    from the closed-form synthetic pixel model — the decode path itself
    is what the check exercises (same contract as ``decoded_features``).

    Output: doc_id, media_type, width, height, phash, canonical_doc_id
    (min doc per (dims, phash) group), is_duplicate.

    Scale: one Arrow decode pass (payloads never shuffle), then a window
    over the 16-char hash — the same exact-dedup shape as md5 text
    dedup; banding the 64 bits into 4×16-bit keys turns it into
    Hamming-tolerant near-dup (the SimHash machinery in
    `operators/dedup.py` applies verbatim).

    Corrupt-payload posture: a payload failing the codec exception
    contract (or too small to carry 64 hash bits) is DROPPED from dedup
    consideration — it can't be fingerprinted, and it must not kill the
    stage.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("doc_id", "media_type", "width", "height", "phash")}
            for doc_id, mtype, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
                try:
                    w, h, rgb = decode_image(bytes(payload))
                except MEDIA_DECODE_ERRORS:
                    continue  # undecodable payloads can't be fingerprinted — drop, don't die
                px = np.frombuffer(rgb, dtype=np.uint8).astype(np.int64)
                gray = (px[0::3] + px[1::3] + px[2::3]) // 3
                n = w * h
                if n < 64:
                    continue  # fewer pixels than hash bits — no meaningful fingerprint
                chunk = np.arange(n) * 64 // n
                sums = np.zeros(64, dtype=np.int64)
                counts = np.zeros(64, dtype=np.int64)
                np.add.at(sums, chunk, gray)
                np.add.at(counts, chunk, 1)
                means = sums // counts
                gmean = int(gray.sum()) // n
                bits = (means > gmean).astype(np.int64)
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                out["doc_id"].append(int(doc_id))
                out["media_type"].append(mtype)
                out["width"].append(w)
                out["height"].append(h)
                out["phash"].append(format(val, "016x"))
            yield pd.DataFrame(out)

    hashed = media.select("doc_id", "media_type", "payload").mapInPandas(
        batches, schema=PHASH_SCHEMA
    )
    grp = Window.partitionBy("width", "height", "phash")
    return hashed.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "phash",
        F.min("doc_id").over(grp).alias("canonical_doc_id"),
        (F.col("doc_id") != F.min("doc_id").over(grp)).alias("is_duplicate"),
    )


AUDIO_FP_SCHEMA = "doc_id bigint, sample_rate int, n_samples bigint, afp string"


def audio_fingerprint_dedup(media: DataFrame) -> DataFrame:
    """Audio near-dup via a 32-chunk energy fingerprint over REAL-decoded
    PCM samples — :func:`perceptual_hash_dedup`'s twin for the audio
    modality: chunk mean |amplitude| vs global mean |amplitude|, one bit
    per chunk, packed MSB-first into an 8-hex-char string.  Integer
    arithmetic end to end, so the ORACLE recomputes the fingerprint from
    the closed-form synthetic sample model and the comparison exercises
    the WAV parser itself (same contract as ``decoded_audio_features``).

    Output: doc_id, sample_rate, n_samples, afp, canonical_doc_id
    (min doc per (n_samples, afp) group), is_duplicate.

    Scale: identical posture to the image twin — one Arrow decode pass,
    payloads never shuffle, then the md5-dedup window shape over an
    8-char key; band the 32 bits for Hamming-tolerant matching.
    Corrupt or sub-32-sample payloads are dropped from dedup
    consideration, never fatal (same quarantine contract as the feature
    operators).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("doc_id", "sample_rate", "n_samples", "afp")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, samples = decode_wav(bytes(payload))
                except MEDIA_DECODE_ERRORS:
                    continue  # undecodable payloads can't be fingerprinted — drop, don't die
                v = np.abs(samples.astype(np.int64))
                n = len(v)
                if n < 32:
                    continue  # fewer samples than fingerprint bits (incl. empty data chunk)
                chunk = np.arange(n) * 32 // n
                sums = np.zeros(32, dtype=np.int64)
                counts = np.zeros(32, dtype=np.int64)
                np.add.at(sums, chunk, v)
                np.add.at(counts, chunk, 1)
                means = sums // counts
                gmean = int(v.sum()) // n
                val = 0
                for b in (means > gmean).astype(np.int64):
                    val = (val << 1) | int(b)
                out["doc_id"].append(int(doc_id))
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(n)
                out["afp"].append(format(val, "08x"))
            yield pd.DataFrame(out)

    hashed = media.select("doc_id", "payload").mapInPandas(batches, schema=AUDIO_FP_SCHEMA)
    grp = Window.partitionBy("n_samples", "afp")
    return hashed.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "afp",
        F.min("doc_id").over(grp).alias("canonical_doc_id"),
        (F.col("doc_id") != F.min("doc_id").over(grp)).alias("is_duplicate"),
    )
