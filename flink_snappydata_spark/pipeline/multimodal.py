"""Multimodal column handling: opaque binary payloads + typed metadata
(north star, SURVEY.md §2.9).

Images/audio/video are ``binary`` columns with a metadata struct; the
Spark-side plumbing — schemas, Arrow batch shapes, mapInPandas row
expansion, partition-size control — is real and tested, and so are the
uncompressed codecs: ``decode_image`` parses PPM (P3/P6) and 24-bit
BMP in pure Python, ``decode_audio`` RIFF/WAVE PCM, ``decode_video``
uncompressed RIFF/AVI. Compressed formats (JPEG/PNG/compressed AVI
streams) delegate to PIL when importable and raise ``ValueError``
otherwise; digest-based feature extraction keeps the exact signature a
learned extractor would have.

Every kernel and fixture synthesizer here is a plain per-row function
of ``(doc_id, content)`` (or of ``doc_id``) run through
:func:`_row_map`, the module's one Arrow batch shape; the two RIFF
codecs share one chunk reader (:func:`_riff_chunks`) and one chunk
writer (:func:`_riff_chunk`).

Scale: binary payloads ride in the same parquet row groups; resize
``spark.sql.files.maxPartitionBytes`` down for large blobs so a task's
Arrow batches stay in memory, and keep metadata in columns (not inside
the blob) so pruning works without touching bytes.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_snappydata_spark.util import small_sorted, spread

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("byte_len", T.LongType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha_hex", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


#: ``doc_id → content`` rows of the fixture payload synthesizers.
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _row_map(
    df: DataFrame, cols: list[str], fn: Callable, schema: T.StructType
) -> DataFrame:
    """``df.mapInPandas`` with one Python call per row:
    ``fn(*values of cols)`` returns the output row as a tuple, or a list
    of row tuples for a 1→N kernel. Values arrive as Python objects
    (``int``, ``bytes``). The mapped function takes ``fn``'s name, so the
    plan's ``MapInPandas`` node still names the kernel that runs."""
    names = schema.fieldNames()

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for values in zip(*(pdf[c].tolist() for c in cols)):
                out = fn(*values)
                if isinstance(out, list):
                    rows.extend(out)
                else:
                    rows.append(out)
            yield pd.DataFrame(rows, columns=names)

    batches.__name__ = fn.__name__
    return df.mapInPandas(batches, schema=schema)


def _synthesized(
    documents: DataFrame, payload: Callable[[int], bytes]
) -> DataFrame:
    """One synthesized ``payload(doc_id)`` per document as
    ``(doc_id, content)`` rows, the ids spread over the cluster first."""

    def _synth(doc_id: int) -> tuple:
        return doc_id, payload(doc_id)

    return _row_map(
        spread(documents.select("doc_id"), "doc_id"),
        ["doc_id"],
        _synth,
        PAYLOAD_SCHEMA,
    )


def _riff_chunks(buf: bytes, pos: int) -> Iterator[tuple[bytes, bytes]]:
    """``(chunk id, body)`` of each RIFF chunk in ``buf`` from ``pos``
    on; an odd-sized body is followed by one pad byte (chunks are
    word-aligned)."""
    while pos + 8 <= len(buf):
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        yield buf[pos : pos + 4], buf[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    """One RIFF chunk: id, little-endian size, body, pad byte if odd."""
    return cid + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def _wav(samples: list[int]) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE payload at 8 kHz."""
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return _riff_chunk(
        b"RIFF", b"WAVE" + _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", pcm)
    )


def _ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary ``P6`` PPM payload, maxval 255."""
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def attach_binary(documents: DataFrame) -> DataFrame:
    """documents → multimodal layout: text encoded as the opaque binary
    payload + typed metadata struct (the fixture stand-in for real
    image/audio bytes)."""
    content = F.encode(F.col("text"), "UTF-8")
    return spread(documents, "doc_id").select(
        "doc_id",
        content.alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col("text")).cast("long").alias("byte_len"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def _decode_ppm(content: bytes) -> dict:
    """Pure-Python PPM decode: binary ``P6`` and ASCII ``P3``, with
    ``#`` comments anywhere in the header, maxval ≤ 255."""
    import re

    magic = content[:2]
    # Header = magic, width, height, maxval as whitespace-separated
    # tokens; '#' starts a comment through end-of-line.
    header_tokens: list[int] = []
    pos = 2
    while len(header_tokens) < 3:
        m = re.match(rb"(?:\s+|#[^\n]*\n)*(\d+)", content[pos:])
        if not m:
            raise ValueError("truncated PPM header")
        header_tokens.append(int(m.group(1)))
        pos += m.end()
    width, height, maxval = header_tokens
    if maxval > 255:
        raise ValueError(f"PPM maxval {maxval} > 255 not supported")
    if magic == b"P6":
        pos += 1  # exactly one whitespace byte after maxval
        pixels = content[pos : pos + width * height * 3]
    else:  # P3: ASCII sample values
        pixels = bytes(
            int(v) for v in re.split(rb"\s+", content[pos:].strip()) if v
        )
    if len(pixels) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return {"format": "ppm", "width": width, "height": height,
            "channels": 3, "pixels": pixels, "channel_order": "rgb"}


def _decode_bmp(content: bytes) -> dict:
    """Pure-Python BMP decode: BITMAPINFOHEADER, uncompressed 24/32-bit
    BGR(A), bottom-up or top-down rows, 4-byte row padding."""
    if len(content) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    width, height_raw = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) not supported")
    if bpp not in (24, 32):
        raise ValueError(f"{bpp}-bit BMP not supported (24/32 only)")
    height = abs(height_raw)
    bottom_up = height_raw > 0
    n_ch = bpp // 8
    row_stride = (width * n_ch + 3) & ~3
    rows = []
    for r in range(height):
        src_row = (height - 1 - r) if bottom_up else r
        start = data_offset + src_row * row_stride
        row = content[start : start + width * n_ch]
        if len(row) != width * n_ch:
            raise ValueError("truncated BMP pixel data")
        rows.append(row)
    # normalize BGR(A) → RGB(A) so stats are channel-comparable with PPM
    raw = b"".join(rows)
    px = bytearray(raw)
    px[0::n_ch], px[2::n_ch] = raw[2::n_ch], raw[0::n_ch]
    return {"format": "bmp", "width": width, "height": height,
            "channels": n_ch, "pixels": bytes(px), "channel_order": "rgba"[:n_ch]}


def decode_image(content: bytes) -> dict:
    """Decode an image payload without external codec libraries.

    Native pure-Python parsers for PPM (``P6``/``P3``) and uncompressed
    24/32-bit BMP return ``{format, width, height, channels, pixels
    (RGB byte-interleaved), channel_order}``. Other formats fall back to
    PIL when importable, else raise ``ValueError`` naming the format —
    the decode step is now first-class for the formats a codec-less
    container can own, and cleanly delegating for the rest.
    """
    if content[:2] in (b"P6", b"P3"):
        return _decode_ppm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    try:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(content))
        return {"format": (img.format or "unknown").lower(),
                "width": img.width, "height": img.height,
                "channels": len(img.getbands()),
                "pixels": img.tobytes(), "channel_order": "".join(img.getbands()).lower()}
    except ImportError:
        raise ValueError(
            f"unsupported image format (magic {content[:2]!r}); native "
            "decoders cover PPM (P6/P3) and uncompressed 24/32-bit BMP, "
            "and no codec library (PIL) is importable for anything else"
        ) from None


def _channel_means(img: dict) -> list[float]:
    """Each channel's mean over all pixels of a decoded image dict;
    raises ``ValueError`` naming the dimensions of an empty image."""
    w, h, n_ch = img["width"], img["height"], img["channels"]
    if w * h == 0:
        raise ValueError(f"zero-dimension image ({w}x{h}) has no pixels")
    return [sum(img["pixels"][c::n_ch]) / (w * h) for c in range(n_ch)]


def image_stats(content: bytes) -> dict:
    """Decode + per-channel statistics: width/height/channels plus each
    channel's min/max/mean over all pixels — the typed-metadata
    extraction step of the multimodal path, runnable inside the same
    Arrow batches as :func:`extract_features`. A zero-dimension image
    raises ``ValueError``."""
    img = decode_image(content)
    px, n_ch = img["pixels"], img["channels"]
    stats = [
        {"min": min(px[c::n_ch]), "max": max(px[c::n_ch]), "mean": mean}
        for c, mean in enumerate(_channel_means(img))
    ]
    return {"format": img["format"], "width": img["width"],
            "height": img["height"], "channels": n_ch,
            "channel_stats": stats}


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic digest-based stand-in for a real encoder: byte length,
    SHA-256 hex, and an 8-dim feature derived from the digest. The
    mapInPandas batch shape (N binary rows in → N feature rows out) is
    exactly what a GPU/codec extractor would use.
    """

    def _extract(doc_id: int, content: bytes) -> tuple:
        d = hashlib.sha256(content).digest()
        return doc_id, len(content), d.hex(), [b / 255.0 for b in d[:8]]

    return _row_map(media, ["doc_id", "content"], _extract, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """1→N frame sampling over OPAQUE payloads: split each payload into
    ``n_frames`` deterministic chunks of ``len // n_frames`` bytes, the
    last one running to the end of the payload, so the frames in
    ``frame_idx`` order concatenate back to it — the row-expansion shape
    of a frame sampler for formats the engine cannot parse. For
    uncompressed AVI the real per-frame decode is :func:`decode_video` /
    :func:`video_stats_table`."""

    def _frames(doc_id: int, content: bytes) -> list[tuple]:
        step = max(1, len(content) // n_frames)
        cuts = [i * step for i in range(n_frames)] + [None]
        return [
            (doc_id, i, content[cuts[i] : cuts[i + 1]]) for i in range(n_frames)
        ]

    return _row_map(media, ["doc_id", "content"], _frames, FRAME_SCHEMA)


def decode_audio(content: bytes) -> dict:
    """Pure-Python WAV decode: RIFF/WAVE container, PCM (format 1),
    8- or 16-bit samples, any channel count.

    Returns ``{format, sample_rate, channels, bits, n_samples,
    samples}`` where ``samples[c]`` is channel ``c``'s list of signed
    ints (8-bit WAV stores unsigned bytes, converted to centered
    ``v-128``) and ``n_samples`` counts frames per channel.
    """
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError(
            f"unsupported audio format (magic {content[:4]!r}); the "
            "native decoder covers RIFF/WAVE PCM only"
        )
    fmt = data = None
    for cid, body in _riff_chunks(content, 12):
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("truncated WAV: missing fmt/data chunk")
    audio_fmt, n_ch, sample_rate, _byte_rate, _block, bits = fmt
    if audio_fmt != 1:
        raise ValueError(f"non-PCM WAV (format {audio_fmt}) not supported")
    if bits == 16:
        flat = struct.unpack(f"<{len(data) // 2}h", data[: len(data) // 2 * 2])
    elif bits == 8:
        flat = [b - 128 for b in data]
    else:
        raise ValueError(f"{bits}-bit WAV not supported (8/16 only)")
    n_samples = len(flat) // n_ch
    samples = [list(flat[c::n_ch]) for c in range(n_ch)]
    return {"format": "wav", "sample_rate": sample_rate, "channels": n_ch,
            "bits": bits, "n_samples": n_samples, "samples": samples}


def _tone(doc_id: int, i: int) -> int:
    """Sample ``i`` of the synthesized WAV fixtures."""
    return ((doc_id * 17 + i * 13) % 65536) - 32768


def synthesize_wav(documents: DataFrame) -> DataFrame:
    """Deterministic mono 16-bit PCM WAV payload per document — the
    audio twin of :func:`synthesize_ppm`: ``8 + doc_id % 8`` frames at
    8 kHz, sample ``i`` = ``((doc_id*17 + i*13) % 65536) - 32768``, so
    decoding with the REAL parser yields stats with a closed-form
    arithmetic oracle."""
    return _synthesized(
        documents, lambda d: _wav([_tone(d, i) for i in range(8 + d % 8)])
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def audio_stats_table(media: DataFrame) -> DataFrame:
    """Arrow-batched audio decode: each payload runs through
    :func:`decode_audio`; emits per-document frame count, mean
    amplitude (channel 0), and the exact int64 sum of squares — the
    energy statistic as portable integer arithmetic. A payload with no
    samples gives ``n_samples`` 0 and a null mean."""

    def _stats(doc_id: int, content: bytes) -> tuple:
        a = decode_audio(content)
        ch0 = a["samples"][0]
        return (doc_id, a["format"], a["sample_rate"], a["channels"],
                a["n_samples"], sum(ch0) / len(ch0) if ch0 else None,
                sum(v * v for v in ch0))

    return _row_map(media, ["doc_id", "content"], _stats, AUDIO_STATS_SCHEMA)


def synthesize_wav_gated(documents: DataFrame) -> DataFrame:
    """:func:`synthesize_wav` variant with PLANTED SILENCE for the
    silence/trim operator: ``16 + doc_id % 8`` frames, and sample
    ``i`` is 0 whenever its 4-sample gate is silent
    (``(i//4 + doc_id) % 2 == 1`` — odd docs START silent, so
    leading-trim varies), else the same closed-form value as the
    loud twin. Same real RIFF/WAVE container, same parser."""
    return _synthesized(
        documents,
        lambda d: _wav([
            0 if (i // 4 + d) % 2 == 1 else _tone(d, i)
            for i in range(16 + d % 8)
        ]),
    )


AUDIO_SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("silence_ratio", T.DoubleType()),
        T.StructField("lead_trim", T.LongType()),
        T.StructField("tail_trim", T.LongType()),
    ]
)


def audio_silence_stats(
    media: DataFrame, frame: int = 4, threshold: int = 1
) -> DataFrame:
    """Silence profile + trim points per audio payload — the standard
    preprocessing decision for speech corpora ("how much of this clip
    is dead air, and where does the signal actually start/end")
    computed WITHOUT re-reading the audio twice: decode and
    frame-level analysis run fused in one Arrow-batched pass, so each
    payload crosses exactly one stage boundary (the
    decode+resize-fusion rule from the image path,
    ``image_decode_resize_fused``).

    Frames are non-overlapping runs of ``frame`` channel-0 samples
    (final partial frame included); a frame is silent when every
    ``|sample| < threshold``. Returns per document the frame count,
    silent-frame count and ratio, and the first/last non-silent frame
    indexes (``-1`` when the whole clip is silence). A payload with no
    samples has 0 frames and a null ratio.

    Scale: mapInPandas over the binary column — per-row work linear in
    payload size, no shuffle at all; the synthesized-fixture registry
    twin is hash-checked against a closed-form arithmetic oracle
    (every sample value is a formula of (doc_id, i), so DuckDB
    reproduces the decoded stats without parsing a byte).
    """

    def _stats(doc_id: int, content: bytes) -> tuple:
        ch0 = decode_audio(content)["samples"][0]
        loud = [
            any(abs(v) >= threshold for v in ch0[k : k + frame])
            for k in range(0, len(ch0), frame)
        ]
        n_silent = loud.count(False)
        loud_idx = [k for k, x in enumerate(loud) if x] or [-1]
        return (doc_id, len(loud), n_silent,
                n_silent / len(loud) if loud else None,
                loud_idx[0], loud_idx[-1])

    return _row_map(media, ["doc_id", "content"], _stats, AUDIO_SILENCE_SCHEMA)


def decode_video(content: bytes) -> dict:
    """Pure-Python AVI decode (uncompressed subset): RIFF/``AVI `` with
    an ``hdrl`` main header (``avih``: dims + declared frame count) and
    a ``movi`` list of raw ``00db`` DIB frames.

    Returns ``{format, width, height, n_frames, frames}`` where
    ``frames`` is the list of raw frame payloads in stream order and
    ``n_frames`` is the number actually present in ``movi`` (the
    parser trusts the container's contents over the declared count).
    Compressed streams (``00dc``) raise — no codec libs here; the
    uncompressed path is fully owned, everything else is explicit.
    """
    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError(
            f"unsupported video format (magic {content[:4]!r}); the "
            "native decoder covers RIFF/AVI with uncompressed frames only"
        )
    width = height = None
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int) -> None:
        nonlocal width, height
        for cid, body in _riff_chunks(buf, pos):
            if cid == b"LIST":
                walk(body, 4)  # skip the 4-byte list type, recurse
            elif cid == b"avih":
                width, height = struct.unpack_from("<II", body, 32)
            elif cid[2:] == b"db":  # raw DIB frame (e.g. 00db)
                frames.append(body)
            elif cid[2:] == b"dc":  # compressed frame
                raise ValueError(
                    "compressed AVI frame stream (..dc) not supported; "
                    "native decoder covers uncompressed (..db) frames"
                )

    walk(content, 12)
    if width is None:
        raise ValueError("truncated AVI: missing avih header")
    return {"format": "avi", "width": int(width), "height": int(height),
            "n_frames": len(frames), "frames": frames}


def synthesize_avi(documents: DataFrame) -> DataFrame:
    """Deterministic AVI payload per document — the video twin of
    :func:`synthesize_ppm`: ``2 + doc_id % 3`` uncompressed 4×2 24-bit
    frames, frame ``f`` byte ``j`` = ``(doc_id*7 + f*11 + j) % 256``
    (width 4 ⇒ 12-byte rows, already 4-aligned — no stride padding), so
    decoding with the REAL parser yields stats with a closed-form
    arithmetic oracle."""
    w, h = 4, 2

    def _list(ltype: bytes, body: bytes) -> bytes:
        return _riff_chunk(b"LIST", ltype + body)

    def payload(d: int) -> bytes:
        n = 2 + d % 3
        avih = struct.pack("<IIIIIIIIIIIIII", 33333, 0, 0, 0, n, 0,
                           1, 0, w, h, 0, 0, 0, 0)
        strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ",
                           0, 0, 0, 0, 1, 30, 0, n, 0, 0, 0,
                           0, 0, w, h)
        strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           w * h * 3, 0, 0, 0, 0)
        hdrl = _list(b"hdrl", _riff_chunk(b"avih", avih)
                     + _list(b"strl", _riff_chunk(b"strh", strh)
                             + _riff_chunk(b"strf", strf)))
        movi = _list(b"movi", b"".join(
            _riff_chunk(b"00db", bytes(
                (d * 7 + f * 11 + j) % 256 for j in range(w * h * 3)
            ))
            for f in range(n)
        ))
        return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)

    return _synthesized(documents, payload)


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def video_stats_table(media: DataFrame) -> DataFrame:
    """Arrow-batched video decode: each payload runs through
    :func:`decode_video`; emits container dims, frame count, and exact
    int64 sum + mean over all frame payload bytes — the frame-sampling
    statistic as portable integer arithmetic. A payload with no frame
    bytes gives a null mean."""

    def _stats(doc_id: int, content: bytes) -> tuple:
        v = decode_video(content)
        total = sum(len(f) for f in v["frames"])
        s = sum(sum(f) for f in v["frames"])
        return (doc_id, v["format"], v["width"], v["height"],
                v["n_frames"], s, s / total if total else None)

    return _row_map(media, ["doc_id", "content"], _stats, VIDEO_STATS_SCHEMA)


def synthesize_ppm(documents: DataFrame) -> DataFrame:
    """Deterministic PPM payload per document — the fixture stand-in
    for real image bytes, built so the decode path has a closed-form
    oracle: width ``1 + doc_id % 4``, height 2, pixel byte ``i`` =
    ``(doc_id * 31 + i) % 256``. Running the REAL parser over these
    payloads and comparing channel means against the arithmetic
    expectation hash-checks the whole decode pipeline end-to-end."""

    def payload(d: int) -> bytes:
        n = 1 + d % 4
        return _ppm(n, 2, bytes((d * 31 + i) % 256 for i in range(n * 2 * 3)))

    return _synthesized(documents, payload)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def image_stats_table(media: DataFrame) -> DataFrame:
    """Arrow-batched image decode over binary payloads: each row's
    ``content`` runs through :func:`decode_image` (pure-Python PPM/BMP
    codecs) and yields typed width/height/channel-mean columns — the
    same mapInPandas batch shape as :func:`extract_features`, with a
    real decoder in the loop."""

    def _stats(doc_id: int, content: bytes) -> tuple:
        s = image_stats(content)
        means = [c["mean"] for c in s["channel_stats"]] + [None] * 3
        return (doc_id, s["format"], s["width"], s["height"],
                s["channels"], *means[:3])

    return _row_map(media, ["doc_id", "content"], _stats, IMAGE_STATS_SCHEMA)


def resize_image(img: dict, out_w: int, out_h: int) -> dict:
    """Nearest-neighbor resize of a decoded image dict (as returned by
    :func:`decode_image`): output pixel ``(y, x)`` copies source pixel
    ``(y*h // out_h, x*w // out_w)`` — the standard floor-index mapping,
    integer-exact so any engine reproduces the same bytes. Returns a
    new image dict with the resized ``pixels`` buffer.

    The kernel is numpy fancy indexing over an ``(h, w, ch)`` view —
    one gather per axis, no Python inner loop — so per-image cost is
    C-speed memory movement; at 100 TB of media the resize is memory-
    bandwidth-bound, not interpreter-bound. The index arithmetic uses
    int64 numpy ops, identical to the floor-divide spelling above."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize target must be positive")
    w, h, ch = img["width"], img["height"], img["channels"]
    arr = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, ch)
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    out = arr[ys[:, None], xs[None, :]]
    return {**img, "width": out_w, "height": out_h, "pixels": out.tobytes()}


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("sum_px", T.LongType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def image_resize_table(
    media: DataFrame, out_w: int = 2, out_h: int = 1
) -> DataFrame:
    """Distributed decode → :func:`resize_image` → per-channel stats of
    the RESIZED pixels: the thumbnail/preprocess step of an image
    pipeline, with the real codec and the real resize kernel inside the
    same Arrow batch loop (one fused mapInPandas pass — blobs never
    cross a stage boundary twice). ``sum_px`` is the exact int64 byte
    sum of the resized buffer, so the oracle pins the resize output
    bit-for-bit, not just its means."""

    def _stats(doc_id: int, content: bytes) -> tuple:
        img = resize_image(decode_image(content), out_w, out_h)
        means = _channel_means(img) + [None] * 3
        return (doc_id, out_w, out_h, sum(img["pixels"]), *means[:3])

    return _row_map(media, ["doc_id", "content"], _stats, RESIZE_STATS_SCHEMA)


def synthesize_ppm_multires(documents: DataFrame) -> DataFrame:
    """Deterministic multi-resolution PPM payloads with PLANTED
    near-duplicates — the fixture for perceptual-hash image dedup.
    Content seed ``s = doc_id % 32`` picks one of 32 base patterns
    (width ``2 + s % 3``, height 2, pixel byte ``i`` = ``(s*31 + i) %
    256``); scale ``k = 1 + (doc_id // 32) % 2`` stores the pattern at
    1× or 2× resolution via pixel duplication. Documents sharing a
    seed are the SAME picture at different resolutions — byte-level
    digests differ, a perceptual hash must still collide — and the
    whole construction is closed-form arithmetic on ``doc_id``, so a
    SQL oracle reproduces every expected hash exactly."""

    def payload(d: int) -> bytes:
        s = d % 32
        w0, h0 = 2 + s % 3, 2
        k = 1 + (d // 32) % 2
        w, h = k * w0, k * h0
        return _ppm(w, h, bytes(
            (s * 31 + (((y // k) * w0 + (x // k)) * 3 + ch)) % 256
            for y in range(h)
            for x in range(w)
            for ch in range(3)
        ))

    return _synthesized(documents, payload)


#: Perceptual-hash grid: 8×8 grayscale, one gradient bit per adjacent
#: horizontal pair → 8 rows × 7 bits = 56 bits, comfortably inside a
#: signed int64 (the same headroom rule as the 60-bit SimHash).
PHASH_GRID = 8

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash_table(media: DataFrame) -> DataFrame:
    """Fused decode → nearest-neighbor resize to the
    :data:`PHASH_GRID`² thumbnail → difference-hash, one mapInPandas
    pass (blobs cross exactly one stage boundary, the standard dHash
    recipe): grayscale each thumbnail cell as the exact integer channel
    sum, then emit bit ``r*7+c`` iff ``gray(r, c+1) > gray(r, c)``.
    Because the resize is the floor-index kernel
    (:func:`resize_image`), a pixel-duplicated upscale resolves to the
    IDENTICAL thumbnail — so re-encoded resolutions of one picture
    hash equal by construction, which is the property that makes dHash
    a near-dup key. Returns ``(doc_id, width, height, phash)``."""
    g = PHASH_GRID
    shifts = 1 << np.arange(g * (g - 1), dtype=np.int64)

    def _hash(doc_id: int, content: bytes) -> tuple:
        img = decode_image(content)
        thumb = resize_image(img, g, g)
        arr = np.frombuffer(thumb["pixels"], dtype=np.uint8)
        gray = arr.reshape(g, g, img["channels"]).astype(np.int64).sum(axis=2)
        bits = (gray[:, 1:] > gray[:, :-1]).flatten()
        return doc_id, img["width"], img["height"], int((bits * shifts).sum())

    return _row_map(media, ["doc_id", "content"], _hash, PHASH_SCHEMA)


def image_phash_dedup(documents: DataFrame, sort: bool = True) -> DataFrame:
    """Perceptual near-dup image groups: synthesize the multi-
    resolution fixture payloads, hash every image with
    :func:`image_phash_table`, and group by hash — each output row is
    one visually-identical cluster with its copy count, the number of
    DISTINCT resolutions it was found at (> 1 proves the hash grouped
    across re-encodes a byte digest would miss), and the min-doc_id
    representative. This is the image-side twin of the text near-dup
    family: exact dedup catches identical bytes, the perceptual hash
    catches identical pictures.

    Scale: the binary payloads stay inside one mapInPandas pass and
    never shuffle — only (doc_id, width, phash) int rows cross the
    wire into a map-side-combined groupBy on the 56-bit hash. Output
    is O(distinct pictures); the fixture's 32-seed space keeps it tiny
    here (``sort=True`` single-partition presentation sort), but on a
    real corpus pass ``sort=False`` and the plan is shuffle-minimal.
    """
    ph = image_phash_table(synthesize_ppm_multires(documents))
    out = ph.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct("width").alias("n_res"),
        F.min("doc_id").alias("rep_doc_id"),
    )
    return small_sorted(out, "phash") if sort else out


def media_feature_table(documents: DataFrame) -> DataFrame:
    """Declared-query surface: attach binary → extract features → stable
    scalar columns (oracle-checkable: byte_len vs strlen, sha_hex vs
    sha256).

    Presentation order comes from RANGE-partitioning the input ids and
    sorting within partitions after the kernel (order-preserving 1:1),
    not from an ``orderBy`` above the kernel — whose range exchange
    would re-run the whole Arrow digest pass in its bound-sampling job
    and add a second exchange.
    """
    from flink_snappydata_spark.util import range_spread

    return (
        extract_features(attach_binary(range_spread(documents, "doc_id")))
        .select("doc_id", "byte_len", "sha_hex")
        .sortWithinPartitions("doc_id")
    )
