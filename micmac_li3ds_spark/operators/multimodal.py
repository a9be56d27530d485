"""Multimodal columns (SURVEY.md §2.11): image/audio/video payloads as
opaque binary columns with typed metadata.

Design: media ride in `BinaryType` columns next to relational metadata
(mime, dimensions, duration). Heavy per-item work (decode, resize,
feature extraction, frame sampling) runs as Arrow-batched mapInPandas.

By round 12 most of the surface is REAL, zero new dependencies: six
codecs decode genuinely (BMP, binary P6, 16-bit PCM WAV, PNG via
stdlib zlib + filter inversion, GIF via a from-the-spec LZW
decompressor, big-endian AIFF), and the ISO BMFF walk indexes both
container layouts without touching a codec — classic stbl sample
tables (stts/stsc/stsz/stco+co64, stss keyframes, ctts composition
offsets, elst edit lists) and FRAGMENTED moof/traf/trun (CMAF/DASH)
with the §8.8 defaults cascade. Only lossy decode (JPEG, video
codecs) stays stubbed behind `_decode_stub` / the PIL probe seam —
deliberately: ISO 10918 permits per-implementation IDCT slop, so
bit-exact zero-dep oracle parity would be a self-consistency loop
(SCALE.md §19); swapping in PIL/ffmpeg changes one function.

100 TB notes: binary payloads dominate row size — store media columns
in their own parquet (or reference object-store URIs via
`spark.read.format("binaryFile")`) and join metadata on media_id, so
relational queries never scan the bytes; mapInPandas batches bound
memory (payload_bytes × arrow batch size).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from micmac_li3ds_spark.registry import register
from micmac_li3ds_spark.tables import read_parquet

# The mapInPandas closures below reference module-level decoders
# (_decode_stub / _decode_pil_image). cloudpickle serializes globals of
# an importable module BY REFERENCE, so a python worker must be able to
# `import micmac_li3ds_spark` — which fails when the driver loaded the
# repo via sys.path.insert / importlib-by-path (the driver contract)
# without the repo on the workers' PYTHONPATH. Registering THIS module
# for by-value pickling ships the referenced functions inside the
# serialized task instead, making the operators cwd/PYTHONPATH-
# independent (verified from a foreign cwd in the round-8 audit).
try:  # vendored cloudpickle ≥ 2.0
    from pyspark import cloudpickle as _cp
    import sys as _sys

    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - older pickler: driver env must
    pass  # have the package importable on workers (true for the driver)

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
MEDIA_PARQUET = os.path.join(_REPO, "fixtures", "parquet", "media.parquet")
MEDIA_BMP_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_bmp.parquet"
)
MEDIA_PPM_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_ppm.parquet"
)
MEDIA_WAV_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_wav.parquet"
)
MEDIA_PNG_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_png.parquet"
)
MEDIA_GIF_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_gif.parquet"
)
MEDIA_MP4_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_mp4.parquet"
)
MEDIA_AIFF_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_aiff.parquet"
)
MEDIA_TIFF_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_tiff.parquet"
)


def load_media(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_PARQUET)


def load_media_bmp(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_BMP_PARQUET)


def load_media_ppm(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_PPM_PARQUET)


def load_media_wav(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_WAV_PARQUET)


def load_media_png(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_PNG_PARQUET)


def load_media_gif(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_GIF_PARQUET)


def load_media_mp4(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_MP4_PARQUET)


def load_media_aiff(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_AIFF_PARQUET)


@register(
    "q_mm_binary_stats",
    oracle=f"""
SELECT mime,
       COUNT(*) AS n_items,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
       CAST(min(octet_length(payload)) AS BIGINT) AS min_bytes,
       CAST(max(octet_length(payload)) AS BIGINT) AS max_bytes,
       COUNT(width) AS n_with_dims,
       CAST(coalesce(SUM(duration_ms), 0) AS BIGINT) AS total_duration_ms
FROM read_parquet('{MEDIA_PARQUET}')
GROUP BY mime
""",
    tags=("multimodal",),
)
def q_mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational statistics over binary payloads + typed metadata —
    byte sizes via length(binary), nullable per-modality metadata
    (width/height for images, duration for time media)."""
    m = load_media(spark)
    return m.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.length("payload")).cast("long").alias("total_bytes"),
        F.min(F.length("payload")).cast("long").alias("min_bytes"),
        F.max(F.length("payload")).cast("long").alias("max_bytes"),
        F.count("width").alias("n_with_dims"),
        F.coalesce(F.sum("duration_ms"), F.lit(0)).cast("long").alias(
            "total_duration_ms"
        ),
    )


@register(
    "q_mm_payload_hash",
    oracle=f"""
SELECT media_id, mime,
       sha256(hex(payload)) AS payload_sha,
       CAST(octet_length(payload) AS INTEGER) AS n_bytes
FROM read_parquet('{MEDIA_PARQUET}')
""",
    tags=("multimodal",),
)
def q_mm_payload_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content addressing for media dedup: sha256 over the hex
    encoding of the payload (hex on both engines so the oracle's
    VARCHAR-only sha256 can check it) —
    the exact-dedup primitive for multimodal corpora (hash-groupBy
    scales; byte comparison does not)."""
    m = load_media(spark)
    return m.select(
        "media_id",
        "mime",
        F.sha2(F.hex("payload"), 256).alias("payload_sha"),
        F.length("payload").alias("n_bytes"),
    )


_FEAT_DIM = 8

_FEATURE_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType()), T.StructField("mime", T.StringType())]
    + [T.StructField(f"f{i}", T.DoubleType()) for i in range(8)]
    + [T.StructField("decoder", T.StringType())]
)


def _decode_stub(payload: bytes, mime: str) -> list[float]:
    """STUB for the real decoder/feature extractor.

    Real implementation would be: PIL.Image.open → resize → CNN/CLIP
    features (image), librosa.load → mel spectrogram stats (audio),
    ffmpeg frame sample → per-frame features (video). None of those
    libraries exist in this container, so this produces a deterministic
    8-dim pseudo-feature from the payload's sha256 — stable across runs
    AND engines: the hash is taken over the uppercase-hex encoding of
    the payload (DuckDB's sha256 is VARCHAR-only) and each byte maps to
    b/256.0, an exact dyadic double on both engines (no decimal
    rounding to disagree on).
    """
    h = hashlib.sha256(payload.hex().upper().encode()).digest()
    return [b / 256.0 for b in h[:_FEAT_DIM]]


def _decode_bmp(payload: bytes, mime: str) -> list[float]:
    """REAL decoder, zero new deps (r9 verdict item 5): uncompressed
    24bpp bottom-up BMP parsed with struct + numpy. Features are
    ``_FEAT_DIM`` vertical-strip mean intensities — strip i covers the
    pixel columns x with (x·DIM)//w == i, its value is
    Σ(r+g+b) / (768·n_pixels) ∈ [0, ~0.996] — integer accumulation
    with ONE double division, so the DuckDB oracle reproduces it
    bit-exactly from hex(payload) (no float-summation-order slack, the
    exact.py discipline). Row padding bytes (stride rounds up to 4) are
    sliced off before summing; the fixtures randomize them so a decoder
    that reads padding is a value mismatch, not a silent bias. Raises
    on anything but the one format it really decodes — the stub keeps
    covering other mimes."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0 or h <= 0 or w < _FEAT_DIM:
        raise ValueError(
            f"only uncompressed 24bpp bottom-up BMP with width >= "
            f"{_FEAT_DIM} supported (got bpp={bpp} comp={comp} w={w} h={h})"
        )
    stride = ((3 * w + 3) // 4) * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    # per-pixel-column r+g+b sums; vertical orientation is irrelevant
    # to column sums, so the bottom-up row order needs no flip
    col_sums = rows[:, : 3 * w].reshape(h, w, 3).sum(
        axis=2, dtype=np.int64
    ).sum(axis=0)
    return _strip_means(col_sums, w, h)


def _strip_means(col_sums, w: int, h: int) -> list[float]:
    """Shared feature tail of the real decoders (_decode_bmp,
    _decode_ppm): strip i covers the pixel columns x with
    (x·_FEAT_DIM)//w == i; its value is the exact integer Σ(r+g+b) of
    those columns over 768·n_pixels — integer accumulation with ONE
    double division, the property the DuckDB oracle replay relies on."""
    import numpy as np

    strips = (np.arange(w) * _FEAT_DIM) // w
    return [
        float(
            int(col_sums[strips == i].sum())
            / (768.0 * int((strips == i).sum()) * h)
        )
        for i in range(_FEAT_DIM)
    ]


def _decode_ppm(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #2, zero new deps: binary netpbm P6 (maxval 255).
    The ASCII header — magic, width, height, maxval as whitespace-
    separated tokens with ``#`` comment lines allowed — is tokenized
    byte-wise; exactly ONE whitespace byte separates the maxval from
    the raw w·h RGB triplets (the netpbm rule that trips decoders that
    strip ALL whitespace: a pixel value of 0x0A would be eaten).
    Features are the SAME strip-mean contract as _decode_bmp
    (_strip_means), so a future oracle branch replays it with the BMP
    branch's arithmetic minus the stride/padding slicing — P6 rows are
    packed with no padding. Raises on anything but the one format it
    really decodes; P6 is top-down where BMP is bottom-up, which the
    column sums make irrelevant."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        tok = payload[i:j]
        # a glued comment ('255# c') or stray byte yields a non-numeric
        # token — name the malformation instead of int() failing
        # confusingly (ADVICE r10)
        if not tok.isdigit():
            raise ValueError(
                f"malformed P6 header: non-numeric token {tok!r}"
            )
        vals.append(int(tok))
        i = j
    w, h, maxval = vals
    # the single post-maxval byte MUST be whitespace (ADVICE r10: a
    # header like 'P6\n8 2\n255# c\n' would otherwise mis-offset the
    # pixel data or fail confusingly downstream)
    if not payload[i : i + 1].isspace():
        raise ValueError(
            "malformed P6 header: maxval must be followed by exactly one "
            f"whitespace byte (got {payload[i:i + 1]!r})"
        )
    i += 1  # the single post-maxval whitespace byte — never more
    if maxval != 255 or h <= 0 or w < _FEAT_DIM:
        raise ValueError(
            f"only maxval-255 P6 with width >= {_FEAT_DIM} supported "
            f"(got maxval={maxval} w={w} h={h})"
        )
    if len(payload) - i < 3 * w * h:
        raise ValueError("truncated PPM pixel data")
    px = np.frombuffer(
        payload, dtype=np.uint8, count=3 * w * h, offset=i
    ).reshape(h, w, 3)
    col_sums = px.sum(axis=2, dtype=np.int64).sum(axis=0)
    return _strip_means(col_sums, w, h)


def _decode_wav(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #3, zero new deps (r10 verdict item 4): 16-bit PCM
    RIFF/WAVE parsed with struct + numpy. The chunk list is WALKED —
    'fmt ' and 'data' may be separated by arbitrary other chunks (LIST,
    cue, …) and RIFF word-aligns odd-sized chunks with a pad byte, both
    of which trip decoders that assume the canonical 44-byte layout
    (the fixtures include both shapes; the oracle re-decodes from an
    independently recorded data offset, so a mis-walk is a value
    mismatch, not a self-consistent answer).

    Features are ``_FEAT_DIM`` time-window mean absolute amplitudes —
    window i covers the interleaved sample indices j with
    (j·DIM)//n == i (the _strip_means rule on the time axis), its value
    Σ|s| / (32768·n_samples_in_window) ∈ [0, 1] — integer accumulation
    with ONE double division, so the DuckDB oracle replays it
    bit-exactly from hex(payload) (int16 LE reassembly + sign fold,
    integer Σ|s|, one division). Raises on anything but the one format
    it really decodes — the stub keeps covering the fake-container
    'audio/wav' rows of media.parquet."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, fmt, data_off, data_len = 12, None, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (sz,) = struct.unpack_from("<I", payload, i + 4)
        body = i + 8
        if cid == b"fmt ":
            # the chunk must DECLARE >= 16 bytes AND the payload must
            # actually contain them — otherwise unpack_from would
            # raise struct.error (breaking the decoder family's
            # ValueError contract) or read the next chunk's bytes as
            # fmt fields
            if sz < 16 or body + 16 > len(payload):
                raise ValueError("truncated fmt chunk in RIFF/WAVE payload")
            audio_fmt, n_ch = struct.unpack_from("<HH", payload, body)
            (bps,) = struct.unpack_from("<H", payload, body + 14)
            fmt = (audio_fmt, n_ch, bps)
        elif cid == b"data":
            data_off, data_len = body, sz
        i = body + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt is None or data_off is None:
        raise ValueError("missing fmt /data chunk in RIFF/WAVE payload")
    audio_fmt, n_ch, bps = fmt
    if data_len % 2:
        # a 16-bit PCM data chunk must hold whole samples — an odd
        # size is corruption, and silently dropping the trailing byte
        # would decode garbage to features instead of failing loudly
        # like every other malformation in this decoder family
        raise ValueError(f"odd data chunk size {data_len} for 16-bit PCM")
    n = data_len // 2
    if audio_fmt != 1 or bps != 16 or n_ch < 1 or n < _FEAT_DIM:
        raise ValueError(
            f"only 16-bit PCM with >= {_FEAT_DIM} samples supported "
            f"(got fmt={audio_fmt} bps={bps} channels={n_ch} n={n})"
        )
    if data_off + data_len > len(payload):
        raise ValueError("truncated data chunk")
    s = np.abs(
        np.frombuffer(
            payload, dtype="<i2", count=n, offset=data_off
        ).astype(np.int64)
    )
    return _window_abs_means(s)


def _window_abs_means(s) -> list[float]:
    """Shared feature tail of the PCM decoders (_decode_wav,
    _decode_aiff): window i covers the interleaved sample indices j
    with (j·_FEAT_DIM)//n == i; its value is the exact integer Σ|s|
    over 32768·n_samples_in_window — integer accumulation with ONE
    double division (the _strip_means rule on the time axis)."""
    import numpy as np

    n = len(s)
    win = (np.arange(n) * _FEAT_DIM) // n
    return [
        float(int(s[win == i].sum()) / (32768.0 * int((win == i).sum())))
        for i in range(_FEAT_DIM)
    ]


def _parse_f80(b: bytes) -> int:
    """Parse AIFF's 80-bit IEEE 754 extended float (1 sign + 15
    exponent bits, 64-bit mantissa with an EXPLICIT integer bit) to a
    positive integer sample rate — the COMM-chunk representation that
    trips decoders expecting a plain u32. Raises on negatives,
    non-integers, and zero."""
    exp_sign = int.from_bytes(b[:2], "big")
    mantissa = int.from_bytes(b[2:10], "big")
    if exp_sign & 0x8000:
        raise ValueError("negative AIFF sample rate")
    shift = (exp_sign & 0x7FFF) - 16383 - 63
    if shift >= 0:
        rate = mantissa << shift
    else:
        rate = mantissa >> -shift
        if rate << -shift != mantissa:
            raise ValueError("non-integer AIFF sample rate unsupported")
    if rate <= 0:
        raise ValueError("zero AIFF sample rate")
    return rate


def _decode_aiff(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #6, zero new deps: AIFF — WAV's BIG-ENDIAN twin
    under the IFF grammar, and a different set of traps: the sample
    rate is an 80-bit extended float in COMM (_parse_f80), SSND's body
    leads with an (offset, blockSize) pair plus offset pad bytes
    before the sound data, chunks are even-aligned (pad byte after
    odd sizes, like RIFF), and samples are int16 BIG-endian. Features
    are the shared _window_abs_means contract, so the oracle re-decodes
    the BE stream from generation-time (data_off, n_samples)
    coordinates — a chunk mis-walk or a mis-handled SSND offset is a
    value mismatch. Raises on anything but the one format it really
    decodes."""
    import struct

    import numpy as np

    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not a FORM/AIFF payload")
    i, comm, data_off, n_data = 12, None, None, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (sz,) = struct.unpack_from(">I", payload, i + 4)
        body = i + 8
        if cid == b"COMM":
            if sz < 18 or body + 18 > len(payload):
                raise ValueError("truncated COMM chunk in AIFF payload")
            n_ch, n_frames = struct.unpack_from(">HI", payload, body)
            (bps,) = struct.unpack_from(">H", payload, body + 6)
            rate = _parse_f80(payload[body + 8 : body + 18])
            comm = (n_ch, n_frames, bps, rate)
        elif cid == b"SSND":
            if sz < 8 or body + 8 > len(payload):
                raise ValueError("truncated SSND chunk in AIFF payload")
            off, _blk = struct.unpack_from(">II", payload, body)
            data_off = body + 8 + off
            n_data = sz - 8 - off
        i = body + sz + (sz & 1)  # IFF chunks are even-aligned
    if comm is None or data_off is None:
        raise ValueError("missing COMM/SSND chunk in AIFF payload")
    n_ch, n_frames, bps, rate = comm
    if n_data % 2:
        # same raise-on-malformed contract as _decode_wav: 16-bit
        # samples cannot leave an odd byte of sound data behind
        raise ValueError(f"odd SSND sound-data size {n_data} for 16-bit PCM")
    n = n_data // 2
    if bps != 16 or n_ch < 1 or n < _FEAT_DIM:
        raise ValueError(
            f"only 16-bit PCM AIFF with >= {_FEAT_DIM} samples supported "
            f"(got bps={bps} channels={n_ch} n={n})"
        )
    if n != n_frames * n_ch:
        raise ValueError(
            f"SSND carries {n} samples but COMM declares "
            f"{n_frames * n_ch} ({n_frames} frames x {n_ch} channels)"
        )
    if data_off + n_data > len(payload):
        raise ValueError("truncated SSND sound data")
    s = np.abs(
        np.frombuffer(
            payload, dtype=">i2", count=n, offset=data_off
        ).astype(np.int64)
    )
    return _window_abs_means(s)


def _decode_png(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #4, zero new deps — and the first COMPRESSED
    format: PNG, 8-bit RGB (color type 2), non-interlaced, via stdlib
    ``zlib``. The chunk walk verifies every chunk's CRC32, concatenates
    ALL IDAT chunks before inflating (the spec allows any split — a
    decoder that reads only the first IDAT dies here on the multi-IDAT
    fixtures), and requires IEND. Scanline unfiltering implements the
    INVERSE of all five PNG filter types (None/Sub/Up/Average/Paeth);
    the fixture generator implements the forward APPLY independently,
    so a filter bug on either side is a value mismatch against the
    generation-time ``raw_px`` ground truth the oracle recomputes from
    (SQL cannot inflate zlib, so the oracle branch uses recorded raw
    bytes rather than re-decoding the payload — the one place the
    re-decode-in-SQL discipline is physically unavailable).

    Features are the shared ``_strip_means`` contract (same as BMP/P6).
    The per-byte unfilter loop is Python — inherent to the sequential
    left-neighbor dependency of Sub/Average/Paeth; at scale the decode
    parallelizes per item across Arrow batches (mapInPandas), and a
    real deployment would swap in libpng/PIL via the probe seam.
    Raises on anything but the one format it really decodes."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    i, ihdr, idat, saw_end = 8, None, [], False
    while i + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, i)
        typ = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + ln]
        if len(body) < ln or i + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, i + 8 + ln)
        if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            saw_end = True
            break
        i += 12 + ln
    if ihdr is None or not idat or not saw_end:
        raise ValueError("missing IHDR/IDAT/IEND chunk in PNG payload")
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype != 2 or comp != 0 or filt != 0 or inter != 0 \
            or h <= 0 or w < _FEAT_DIM:
        raise ValueError(
            f"only 8-bit RGB non-interlaced PNG with width >= {_FEAT_DIM} "
            f"supported (got depth={depth} color={ctype} comp={comp} "
            f"filter_method={filt} interlace={inter} w={w} h={h})"
        )
    stream = zlib.decompress(b"".join(idat))
    stride = 3 * w
    if len(stream) != (stride + 1) * h:
        raise ValueError(
            f"PNG pixel stream length mismatch (got {len(stream)}, "
            f"want {(stride + 1) * h})"
        )
    prior = bytes(stride)
    rows = []
    for r in range(h):
        off = r * (stride + 1)
        f = stream[off]
        cur = bytearray(stream[off + 1 : off + 1 + stride])
        if f == 0:  # None
            pass
        elif f == 1:  # Sub: + reconstructed left (a = 0 for i < 3)
            for j in range(3, stride):
                cur[j] = (cur[j] + cur[j - 3]) & 0xFF
        elif f == 2:  # Up: + reconstructed above
            for j in range(stride):
                cur[j] = (cur[j] + prior[j]) & 0xFF
        elif f == 3:  # Average: + floor((a + b) / 2)
            for j in range(stride):
                a = cur[j - 3] if j >= 3 else 0
                cur[j] = (cur[j] + ((a + prior[j]) >> 1)) & 0xFF
        elif f == 4:  # Paeth: + nearest of (a, b, c) to p = a + b - c
            for j in range(stride):
                a = cur[j - 3] if j >= 3 else 0
                b = prior[j]
                c = prior[j - 3] if j >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                cur[j] = (cur[j] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        prior = bytes(cur)
        rows.append(prior)
    px = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w, 3)
    col_sums = px.sum(axis=2, dtype=np.int64).sum(axis=0)
    return _strip_means(col_sums, w, h)


def _lzw_decode_gif(data: bytes, m: int) -> bytes:
    """GIF-variant LZW decompressor (public spec, GIF89a Appendix F):
    variable-width codes m+1..12 bits packed LSB-first, CLEAR resets
    the table, EOI terminates, the KwKwK case (code == next free code)
    reconstructs prev + prev[:1]. Width timing follows the giflib
    convention — the wider size applies starting with the code AFTER
    the table insert whose VALUE was 2^size − 1 (for this decoder,
    whose inserts lag the encoder's by one position, that is when its
    own next_code reaches 2^size) — the classic interop off-by-one;
    the fixture generator's independent COMPRESSOR has the encoder-side
    twin of this rule, so either side getting it wrong is a decode
    error or value mismatch, not a self-consistent pair."""
    if not 2 <= m <= 8:
        raise ValueError(f"bad GIF LZW minimum code size {m}")
    clear, eoi = 1 << m, (1 << m) + 1
    table: list[bytes] = []
    next_code = code_size = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, next_code, code_size, prev
        table = [bytes([c]) for c in range(clear)] + [b"", b""]
        next_code, code_size, prev = eoi + 1, m + 1, None

    reset()
    out = bytearray()
    acc = nbits = pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("unterminated GIF LZW stream (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if code < next_code:  # clear/eoi already handled above
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def _decode_gif(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #5, zero new deps: GIF (87a/89a), global-palette,
    non-interlaced, single image. Unlike PNG (whose inflate is stdlib
    zlib), the compression here — LZW — is decoded from the public
    spec IN THIS FILE (_lzw_decode_gif); the fixture generator carries
    the independent compressor. The block walk parses the logical
    screen descriptor + global color table, SKIPS extension blocks
    (sub-block chains — the skip a naive walker misses; one fixture
    interleaves a comment extension), reassembles the image sub-blocks,
    LZW-decodes to palette indices, and expands through the palette to
    RGB. Features are the shared ``_strip_means`` contract; the oracle
    recomputes them from the generation-time ``raw_px`` ground truth
    (LZW is not SQL-expressible, the PNG posture). Raises on anything
    but the one format it really decodes (no GCT, local color tables,
    interlace, index overflow, pixel-count mismatch)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    if h <= 0 or w < _FEAT_DIM:
        raise ValueError(f"only GIF with width >= {_FEAT_DIM} supported")
    packed = payload[10]
    if not packed & 0x80:
        raise ValueError("GIF without a global color table is unsupported")
    n_colors = 2 << (packed & 7)
    i = 13
    palette = payload[i : i + 3 * n_colors]
    if len(palette) < 3 * n_colors:
        raise ValueError("truncated GIF global color table")
    i += 3 * n_colors
    while True:
        if i >= len(payload):
            raise ValueError("missing GIF image descriptor")
        block = payload[i]
        if block == 0x21:  # extension: label byte + sub-block chain
            i += 2
            while i < len(payload) and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif block == 0x2C:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
    if i + 11 > len(payload):
        # int.from_bytes tolerates short slices and payload[i + 9]
        # would IndexError — name the truncation instead
        raise ValueError("truncated GIF image descriptor")
    iw = int.from_bytes(payload[i + 5 : i + 7], "little")
    ih = int.from_bytes(payload[i + 7 : i + 9], "little")
    ipacked = payload[i + 9]
    if ipacked & 0x80:
        raise ValueError("GIF local color tables are unsupported")
    if ipacked & 0x40:
        raise ValueError("interlaced GIF is unsupported")
    if (iw, ih) != (w, h) or payload[i + 1 : i + 5] != bytes(4):
        raise ValueError("GIF sub-rectangle images are unsupported")
    m = payload[i + 10]
    i += 11
    data = bytearray()
    while True:
        if i >= len(payload):
            raise ValueError("truncated GIF image data (no block terminator)")
        ln = payload[i]
        i += 1
        if ln == 0:
            break
        if i + ln > len(payload):
            raise ValueError("truncated GIF image sub-block")
        data += payload[i : i + ln]
        i += ln
    indices = _lzw_decode_gif(bytes(data), m)
    if len(indices) != w * h:
        raise ValueError(
            f"GIF pixel count mismatch (got {len(indices)}, want {w * h})"
        )
    idx = np.frombuffer(indices, dtype=np.uint8)
    if int(idx.max()) >= n_colors:
        raise ValueError("GIF pixel index outside the global color table")
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(n_colors, 3)
    px = pal[idx].reshape(h, w, 3)
    col_sums = px.sum(axis=2, dtype=np.int64).sum(axis=0)
    return _strip_means(col_sums, w, h)


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Iterate ISO BMFF boxes in buf[start:end] as (type, body_start,
    box_end, box_start) — including the size==1 64-bit ``largesize``
    form (ISO 14496-12 §4.2) that 32-bit-only walkers break on. The
    box START is yielded directly (ADVICE r12 #4): default-base-is-
    moof needs it, and back-computing it from body_start by re-reading
    the size field is a heuristic a crafted largesize header defeats."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(buf[i : i + 4], "big")
        typ = bytes(buf[i + 4 : i + 8])
        body = i + 8
        if size == 1:
            if i + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            size = int.from_bytes(buf[i + 8 : i + 16], "big")
            body = i + 16
        if size < body - i or i + size > end:
            raise ValueError(f"malformed MP4 box {typ!r}")
        yield typ, body, i + size, i
        i += size
    if i != end:
        raise ValueError("trailing bytes after the last MP4 box")


def _mp4_child(buf: bytes, start: int, end: int, typ: bytes):
    for t, body, bend, _ in _mp4_boxes(buf, start, end):
        if t == typ:
            return body, bend
    raise ValueError(f"missing MP4 box {typ!r}")


def _mp4_child_opt(buf: bytes, start: int, end: int, typ: bytes):
    """Like _mp4_child for the OPTIONAL sample tables (stss, ctts):
    absence is a defined state per ISO 14496-12, not an error."""
    for t, body, bend, _ in _mp4_boxes(buf, start, end):
        if t == typ:
            return body, bend
    return None


def _mp4_sample_index(
    payload: bytes,
    time_range_ms: tuple[int, int] | None = None,
) -> list[tuple[int, int, int, bool, int]]:
    """REAL video-container plumbing, zero new deps (late r11): the
    ISO BMFF sample-table walk that locates every sample's byte range
    and timestamp WITHOUT decoding any codec — the operation that
    matters for frame sampling at 100 TB (seek-and-slice beats
    decode-everything). Walks moov → the first ``vide``-handler trak →
    mdia/mdhd (timescale) + minf/stbl, then derives per-sample
    absolute offsets from the four sample tables per ISO 14496-12:
    stsc's (first_chunk, samples_per_chunk) runs map samples to
    chunks, stco (or its 64-bit form co64 — mandatory past 4 GiB,
    i.e. on exactly the payloads a 100-TB lake holds) gives each
    chunk's file offset, stsz the per-sample (or uniform) sizes,
    stts the cumulative decode-time deltas.

    Round 12 adds the three OPTIONAL timing tables a production frame
    sampler keys on: stss (sync samples — an ABSENT box means every
    sample is sync per §8.6.2; a present box may start the first
    keyframe later than sample 1), version-0 ctts (composition
    offsets — pts = dts + offset, which on reordered B-frame-style
    tracks is non-monotone in decode order), and version-0 elst
    (edit lists: a media_time offset — typically the initial
    composition delay — plus an optional leading empty-edit delay in
    MOVIE timescale; real encoders almost always write one, and a
    sampler that ignores it timestamps every frame late by the ctts
    baseline). At 100 TB the decode cost of sampling is gated on
    seeking to SYNC samples — a non-keyframe slice is undecodable
    without its reference chain — so the keyframe flag is the
    production sampling predicate, and the edit-adjusted pts is the
    timestamp users actually mean.

    FRAGMENTED files (moov/mvex present — the CMAF/DASH shape a
    streaming lake actually stores) dispatch to
    _mp4_fragmented_index: the stbl is empty and sample geometry
    comes from moof/traf/trun fragments instead, same return
    contract. Round 13: mvhd/tkhd/mdhd accept v1 (the 64-bit-times
    form real long-duration encoders emit — timescale/track_id shift
    from body offset 12 to 20); ``time_range_ms=(lo, hi)`` performs a
    sidx-led seek on fragmented files (see _mp4_fragmented_index) and
    refuses on unfragmented ones, where no byte range could be
    skipped anyway.

    Returns [(offset, size, dts_ms, keyframe, pts_ms)] per sample in
    DECODE order; pts_ms is edit-list-adjusted and NEGATIVE for
    leading trimmed samples (decoded, not presented) — sampling
    callers filter to pts >= 0. The fixture generator's bookkeeping
    records the same coordinates independently at generation time —
    the oracle slices the payload with those, so a mis-walk here is a
    value mismatch. Raises on anything structurally unsound (no vide
    trak, table count mismatches, stss numbers out of range, non-v0
    ctts/elst/mvhd, unsupported edit plans, samples outside the
    payload)."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload (no leading ftyp box)")
    moov_body, moov_end = _mp4_child(payload, 0, len(payload), b"moov")

    stbl_span = timescale = None
    elst_span = None
    track_id = None
    # mvhd: v0 OR v1 (ADVICE r12 #1) — real long-duration files
    # commonly carry v1 (64-bit creation/modification/duration), and
    # only the timescale field is needed; it sits at body offset 12
    # (v0, after two u32 times) or 20 (v1, after two u64 times)
    mvhd_b, mvhd_e = _mp4_child(payload, moov_body, moov_end, b"mvhd")
    if mvhd_b + 4 > mvhd_e:
        raise ValueError("truncated mvhd box")
    if payload[mvhd_b] == 0:
        ts_off = 12
    elif payload[mvhd_b] == 1:
        ts_off = 20
    else:
        raise ValueError("unsupported mvhd version (only 0 or 1)")
    if mvhd_b + ts_off + 4 > mvhd_e:
        raise ValueError("truncated mvhd box")
    movie_timescale = int.from_bytes(
        payload[mvhd_b + ts_off : mvhd_b + ts_off + 4], "big"
    )
    for t, tb, te, _ in _mp4_boxes(payload, moov_body, moov_end):
        if t != b"trak":
            continue
        mdia_b, mdia_e = _mp4_child(payload, tb, te, b"mdia")
        hdlr_b, _ = _mp4_child(payload, mdia_b, mdia_e, b"hdlr")
        if payload[hdlr_b + 8 : hdlr_b + 12] != b"vide":
            continue
        # mdhd: v0 or v1, same rationale as mvhd (64-bit times shift
        # the timescale from body offset 12 to 20)
        mdhd_b, mdhd_e = _mp4_child(payload, mdia_b, mdia_e, b"mdhd")
        if mdhd_b + 4 > mdhd_e:
            raise ValueError("truncated mdhd box")
        if payload[mdhd_b] == 0:
            md_off = 12
        elif payload[mdhd_b] == 1:
            md_off = 20
        else:
            raise ValueError("unsupported mdhd version (only 0 or 1)")
        if mdhd_b + md_off + 4 > mdhd_e:
            raise ValueError("truncated mdhd box")
        timescale = int.from_bytes(
            payload[mdhd_b + md_off : mdhd_b + md_off + 4], "big"
        )
        minf_b, minf_e = _mp4_child(payload, mdia_b, mdia_e, b"minf")
        stbl_span = _mp4_child(payload, minf_b, minf_e, b"stbl")
        # track id matters only for fragment (traf) selection — a
        # trak without tkhd stays walkable in the unfragmented path
        tkhd_span = _mp4_child_opt(payload, tb, te, b"tkhd")
        if tkhd_span is not None:
            # bounds BEFORE the version-byte dereference (ADVICE r12
            # #2): a degenerate empty box ending at payload end must
            # surface as the documented ValueError, not IndexError.
            # v0 or v1, same 64-bit-times shift as mvhd/mdhd (track_id
            # at body offset 12 vs 20)
            tkhd_b, tkhd_e = tkhd_span
            if tkhd_b + 4 > tkhd_e:
                raise ValueError("truncated tkhd box")
            if payload[tkhd_b] == 0:
                tk_off = 12
            elif payload[tkhd_b] == 1:
                tk_off = 20
            else:
                raise ValueError("unsupported tkhd version (only 0 or 1)")
            if tkhd_b + tk_off + 4 > tkhd_e:
                raise ValueError("truncated tkhd box")
            track_id = int.from_bytes(
                payload[tkhd_b + tk_off : tkhd_b + tk_off + 4], "big"
            )
        else:
            track_id = None
        edts_span = _mp4_child_opt(payload, tb, te, b"edts")
        if edts_span is not None:
            elst_span = _mp4_child(
                payload, edts_span[0], edts_span[1], b"elst"
            )
        break
    if stbl_span is None:
        raise ValueError("no video (hdlr 'vide') track in MP4 payload")
    if not timescale:
        raise ValueError("zero mdhd timescale in MP4 payload")

    sb, se = stbl_span
    u32 = lambda o: int.from_bytes(payload[o : o + 4], "big")  # noqa: E731
    u64 = lambda o: int.from_bytes(payload[o : o + 8], "big")  # noqa: E731

    def entries(body: int, end: int, name: str, hdr: int, width: int) -> int:
        """Validate a table's declared entry count against its OWN box
        end — a count that overruns would otherwise read the next
        box's bytes as table entries and (int.from_bytes tolerating
        short slices) could yield silently wrong values rather than
        the structural error the docstring promises."""
        if body + hdr > end:
            raise ValueError(f"truncated {name} box")
        cnt = u32(body + 4)
        if body + hdr + width * cnt > end:
            raise ValueError(
                f"{name} declares {cnt} entries beyond its box end"
            )
        return cnt

    # elst (optional, version 0): edit list, trak/edts/elst. Real
    # encoders almost always write one — most commonly a single edit
    # whose media_time swallows the initial composition delay, so a
    # sampler that ignores it reports every frame late by the ctts
    # baseline. Supported plans (the overwhelming majority of files):
    # [non-empty edit] or [empty edit, non-empty edit], media_rate
    # 1.0. Anything else (splicing, rate changes, v1) raises — the
    # family's refuse-loudly-over-silently-wrong contract.
    # presentation pts_units = dts + ctts_offset − media_time + delay,
    # where delay converts the empty edit's MOVIE-timescale duration
    # into media units. Leading trimmed samples (pts < media_time)
    # legitimately come out NEGATIVE — they are decoded but not
    # presented; callers that sample frames filter to pts >= 0.
    edit_shift = 0
    if elst_span is not None:
        eb, ee = elst_span
        if eb + 4 > ee:
            raise ValueError("truncated elst box")
        if payload[eb]:
            raise ValueError("only version-0 elst is supported")
        n_elst = entries(eb, ee, "elst", 8, 12)
        edits = []
        for e in range(n_elst):
            dur = u32(eb + 8 + 12 * e)
            mt = int.from_bytes(
                payload[eb + 12 + 12 * e : eb + 16 + 12 * e],
                "big",
                signed=True,
            )
            rate = u32(eb + 16 + 12 * e)
            if rate != 0x00010000:
                raise ValueError(
                    f"unsupported elst media_rate {rate:#x} (only 1.0)"
                )
            edits.append((dur, mt))
        if len(edits) == 2 and edits[0][1] == -1 and edits[1][1] >= 0:
            if not movie_timescale:
                raise ValueError(
                    "zero mvhd timescale with an empty elst edit"
                )
            # empty-edit delay is in MOVIE units → convert to media
            edit_shift = (
                edits[0][0] * timescale // movie_timescale - edits[1][1]
            )
        elif len(edits) == 1 and edits[0][1] >= 0:
            edit_shift = -edits[0][1]
        else:
            raise ValueError(
                f"unsupported elst edit plan {edits!r} (only a single "
                "non-empty edit, optionally preceded by one empty edit)"
            )

    # FRAGMENTED layout (moov/mvex present): sample geometry lives in
    # moof/traf/trun fragments, not the (empty) stbl — the CMAF/DASH
    # shape streaming lakes actually store
    mvex_span = _mp4_child_opt(payload, moov_body, moov_end, b"mvex")
    stts_b, stts_e = _mp4_child(payload, sb, se, b"stts")
    stsc_b, stsc_e = _mp4_child(payload, sb, se, b"stsc")
    stsz_b, stsz_e = _mp4_child(payload, sb, se, b"stsz")
    if mvex_span is not None:
        if stsz_b + 12 <= stsz_e and (u32(stsz_b + 4) or u32(stsz_b + 8)):
            raise ValueError(
                "mvex present alongside a non-empty stbl sample table"
            )
        if track_id is None:
            raise ValueError(
                "fragmented MP4 video trak is missing its tkhd track id"
            )
        return _mp4_fragmented_index(
            payload, mvex_span, track_id, timescale, edit_shift,
            time_range_ms,
        )
    if time_range_ms is not None:
        # the seek contract is honest: only a fragmented file with a
        # sidx byte-range index can skip I/O for out-of-range media —
        # an unfragmented stbl walk reads the whole moov regardless,
        # and the caller can filter its pts there
        raise ValueError(
            "time-ranged indexing requires a fragmented MP4 with a "
            "sidx segment index"
        )

    # chunk offsets come as EITHER stco (u32) or co64 (u64) — files
    # past 4 GiB, the norm at 100 TB, can only carry co64; a
    # stco-only walker fails on exactly the payloads that matter
    stco_span = _mp4_child_opt(payload, sb, se, b"stco")
    co64_span = _mp4_child_opt(payload, sb, se, b"co64")
    if stco_span is None and co64_span is None:
        raise ValueError("missing stco/co64 chunk-offset box")

    if stsz_b + 12 > stsz_e:
        raise ValueError("truncated stsz box")
    uniform, n = u32(stsz_b + 4), u32(stsz_b + 8)
    if not uniform and stsz_b + 12 + 4 * n > stsz_e:
        raise ValueError(f"stsz declares {n} sizes beyond its box end")
    sizes = (
        [uniform] * n
        if uniform
        else [u32(stsz_b + 12 + 4 * k) for k in range(n)]
    )
    deltas: list[int] = []
    n_stts = entries(stts_b, stts_e, "stts", 8, 8)
    for e in range(n_stts):
        cnt, dlt = u32(stts_b + 8 + 8 * e), u32(stts_b + 12 + 8 * e)
        deltas += [dlt] * cnt
    if len(deltas) != n:
        raise ValueError(
            f"stts covers {len(deltas)} samples but stsz declares {n}"
        )
    n_stsc = entries(stsc_b, stsc_e, "stsc", 8, 12)
    stsc = [
        (u32(stsc_b + 8 + 12 * e), u32(stsc_b + 12 + 12 * e))
        for e in range(n_stsc)
    ]
    if stco_span is not None:
        stco_b, stco_e = stco_span
        n_stco = entries(stco_b, stco_e, "stco", 8, 4)
        chunk_offs = [u32(stco_b + 8 + 4 * c) for c in range(n_stco)]
    else:
        co_b, co_e = co64_span
        n_co64 = entries(co_b, co_e, "co64", 8, 8)
        chunk_offs = [u64(co_b + 8 + 8 * c) for c in range(n_co64)]
    if n and (not stsc or not chunk_offs):
        raise ValueError("empty stsc/stco but stsz declares samples")

    # stss (optional): sync-sample numbers, 1-based; absent = all sync
    sync: set | None = None
    stss_span = _mp4_child_opt(payload, sb, se, b"stss")
    if stss_span is not None:
        ssb, sse = stss_span
        if ssb + 4 > sse:
            raise ValueError("truncated stss box")
        if payload[ssb]:
            raise ValueError("only version-0 stss is supported")
        sync = set()
        for e in range(entries(ssb, sse, "stss", 8, 4)):
            sn = u32(ssb + 8 + 4 * e)
            if not 1 <= sn <= n:
                raise ValueError(
                    f"stss sync sample {sn} outside [1, {n}]"
                )
            sync.add(sn)
    # ctts (optional, version 0): composition-offset runs; absent =
    # pts == dts
    cofs = [0] * n
    ctts_span = _mp4_child_opt(payload, sb, se, b"ctts")
    if ctts_span is not None:
        cb, ce = ctts_span
        if cb + 4 > ce:
            raise ValueError("truncated ctts box")
        if payload[cb]:
            raise ValueError("only version-0 ctts is supported")
        cofs = []
        for e in range(entries(cb, ce, "ctts", 8, 8)):
            cnt, off = u32(cb + 8 + 8 * e), u32(cb + 12 + 8 * e)
            cofs += [off] * cnt
        if len(cofs) != n:
            raise ValueError(
                f"ctts covers {len(cofs)} samples but stsz declares {n}"
            )
    out: list[tuple[int, int, int, bool, int]] = []
    sample, t_units, run = 0, 0, 0
    for c, coff in enumerate(chunk_offs, start=1):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= c:
            run += 1
        pos = coff
        for _ in range(stsc[run][1]):
            if sample == n:
                break
            sz = sizes[sample]
            if pos + sz > len(payload):
                raise ValueError(
                    f"sample {sample} extends past the payload end"
                )
            out.append(
                (
                    pos,
                    sz,
                    t_units * 1000 // timescale,
                    sync is None or (sample + 1) in sync,
                    (t_units + cofs[sample] + edit_shift)
                    * 1000
                    // timescale,
                )
            )
            t_units += deltas[sample]
            pos += sz
            sample += 1
    if sample != n:
        raise ValueError(
            f"chunk layout yields {sample} samples but stsz declares {n}"
        )
    return out


def _mp4_fragmented_index(
    payload: bytes,
    mvex_span: tuple[int, int],
    track_id: int,
    timescale: int,
    edit_shift: int,
    time_range_ms: tuple[int, int] | None = None,
) -> list[tuple[int, int, int, bool, int]]:
    """The FRAGMENTED half of the BMFF walk (r12): CMAF/DASH files —
    what a streaming pipeline actually lands in a 100-TB lake — keep
    an empty stbl and carry sample geometry in [moof + mdat] pairs:
    per-traf tfhd (track id, defaults, base-offset mode), optional
    tfdt (absolute decode time), trun runs (count, data_offset,
    per-sample duration/size/flags/composition-offset). Keyframes
    come from the sample_is_non_sync_sample bit (16) of sample_flags
    (there is no stss); defaults cascade trun → tfhd → trex exactly
    per ISO 14496-12 §8.8. Supported base-offset modes: explicit
    base_data_offset or default-base-is-moof (what every CMAF
    packager emits); the legacy implicit end-of-previous-traf rule
    raises. Like the unfragmented walk this reads only moov + moof
    boxes (kilobytes) — never sample data — and returns the same
    [(offset, size, dts_ms, keyframe, pts_ms)] contract, with pts
    edit-list-adjusted via ``edit_shift``.

    Round 13 adds the §8.16.3 ``sidx`` segment index — the DASH
    byte-range index. When present, the full walk CROSS-CHECKS it
    against the moofs actually found (a stale/crafted index would
    silently mis-seek every ranged read — refuse loudly instead);
    with ``time_range_ms=(lo, hi)`` the walk SEEKS: only the
    sidx-covered [moof+mdat] byte ranges whose presentation window
    intersects the range are parsed at all — at 100 TB on object
    storage those are the only ranged GETs issued, which is the whole
    media-pushdown story (each sought fragment must carry tfdt, since
    the decode time of skipped fragments is unknowable)."""
    u32 = lambda o: int.from_bytes(payload[o : o + 4], "big")  # noqa: E731

    # trex defaults for the video track (mandatory per §8.8.3)
    trex_dur = trex_size = trex_flags = None
    for t, tb, te, _ in _mp4_boxes(payload, mvex_span[0], mvex_span[1]):
        if t != b"trex" or tb + 24 > te:
            continue
        if u32(tb + 4) == track_id:
            trex_dur, trex_size, trex_flags = (
                u32(tb + 12),
                u32(tb + 16),
                u32(tb + 20),
            )
            break
    if trex_dur is None:
        raise ValueError(
            f"no trex for video track {track_id} in mvex"
        )

    out: list[tuple[int, int, int, bool, int]] = []
    decode_time = 0

    def walk_moof(
        mb: int, me: int, moof_start: int, require_tfdt: bool = False
    ) -> None:
        # moof_start comes straight from the box iterator (ADVICE r12
        # #4) — the previous normal-vs-largesize back-computation
        # heuristic could mislocate a crafted largesize moof whose
        # high size word collided with the probe
        nonlocal decode_time
        for tt, fb, fe, _ in _mp4_boxes(payload, mb, me):
            if tt != b"traf":
                continue
            th_b, th_e = _mp4_child(payload, fb, fe, b"tfhd")
            if th_b + 8 > th_e:
                raise ValueError("truncated tfhd box")
            tf_flags = int.from_bytes(payload[th_b + 1 : th_b + 4], "big")
            if u32(th_b + 4) != track_id:
                continue  # another track's traf (e.g. audio)
            p = th_b + 8
            base = None
            if tf_flags & 0x000001:  # base-data-offset-present
                if p + 8 > th_e:
                    raise ValueError("truncated tfhd base_data_offset")
                base = int.from_bytes(payload[p : p + 8], "big")
                p += 8
            if tf_flags & 0x000002:  # sample-description-index
                p += 4
            tf_dur = tf_size = tf_fl = None
            if tf_flags & 0x000008:
                tf_dur = u32(p)
                p += 4
            if tf_flags & 0x000010:
                tf_size = u32(p)
                p += 4
            if tf_flags & 0x000020:
                tf_fl = u32(p)
                p += 4
            if p > th_e:
                raise ValueError("tfhd fields overrun the box")
            if base is None:
                if tf_flags & 0x020000:  # default-base-is-moof
                    base = moof_start
                else:
                    raise ValueError(
                        "unsupported tfhd base-offset mode (need "
                        "base_data_offset or default-base-is-moof)"
                    )
            td_span = _mp4_child_opt(payload, fb, fe, b"tfdt")
            if td_span is None and require_tfdt:
                # a sidx seek lands mid-file: without tfdt the decode
                # time would be the running total of SKIPPED fragments
                # — unknowable — so refuse loudly
                raise ValueError(
                    "time-ranged sidx seek requires tfdt in every "
                    "sought fragment"
                )
            if td_span is not None:
                td_b, td_e = td_span
                if td_b + 4 > td_e:
                    raise ValueError("truncated tfdt box")
                if payload[td_b] == 0:
                    if td_b + 8 > td_e:
                        raise ValueError("truncated tfdt box")
                    decode_time = u32(td_b + 4)
                elif payload[td_b] == 1:
                    if td_b + 12 > td_e:
                        raise ValueError("truncated tfdt box")
                    decode_time = int.from_bytes(
                        payload[td_b + 4 : td_b + 12], "big"
                    )
                else:
                    raise ValueError("unsupported tfdt version")
            pos = base
            for bt, bb, be, _ in _mp4_boxes(payload, fb, fe):
                if bt != b"trun":
                    continue
                # bounds BEFORE the version-byte dereference (ADVICE
                # r12 #2): malformed inputs surface as the documented
                # ValueError, never IndexError
                if bb + 8 > be:
                    raise ValueError("truncated trun box")
                ver = payload[bb]
                if ver > 1:
                    raise ValueError("unsupported trun version")
                tr_flags = int.from_bytes(payload[bb + 1 : bb + 4], "big")
                if (tr_flags & 0x000004) and (tr_flags & 0x000400):
                    # mutually exclusive per ISO 14496-12 §8.8.8
                    # (ADVICE r12 #3) — refuse loudly instead of
                    # silently letting per-sample flags win
                    raise ValueError(
                        "trun sets both first-sample-flags-present and "
                        "sample-flags-present (mutually exclusive)"
                    )
                cnt = u32(bb + 4)
                q = bb + 8
                if tr_flags & 0x000001:  # data-offset-present
                    pos = base + int.from_bytes(
                        payload[q : q + 4], "big", signed=True
                    )
                    q += 4
                first_fl = None
                if tr_flags & 0x000004:
                    first_fl = u32(q)
                    q += 4
                width = (
                    (4 if tr_flags & 0x000100 else 0)
                    + (4 if tr_flags & 0x000200 else 0)
                    + (4 if tr_flags & 0x000400 else 0)
                    + (4 if tr_flags & 0x000800 else 0)
                )
                # q > be alone must also raise: with width 0 (all
                # defaults) the product check cannot see a header that
                # already overran the box
                if q > be or q + width * cnt > be:
                    raise ValueError(
                        f"trun declares {cnt} samples beyond its box end"
                    )
                for s in range(cnt):
                    dur = tf_dur if tf_dur is not None else trex_dur
                    if tr_flags & 0x000100:
                        dur = u32(q)
                        q += 4
                    size = tf_size if tf_size is not None else trex_size
                    if tr_flags & 0x000200:
                        size = u32(q)
                        q += 4
                    fl = tf_fl if tf_fl is not None else trex_flags
                    if tr_flags & 0x000400:
                        fl = u32(q)
                        q += 4
                    elif s == 0 and first_fl is not None:
                        fl = first_fl
                    coff = 0
                    if tr_flags & 0x000800:
                        coff = int.from_bytes(
                            payload[q : q + 4], "big", signed=ver == 1
                        )
                        q += 4
                    if not size:
                        raise ValueError(
                            "no sample size in trun/tfhd/trex cascade"
                        )
                    if pos + size > len(payload):
                        raise ValueError(
                            "fragment sample extends past the payload end"
                        )
                    out.append(
                        (
                            pos,
                            size,
                            decode_time * 1000 // timescale,
                            not (fl >> 16) & 1,
                            (decode_time + coff + edit_shift)
                            * 1000
                            // timescale,
                        )
                    )
                    pos += size
                    decode_time += dur

    sidx = _mp4_sidx_refs(payload, track_id)

    if time_range_ms is not None:
        # the 100-TB pushdown shape: a time-range sample seeks
        # straight to the sidx-covered [moof+mdat] byte ranges instead
        # of walking every fragment — on object storage those are the
        # only ranged reads issued
        if sidx is None:
            raise ValueError(
                "time-ranged indexing requires a sidx segment index"
            )
        sidx_ts, refs = sidx
        lo_ms, hi_ms = time_range_ms
        for roff, rsize, rt, rdur in refs:
            # exact tick-unit window intersection (ADVICE r13 #1 +
            # r14 #1): the original floored-ms spelling `(rt + rdur) *
            # 1000 // sidx_ts <= lo_ms` skipped a fragment whose LAST
            # tick still floors to lo_ms whenever sidx_ts > 1000; the
            # r14 last-tick spelling `(rt + rdur - 1) * 1000 < lo·ts`
            # fixed that but still assumed samples sit ON sidx ticks —
            # §8.16.3 lets the sidx carry its OWN (possibly coarser)
            # timescale than the track, and a sample presented strictly
            # BETWEEN ticks rt+rdur−1 and rt+rdur can floor into the
            # window while the last-tick test rejects the fragment.
            # Timescale-agnostic bounds: the fragment spans real
            # presentation time [rt/ts, (rt+rdur)/ts) seconds, so
            #   every sample ms-floors > hi  ⇐  rt·1000 ≥ (hi+1)·ts
            #   every sample ms-floors < lo  ⇐  (rt+rdur)·1000 ≤ lo·ts
            # (exclusive end: x < lo with integer lo ⟹ floor(x) < lo).
            # When timescales match this keeps at most one extra
            # fragment vs the last-tick test — harmless, the per-sample
            # pts filter downstream discards its samples; when they
            # differ it never drops a covering fragment.
            if (
                rt * 1000 >= (hi_ms + 1) * sidx_ts
                or (rt + rdur) * 1000 <= lo_ms * sidx_ts
            ):
                continue
            first = True
            for bt, bb, be, bs in _mp4_boxes(payload, roff, roff + rsize):
                if first and bt not in (b"moof", b"styp"):
                    # §8.16.3: a media reference points at media that
                    # starts with a moof — or, for concatenated CMAF
                    # segments, the segment-type box directly before it
                    raise ValueError(
                        "sidx reference does not start at a moof box"
                    )
                first = False
                if bt == b"moof":
                    walk_moof(bb, be, bs, require_tfdt=True)
        return out

    # subsegment start = the styp directly before the moof when one
    # exists (concatenated CMAF segments), else the moof itself — the
    # coordinate a spec-conformant sidx references
    sub_starts: list[int] = []
    prev_styp = None
    for t, mb, me, ms in _mp4_boxes(payload, 0, len(payload)):
        if t == b"moof":
            sub_starts.append(prev_styp if prev_styp is not None else ms)
            walk_moof(mb, me, ms)
        prev_styp = ms if t == b"styp" else None
    if sidx is not None and [r[0] for r in sidx[1]] != sub_starts:
        # full walk + sidx present: the index must agree with the
        # fragments actually on disk — a stale or crafted sidx would
        # otherwise silently mis-seek every time-ranged read
        raise ValueError(
            f"sidx reference ranges disagree with the moof walk "
            f"(sidx starts {[r[0] for r in sidx[1]]}, walked "
            f"{sub_starts})"
        )
    return out


def _mp4_sidx_refs(
    payload: bytes, track_id: int
) -> tuple[int, list[tuple[int, int, int, int]]] | None:
    """Parse the OPTIONAL top-level sidx segment index (ISO 14496-12
    §8.16.3) — the DASH byte-range index. Returns (sidx_timescale,
    [(abs_offset, size, earliest_pts_units, dur_units)]) with offsets
    made absolute from the spec's anchor (first byte AFTER the sidx
    box, plus first_offset), or None when no sidx exists. v0 (32-bit
    times) and v1 (64-bit) both parse; anything structurally unsound —
    hierarchical (reference_type 1) references, a reference_ID that
    is not the video track, ranges past the payload end, counts
    overrunning the box — raises the family's named ValueError."""
    found = None
    for t, xb, xe, _ in _mp4_boxes(payload, 0, len(payload)):
        if t != b"sidx":
            continue
        if found is not None:
            raise ValueError("multiple sidx boxes are unsupported")
        if xb + 4 > xe:
            raise ValueError("truncated sidx box")
        ver = payload[xb]
        if ver > 1:
            raise ValueError("unsupported sidx version")
        w = 8 if ver else 4
        if xb + 12 + 2 * w + 4 > xe:
            raise ValueError("truncated sidx box")
        ref_id = int.from_bytes(payload[xb + 4 : xb + 8], "big")
        sidx_ts = int.from_bytes(payload[xb + 8 : xb + 12], "big")
        if ref_id != track_id:
            raise ValueError(
                f"sidx reference_ID {ref_id} is not the video "
                f"track {track_id}"
            )
        if not sidx_ts:
            raise ValueError("zero sidx timescale")
        p = xb + 12
        ept = int.from_bytes(payload[p : p + w], "big")
        p += w
        first_off = int.from_bytes(payload[p : p + w], "big")
        p += w
        nrefs = int.from_bytes(payload[p + 2 : p + 4], "big")
        p += 4
        if p + 12 * nrefs > xe:
            raise ValueError(
                f"sidx declares {nrefs} references beyond its box end"
            )
        refs: list[tuple[int, int, int, int]] = []
        cum_off, cum_t = xe + first_off, ept
        for _r in range(nrefs):
            head = int.from_bytes(payload[p : p + 4], "big")
            if head >> 31:
                raise ValueError(
                    "unsupported hierarchical sidx reference "
                    "(reference_type 1)"
                )
            rsize = head & 0x7FFFFFFF
            rdur = int.from_bytes(payload[p + 4 : p + 8], "big")
            p += 12  # the SAP word is not needed to locate fragments
            if cum_off + rsize > len(payload):
                raise ValueError(
                    "sidx reference range extends past the payload end"
                )
            refs.append((cum_off, rsize, cum_t, rdur))
            cum_off += rsize
            cum_t += rdur
        found = (sidx_ts, refs)
    return found


def _decode_pil_image(payload: bytes, mime: str) -> list[float]:
    """REAL image decode path — import-gated on PIL, which this
    container lacks. The decode-or-skip probe
    (tests/test_connector_probe.py::test_pil_decode_or_skip) feeds a
    real PNG through the same ``feature_extract`` mapInPandas plumbing
    with this decoder the moment the environment gains PIL — the
    Kafka/Avro probe policy applied to codecs. Features: decode →
    grayscale → resize to an ``_FEAT_DIM``-pixel strip → [0,1]
    intensities (a stand-in for a CNN/CLIP embedding with the same
    shape contract as ``_decode_stub``)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload)).convert("L").resize((_FEAT_DIM, 1))
    return [p / 255.0 for p in img.getdata()]


def feature_extract(
    media: DataFrame,
    decode=_decode_stub,
    decoder_name: str = "stub-sha256-v1",
) -> DataFrame:
    """The multimodal hot path, decoder-agnostic: Arrow-batched
    mapInPandas over (media_id, mime, payload), one ``decode`` call per
    item, features unpacked to scalar columns f0..f7. Batch shape,
    schema, and iterator semantics are identical whichever decoder is
    plugged in — q_mm_feature_extract registers the deterministic stub
    (oracle-checkable), the PIL probe plugs in ``_decode_pil_image``."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(p, m) for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            out = {"media_id": pdf["media_id"], "mime": pdf["mime"]}
            for i in range(_FEAT_DIM):
                out[f"f{i}"] = [f[i] for f in feats]
            out["decoder"] = decoder_name
            yield pd.DataFrame(out)

    return media.select("media_id", "mime", "payload").mapInPandas(
        extract, _FEATURE_SCHEMA
    )


def _feature_oracle() -> str:
    cols = ",\n       ".join(
        f"CAST('0x' || substring(sha256(hex(payload)), {i * 2 + 1}, 2) AS INTEGER)"
        f" / 256.0 AS f{i}"
        for i in range(_FEAT_DIM)
    )
    return f"""
SELECT media_id, mime,
       {cols},
       'stub-sha256-v1' AS decoder
FROM read_parquet('{MEDIA_PARQUET}')
"""


def _bmp_feature_oracle() -> str:
    """DuckDB replay of _decode_bmp straight off hex(payload): header
    offset from bytes 10..13 LE, stride rounded to 4, per-strip integer
    Σ(r+g+b) over lateral (x, row) ranges, one double division — the
    oracle DECODES the BMP too, it doesn't trust precomputed
    features."""
    byte = (
        "CAST('0x' || substring(hx, (off + r * stride + 3 * x + {d}) * 2 + 1,"
        " 2) AS INTEGER)"
    )
    rgb = " + ".join(byte.format(d=d) for d in range(3))
    cols = ",\n       ".join(
        f"MAX(CASE WHEN strip = {i} THEN CAST(s AS DOUBLE) / (768.0 * npix)"
        f" END) AS f{i}"
        for i in range(_FEAT_DIM)
    )
    return f"""
WITH src AS (
  SELECT media_id, mime, hex(payload) AS hx, width AS w, height AS h
  FROM read_parquet('{MEDIA_BMP_PARQUET}')
),
hdr AS (
  SELECT media_id, mime, hx, w, h,
         CAST('0x' || substring(hx, 27, 2) || substring(hx, 25, 2)
                   || substring(hx, 23, 2) || substring(hx, 21, 2)
              AS BIGINT) AS off,
         ((3 * w + 3) // 4) * 4 AS stride
  FROM src
),
xs AS (
  SELECT media_id, mime, hx, h, off, stride, w,
         CAST(unnest(range(0, w)) AS BIGINT) AS x
  FROM hdr
),
px AS (
  SELECT media_id, mime, hx, off, stride, x, (x * {_FEAT_DIM}) // w AS strip,
         CAST(unnest(range(0, h)) AS BIGINT) AS r
  FROM xs
),
sums AS (
  SELECT media_id, mime, strip, SUM({rgb}) AS s, COUNT(*) AS npix
  FROM px GROUP BY media_id, mime, strip
)
SELECT media_id, mime,
       {cols},
       'bmp24-strips-v1' AS decoder
FROM sums GROUP BY media_id, mime
"""


def _ppm_feature_oracle() -> str:
    """DuckDB replay of _decode_ppm from hex(payload), with the pixel
    offset taken from the fixture's ``pix_off`` column — recorded
    independently at GENERATION time, so a Spark-side decoder that
    mis-tokenizes any of the fixture's header shapes (canonical,
    #-comment lines, tab/double-space separators) disagrees with the
    oracle instead of being self-consistently wrong. P6 rows are
    packed: byte (r·w + x)·3 + d after the offset — the BMP branch's
    arithmetic minus the stride/padding slicing."""
    byte = (
        "CAST('0x' || substring(hx, (off + (r * w + x) * 3 + {d}) * 2 + 1,"
        " 2) AS INTEGER)"
    )
    rgb = " + ".join(byte.format(d=d) for d in range(3))
    cols = ",\n       ".join(
        f"MAX(CASE WHEN strip = {i} THEN CAST(s AS DOUBLE) / (768.0 * npix)"
        f" END) AS f{i}"
        for i in range(_FEAT_DIM)
    )
    return f"""
WITH src AS (
  SELECT media_id, mime, hex(payload) AS hx, width AS w, height AS h,
         CAST(pix_off AS BIGINT) AS off
  FROM read_parquet('{MEDIA_PPM_PARQUET}')
),
xs AS (
  SELECT media_id, mime, hx, h, off, w,
         CAST(unnest(range(0, w)) AS BIGINT) AS x
  FROM src
),
px AS (
  SELECT media_id, mime, hx, off, w, x, (x * {_FEAT_DIM}) // w AS strip,
         CAST(unnest(range(0, h)) AS BIGINT) AS r
  FROM xs
),
sums AS (
  SELECT media_id, mime, strip, SUM({rgb}) AS s, COUNT(*) AS npix
  FROM px GROUP BY media_id, mime, strip
)
SELECT media_id, mime,
       {cols},
       'ppm6-strips-v1' AS decoder
FROM sums GROUP BY media_id, mime
"""


def _pcm_winabs_oracle(parquet_path: str, decoder_tag: str, big: bool) -> str:
    """DuckDB replay of a PCM decoder (_decode_wav / _decode_aiff)
    from hex(payload), with the data offset and sample count taken
    from the fixture's ``data_off`` / ``n_samples`` columns — recorded
    independently at GENERATION time (the pix_off discipline), so a
    Spark-side chunk-walk bug (skipping an interleaved chunk wrong,
    missing an odd-size pad byte, mis-handling AIFF's SSND offset)
    disagrees with the oracle instead of being self-consistently
    wrong. Sample j is int16 at byte off + 2j — little-endian (WAV:
    low byte + 256·high byte) or big-endian (AIFF: 256·first + second)
    per ``big`` — folded to signed via CASE u >= 32768 → u − 65536;
    the per-window feature is integer Σ|s| with one double division."""
    byte = "CAST('0x' || substring(hx, (off + 2 * j + {d}) * 2 + 1, 2) AS INTEGER)"
    if big:
        u = "256 * " + byte.format(d=0) + " + " + byte.format(d=1)
    else:
        u = byte.format(d=0) + " + 256 * " + byte.format(d=1)
    cols = ",\n       ".join(
        f"MAX(CASE WHEN win = {i} THEN CAST(s AS DOUBLE) / (32768.0 * nwin)"
        f" END) AS f{i}"
        for i in range(_FEAT_DIM)
    )
    return f"""
WITH src AS (
  SELECT media_id, mime, hex(payload) AS hx,
         CAST(data_off AS BIGINT) AS off, CAST(n_samples AS BIGINT) AS n
  FROM read_parquet('{parquet_path}')
),
js AS (
  SELECT media_id, mime, hx, off, n,
         CAST(unnest(range(0, n)) AS BIGINT) AS j
  FROM src
),
smp AS (
  SELECT media_id, mime, (j * {_FEAT_DIM}) // n AS win,
         {u} AS u
  FROM js
),
sums AS (
  SELECT media_id, mime, win,
         SUM(ABS(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)) AS s,
         COUNT(*) AS nwin
  FROM smp GROUP BY media_id, mime, win
)
SELECT media_id, mime,
       {cols},
       '{decoder_tag}' AS decoder
FROM sums GROUP BY media_id, mime
"""


def _wav_feature_oracle() -> str:
    return _pcm_winabs_oracle(MEDIA_WAV_PARQUET, "wav16-winabs-v1", big=False)


def _aiff_feature_oracle() -> str:
    return _pcm_winabs_oracle(
        MEDIA_AIFF_PARQUET, "aiff16-winabs-v1", big=True
    )


def _rawpx_strip_oracle(parquet_path: str, decoder_tag: str) -> str:
    """DuckDB recomputation of strip means from a fixture's ``raw_px``
    column — the packed RGB bytes recorded at GENERATION time, BEFORE
    the generator's encoder compressed them. Shared by the PNG and GIF
    branches: SQL cannot inflate zlib or LZW-decode, so these branches
    cannot re-decode the payload the way the BMP/PPM/WAV oracles do;
    instead the encoder (gen_fixtures.py) and the decoder
    (multimodal.py) are independent spec implementations meeting at
    the ground-truth bytes — any chunk-walk, stream-reassembly,
    unfilter, or LZW/palette bug on the Spark side disagrees with this
    recomputation. raw_px is packed like P6 pixel data, so the
    arithmetic is the PPM oracle's with offset 0."""
    byte = (
        "CAST('0x' || substring(hx, ((r * w + x) * 3 + {d}) * 2 + 1,"
        " 2) AS INTEGER)"
    )
    rgb = " + ".join(byte.format(d=d) for d in range(3))
    cols = ",\n       ".join(
        f"MAX(CASE WHEN strip = {i} THEN CAST(s AS DOUBLE) / (768.0 * npix)"
        f" END) AS f{i}"
        for i in range(_FEAT_DIM)
    )
    return f"""
WITH src AS (
  SELECT media_id, mime, hex(raw_px) AS hx, width AS w, height AS h
  FROM read_parquet('{parquet_path}')
),
xs AS (
  SELECT media_id, mime, hx, h, w,
         CAST(unnest(range(0, w)) AS BIGINT) AS x
  FROM src
),
px AS (
  SELECT media_id, mime, hx, w, x, (x * {_FEAT_DIM}) // w AS strip,
         CAST(unnest(range(0, h)) AS BIGINT) AS r
  FROM xs
),
sums AS (
  SELECT media_id, mime, strip, SUM({rgb}) AS s, COUNT(*) AS npix
  FROM px GROUP BY media_id, mime, strip
)
SELECT media_id, mime,
       {cols},
       '{decoder_tag}' AS decoder
FROM sums GROUP BY media_id, mime
"""


def _png_feature_oracle() -> str:
    return _rawpx_strip_oracle(MEDIA_PNG_PARQUET, "png8-strips-v1")


def _gif_feature_oracle() -> str:
    return _rawpx_strip_oracle(MEDIA_GIF_PARQUET, "gif-lzw-strips-v1")


@register(
    "q_mm_feature_extract",
    oracle=(
        "SELECT * FROM (" + _feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _bmp_feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _ppm_feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _wav_feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _png_feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _gif_feature_oracle() + ")\nUNION ALL\n"
        "SELECT * FROM (" + _aiff_feature_oracle() + ")"
    ),
    tags=("multimodal", "mapinpandas"),
)
def q_mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over Arrow batches (mapInPandas): the
    real multimodal hot path. Batch shape, schema, and iterator
    semantics are production-real, and SIX formats are decoded for
    REAL in this container: media_bmp rows go through _decode_bmp
    (struct+numpy 24bpp BMP), media_ppm rows through _decode_ppm
    (binary netpbm P6, byte-wise header tokenizer), media_wav rows
    through _decode_wav (16-bit PCM RIFF/WAVE with a real chunk walk),
    and — late round 11 — media_png rows through _decode_png (8-bit
    RGB PNG: CRC-checked chunk walk, multi-IDAT zlib inflate, all five
    scanline filters inverted), media_gif rows through _decode_gif
    (GIF89a block walk + a from-the-spec LZW decompressor with
    variable code widths and table rebuild), and media_aiff rows
    through _decode_aiff (WAV's big-endian IFF twin: 80-bit extended
    sample rate, SSND offset pair, even-aligned chunks). The image
    decoders emit the shared strip-mean contract, the audio decoders
    the time-window twin (mean absolute amplitude), and each DuckDB
    oracle branch recomputes the features from independent bytes in
    SQL (BMP re-decodes the payload outright; PPM/WAV/AIFF re-decode
    from independently recorded generation-time offsets; PNG/GIF —
    where SQL cannot inflate or LZW-decode — from the generation-time
    raw_px ground truth, the encoder and decoder being independent
    spec implementations). The
    media.parquet rows (fake-container png/wav/mp4) keep the
    deterministic _decode_stub so their codec-less hash algebra stays
    oracle-checkable; feature dims are unpacked to scalar columns
    f0..f7 (list cells are unhashable to the driver; real pipelines
    would keep array<float>). The identical plumbing also runs a REAL
    PIL decoder in the decode-or-skip probe (_decode_pil_image) when
    the env supplies PIL."""
    return (
        feature_extract(load_media(spark))
        .unionByName(
            feature_extract(
                load_media_bmp(spark),
                decode=_decode_bmp,
                decoder_name="bmp24-strips-v1",
            )
        )
        .unionByName(
            feature_extract(
                load_media_ppm(spark),
                decode=_decode_ppm,
                decoder_name="ppm6-strips-v1",
            )
        )
        .unionByName(
            feature_extract(
                load_media_wav(spark),
                decode=_decode_wav,
                decoder_name="wav16-winabs-v1",
            )
        )
        .unionByName(
            feature_extract(
                load_media_png(spark),
                decode=_decode_png,
                decoder_name="png8-strips-v1",
            )
        )
        .unionByName(
            feature_extract(
                load_media_gif(spark),
                decode=_decode_gif,
                decoder_name="gif-lzw-strips-v1",
            )
        )
        .unionByName(
            feature_extract(
                load_media_aiff(spark),
                decode=_decode_aiff,
                decoder_name="aiff16-winabs-v1",
            )
        )
    )


@register(
    "q_mm_frame_sample",
    oracle=f"""
WITH vids AS (
  SELECT media_id, hex(payload) AS hx, octet_length(payload) AS n_bytes,
         duration_ms
  FROM read_parquet('{MEDIA_PARQUET}')
  WHERE mime = 'video/mp4'
),
frames AS (
  SELECT media_id, hx, n_bytes,
         CAST(unnest(range(greatest(1, duration_ms // 5000))) AS INTEGER) AS frame_idx
  FROM vids
)
SELECT media_id, frame_idx,
       CAST(frame_idx AS BIGINT) * 5000 AS frame_ts_ms,
       sha256(substring(hx, (frame_idx % n_bytes) * 2 + 1, 32)) AS frame_sha
FROM frames
UNION ALL
-- REAL branch (late r11, keyframe-aware since r12): byte ranges of
-- the genuine ISO BMFF fixtures' SYNC samples only, timestamped by
-- PRESENTATION time, re-sliced from the generation-time (sample_off,
-- sample_size, keyframe, sample_pts_ms) coordinates the generator's
-- own stss/ctts bookkeeping recorded — independent of the Spark
-- side's stts/ctts/stsc/stsz/stss/stco walk, so a mis-walk (or a
-- wrong keyframe/pts derivation) is a value mismatch.
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY i) - 1
            AS INTEGER) AS frame_idx,
       CAST(sample_pts_ms[i + 1] AS BIGINT) AS frame_ts_ms,
       sha256(substring(hx, sample_off[i + 1] * 2 + 1,
                        sample_size[i + 1] * 2)) AS frame_sha
FROM (
  SELECT media_id, hex(payload) AS hx,
         sample_off, sample_size, sample_pts_ms, keyframe,
         unnest(range(len(sample_off))) AS i
  FROM read_parquet('{MEDIA_MP4_PARQUET}')
)
-- presented sync samples only: edit-list trimming makes leading
-- samples' pts negative (decoded, not presented)
WHERE keyframe[i + 1] AND sample_pts_ms[i + 1] >= 0
""",
    tags=("multimodal", "mapinpandas"),
)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video rows, two branches. (1) The fake-
    container media.parquet rows keep the STUB sampler: 1 row per ~5 s
    of metadata duration, frame payload faked as a 16-byte slice. (2)
    The media_mp4.parquet rows run the REAL thing (late r11,
    KEYFRAME-AWARE since r12): a genuine ISO BMFF sample-table walk
    (_mp4_sample_index — moov/trak/hdlr selection,
    stts/ctts/stsc/stsz/stss/stco) locates every sample's byte range,
    keyframe flag, and presentation timestamp WITHOUT any codec, then
    samples AT SYNC SAMPLES ONLY — the production posture: a
    non-keyframe slice is undecodable without its reference chain, so
    at 100 TB the decode cost of frame sampling is gated on seeking
    to stss entries, not arbitrary offsets. frame_idx is the keyframe
    ordinal in decode order, frame_ts_ms the PRESENTATION time (dts +
    ctts offset — what users mean by "the frame at t"). The emitted
    frame payload is the sample's ACTUAL bytes; codec decode stays a
    pluggable UDF, like _decode_pil_image for images. Both branches
    hash the uppercase-hex encoding of the slice so the oracle
    (VARCHAR-only sha256, no blob substring) recomputes it — the real
    branch from generation-time stss/ctts coordinates recorded
    independently of the walk. Since r13 the fixture family includes
    a sidx'd DASH row with v1 (64-bit-times) movie headers, so this
    query's walk also exercises the sidx↔moof cross-check on every
    run; the sidx-led time-range SEEK path is unit/property-tested in
    tests/test_round13_ops.py."""

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame_sha": []}
            for _, row in pdf.iterrows():
                n_frames = max(1, int(row["duration_ms"] // 5000))
                hx = bytes(row["payload"]).hex().upper()
                n_bytes = len(row["payload"])
                for k in range(n_frames):
                    # STUB: real impl seeks the container to ts and decodes
                    slice_hex = hx[(k % n_bytes) * 2 : (k % n_bytes) * 2 + 32]
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(k * 5000)
                    out["frame_sha"].append(
                        hashlib.sha256(slice_hex.encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    def sample_mp4(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "frame_sha": []}
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                hx = payload.hex().upper()
                k = 0
                for off, sz, _dts, key, pts_ms in _mp4_sample_index(
                    payload
                ):
                    if not key or pts_ms < 0:
                        # only sync samples are decodable seeks, and
                        # edit-trimmed ones (negative pts) are decoded
                        # but never presented
                        continue
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(pts_ms)
                    out["frame_sha"].append(
                        hashlib.sha256(
                            hx[off * 2 : (off + sz) * 2].encode()
                        ).hexdigest()
                    )
                    k += 1
            yield pd.DataFrame(out)

    real = (
        load_media_mp4(spark)
        .select("media_id", "payload")
        .mapInPandas(sample_mp4, schema)
    )
    m = (
        load_media(spark)
        .filter(F.col("mime") == "video/mp4")
        .select("media_id", "payload", "duration_ms")
    )
    return m.mapInPandas(sample, schema).unionByName(real)


def _mp4_has_sidx(payload: bytes) -> bool:
    return any(
        t == b"sidx" for t, _b, _e, _s in _mp4_boxes(payload, 0, len(payload))
    )


def _mp4_is_fragmented(payload: bytes) -> bool:
    """True when the moov carries an mvex box — sample geometry lives
    in moof fragments. The seek gate needs BOTH this and a sidx
    (ADVICE r13 #4): a non-fragmented file with a stray top-level sidx
    would otherwise be routed into _mp4_sample_index(time_range_ms=…),
    which correctly raises for unfragmented layouts — failing the whole
    mapInPandas batch for one odd payload instead of falling back to
    the full stbl walk the caller filters anyway."""
    for t, b, e, _s in _mp4_boxes(payload, 0, len(payload)):
        if t == b"moov":
            return _mp4_child_opt(payload, b, e, b"mvex") is not None
    return False


def frame_sample_range(
    spark: SparkSession,
    lo_ms: int,
    hi_ms: int,
    media: DataFrame | None = None,
) -> DataFrame:
    """USER-facing time-ranged keyframe sampler over the BMFF corpus —
    the operator the r13 sidx work exists for: "give me the keyframes
    between lo and hi milliseconds of every video". Containers that
    carry a §8.16.3 sidx segment index are SOUGHT: only the covering
    [moof+mdat] byte ranges are parsed at all (at 100 TB with payloads
    in object storage those are the only ranged GETs a real reader
    would issue — see _mp4_fragmented_index); everything else falls
    back to the full moov/moof walk and filters. Either way the emitted
    rows are the presented sync samples with lo_ms <= pts <= hi_ms,
    with ``frame_idx`` the 0-based keyframe ordinal WITHIN the range
    (a range result is its own sequence; global ordinals would leak
    the skipped fragments the seek never read). Same (media_id,
    frame_idx, frame_ts_ms, frame_sha) schema as q_mm_frame_sample's
    real branch; tests pin seek ≡ full-walk-then-filter on every
    fixture row. ``media`` (round 14) lets callers run the sampler
    over their OWN corpus DataFrame — any (media_id, payload) frame,
    e.g. a binaryFile scan of a lake prefix — instead of the fixture
    loader; the default stays the fixture corpus the registry key
    attests."""
    if lo_ms > hi_ms:
        raise ValueError(f"empty time range ({lo_ms} > {hi_ms})")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def sample_range(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_ts_ms": [],
                "frame_sha": [],
            }
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                hx = payload.hex().upper()
                idx = _mp4_sample_index(
                    payload,
                    # seek only when the payload is BOTH sidx'd and
                    # fragmented (ADVICE r13 #4) — a stray top-level
                    # sidx on a flat file falls back to the full walk
                    time_range_ms=(lo_ms, hi_ms)
                    if _mp4_has_sidx(payload) and _mp4_is_fragmented(payload)
                    else None,
                )
                k = 0
                for off, sz, _dts, key, pts_ms in idx:
                    # presented sync samples only (pts < 0 = edit-
                    # trimmed, decoded but never presented), inside
                    # the requested presentation window
                    if not key or pts_ms < 0 or not lo_ms <= pts_ms <= hi_ms:
                        continue
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(pts_ms)
                    out["frame_sha"].append(
                        hashlib.sha256(
                            hx[off * 2 : (off + sz) * 2].encode()
                        ).hexdigest()
                    )
                    k += 1
            yield pd.DataFrame(out)

    src = media if media is not None else load_media_mp4(spark)
    return src.select("media_id", "payload").mapInPandas(
        sample_range, schema
    )


# the registered range: chosen to slice INTO most fixture rows (partial
# fragment coverage — the seek must skip leading/trailing fragments),
# leave one row (media_id 6004, pts 1500–1962) entirely outside (every
# fragment skipped), and sit on non-trivial floored-ms boundaries
_FSR_LO_MS, _FSR_HI_MS = 100, 450


@register(
    "q_mm_frame_sample_range",
    oracle=f"""
-- generation-time truth for the r13 sidx-seek walker (r13 verdict
-- item 2): the presented sync samples whose PRESENTATION time falls in
-- [{_FSR_LO_MS}, {_FSR_HI_MS}] ms, re-sliced from the (sample_off,
-- sample_size, keyframe, sample_pts_ms) coordinates the generator's
-- own bookkeeping recorded — independent of the Spark side's
-- moov/moof/sidx walk, so a mis-seek (a skipped covering fragment, a
-- boundary off-by-one in the sidx window arithmetic) is a value
-- mismatch, not just a row-count drift
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY i) - 1
            AS INTEGER) AS frame_idx,
       CAST(sample_pts_ms[i + 1] AS BIGINT) AS frame_ts_ms,
       sha256(substring(hx, sample_off[i + 1] * 2 + 1,
                        sample_size[i + 1] * 2)) AS frame_sha
FROM (
  SELECT media_id, hex(payload) AS hx,
         sample_off, sample_size, sample_pts_ms, keyframe,
         unnest(range(len(sample_off))) AS i
  FROM read_parquet('{MEDIA_MP4_PARQUET}')
)
WHERE keyframe[i + 1]
  AND sample_pts_ms[i + 1] BETWEEN {_FSR_LO_MS} AND {_FSR_HI_MS}
""",
    tags=("multimodal", "mapinpandas"),
)
def q_mm_frame_sample_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-oracle registration of ``frame_sample_range`` — the
    user-facing time-ranged keyframe sampler the round-13 sidx work
    exists for, at a fixed [100, 450] ms window over the BMFF fixture
    corpus. sidx'd fragmented rows take the SEEK path (only the
    covering [moof+mdat] byte ranges are parsed — the 100-TB
    media-pushdown shape: those are the only ranged GETs a real reader
    would issue against object storage); flat rows take the full
    stbl walk and filter. The oracle recomputes the window from the
    generator's independent per-sample bookkeeping, so this key pins
    seek ≡ full-walk-then-filter under the driver's value hash — not
    just under pytest. Carries the ADVICE r13 fixes at birth: exact
    tick-unit sidx window intersection (no floored-ms lower-bound
    drop) and the sidx∧mvex seek gate."""
    return frame_sample_range(spark, _FSR_LO_MS, _FSR_HI_MS)


@register(
    "q_mm_header_parse",
    oracle=f"""
WITH hx AS (
  SELECT media_id, mime, width, height, duration_ms, hex(payload) AS h
  FROM read_parquet('{MEDIA_PARQUET}')
),
parsed AS (
  SELECT media_id, mime, width, height, duration_ms,
         substring(h, 1, 8) = '534D4D31' AS magic_ok,
         CAST('0x' || substring(h, 9, 8) AS BIGINT) AS hdr_f1,
         CAST('0x' || substring(h, 17, 8) AS BIGINT) AS hdr_f2
  FROM hx
)
SELECT media_id, mime, magic_ok, hdr_f1, hdr_f2,
       CASE WHEN mime = 'image/png'
            THEN hdr_f1 = width AND hdr_f2 = height
            ELSE hdr_f1 = duration_ms AND hdr_f2 = 0 END AS metadata_consistent
FROM parsed
""",
    tags=("multimodal", "binary"),
)
def q_mm_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed header parse straight off the binary column — the EXIF-ish
    audit every media lake needs: extract the container magic and the
    two big-endian uint32 header fields, and cross-check them against
    the relational metadata columns (corrupt or mislabeled payloads
    surface as metadata_consistent = false). Pure column algebra over
    hex(payload) — byte k lives at hex offset 2k-1 — so the audit runs
    JVM-side at full scan speed with NO decoder involvement; this is
    the cheap always-on integrity pass in front of the (stubbed,
    expensive) decode path."""
    m = load_media(spark)
    h = F.hex("payload")
    f1 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    f2 = F.conv(F.substring(h, 17, 8), 16, 10).cast("long")
    parsed = m.select(
        "media_id",
        "mime",
        "width",
        "height",
        "duration_ms",
        (F.substring(h, 1, 8) == "534D4D31").alias("magic_ok"),
        f1.alias("hdr_f1"),
        f2.alias("hdr_f2"),
    )
    consistent = F.when(
        F.col("mime") == "image/png",
        (F.col("hdr_f1") == F.col("width"))
        & (F.col("hdr_f2") == F.col("height")),
    ).otherwise(
        (F.col("hdr_f1") == F.col("duration_ms")) & (F.col("hdr_f2") == 0)
    )
    return parsed.select(
        "media_id",
        "mime",
        "magic_ok",
        "hdr_f1",
        "hdr_f2",
        consistent.alias("metadata_consistent"),
    )


# --------------------------------------------------- TIFF (round 15)


def load_media_tiff(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_TIFF_PARQUET)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits DECOMPRESSOR (TIFF 6.0 §9) — the inverse of the
    generator's independent compressor (tools/gen_fixtures.py
    _packbits_encode; the two meet at the fixture's raw bytes, the
    GIF/LZW posture). Control byte n as signed: 0..127 copies n+1
    literal bytes, -1..-127 repeats the next byte 1-n times, -128 is
    a NO-OP (a decoder that treats it as a repeat desynchronizes —
    the fixtures inject them). Strict on malformed input: a literal
    or repeat that runs past the compressed bytes, producing more
    than ``expected`` output, or leaving trailing compressed garbage
    all raise — at 100 TB a silent desync is corrupt training data,
    not a warning."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        if len(out) >= expected:
            raise ValueError(
                "PackBits stream continues past the expected output size"
            )
        c = data[i]
        i += 1
        if c == 0x80:  # -128: no-op
            continue
        if c < 0x80:
            cnt = c + 1
            if i + cnt > n:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + cnt]
            i += cnt
        else:
            cnt = 257 - c
            if i >= n:
                raise ValueError("truncated PackBits repeat run")
            out += data[i : i + 1] * cnt
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"PackBits output size mismatch: got {len(out)}, "
            f"expected {expected}"
        )
    return bytes(out)


def _tiff_ifd(payload: bytes, en: str):
    """Walk the first IFD: returns {tag: list[int]} for numeric
    (SHORT/LONG) entries, skipping ASCII and other types. Inline
    values (total ≤ 4 bytes) are read from the 4-byte value field in
    the FILE's byte order (left-justified — the classic gotcha an
    MM-file decoder gets wrong); larger values follow the 4-byte
    offset, bounds-checked."""
    import struct

    (ifd_off,) = struct.unpack_from(en + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset past payload end")
    (n_entries,) = struct.unpack_from(en + "H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(payload):
        raise ValueError("truncated TIFF IFD")
    sizes = {3: 2, 4: 4}
    fmts = {3: "H", 4: "I"}
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        e = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack_from(en + "HHI", payload, e)
        if typ not in sizes:
            continue  # ASCII/RATIONAL/...: not needed for baseline RGB
        total = sizes[typ] * count
        if total <= 4:
            off = e + 8
        else:
            (off,) = struct.unpack_from(en + "I", payload, e + 8)
            if off + total > len(payload):
                raise ValueError(
                    f"TIFF tag {tag} value range past payload end"
                )
        tags[tag] = list(
            struct.unpack_from(en + fmts[typ] * count, payload, off)
        )
    return tags


def _decode_tiff(payload: bytes, mime: str) -> list[float]:
    """REAL decoder #7, zero new deps: baseline TIFF 6.0, 8-bit RGB
    chunky, strip-organized, uncompressed (1) or PackBits (32773),
    BOTH byte orders. The IFD walk reads ImageWidth/Length,
    BitsPerSample, Compression, Photometric, StripOffsets,
    SamplesPerPixel, RowsPerStrip (spec default: all rows in one
    strip when absent), StripByteCounts; each strip is bounds-checked,
    size-validated against its row count, PackBits-decoded where
    compressed, and the concatenated pixels emit the shared strip-mean
    contract (_strip_means) the BMP/PPM/PNG/GIF decoders use — so the
    oracle replays it with the same exact-integer arithmetic. Raises
    on anything outside the profile it really decodes: tiled layouts
    (TileWidth/TileLength), planar configuration 2, predictors,
    palettes, other bit depths or compressions — at 100 TB a decoder
    that guesses is corrupt training data."""
    import numpy as np

    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    order = payload[:2]
    if order == b"II":
        en = "<"
    elif order == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF payload")
    import struct

    (magic,) = struct.unpack_from(en + "H", payload, 2)
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    tags = _tiff_ifd(payload, en)

    def one(tag: int, default: "int | None" = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        vals = tags[tag]
        if len(vals) != 1:
            raise ValueError(f"TIFF tag {tag} must have one value")
        return vals[0]

    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF unsupported (strip profile only)")
    w, h = one(256), one(257)
    comp = one(259, default=1)
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if one(262) != 2 or one(277, default=1) != 3:
        raise ValueError("only chunky 8-bit RGB TIFF supported")
    if tags.get(258, [8, 8, 8]) != [8, 8, 8]:
        raise ValueError("only 8-bit-per-sample TIFF supported")
    if one(284, default=1) != 1 or one(317, default=1) != 1:
        raise ValueError("planar or predictor TIFF unsupported")
    if h <= 0 or w < _FEAT_DIM:
        raise ValueError(
            f"TIFF width >= {_FEAT_DIM} and positive height required "
            f"(got w={w} h={h})"
        )
    rps = one(278, default=h)  # spec default: one strip of all rows
    rps = min(rps, h)
    n_strips = -(-h // rps)
    soffs = tags.get(273)
    scnts = tags.get(279)
    if soffs is None or scnts is None:
        raise ValueError("TIFF missing StripOffsets/StripByteCounts")
    if not (len(soffs) == len(scnts) == n_strips):
        raise ValueError(
            f"TIFF strip bookkeeping mismatch: {len(soffs)} offsets, "
            f"{len(scnts)} counts, {n_strips} strips for h={h} rps={rps}"
        )
    px = bytearray()
    for s, (off, cnt) in enumerate(zip(soffs, scnts)):
        if off + cnt > len(payload):
            raise ValueError(f"TIFF strip {s} range past payload end")
        rows = min(rps, h - s * rps)
        expected = rows * w * 3
        blob = payload[off : off + cnt]
        if comp == 1:
            if cnt != expected:
                raise ValueError(
                    f"TIFF uncompressed strip {s} size {cnt} != "
                    f"expected {expected}"
                )
            px += blob
        else:
            px += _packbits_decode(blob, expected)
    arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w, 3)
    col_sums = arr.sum(axis=2, dtype=np.int64).sum(axis=0)
    return _strip_means(col_sums, w, h)


def _tiff_feature_oracle() -> str:
    """Two branches, one per compression. Uncompressed rows are
    re-decoded BYTE-FOR-BYTE from hex(payload) at the generation-time
    strip_offsets/rows_per_strip coordinates (the WAV posture — the
    oracle never trusts the walker); PackBits rows are recomputed from
    the generation-time raw_px ground truth (the PNG/GIF posture —
    SQL cannot run-length-decode; encoder and decoder are independent
    spec implementations meeting at those bytes)."""
    byte = (
        "CAST('0x' || substring(hx, (soff[r // rps + 1]"
        " + ((r % rps) * w + x) * 3 + {d}) * 2 + 1, 2) AS INTEGER)"
    )
    rgb = " + ".join(byte.format(d=d) for d in range(3))
    cols = ",\n       ".join(
        f"MAX(CASE WHEN strip = {i} THEN CAST(s AS DOUBLE) / (768.0 * npix)"
        f" END) AS f{i}"
        for i in range(_FEAT_DIM)
    )
    raw_byte = (
        "CAST('0x' || substring(hx, ((r * w + x) * 3 + {d}) * 2 + 1,"
        " 2) AS INTEGER)"
    )
    raw_rgb = " + ".join(raw_byte.format(d=d) for d in range(3))
    return f"""
WITH u_src AS (
  SELECT media_id, mime, hex(payload) AS hx, width AS w, height AS h,
         CAST(rows_per_strip AS BIGINT) AS rps, strip_offsets AS soff
  FROM read_parquet('{MEDIA_TIFF_PARQUET}') WHERE compression = 1
),
u_xs AS (
  SELECT media_id, mime, hx, h, w, rps, soff,
         CAST(unnest(range(0, w)) AS BIGINT) AS x
  FROM u_src
),
u_px AS (
  SELECT media_id, mime, hx, w, rps, soff, x,
         (x * {_FEAT_DIM}) // w AS strip,
         CAST(unnest(range(0, h)) AS BIGINT) AS r
  FROM u_xs
),
u_sums AS (
  SELECT media_id, mime, strip, SUM({rgb}) AS s, COUNT(*) AS npix
  FROM u_px GROUP BY media_id, mime, strip
),
p_src AS (
  SELECT media_id, mime, hex(raw_px) AS hx, width AS w, height AS h
  FROM read_parquet('{MEDIA_TIFF_PARQUET}') WHERE compression = 32773
),
p_xs AS (
  SELECT media_id, mime, hx, h, w,
         CAST(unnest(range(0, w)) AS BIGINT) AS x
  FROM p_src
),
p_px AS (
  SELECT media_id, mime, hx, w, x, (x * {_FEAT_DIM}) // w AS strip,
         CAST(unnest(range(0, h)) AS BIGINT) AS r
  FROM p_xs
),
p_sums AS (
  SELECT media_id, mime, strip, SUM({raw_rgb}) AS s, COUNT(*) AS npix
  FROM p_px GROUP BY media_id, mime, strip
)
SELECT media_id, mime, {cols},
       'tiff-strips-v1' AS decoder
FROM u_sums GROUP BY media_id, mime
UNION ALL
SELECT media_id, mime, {cols},
       'tiff-strips-v1' AS decoder
FROM p_sums GROUP BY media_id, mime
"""


@register(
    "q_mm_tiff_decode",
    oracle=_tiff_feature_oracle(),
    tags=("multimodal", "mapinpandas"),
)
def q_mm_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the baseline-TIFF fixture corpus —
    round 15's lossless-decoder extension (r14 verdict item 6): the
    seventh real zero-dep decoder, and the first whose compression
    (PackBits) is implemented on BOTH sides as independent spec
    implementations — the generator compresses per TIFF 6.0 §9
    (per-row restart, max-length runs, -128 no-op injection), the
    decoder here inverts it, and the DuckDB oracle recomputes the
    strip means from independent bytes (uncompressed rows:
    byte-for-byte payload re-decode at generation-time strip
    coordinates; PackBits rows: the raw_px ground truth). Runs the
    SAME Arrow-batched mapInPandas plumbing and strip-mean feature
    contract as q_mm_feature_extract, over both byte orders,
    multi-strip layouts, non-minimal file layouts, and a
    RowsPerStrip-defaulted row."""
    return feature_extract(
        load_media_tiff(spark),
        decode=_decode_tiff,
        decoder_name="tiff-strips-v1",
    )


# mime → (real zero-dep decoder, its per-format decoder tag): the
# dispatch table behind decode_auto — one entry per format the engine
# decodes for real (SURVEY §2.11). Keys are the fixture corpus's mime
# strings; a lake would map file extensions onto them at scan time
# (streaming/jobs.py:run_streaming_feature_extract does exactly that).
_REAL_DECODERS = {
    "image/bmp": (_decode_bmp, "bmp24-strips-v1"),
    "image/x-portable-pixmap": (_decode_ppm, "ppm6-strips-v1"),
    "audio/x-wav-pcm": (_decode_wav, "wav16-winabs-v1"),
    "image/png": (_decode_png, "png8-strips-v1"),
    "image/gif": (_decode_gif, "gif-lzw-strips-v1"),
    "audio/aiff": (_decode_aiff, "aiff16-winabs-v1"),
    "image/tiff": (_decode_tiff, "tiff-strips-v1"),
}


def decode_auto(payload: bytes, mime: str) -> list[float]:
    """Mime-dispatching decode for MIXED corpora (round 15): routes
    each item to its real zero-dep decoder — the shape a lake scan
    needs, where one directory holds many formats and feature_extract
    takes a single decode callable. Unknown mimes raise (a lake sweep
    must surface unexpected formats, not silently stub them; callers
    that want the stub pass it explicitly)."""
    entry = _REAL_DECODERS.get(mime)
    if entry is None:
        raise ValueError(f"decode_auto: no real decoder for mime {mime!r}")
    return entry[0](payload, mime)


# ---------------------------------------------- Matroska/EBML (round 15)
# The second major container family next to ISO BMFF (r14 verdict item 6
# named it the natural extension): a from-the-spec EBML walk (RFC 8794 +
# the public Matroska element registry) that indexes every video frame's
# byte range, keyframe flag, and presentation time WITHOUT any codec —
# the exact contract _mp4_sample_index established. The muxer lives in
# tools/gen_fixtures.py as an independent implementation; the fixture
# bookkeeping (sample_off/sample_size/sample_pts_ms/keyframe + cluster
# spans) is the generator's own layout arithmetic, so any walker
# mis-parse (vint width, lace arithmetic, the BlockGroup keyframe rule,
# an unknown-size element end, a cue seek bound) is a value mismatch.

MEDIA_MKV_PARQUET = os.path.join(
    _REPO, "fixtures", "parquet", "media_mkv.parquet"
)


def load_media_mkv(spark: SparkSession) -> DataFrame:
    return read_parquet(spark, MEDIA_MKV_PARQUET)


class _MkvSeekNonConformant(ValueError):
    """A PARSED cluster violated a constraint the cues seek relies on
    (negative relative timestamp, non-monotone cluster timestamps).
    The seek driver catches this and falls back to the full walk —
    the validate-or-fallback posture ADVICE r14 #1 established for the
    sidx timescale mismatch."""


def _ebml_parse_vint(buf: bytes, p: int, end: int):
    """Raw EBML vint (RFC 8794 §4): the first byte's leading-zero count
    gives the width; the marker bit is stripped. Returns
    (value, n_bytes, all_ones_max) — callers that parse element SIZES
    map value == all_ones_max to "unknown"; track numbers and lace
    sizes use the value verbatim (no reserved encoding there)."""
    if p >= end:
        raise ValueError("truncated EBML vint")
    b0 = buf[p]
    if b0 == 0:
        raise ValueError("EBML vint longer than 8 bytes")
    ln = 9 - b0.bit_length()
    if p + ln > end:
        raise ValueError("truncated EBML vint")
    raw = int.from_bytes(buf[p : p + ln], "big")
    mx = (1 << (7 * ln)) - 1
    return raw & mx, ln, mx


def _ebml_parse_id(buf: bytes, p: int, end: int):
    """Element IDs keep their marker bits (they are matched verbatim,
    e.g. Segment = 0x18538067) and are at most 4 bytes."""
    if p >= end:
        raise ValueError("truncated EBML element id")
    b0 = buf[p]
    ln = 9 - b0.bit_length() if b0 else 9
    if ln > 4:
        raise ValueError("invalid EBML id (more than 4 bytes)")
    if p + ln > end:
        raise ValueError("truncated EBML element id")
    return int.from_bytes(buf[p : p + ln], "big"), ln


def _ebml_parse_size(buf: bytes, p: int, end: int):
    val, ln, mx = _ebml_parse_vint(buf, p, end)
    return (None if val == mx else val), ln


def _mkv_children(buf: bytes, start: int, end: int):
    """Sized-children iterator: yields (id, body_start, body_end,
    elem_start). Unknown-size children raise — only Segment and Cluster
    may be unsized, and their ends are resolved by the segment scan
    before anything iterates their children."""
    p = start
    while p < end:
        eid, idl = _ebml_parse_id(buf, p, end)
        sz, szl = _ebml_parse_size(buf, p + idl, end)
        body = p + idl + szl
        if sz is None:
            raise ValueError("unknown-size element where a sized child is required")
        if body + sz > end:
            raise ValueError("EBML element overruns its parent")
        yield eid, body, body + sz, p
        p = body + sz


_MKV_SEGMENT = 0x18538067
_MKV_CLUSTER = 0x1F43B675
_MKV_CUES = 0x1C53BB6B
_MKV_INFO = 0x1549A966
_MKV_TRACKS = 0x1654AE6B
# every element an unknown-size cluster can legally be terminated by:
# the other segment-level elements (SeekHead, Chapters, Tags,
# Attachments) and a FOLLOWING Segment (multi-segment streams — an
# unknown-size element ends at the first element that is not a valid
# child, and Segment is top-level; ADVICE r15 #3). Void (0xEC) is
# deliberately NOT here: it is a GLOBAL element, a valid child inside
# a Cluster (padding), so it can never terminate one.
_MKV_SEG_LEVEL = frozenset(
    {
        _MKV_SEGMENT,
        _MKV_CLUSTER,
        _MKV_CUES,
        _MKV_INFO,
        _MKV_TRACKS,
        0x114D9B74,  # SeekHead
        0x1043A770,  # Chapters
        0x1254C367,  # Tags
        0x1941A469,  # Attachments
    }
)


def _mkv_unknown_end(buf: bytes, body: int, se: int) -> int:
    """End of an unknown-size Cluster (RFC 8794 §6.2: it ends at the
    first element that is not a valid child — in practice the next
    segment-level element) — the live-muxing shape, resolved by a
    header-only scan that never reads frame bytes."""
    p = body
    while p < se:
        eid, idl = _ebml_parse_id(buf, p, se)
        if eid in _MKV_SEG_LEVEL:
            return p
        sz, szl = _ebml_parse_size(buf, p + idl, se)
        if sz is None:
            raise ValueError("unknown-size element inside a cluster")
        p += idl + szl + sz
        if p > se:
            raise ValueError("cluster child overruns the segment")
    return se


def _mkv_segment_scan(payload: bytes):
    """Header-only structural scan: validates the EBML header/DocType,
    locates the Segment, and walks its CHILD HEADERS (id + size only —
    cluster bodies are skipped by their size fields, so corrupt frame
    data in a cluster this query never parses is never read). Returns
    (timestamp_scale_ns, video_track, cluster_spans, cues, seg_start)
    where cluster_spans = [(elem_start, body_start, body_end)] and
    cues = [(cue_ticks, segment_relative_pos)] for the video track
    (None when the file carries no Cues index)."""
    if not payload.startswith(b"\x1a\x45\xdf\xa3"):
        raise ValueError("not an EBML stream (bad magic)")
    n = len(payload)
    _eid, idl = _ebml_parse_id(payload, 0, n)
    sz, szl = _ebml_parse_size(payload, idl, n)
    if sz is None:
        raise ValueError("EBML header with unknown size")
    hb, he = idl + szl, idl + szl + sz
    if he > n:
        raise ValueError("EBML header overruns the payload")
    doctype = b"matroska"  # the spec default when DocType is absent
    for deid, db, de, _s in _mkv_children(payload, hb, he):
        if deid == 0x4282:
            doctype = payload[db:de]
    if doctype not in (b"matroska", b"webm"):
        raise ValueError(f"unsupported EBML DocType {doctype!r}")

    p, seg = he, None
    while p < n:
        eid, idl = _ebml_parse_id(payload, p, n)
        sz, szl = _ebml_parse_size(payload, p + idl, n)
        body = p + idl + szl
        if eid == _MKV_SEGMENT:
            seg = (body, n if sz is None else body + sz)
            break
        if eid != 0xEC or sz is None:  # only Void may precede the Segment
            raise ValueError("expected a Segment element at the top level")
        p = body + sz
    if seg is None:
        raise ValueError("no Segment element")
    sb, se = seg
    if se > n:
        raise ValueError("Segment overruns the payload")

    scale, vtrack, clusters, raw_cues = 1_000_000, None, [], None
    p = sb
    while p < se:
        eid, idl = _ebml_parse_id(payload, p, se)
        sz, szl = _ebml_parse_size(payload, p + idl, se)
        body = p + idl + szl
        if sz is None:
            if eid != _MKV_CLUSTER:
                raise ValueError(
                    "unknown-size element other than Segment/Cluster"
                )
            end = _mkv_unknown_end(payload, body, se)
        else:
            end = body + sz
            if end > se:
                raise ValueError("EBML element overruns the Segment")
        if eid == _MKV_INFO:
            for ceid, cb, ce, _s in _mkv_children(payload, body, end):
                if ceid == 0x2AD7B1:
                    scale = int.from_bytes(payload[cb:ce], "big")
        elif eid == _MKV_TRACKS:
            for ceid, cb, ce, _s in _mkv_children(payload, body, end):
                if ceid != 0xAE:
                    continue
                tnum = ttype = None
                for teid, tb, te, _t in _mkv_children(payload, cb, ce):
                    if teid == 0xD7:
                        tnum = int.from_bytes(payload[tb:te], "big")
                    elif teid == 0x83:
                        ttype = int.from_bytes(payload[tb:te], "big")
                if ttype == 1 and vtrack is None:
                    vtrack = tnum
        elif eid == _MKV_CLUSTER:
            clusters.append((p, body, end))
        elif eid == _MKV_CUES:
            raw_cues = []
            for ceid, cb, ce, _s in _mkv_children(payload, body, end):
                if ceid != 0xBB:  # CuePoint
                    continue
                ctime = None
                positions = []
                for peid, pb, pe, _q in _mkv_children(payload, cb, ce):
                    if peid == 0xB3:  # CueTime
                        ctime = int.from_bytes(payload[pb:pe], "big")
                    elif peid == 0xB7:  # CueTrackPositions
                        ctrk = cpos = None
                        for qeid, qb, qe, _r in _mkv_children(
                            payload, pb, pe
                        ):
                            if qeid == 0xF7:
                                ctrk = int.from_bytes(payload[qb:qe], "big")
                            elif qeid == 0xF1:
                                cpos = int.from_bytes(payload[qb:qe], "big")
                        positions.append((ctrk, cpos))
                if ctime is None:
                    raise ValueError("CuePoint without a CueTime")
                raw_cues.append((ctime, positions))
        p = end
    if vtrack is None:
        raise ValueError("no video track in the Tracks element")
    if scale == 0:
        raise ValueError("zero TimestampScale")
    cues = None
    if raw_cues is not None:
        cues = [
            (t, cpos)
            for t, positions in raw_cues
            for ctrk, cpos in positions
            if ctrk == vtrack and cpos is not None
        ]
    return scale, vtrack, clusters, cues, sb


def _mkv_block_frames(buf: bytes, b: int, e: int):
    """Block/SimpleBlock payload parse: track vint, int16 BE relative
    timestamp, flags, then the lacing table (flags bits 0x06: 01=Xiph
    cumulative-255 sizes, 10=fixed equal split, 11=EBML first-size +
    signed-vint deltas; the LAST laced frame's size is always implicit).
    Returns (track, rel_ticks, flags, [(abs_off, size)])."""
    track, tl, _mx = _ebml_parse_vint(buf, b, e)
    p = b + tl
    if p + 3 > e:
        raise ValueError("truncated block header")
    rel = int.from_bytes(buf[p : p + 2], "big", signed=True)
    flags = buf[p + 2]
    p += 3
    mode = (flags >> 1) & 0x3
    if mode == 0:
        return track, rel, flags, [(p, e - p)]
    if p >= e:
        raise ValueError("truncated lace header")
    nf = buf[p] + 1
    p += 1
    sizes: list[int] = []
    if mode == 1:  # Xiph
        for _ in range(nf - 1):
            s = 0
            while True:
                if p >= e:
                    raise ValueError("Xiph lace sizes overrun the block")
                v = buf[p]
                p += 1
                s += v
                if v < 255:
                    break
            sizes.append(s)
    elif mode == 2:  # fixed-size
        total = e - p
        if total % nf:
            raise ValueError("fixed lacing does not divide the block evenly")
        sizes = [total // nf] * (nf - 1)
    else:  # EBML
        if nf >= 2:
            first, ln, _mx = _ebml_parse_vint(buf, p, e)
            p += ln
            sizes, prev = [first], first
            for _ in range(nf - 2):
                v, ln, mx = _ebml_parse_vint(buf, p, e)
                p += ln
                prev += v - (mx >> 1)  # signed vint: bias 2^(7L-1)-1
                if prev < 0:
                    raise ValueError("negative EBML lace size")
                sizes.append(prev)
    last = (e - p) - sum(sizes)
    if last < 0:
        raise ValueError("lace sizes exceed the block")
    frames = []
    for s in sizes:
        frames.append((p, s))
        p += s
    frames.append((p, last))
    return track, rel, flags, frames


def _mkv_parse_cluster(
    payload: bytes,
    body: int,
    end: int,
    vtrack: int,
    seek_validate: bool = False,
):
    """One cluster's video frames: (cluster_ts_ticks, [(off, size,
    keyframe, rel_ticks)]). SimpleBlock keyframe-ness is flags bit
    0x80; a Block inside a BlockGroup is a keyframe iff the group has
    NO ReferenceBlock child (the classic Matroska gotcha). CRC-32,
    Void, BlockDuration etc. are skipped; other tracks' blocks are
    parsed (the lace table must be walked to find the element end is
    already known — they are simply not emitted)."""
    cts = None
    recs = []
    for eid, b, e, _s in _mkv_children(payload, body, end):
        if eid == 0xE7:  # Timestamp
            if cts is None:
                cts = int.from_bytes(payload[b:e], "big")
        elif eid in (0xA3, 0xA0):  # SimpleBlock | BlockGroup
            if cts is None:
                raise ValueError("block before the cluster Timestamp")
            if eid == 0xA3:
                track, rel, flags, frames = _mkv_block_frames(payload, b, e)
                key = bool(flags & 0x80)
            else:
                bspan, ref = None, False
                for geid, gb, ge, _g in _mkv_children(payload, b, e):
                    if geid == 0xA1 and bspan is None:
                        bspan = (gb, ge)
                    elif geid == 0xFB:
                        ref = True
                if bspan is None:
                    raise ValueError("BlockGroup without a Block")
                track, rel, _flags, frames = _mkv_block_frames(
                    payload, *bspan
                )
                key = not ref
            if track != vtrack:
                continue
            if seek_validate and rel < 0:
                raise _MkvSeekNonConformant("negative relative timestamp")
            for off, sz in frames:
                recs.append((off, sz, key, rel))
    if cts is None:
        raise ValueError("cluster without a Timestamp element")
    return cts, recs


def _mkv_sample_index(
    payload: bytes,
    time_range_ms: "tuple[int, int] | None" = None,
    _touched: "list | None" = None,
    no_cues: str = "raise",
) -> list:
    """[(offset, size, keyframe, pts_ms)] for the first video track in
    file order — the _mp4_sample_index contract for Matroska. pts_ms =
    floor((cluster_ts + rel) · TimestampScale / 1e6).

    With ``time_range_ms=(lo, hi)`` the walk SEEKS via the Cues index
    (Matroska's sidx): it starts at the cluster of the LAST cue with
    cue_ticks·scale ≤ lo·1e6 — exclusive-end form in the RAW tick
    domain (the ADVICE r14 #1 lesson), safe because blocks in skipped
    clusters have ticks strictly below the cued cluster's timestamp ≤
    its cue time — and stops at the first cluster with cts·scale ≥
    (hi+1)·1e6. Only the covering cluster bodies are parsed (at 100 TB
    on object storage: SeekHead → Cues → covering clusters are the only
    ranged GETs; everything else is skipped by size fields without
    reading frame bytes). The skip arithmetic trusts the same muxer
    constraints real players rely on (monotone cluster timestamps,
    rel ≥ 0, no block spilling past the next cluster's ts — the trust
    class of sidx durations); everything PARSED is validated and any
    violation falls back to the full walk. A cue that does not point
    at a cluster start, or an unsorted Cues index, is refused loudly
    (the sidx cross-check posture: a crafted/stale index would
    silently mis-seek every ranged read)."""
    scale, vtrack, clusters, cues, seg = _mkv_segment_scan(payload)
    if time_range_ms is not None and not cues:
        # ``no_cues="full"`` is the sampler gate folded in (code-review
        # r15: the former _mkv_has_cues pre-check ran the whole
        # structural scan a second time per payload)
        if no_cues == "full":
            time_range_ms = None
        else:
            raise ValueError(
                "time-ranged cues seek requires a Cues index"
            )
    if time_range_ms is None:
        out = []
        for _es, b, e in clusters:
            cts, recs = _mkv_parse_cluster(payload, b, e, vtrack)
            if _touched is not None:
                _touched.append((b, e))
            for off, sz, key, rel in recs:
                out.append(
                    (off, sz, key, (cts + rel) * scale // 1_000_000)
                )
        return out
    lo_ms, hi_ms = time_range_ms
    # non-decreasing positions: several CuePoints may legally index
    # DIFFERENT keyframes of the SAME cluster (equal positions); a
    # position going backwards is a crafted/stale index
    for (t0, p0), (t1, p1) in zip(cues, cues[1:]):
        if t1 < t0 or p1 < p0:
            raise ValueError(
                "Cues index is not sorted — refusing a crafted/stale index"
            )
    starts = {es: i for i, (es, _b, _e) in enumerate(clusters)}
    start_idx = 0
    anchor_ticks = None  # the chosen cue's time, validated at parse
    for t, pos in cues:
        if t * scale <= lo_ms * 1_000_000:
            ap = seg + pos
            if ap not in starts:
                raise ValueError(
                    "cue position does not start a cluster — refusing a "
                    "crafted/stale index"
                )
            start_idx = starts[ap]
            anchor_ticks = t
        else:
            break
    try:
        out = []
        prev_cts = None
        for _es, b, e in clusters[start_idx:]:
            cts, recs = _mkv_parse_cluster(
                payload, b, e, vtrack, seek_validate=True
            )
            if _touched is not None:
                _touched.append((b, e))
            if prev_cts is None and anchor_ticks is not None:
                # the skip-safety proof needs CueTime ≥ its cluster's
                # ts (CueTime is a block timestamp, ≥ cts under
                # rel ≥ 0); the anchor cluster is parsed, so a lying
                # index is caught here instead of trusted
                if cts > anchor_ticks:
                    raise _MkvSeekNonConformant(
                        "anchor CueTime below its cluster timestamp"
                    )
            if prev_cts is not None and cts <= prev_cts:
                raise _MkvSeekNonConformant(
                    "cluster timestamps not monotone"
                )
            prev_cts = cts
            if cts * scale >= (hi_ms + 1) * 1_000_000:
                break  # monotone ⇒ every later block is past the range
            for off, sz, key, rel in recs:
                out.append(
                    (off, sz, key, (cts + rel) * scale // 1_000_000)
                )
        return out
    except _MkvSeekNonConformant:
        return _mkv_sample_index(payload, None, _touched)


def _mkv_has_cues(payload: bytes) -> bool:
    """Seek-path gate (the _mp4_has_sidx twin): True when the segment
    carries a Cues index for the video track. Runs the header-only
    structural scan — no frame bytes are read."""
    return bool(_mkv_segment_scan(payload)[3])


def mkv_frame_sample(
    spark: SparkSession, media: DataFrame | None = None
) -> DataFrame:
    """All presented keyframes of every Matroska payload — the
    q_mm_frame_sample contract (media_id, frame_idx, frame_ts_ms,
    frame_sha) over the EBML walk. ``media`` lets callers run it over
    their own (media_id, payload) corpus, e.g. a binaryFile scan."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_ts_ms": [],
                "frame_sha": [],
            }
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                hx = payload.hex().upper()
                k = 0
                for off, sz, key, pts_ms in _mkv_sample_index(payload):
                    if not key or pts_ms < 0:
                        continue
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(pts_ms)
                    out["frame_sha"].append(
                        hashlib.sha256(
                            hx[off * 2 : (off + sz) * 2].encode()
                        ).hexdigest()
                    )
                    k += 1
            yield pd.DataFrame(out)

    src = media if media is not None else load_media_mkv(spark)
    return src.select("media_id", "payload").mapInPandas(sample, schema)


def mkv_frame_sample_range(
    spark: SparkSession,
    lo_ms: int,
    hi_ms: int,
    media: DataFrame | None = None,
) -> DataFrame:
    """Time-ranged keyframe sampler over the Matroska corpus — the
    frame_sample_range twin: payloads with a Cues index are SOUGHT
    (only covering cluster byte ranges parsed); everything else falls
    back to the full EBML walk and filters. frame_idx is the keyframe
    ordinal WITHIN the range."""
    if lo_ms > hi_ms:
        raise ValueError(f"empty time range ({lo_ms} > {hi_ms})")
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ts_ms", T.LongType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def sample_range(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_ts_ms": [],
                "frame_sha": [],
            }
            for _, row in pdf.iterrows():
                payload = bytes(row["payload"])
                hx = payload.hex().upper()
                # no_cues="full": un-indexed payloads take the full
                # walk in ONE structural scan (the former has-cues
                # pre-gate parsed every header twice per file)
                idx = _mkv_sample_index(
                    payload,
                    time_range_ms=(lo_ms, hi_ms),
                    no_cues="full",
                )
                k = 0
                for off, sz, key, pts_ms in idx:
                    if not key or pts_ms < 0 or not lo_ms <= pts_ms <= hi_ms:
                        continue
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(pts_ms)
                    out["frame_sha"].append(
                        hashlib.sha256(
                            hx[off * 2 : (off + sz) * 2].encode()
                        ).hexdigest()
                    )
                    k += 1
            yield pd.DataFrame(out)

    src = media if media is not None else load_media_mkv(spark)
    return src.select("media_id", "payload").mapInPandas(
        sample_range, schema
    )


# the window the r16 registration will pin: slices INTO most fixture
# rows (partial cluster coverage), sits exactly ON a coarse-tick
# keyframe at 700 ms (row 9005), leaves row 9006 entirely outside, and
# routes the no-cues row (9003) and the negative-rel row (9007) through
# the full-walk fallback
_MKV_FSR_LO_MS, _MKV_FSR_HI_MS = 120, 700

# Ready-to-register DuckDB oracle (r16 ledger): generation-time truth —
# the presented keyframes whose pts falls in the window, re-sliced from
# the muxer's OWN bookkeeping coordinates, independent of the EBML walk.
MKV_FRAME_RANGE_ORACLE = f"""
SELECT media_id,
       CAST(row_number() OVER (PARTITION BY media_id ORDER BY i) - 1
            AS INTEGER) AS frame_idx,
       CAST(sample_pts_ms[i + 1] AS BIGINT) AS frame_ts_ms,
       sha256(substring(hx, sample_off[i + 1] * 2 + 1,
                        sample_size[i + 1] * 2)) AS frame_sha
FROM (
  SELECT media_id, hex(payload) AS hx,
         sample_off, sample_size, sample_pts_ms, keyframe,
         unnest(range(len(sample_off))) AS i
  FROM read_parquet('{MEDIA_MKV_PARQUET}')
)
WHERE keyframe[i + 1]
  AND sample_pts_ms[i + 1] BETWEEN {_MKV_FSR_LO_MS} AND {_MKV_FSR_HI_MS}
"""


@register(
    "q_mm_mkv_frame_sample_range",
    oracle=MKV_FRAME_RANGE_ORACLE,
    tags=("multimodal", "mapinpandas"),
)
def q_mm_mkv_frame_sample_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ranged keyframe sampling over the Matroska fixture corpus
    at a fixed [120, 700] ms window — cued rows take the Cues seek, the
    no-cues and non-conformant rows take the full-walk fallback, and
    one row sits entirely outside the window. Oracle-checked locally by
    tests/test_round15_mkv.py."""
    return mkv_frame_sample_range(spark, _MKV_FSR_LO_MS, _MKV_FSR_HI_MS)
