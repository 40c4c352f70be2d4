"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.13).

Media is modeled as opaque ``binary`` payload columns + typed metadata
structs, processed by Arrow-batched ``mapInPandas``. Two media kinds are
decoded for real with dependency-free pure-Python parsers — uncompressed
24-bit BMP images (per-channel means + luminance statistics) and 16-bit
PCM WAV audio (RMS / zero-crossing / peak) — so the path from raw bytes to
content features is genuinely exercised. Compressed codecs (JPEG/MP3/video)
are stubbed because this container has no media libraries (clearly marked
below); swap ``_decode_stub`` for PIL/libav calls and nothing else changes.

Scale notes:
* payloads stay in executors end-to-end (no driver collects);
* ``spark.sql.files.maxPartitionBytes`` bounds batch memory; media rows are
  large so repartition to ~128 MB of payload per task before heavy UDFs;
* Arrow moves the bytes Python-side once per batch, not per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def _fixture_partitions(n: int) -> int:
    """Partition count for bounded synthetic fixtures: a handful of rows
    spread over defaultParallelism (32 here) makes every downstream
    mapInPandas stage spawn a Python runner per mostly-empty partition —
    measured at 8-17 s of pure worker-management wall per query. Real
    media tables inherit their partitioning from the scan; only the
    driver-built fixtures need this cap."""
    return max(1, min(8, n // 8 + 1))


def synthetic_media(spark, n: int = 64, payload_bytes: int = 1024) -> DataFrame:
    """Deterministic fake media table (payload = repeatable byte pattern)
    so the plumbing is testable without codecs."""
    rows = spark.range(n, numPartitions=_fixture_partitions(n)).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
    )
    payload = F.repeat(
        F.concat(F.lit("p"), (F.col("media_id") % 251).cast("string")),
        payload_bytes // 4,
    ).cast("binary")
    return rows.select(
        "media_id",
        "kind",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def encode_bmp(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal 24-bit BI_RGB BMP encoder (test fixture / synthetic media).

    ``pixels`` is rows of (r, g, b), top-down; rows are written bottom-up
    with 4-byte padding per the format."""
    import struct

    height = len(pixels)
    width = len(pixels[0])
    row_pad = (4 - (width * 3) % 4) % 4
    body = b"".join(
        b"".join(bytes((b, g, r)) for r, g, b in row) + b"\x00" * row_pad
        for row in reversed(pixels)
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def encode_wav(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Minimal 16-bit mono PCM WAV encoder (test fixture / synthetic media)."""
    import array
    import struct

    data = array.array("h", samples).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def encode_png(
    pixels: list[list[tuple[int, int, int]]],
    row_filters: list[int] | None = None,
) -> bytes:
    """Minimal 8-bit RGB PNG encoder (test fixture / synthetic media) —
    stdlib only (zlib for deflate + crc32). ``row_filters`` optionally
    forces a per-row filter type (0-4, cycled) so tests can exercise every
    unfilter path in :func:`_decode_png`; default is filter 0 everywhere."""
    import struct
    import zlib

    height = len(pixels)
    width = len(pixels[0])

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    prev = bytes(width * 3)
    for y, row in enumerate(pixels):
        cur = bytes(v for px in row for v in px)
        ft = row_filters[y % len(row_filters)] if row_filters else 0
        raw.append(ft)
        if ft == 0:
            raw += cur
        elif ft == 1:  # Sub
            raw += bytes(
                (cur[i] - (cur[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(len(cur))
            )
        elif ft == 2:  # Up
            raw += bytes((cur[i] - prev[i]) & 0xFF for i in range(len(cur)))
        elif ft == 3:  # Average
            raw += bytes(
                (cur[i] - (((cur[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(len(cur))
            )
        elif ft == 4:  # Paeth
            raw += bytes(
                (
                    cur[i]
                    - _paeth(
                        cur[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(len(cur))
            )
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = cur
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left, above, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(payload: bytes) -> list[float]:
    """Real decode: 8-bit RGB/RGBA non-interlaced PNG → 8-dim content
    feature [width, height, mean_r, mean_g, mean_b, lum_mean, lum_std,
    4.0]. Pure stdlib: IHDR/IDAT chunk walk, zlib inflate, full
    unfilter (None/Sub/Up/Average/Paeth). Alpha, if present, is ignored
    for the channel statistics. Palette/16-bit/interlaced variants raise
    — fail loudly rather than silently mis-decode."""
    import math
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    width = height = channels = None
    idat: list[bytes] = []
    pos = 8
    while pos + 12 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in (2, 6) or comp or filt or inter:
                raise ValueError(
                    f"unsupported PNG variant (depth={depth}, color_type={color}, "
                    f"interlace={inter})"
                )
            channels = 3 if color == 2 else 4
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG scanline data length mismatch")
    sr = sg = sb = 0
    lum_s = lum_s2 = 0.0
    prev = bytearray(stride)
    for y in range(height):
        off = y * (1 + stride)
        ft = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ft == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        for x in range(width):
            r, g, b = line[x * channels : x * channels + 3]
            sr += r
            sg += g
            sb += b
            lum = 0.299 * r + 0.587 * g + 0.114 * b
            lum_s += lum
            lum_s2 += lum * lum
        prev = line
    n = width * height
    lum_mean = lum_s / n
    lum_var = max(lum_s2 / n - lum_mean * lum_mean, 0.0)
    return [
        float(width),
        float(height),
        sr / n,
        sg / n,
        sb / n,
        lum_mean,
        math.sqrt(lum_var),
        4.0,
    ]


def _decode_bmp(payload: bytes) -> list[float]:
    """Real decode: uncompressed 24-bit BI_RGB BMP → 8-dim content feature
    [width, height, mean_r, mean_g, mean_b, lum_mean, lum_std, 2.0]."""
    import math
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    _, width, height, _, bpp, compression = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    sr = sg = sb = 0
    lum_s = lum_s2 = 0.0
    for y in range(height):
        row = offset + (height - 1 - y if bottom_up else y) * row_stride
        for x in range(width):
            b, g, r = payload[row + 3 * x : row + 3 * x + 3]
            sr += r
            sg += g
            sb += b
            lum = 0.299 * r + 0.587 * g + 0.114 * b
            lum_s += lum
            lum_s2 += lum * lum
    n = width * height
    lum_mean = lum_s / n
    lum_var = max(lum_s2 / n - lum_mean * lum_mean, 0.0)
    return [
        float(width),
        float(height),
        sr / n,
        sg / n,
        sb / n,
        lum_mean,
        math.sqrt(lum_var),
        2.0,
    ]


def _decode_wav(payload: bytes) -> list[float]:
    """Real decode: 16-bit PCM WAV → 8-dim content feature
    [sample_rate, n_samples, channels, rms, zero_cross_rate, peak, mean, 3.0]."""
    import array
    import math
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV variant (format={audio_format}, bits={bits})")
    samples = array.array("h")
    samples.frombytes(data[: len(data) - len(data) % 2])
    n = len(samples) or 1
    s = s2 = 0
    zc = 0
    peak = 0
    prev_neg = samples[0] < 0 if samples else False
    for v in samples:
        s += v
        s2 += v * v
        a = -v if v < 0 else v
        if a > peak:
            peak = a
        neg = v < 0
        if neg != prev_neg:
            zc += 1
        prev_neg = neg
    return [
        float(sample_rate),
        float(len(samples)),
        float(channels),
        math.sqrt(s2 / n),
        zc / n,
        float(peak),
        s / n,
        3.0,
    ]


def _decode(payload: bytes, kind: str) -> list[float]:
    """Dispatch on magic bytes: real BMP/PNG/JPEG/WAV parsing when the
    payload is one, the documented stub otherwise (MP3/video codecs
    absent here)."""
    if payload is None:
        raise NotImplementedError("no payload to decode")
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    return _decode_stub(payload, kind)


def encode_mp3_frames(n_frames: int = 8, id3_bytes: int = 0) -> bytes:
    """Minimal CBR MPEG1 Layer-III byte stream (test fixture) at 128 kbit/s
    and 44.1 kHz: valid 4-byte frame headers with zeroed side-info/main
    data, optionally preceded by an ID3v2 tag of ``id3_bytes`` payload —
    enough structure for header probing; NOT decodable audio (the codec
    stays stubbed)."""
    bitrate_idx, rate_idx = 9, 0
    bitrate = _MP3_BITRATE_V1_L3[bitrate_idx]
    rate = _MP3_RATES[3][rate_idx]
    frame_len = 144 * bitrate * 1000 // rate
    hdr = bytes([0xFF, 0xFB, (bitrate_idx << 4) | (rate_idx << 2), 0x00])
    out = b""
    if id3_bytes:
        sz = id3_bytes
        out += b"ID3" + bytes([3, 0, 0,
                               (sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                               (sz >> 7) & 0x7F, sz & 0x7F])
        out += b"\x00" * id3_bytes
    for _ in range(n_frames):
        out += hdr + b"\x00" * (frame_len - 4)
    return out


def synthetic_decodable_media(spark, n: int = 24) -> DataFrame:
    """Deterministic media table whose payloads are REAL encoded formats:
    even ids get an image cycling through uncompressed 24-bit BMP
    (i%6==0), zlib-compressed 8-bit RGB PNG with cycled row filters
    (i%6==2), and baseline-DCT JPEG (i%6==4, 8x8 so padding stays
    exercised elsewhere); odd ids a 64-sample 16-bit PCM WAV (square
    wave, id-derived amplitude). `extract_features` thus exercises every
    true decode path end-to-end — inflate+unfilter AND
    Huffman+dequant+IDCT. Driver-side generation is a bounded
    test/synthetic fixture (n rows), not a data path."""
    from .jpeg import encode_jpeg

    rows = []
    for i in range(n):
        if i % 2 == 0:
            c = (i * 7 % 256, i * 13 % 256, i * 29 % 256)
            if i % 6 == 0:
                px = [[c] * 4] * 4
                payload, mime = encode_bmp(px), "image/bmp"
                w = h = 4
            elif i % 6 == 2:
                px = [[c] * 4] * 4
                payload, mime = encode_png(px, row_filters=[0, 1, 2, 3]), "image/png"
                w = h = 4
            else:
                px = [[c] * 8] * 8
                payload, mime = encode_jpeg(px, quality=90), "image/jpeg"
                w = h = 8
            kind, dur = "image", None
        else:
            if i % 6 == 3:
                # planted MP3 frame stream (header-probe coverage); the
                # MIME lies on every other one to exercise magic-byte wins
                payload = encode_mp3_frames(
                    n_frames=4 + i % 3, id3_bytes=0 if i % 12 == 3 else 32
                )
                mime = "audio/mpeg" if i % 12 == 3 else "image/png"
                kind, w, h, dur = "audio", None, None, 8
            else:
                amp = 500 + 100 * i
                payload = encode_wav(
                    [amp if j % 8 < 4 else -amp for j in range(64)]
                )
                kind, mime, w, h, dur = "audio", "audio/wav", None, None, 8
        rows.append((i, kind, bytearray(payload), mime, w, h, dur))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(
        _fixture_partitions(len(rows))
    )


def _decode_stub(payload: bytes, kind: str) -> list[float]:
    """STUB: deterministic fake "decode + featurize" for formats whose
    codecs are not in this container (MP3/video).

    Real deployment: soundfile.read / pyav frame sample → resize → model
    features. Not available here, so we emit a repeatable 8-dim
    byte-statistic vector instead. Raises on None payload like a real
    decoder would. Every IMAGE format the fixture emits is now a real
    parser (BMP/PNG/JPEG — see ``_decode_bmp`` / ``_decode_png`` /
    ``jpeg.decode_jpeg``), as is WAV audio (``_decode_wav``).
    """
    if payload is None:
        raise NotImplementedError("no payload to decode")
    n = len(payload)
    return [
        float(n),
        float(payload[0]) if n else 0.0,
        float(payload[-1]) if n else 0.0,
        float(sum(payload[:64]) % 997),
        float(len(kind)),
        float(payload[n // 2]) if n else 0.0,
        float(n % 251),
        1.0,
    ]


def _probe_one(payload: bytes) -> tuple:
    """(format, width, height, sample_rate, n_samples) from HEADERS ONLY —
    no inflate, no entropy decode, no pixel loop. For JPEG this walks
    markers to SOF0 and stops; for PNG it reads the 13 IHDR bytes; WAV
    the fmt/data chunk sizes."""
    import struct as _s

    if payload is None or len(payload) < 8:
        return ("unknown", None, None, None, None, None)
    if payload[:2] == b"BM" and len(payload) >= 26:
        _, w2, h2 = _s.unpack_from("<IiI", payload, 14)
        return ("bmp", w2, abs(_s.unpack_from("<i", payload, 22)[0]), None, None, None)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w2, h2 = _s.unpack_from(">II", payload, 16)
        return ("png", w2, h2, None, None, None)
    if payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                break
            marker = payload[pos + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg = _s.unpack_from(">H", payload, pos + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h2, w2 = _s.unpack_from(">HH", payload, pos + 5)
                return ("jpeg", w2, h2, None, None, None)
            pos += 2 + seg
        return ("jpeg", None, None, None, None, None)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, rate, nsamp = 12, None, None
        while pos + 8 <= len(payload):
            cid, size = _s.unpack_from("<4sI", payload, pos)
            if cid == b"fmt " and pos + 16 <= len(payload):
                rate = _s.unpack_from("<I", payload, pos + 12)[0]
            elif cid == b"data":
                nsamp = size // 2  # 16-bit mono
            pos += 8 + size + (size & 1)
        return ("wav", None, None, rate, nsamp, None)
    mp3 = _probe_mp3(payload)
    if mp3 is not None:
        return mp3
    return ("unknown", None, None, None, None, None)


#: MPEG audio header tables (public spec, ISO/IEC 11172-3 / 13818-3):
#: bitrate kbps by [version-group][layer][index], sample rate by version.
_MP3_BITRATE_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                      224, 256, 320)
_MP3_BITRATE_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                      144, 160)
_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG1
              2: (22050, 24000, 16000),   # MPEG2
              0: (11025, 12000, 8000)}    # MPEG2.5


def _probe_mp3(payload: bytes):
    """MP3 frame-HEADER parse (round 7 — audio parity with the JPEG SOF
    walk): skip an optional ID3v2 tag (syncsafe size), sync on the first
    0xFFEx frame, read version/layer/bitrate/sample-rate from the 4-byte
    header, and estimate total samples from the CBR frame length — no
    entropy decode (the codec itself stays stubbed; probing is routing,
    not decoding). Returns None when the payload is not MPEG audio."""
    import struct as _s

    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        sz = payload[6:10]
        if all(b < 0x80 for b in sz):
            pos = 10 + ((sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3])
    if pos + 4 > len(payload):
        return None
    b0, b1, b2, _b3 = _s.unpack_from("BBBB", payload, pos)
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = (b1 >> 3) & 3          # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (b1 >> 1) & 3            # 1=Layer III
    if version == 1 or layer != 1:   # reserved version / not Layer III
        return None
    bitrate_idx = (b2 >> 4) & 15
    rate_idx = (b2 >> 2) & 3
    padding = (b2 >> 1) & 1
    if bitrate_idx in (0, 15) or rate_idx == 3:
        return None                  # free-form / invalid
    table = _MP3_BITRATE_V1_L3 if version == 3 else _MP3_BITRATE_V2_L3
    bitrate = table[bitrate_idx]
    rate = _MP3_RATES[version][rate_idx]
    spf = 1152 if version == 3 else 576   # samples per Layer-III frame
    coef = 144 if version == 3 else 72
    frame_len = coef * bitrate * 1000 // rate + padding
    n_frames = max(1, (len(payload) - pos) // max(1, frame_len))
    return ("mp3", None, None, rate, spf * n_frames, bitrate)


PROBE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def probe_media(media: DataFrame) -> DataFrame:
    """ffprobe-style metadata triage over a media column: detect the real
    container format from magic bytes and read dimensions/sample counts
    from HEADERS ONLY (PNG IHDR, JPEG SOF marker walk, BMP/WAV headers,
    MP3 frame header incl. bitrate/sample-rate, with ID3v2 skip) — no
    decompression, no pixel/sample loop.

    This is the pass a 100 TB media pipeline runs FIRST: it costs header
    bytes per row (microseconds vs milliseconds for a decode), and its
    output drives routing — undecodable/mislabeled rows quarantined,
    oversized assets sent to a resize tier, the rest to the featurizer.
    Same Arrow mapInPandas boundary as `extract_features`."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            probed = [_probe_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "format": [p[0] for p in probed],
                    "width": [p[1] for p in probed],
                    "height": [p[2] for p in probed],
                    "sample_rate": [p[3] for p in probed],
                    "n_samples": [p[4] for p in probed],
                    "bitrate_kbps": [p[5] for p in probed],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        probe, PROBE_SCHEMA
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Decode/featurize media payloads via Arrow-batched mapInPandas.

    The UDF consumes (media_id, kind, payload) batches and emits fixed-width
    feature vectors — the exact shape an image-resize / audio-fingerprint /
    frame-sample stage has at scale.
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode(p, k) if p is not None else None
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "feature": feats,
                }
            )

    cols = media.select("media_id", "kind", "payload")
    return cols.mapInPandas(featurize, FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mime", StringType(), True),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("payload", BinaryType(), True),
    ]
)


def _bmp_pixels(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode an uncompressed 24-bit BMP to top-down (r, g, b) pixel rows
    (the full-image sibling of `_decode_bmp`'s statistics pass)."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    _, width, height, _, bpp, compression = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    row_stride = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        src = offset + (height - 1 - y if bottom_up else y) * row_stride
        row = []
        for x in range(width):
            b, g, r = payload[src + 3 * x : src + 3 * x + 3]
            row.append((r, g, b))
        rows.append(row)
    return width, height, rows


def _resize_bmp(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize, BMP in → BMP out (pure Python; a real
    deployment swaps PIL/opencv here with the same signature)."""
    w, h, px = _bmp_pixels(payload)
    resized = [
        [px[y * h // out_h][x * w // out_w] for x in range(out_w)]
        for y in range(out_h)
    ]
    return encode_bmp(resized)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image-resize stage over binary payloads (Arrow-batched mapInPandas).

    BMP payloads are resized FOR REAL (nearest-neighbor); other image
    codecs have no decoder in this container, so their output payload is
    NULL — the schema, batching, and partition shape are exactly what a
    PIL/opencv-backed version has, and swapping `_resize_bmp` is the only
    change. Non-image rows are dropped at the scan (pushed filter)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs, mimes = [], [], [], []
            for p in pdf["payload"]:
                if p is not None and bytes(p[:2]) == b"BM":
                    payloads.append(_resize_bmp(bytes(p), width, height))
                    ws.append(width)
                    hs.append(height)
                    mimes.append("image/bmp")
                else:
                    payloads.append(None)
                    ws.append(None)
                    hs.append(None)
                    mimes.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "mime": mimes,
                }
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(do, RESIZED_SCHEMA)


def encode_video(frames: list[bytes]) -> bytes:
    """Minimal deterministic video container (test fixture): magic 'YRV1',
    frame count, per-frame lengths, then concatenated frame payloads
    (each frame a BMP). Stands in for a real container so the
    frame-sampling PLUMBING (multi-row-per-input mapInPandas, per-frame
    payload rows) is genuinely exercised without libav."""
    import struct

    return (
        b"YRV1"
        + struct.pack("<I", len(frames))
        + b"".join(struct.pack("<I", len(f)) for f in frames)
        + b"".join(frames)
    )


def _video_frames(payload: bytes) -> list[bytes]:
    import struct

    if payload[:4] != b"YRV1":
        raise ValueError("not a YRV1 container")
    (n,) = struct.unpack_from("<I", payload, 4)
    lens = struct.unpack_from(f"<{n}I", payload, 8)
    pos = 8 + 4 * n
    out = []
    for ln in lens:
        out.append(payload[pos : pos + ln])
        pos += ln
    return out


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling stage: one output ROW per kept frame (idx % every_n
    == 0) — the row-expanding mapInPandas shape of real video pipelines
    (a 1 M-video table becomes a 30 M-frame table; Arrow batches bound
    memory and the expansion happens executor-side, never on the driver).
    Unknown containers yield zero rows for that input (documented codec
    gap, same policy as `resize_images`)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None or bytes(p[:4]) != b"YRV1":
                    continue
                for i, frame in enumerate(_video_frames(bytes(p))):
                    if i % every_n == 0:
                        ids.append(mid)
                        idxs.append(i)
                        payloads.append(frame)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "payload": payloads,
                }
            )

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(do, FRAMES_SCHEMA)


def synthetic_video_media(spark, n: int = 8, frames_per_video: int = 6) -> DataFrame:
    """Deterministic videos: each frame a solid-color 4x4 BMP whose color
    encodes (video id, frame idx) — so sampled frames are verifiable
    pixel-for-pixel. Bounded driver-side fixture generation."""
    rows = []
    for i in range(n):
        frames = [
            encode_bmp([[( (i * 31 + j * 17) % 256, j % 256, i % 256)] * 4] * 4)
            for j in range(frames_per_video)
        ]
        rows.append(
            (i, "video", bytearray(encode_video(frames)), "video/x-yrv1", 4, 4, frames_per_video * 40)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(
        _fixture_partitions(len(rows))
    )
