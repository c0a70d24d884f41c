"""Codec-free media decode over opaque binary payload columns.

The reference pipeline is text/JSON-LD-only; a training-data engine also
carries media payloads.  The payload is an opaque ``binary`` column and
decode runs as one Arrow-batched ``mapInPandas`` pass, so each executor
touches the bytes exactly once.

Only container formats that need no codec library are decoded: binary
PPM/PGM, uncompressed 24-bit BMP and PCM16 WAV, parsed with ``struct``.
Each row yields integer aggregates that a DuckDB oracle replays from the
fixture generator's formulas.  Compressed codecs (png/jpeg/mp4) need
Pillow or ffmpeg, which this package does not depend on, so
``decode_media_real`` raises ``NotImplementedError`` for them.

Media rows are large and skewed: ``decode_media_real`` can repartition
by ``pmod(xxhash64(payload_id), N)`` before the decode pass (uniform
bytes per task, no mega-file hot partition).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

REAL_DECODED_SCHEMA = (
    "payload_id string, mime string, width int, height int, "
    "sample_rate int, n_units bigint, sum_val bigint, duration_ms int"
)

#: integer Rec.709-style luma — exactly mirrored by the DuckDB oracle
#: ((2126*r + 7152*g + 722*b) // 10000), so aggregate compares are
#: integer-exact with no float formatting hazards
def _luma(r: int, g: int, b: int) -> int:
    return (2126 * r + 7152 * g + 722 * b) // 10000


def _pnm_header(payload: bytes):
    """Parse a binary netpbm header (P5/P6): magic, width, height,
    maxval — whitespace- and comment-tolerant.  Returns (magic, w, h,
    maxval, offset-of-raster)."""
    toks: list[bytes] = []
    i = 0
    while len(toks) < 4:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated netpbm header")
        toks.append(payload[i:j])
        i = j
    # exactly ONE whitespace byte separates maxval from the raster
    return (toks[0].decode("ascii"), int(toks[1]), int(toks[2]),
            int(toks[3]), i + 1)


def decode_ppm(payload: bytes) -> tuple[int, int, int, int]:
    """Decode binary PPM (P6, RGB) or PGM (P5, gray), maxval ≤ 255 →
    (width, height, n_pixels, sum_luma)."""
    magic, w, h, maxv, off = _pnm_header(payload)
    if magic not in ("P5", "P6") or maxv > 255:
        raise ValueError(f"unsupported netpbm variant {magic}/maxval={maxv}")
    n = w * h
    px = payload[off:off + n * (3 if magic == "P6" else 1)]
    if len(px) < n * (3 if magic == "P6" else 1):
        raise ValueError("truncated netpbm raster")
    if magic == "P5":
        return w, h, n, sum(px)
    s = 0
    for k in range(0, 3 * n, 3):
        s += _luma(px[k], px[k + 1], px[k + 2])
    return w, h, n, s


def decode_bmp(payload: bytes) -> tuple[int, int, int, int]:
    """Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up
    or top-down) → (width, height, n_pixels, sum_luma)."""
    import struct

    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_sz, w, h_raw = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_sz < 40 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP (hdr={hdr_sz} bpp={bpp} comp={compression})")
    h = abs(h_raw)
    row_sz = ((w * 3 + 3) // 4) * 4
    if len(payload) < pix_off + row_sz * h:
        raise ValueError("truncated BMP pixel array")
    s = 0
    for row in range(h):
        base = pix_off + row * row_sz
        for x in range(w):
            b, g, r = payload[base + 3 * x:base + 3 * x + 3]
            s += _luma(r, g, b)
    return w, h, w * h, s


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """Decode a PCM 16-bit RIFF/WAVE file (any channel count) →
    (sample_rate, n_frames, sum_abs_amplitude-over-all-channels,
    duration_ms).  Walks the chunk list properly (fmt may not be
    first; LIST/fact chunks are skipped)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_tag != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (fmt={fmt_tag} bits={bits}) — PCM16 only")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)   # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    n_samp = len(data) // 2
    vals = struct.unpack(f"<{n_samp}h", data[:n_samp * 2])
    n_frames = n_samp // channels
    sum_abs = sum(abs(v) for v in vals)
    return rate, n_frames, sum_abs, n_frames * 1000 // rate


#: compressed codecs are absent on purpose: decoding them needs
#: Pillow/ffmpeg, so their mimes raise in ``decode_media_real``
_REAL_DECODERS = {
    "image/x-portable-pixmap": decode_ppm,
    "image/x-portable-graymap": decode_ppm,
    "image/bmp": decode_bmp,
    "audio/wav": decode_wav,
}


def decode_media_real(media: DataFrame,
                      repartition_to: int | None = None) -> DataFrame:
    """REAL decode over the codec-free formats via one Arrow-batched
    ``mapInPandas`` pass: netpbm/BMP rows emit (width, height,
    n_pixels, sum_luma), WAV rows (sample_rate, n_frames,
    sum_abs_amplitude, duration_ms) — integer aggregates, so the DuckDB
    oracle replaying the generator formulas compares exactly.  A mime
    outside the codec-free set raises NotImplementedError."""
    if repartition_to:
        media = media.repartition(
            repartition_to, F.pmod(F.xxhash64("payload_id"), F.lit(repartition_to))
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, mime, payload in zip(
                pdf["payload_id"], pdf["mime"], pdf["payload"]
            ):
                dec = _REAL_DECODERS.get(mime)
                if dec is None:
                    raise NotImplementedError(
                        f"real decode of {mime} requires a codec library "
                        "absent in this container")
                payload = bytes(payload)
                if dec is decode_wav:
                    rate, n, s, dur = dec(payload)
                    rows.append((pid, mime, 0, 0, rate, n, s, dur))
                else:
                    w, h, n, s = dec(payload)
                    rows.append((pid, mime, w, h, 0, n, s, 0))
            yield pd.DataFrame(
                rows, columns=["payload_id", "mime", "width", "height",
                               "sample_rate", "n_units", "sum_val",
                               "duration_ms"],
            )

    return media.mapInPandas(run, schema=REAL_DECODED_SCHEMA)


# -- deterministic real-format fixtures (arithmetic pixel/sample values
#    so a SQL oracle can replay them without parsing bytes) --------------

def encode_ppm_fixture(i: int) -> tuple[str, bytes, int, int]:
    w, h = 8 + (i % 8) * 4, 8 + (i % 5) * 4
    px = bytearray()
    for j in range(w * h):
        px += bytes(((i + 3 * j) % 256, (2 * i + 5 * j) % 256,
                     (7 * i + 11 * j) % 256))
    return ("image/x-portable-pixmap",
            b"P6\n# fixture\n%d %d\n255\n" % (w, h) + bytes(px), w, h)


def encode_bmp_fixture(i: int) -> tuple[str, bytes, int, int]:
    import struct

    w, h = 6 + (i % 6) * 2, 4 + (i % 4) * 2
    row_sz = ((w * 3 + 3) // 4) * 4
    pix = bytearray(row_sz * h)
    for y in range(h):                      # stored bottom-up
        base = (h - 1 - y) * row_sz
        for x in range(w):
            j = y * w + x
            r, g, b = ((i + 3 * j) % 256, (2 * i + 5 * j) % 256,
                       (7 * i + 11 * j) % 256)
            pix[base + 3 * x:base + 3 * x + 3] = bytes((b, g, r))
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                         2835, 2835, 0, 0))
    return "image/bmp", hdr + bytes(pix), w, h


def encode_wav_fixture(i: int) -> tuple[str, bytes, int, int]:
    import struct

    rate, ns = 8000 + (i % 3) * 4000, 200 + (i % 50) * 10
    data = b"".join(
        struct.pack("<h", ((i * 31 + j * 17) % 2001) - 1000)
        for j in range(ns)
    )
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
           + b"data" + struct.pack("<I", len(data)))
    return "audio/wav", hdr + data, rate, ns


def gen_media_real(spark, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic table of REAL container-format payloads (PPM / BMP /
    PCM WAV round-robin by id) whose pixel/sample values follow closed
    arithmetic formulas — decodable by the real parsers above AND
    replayable by a pure-SQL oracle."""
    rng = spark.range(0, n, 1, partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in (int(x) for x in pdf["id"]):
                enc = (encode_ppm_fixture, encode_bmp_fixture,
                       encode_wav_fixture)[i % 3]
                mime, payload, *_ = enc(i)
                rows.append((f"m{i:06d}", mime, payload))
            yield pd.DataFrame(rows, columns=["payload_id", "mime", "payload"])

    return rng.mapInPandas(
        gen, schema="payload_id string, mime string, payload binary")
