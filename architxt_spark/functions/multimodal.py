"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata.

Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested.  Codec status: PNG/JPEG/GIF dimensions
and WAV channel/rate/duration decode for REAL with the stdlib (struct
header reads, a JPEG SOF marker walk, the ``wave`` module) — per-row in
the Arrow boundary and, for PNG, as a pure JVM codegen column op
(:func:`png_dims_cols`).  PNG, GIF and JPEG PIXELS
decode for real too (:func:`decode_png_pixels`: zlib inflate + the
five RFC 2083 scanline filters, stdlib-only — the FULL still-image
matrix as of r11.5: color types 0/2/3/4/6, bit depths 1–16, Adam7;
:func:`decode_gif_pixels`: pure-Python LZW + palette mapping, first
frame, four-pass de-interlace; :mod:`architxt_spark.functions.jpeg`:
sequential/progressive Huffman AND arithmetic (SOF0/1/2/9/10) decode
at 8- and 12-bit with numpy IDCT, plus lossless SOF3;
:mod:`architxt_spark.functions.tiff`: strips/tiles with
LZW/Deflate/PackBits/CCITT-fax/JPEG-in-TIFF), and WAV SAMPLES
de-interleave for real (:func:`decode_wav_samples`: 8/16/24/32-bit
integer PCM and G.711 µ-law/A-law), with linear-interpolation
RESAMPLING (:func:`resample_pcm`) and MJPEG-in-AVI video FRAME
SAMPLING (:func:`sample_video_frames`: RIFF walk + the in-repo JPEG
codec) on top.  Only the genuinely codec-library-bound shapes remain
gated (inter-frame video codecs, float/compressed audio beyond G.711,
band-limited resampling — pyav / librosa, not in this container):
those raise ``NotImplementedError`` with guidance, and a
clearly-marked deterministic fake keeps the plumbing testable.

Design notes for 100 TB of media:

- media bytes travel as a ``binary`` column next to a ``struct`` metadata
  column — never exploded into rows;
- per-batch work uses ``mapInPandas`` (Arrow zero-copy into the Python
  worker, one batch ≈ ``spark.sql.execution.arrow.maxRecordsPerBatch``);
- partition sizing: media rows are big, so repartition by byte budget
  (``target_partition_bytes``), not row count.
"""

from __future__ import annotations

from typing import Iterator

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

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("meta", StructType([
            StructField("format", StringType(), True),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("duration_ms", LongType(), True),
            StructField("n_bytes", LongType(), True),
        ]), True),
    ]
)

FEATURE_SCHEMA = "media_id string, kind string, feature array<float>, n_bytes long"


def with_byte_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap JVM-side metadata: byte length + content hash (no decode)."""
    return df.withColumn("n_bytes", F.length(F.col(content_col)).cast("long")).withColumn(
        "content_md5", F.md5(F.col(content_col))
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png_dims(content: bytes) -> tuple[int, int]:
    """REAL stdlib PNG header decode: width/height from the IHDR chunk
    (always the first chunk, offset 16, two big-endian uint32s — PNG spec
    §11.2.2).  No codec library needed for dimensions."""
    import struct

    if len(content) < 24 or content[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    if content[12:16] != b"IHDR":
        raise ValueError("not a PNG (first chunk is not IHDR)")
    width, height = struct.unpack(">II", content[16:24])
    return width, height


def decode_wav_meta(content: bytes) -> tuple[int, int, int]:
    """REAL stdlib WAV decode via the ``wave`` module: returns
    ``(n_channels, sample_rate, duration_ms)``.  Handles non-canonical
    chunk layouts because ``wave`` walks the RIFF chunks properly."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        n_channels = w.getnchannels()
        sample_rate = w.getframerate()
        n_frames = w.getnframes()
    return n_channels, sample_rate, n_frames * 1000 // sample_rate


def ulaw_to_linear(b: int) -> int:
    """ITU-T G.711 µ-law byte → 16-bit linear sample (the telephony
    companding); pinned exactly against the stdlib ``audioop`` oracle
    while that module exists."""
    u = ~b & 0xFF
    mag = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
    mag -= 0x84
    return -mag if u & 0x80 else mag


def alaw_to_linear(b: int) -> int:
    """ITU-T G.711 A-law byte → 16-bit linear sample."""
    a = b ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0x0F
    if exp == 0:
        mag = (mant << 4) + 8
    else:
        mag = ((mant << 4) + 0x108) << (exp - 1)
    # A-law's sign sense is inverted vs µ-law: bit 7 SET = positive
    return mag if a & 0x80 else -mag


def linear_to_ulaw(v: int) -> int:
    """16-bit linear → µ-law byte (the fixture-twin direction) — the
    G.711 14-bit form with floor-rounding on negatives, matching the
    ``audioop`` oracle bit-for-bit over the full input range."""
    x = v >> 2  # arithmetic shift: negatives floor, like the codec
    sign = 0
    if x < 0:
        x = -x
        sign = 0x80
    x = min(x, 8158) + 0x21
    exp = x.bit_length() - 6
    mant = (x >> (exp + 1)) & 0x0F
    return (~(sign | (exp << 4) | mant)) & 0xFF


def linear_to_alaw(v: int) -> int:
    """16-bit linear → A-law byte."""
    sign = 0x80 if v >= 0 else 0
    if v < 0:
        v = -v - 1 if v != -32768 else 32767
    v = min(v, 0x7FFF)
    if v < 0x100:
        out = v >> 4
    else:
        exp = v.bit_length() - 9
        out = ((exp + 1) << 4) | ((v >> (exp + 4)) & 0x0F)
    return (out | sign) ^ 0x55


def _parse_g711_wav(content: bytes):
    """Minimal RIFF walk for the formats the stdlib ``wave`` module
    refuses: returns ``(fmt_tag, n_channels, rate, data)`` or None."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(content):
        tag = content[pos:pos + 4]
        (length,) = struct.unpack("<I", content[pos + 4:pos + 8])
        body = content[pos + 8:pos + 8 + length]
        pos += 8 + length + (length & 1)
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
    if fmt is None or data is None:
        return None
    return fmt[0], fmt[1], fmt[2], data


def _ext80_to_int(b: bytes) -> int:
    """80-bit IEEE extended float (the AIFF sample-rate encoding) → int."""
    import struct

    se, hi, lo = struct.unpack(">HII", b[:10])
    exp = se & 0x7FFF
    mant = (hi << 32) | lo
    if exp == 0 and mant == 0:
        return 0
    val = mant * 2.0 ** (exp - 16383 - 63)
    return int(round(-val if se & 0x8000 else val))


def decode_aiff_samples(content: bytes) -> tuple[int, int, list[list[int]]]:
    """REAL AIFF/AIFC decode (the Mac-era archive audio format, EA-IFF
    chunks): big-endian PCM at 8 (signed!) / 16 / 24 / 32 bits reduced
    to the 16-bit view, the ``sowt`` little-endian AIFC variant, and
    the G.711 ``ulaw``/``alaw`` compression types through the same
    audioop-pinned companding tables as WAV.  Returns ``(n_channels,
    sample_rate, samples)`` in the :func:`decode_wav_samples` shape;
    the stdlib ``aifc`` module arbitrates the tests while it exists."""
    import struct

    if content[:4] != b"FORM" or content[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF/AIFC file")
    pos = 12
    comm = None
    data = None
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        (length,) = struct.unpack(">I", content[pos + 4:pos + 8])
        body = content[pos + 8:pos + 8 + length]
        pos += 8 + length + (length & 1)
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            off, _block = struct.unpack(">II", body[:8])
            data = body[8 + off:]
    if comm is None or data is None:
        raise ValueError("AIFF without COMM/SSND chunks")
    n_channels, n_frames, bits = struct.unpack(">HIH", comm[:8])
    rate = _ext80_to_int(comm[8:18])
    comp = comm[18:22] if len(comm) >= 22 else b"NONE"
    comp_l = comp.lower()
    if comp_l in (b"none", b"sowt"):
        width = (bits + 7) // 8
        flat: list[int] = []
        for i in range(0, len(data) - width + 1, width):
            if width == 1:  # AIFF 8-bit is SIGNED (unlike WAV)
                v = data[i]
                flat.append((v - 256 if v >= 128 else v) << 8)
            elif comp_l == b"sowt":  # little-endian 16-bit
                v = (data[i + 1] << 8) | data[i]
                flat.append(v - 0x10000 if v >= 0x8000 else v)
            else:  # big-endian: top two bytes = the 16-bit view
                v = (data[i] << 8) | data[i + 1]
                flat.append(v - 0x10000 if v >= 0x8000 else v)
    elif comp_l in (b"ulaw", b"alaw"):
        table = ulaw_to_linear if comp_l == b"ulaw" else alaw_to_linear
        lut = [table(b) for b in range(256)]
        flat = [lut[b] for b in data]
    else:
        raise NotImplementedError(
            f"AIFC compression {comp!r} needs an audio library; "
            "NONE/sowt/ulaw/alaw decode here"
        )
    flat = flat[: n_frames * n_channels] if n_frames else flat
    return n_channels, rate, [flat[c::n_channels] for c in range(n_channels)]


def decode_wav_samples(content: bytes) -> tuple[int, int, list[list[int]]]:
    """REAL stdlib WAV sample decode: returns ``(n_channels,
    sample_rate, samples)`` with ``samples`` one int list per channel
    (de-interleaved).  Integer PCM at 8 (unsigned → centered), 16, 24,
    and 32 bits (24/32 reduce to the 16-bit view — the top bytes — so
    every path feeds the same fingerprint scale), plus the G.711
    telephony formats µ-law (``wFormatTag`` 7) and A-law (6) via the
    published companding formulas (pinned against the stdlib
    ``audioop`` oracle).  Other compressed codecs stay on the
    external-library path.  Powers the real audio feature leg of
    :func:`extract_features`."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(content), "rb") as w:
            n_channels = w.getnchannels()
            rate = w.getframerate()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error:
        parsed = _parse_g711_wav(content)
        if parsed is None or parsed[0] not in (3, 6, 7):
            raise
        tag, n_channels, rate, raw = parsed
        if tag == 3:  # IEEE float32: scale to the int16 view
            import struct as _struct

            n = len(raw) // 4
            floats = _struct.unpack(f"<{n}f", raw[:4 * n])
            flat = [
                max(-32768, min(32767, int(round(v * 32767.0))))
                for v in floats
            ]
        else:
            table = alaw_to_linear if tag == 6 else ulaw_to_linear
            lut = [table(b) for b in range(256)]
            flat = [lut[b] for b in raw]
        return n_channels, rate, [flat[c::n_channels] for c in range(n_channels)]
    if width == 1:
        flat = [b - 128 for b in raw]
    elif width == 2:
        import array

        a = array.array("h")
        a.frombytes(raw[: len(raw) - (len(raw) % 2)])
        if __import__("sys").byteorder == "big":  # WAV is little-endian
            a.byteswap()
        flat = a.tolist()
    elif width in (3, 4):
        # 24/32-bit integer PCM: top two bytes = the 16-bit view
        flat = []
        for i in range(0, len(raw) - width + 1, width):
            v = (raw[i + width - 1] << 8) | raw[i + width - 2]
            flat.append(v - 0x10000 if v >= 0x8000 else v)
    else:
        raise NotImplementedError(
            f"{8 * width}-bit PCM needs an audio library; the stdlib "
            "path covers 8/16/24/32-bit integer PCM and G.711"
        )
    return n_channels, rate, [flat[c::n_channels] for c in range(n_channels)]


def decode_jpeg_dims(content: bytes) -> tuple[int, int]:
    """REAL stdlib JPEG header decode: walk the marker segments to the
    first start-of-frame (SOF0–SOF15, excluding DHT/DAC/RST markers) and
    read the big-endian height/width (JPEG/JFIF B.2.2).  Dimensions only
    — entropy-coded data never touched, so no codec library needed."""
    import struct

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    i = 2
    n = len(content)
    while i + 4 <= n:
        if content[i] != 0xFF:
            raise ValueError("not a JPEG (lost marker sync)")
        # JPEG permits runs of 0xFF fill bytes between segments (B.1.1.2);
        # the marker code is the first non-0xFF byte after them
        while i + 1 < n and content[i + 1] == 0xFF:
            i += 1
        if i + 4 > n:
            break
        marker = content[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", content[i + 2 : i + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                break
            height, width = struct.unpack(">HH", content[i + 5 : i + 9])
            return width, height
        i += 2 + seg_len
    raise ValueError("not a JPEG (no SOF segment)")


def decode_gif_dims(content: bytes) -> tuple[int, int]:
    """REAL stdlib GIF header decode: logical-screen width/height, two
    little-endian uint16s right after the GIF87a/GIF89a signature."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a") or len(content) < 10:
        raise ValueError("not a GIF (bad signature)")
    width, height = struct.unpack("<HH", content[6:10])
    return width, height


def decode_gif_pixels(content: bytes) -> tuple[int, int, int, bytes]:
    """REAL pure-Python GIF first-frame pixel decode (GIF87a/89a): walks
    the block structure, LZW-decompresses the first image's index
    stream (LSB-first variable-width codes, clear/EOI handling, 12-bit
    cap), and maps indices through the active (local-else-global) color
    table.  Returns ``(width, height, 3, rgb)`` — frame-local
    dimensions, row-major RGB bytes.  Interlaced images de-interlace
    through the four-pass row order (r11.5; GIF89a appendix E); later
    frames of an animation are ignored by design (the thumbnail/feature
    path wants frame 0)."""
    import struct

    if not content or sniff_format(content) != "gif":
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    global_table = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_table = content[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(content):
        block = content[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(content) and content[pos]:
                pos += 1 + content[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack("<HHHHB", content[pos:pos + 9])
            pos += 9
            table = global_table
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = content[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image without a color table")
            mcs = content[pos]
            pos += 1
            data = bytearray()
            while pos < len(content) and content[pos]:
                size = content[pos]
                data += content[pos + 1:pos + 1 + size]
                pos += 1 + size
            pos += 1
            indices = _lzw_decode(bytes(data), mcs, w * h)
            if len(indices) < w * h:
                raise ValueError(
                    f"GIF pixel stream ended early: {len(indices)} of {w * h}"
                )
            if ipacked & 0x40:  # de-interlace the four-pass row order
                ordered = [0] * (w * h)
                src = 0
                for row in _gif_interlace_rows(h):
                    ordered[row * w:(row + 1) * w] = indices[src:src + w]
                    src += w
                indices = ordered
            n_colors = len(table) // 3
            rgb = bytearray(w * h * 3)
            for i, idx in enumerate(indices[: w * h]):
                if idx >= n_colors:
                    raise ValueError(f"GIF index {idx} outside the color table")
                rgb[3 * i:3 * i + 3] = table[3 * idx:3 * idx + 3]
            return w, h, 3, bytes(rgb)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF without an image block")


def _gif_interlace_rows(height: int) -> list[int]:
    """The GIF89a four-pass interlace row order: every 8th row from 0,
    every 8th from 4, every 4th from 2, every 2nd from 1."""
    return [
        r
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, height, step)
    ]


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first bit stream, code width from
    ``min_code_size + 1`` growing to 12 bits, CLEAR resets the table,
    EOI ends the stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list[int] = []
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} ahead of the table")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= max_pixels:
                return out
    return out


def make_gif_bytes(
    width: int, height: int, indices: bytes, palette: bytes,
    *, interlace: bool = False,
) -> bytes:
    """Deterministic GIF fixture builder: GIF89a header, global color
    table from ``palette`` (3 bytes per color, power-of-two padded),
    one image block whose index stream is written as UNCOMPRESSED LZW
    (literal codes with periodic CLEARs so the code width never grows)
    — a real renderable GIF :func:`decode_gif_pixels` round-trips.
    ``interlace=True`` writes rows in the four-pass order with the
    descriptor flag set (the decoder's de-interlace twin)."""
    import struct

    if interlace:
        indices = b"".join(
            indices[r * width:(r + 1) * width] for r in _gif_interlace_rows(height)
        )
    n_colors = len(palette) // 3
    depth = max(2, (n_colors - 1).bit_length())
    table = bytearray(palette) + b"\x00" * (3 * ((1 << depth) - n_colors))
    mcs = depth
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width_bits = mcs + 1

    bits = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    budget = (1 << mcs) - 2  # table slots before a width bump would occur
    for i, idx in enumerate(indices):
        if i and i % budget == 0:
            emit(clear)
        emit(idx)
    emit(eoi)
    if nbits:
        bits.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
    out += table
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    out.append(mcs)
    for off in range(0, len(bits), 255):
        chunk = bits[off:off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def sniff_format(content: bytes) -> str | None:
    """Magic-byte format sniff for the real-decoder dispatch."""
    if content[:8] == PNG_MAGIC:
        return "png"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    if content[:2] == b"\xff\xd8":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:4] == b"FORM" and content[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def png_dims_cols(content_col) -> tuple:
    """JVM-side codegen PNG dimension extraction — the scale path: width
    and height straight out of the IHDR header bytes via
    substring+hex+conv, NULL for non-PNG content.  No Python worker, no
    Arrow transfer; at 100 TB the header read is a pure column op on the
    binary column."""
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    is_png = (F.hex(F.substring(c, 1, 8)) == "89504E470D0A1A0A") & (
        F.hex(F.substring(c, 13, 4)) == "49484452"
    )
    width = F.conv(F.hex(F.substring(c, 17, 4)), 16, 10).cast("int")
    height = F.conv(F.hex(F.substring(c, 21, 4)), 16, 10).cast("int")
    return F.when(is_png, width), F.when(is_png, height)


def decode_media_meta(df: DataFrame, *, strict: bool = True) -> DataFrame:
    """REAL-decoder metadata pass over media rows via ``mapInPandas``:
    PNG/JPEG/GIF and WAV decode with the stdlib decoders above; other
    formats raise ``NotImplementedError`` when ``strict`` (they genuinely
    need external codecs) or yield NULL metadata otherwise, and corrupt
    payloads of a known format degrade to NULL metadata in lax mode.

    Returns ``(media_id, kind, fmt, width, height, n_channels,
    sample_rate, duration_ms)``."""
    import wave

    import pandas as pd

    out_schema = (
        "media_id string, kind string, fmt string, width int, height int,"
        " n_channels int, sample_rate int, duration_ms long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                w = h = ch = sr = dur = None
                if content is None:
                    # missing payload is NULL metadata, not a codec error
                    rows.append((media_id, kind, None, w, h, ch, sr, dur))
                    continue
                fmt = sniff_format(bytes(content))
                try:
                    if fmt == "png":
                        w, h = decode_png_dims(bytes(content))
                    elif fmt == "jpeg":
                        w, h = decode_jpeg_dims(bytes(content))
                    elif fmt == "gif":
                        w, h = decode_gif_dims(bytes(content))
                    elif fmt == "tiff":
                        from architxt_spark.functions.tiff import decode_tiff_dims

                        w, h = decode_tiff_dims(bytes(content))
                    elif fmt == "wav":
                        ch, sr, dur = decode_wav_meta(bytes(content))
                    elif fmt == "aiff":
                        ch, sr, chans = decode_aiff_samples(bytes(content))
                        nfr = len(chans[0]) if chans else 0
                        dur = nfr * 1000 // sr if sr else None
                    elif strict:
                        raise NotImplementedError(
                            f"media_id={media_id}: only PNG/JPEG/GIF/TIFF/WAV decode"
                            " without external codecs (Pillow/pyav not in this"
                            " environment)"
                        )
                except (ValueError, EOFError, wave.Error):
                    # a sniffed-but-corrupt payload (routine in a web
                    # crawl): strict mode surfaces it, lax mode degrades
                    # to NULL metadata instead of killing the job
                    if strict:
                        raise
                    w = h = ch = sr = dur = None
                rows.append((media_id, kind, fmt, w, h, ch, sr, dur))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "fmt", "width", "height",
                    "n_channels", "sample_rate", "duration_ms",
                ],
            )

    return df.select("media_id", "kind", "content").mapInPandas(run, out_schema)


def decode_image(content: bytes) -> tuple[int, int]:
    """Real decode path.  PNG/JPEG/GIF dimensions decode with the stdlib
    header readers; PNG PIXELS decode for real too
    (:func:`decode_png_pixels`); full pixel decode of other formats
    requires a codec library (Pillow/opencv — not in this container)."""
    fmt = sniff_format(content)
    if fmt == "png":
        return decode_png_dims(content)
    if fmt == "jpeg":
        return decode_jpeg_dims(content)
    if fmt == "gif":
        return decode_gif_dims(content)
    if fmt == "tiff":
        from architxt_spark.functions.tiff import decode_tiff_dims

        return decode_tiff_dims(content)
    raise NotImplementedError(
        "image formats beyond PNG/JPEG/GIF/TIFF require Pillow/opencv; not in this environment"
    )


#: PNG color type → samples per pixel (RFC 2083 §4.1.1); palette (3)
#: expands through PLTE separately in decode_png_pixels
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass geometry: (x0, y0, dx, dy) per pass (RFC 2083 §2.6)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter_lines(data, off, n_rows, stride, bpp):
    """Undo the five scanline filters for ``n_rows`` lines of ``stride``
    bytes starting at ``data[off]`` (``bpp`` = filter-unit bytes per
    pixel, ≥1); returns ``(rows, new_offset)``."""
    rows = []
    prev = bytearray(stride)
    pos = off
    for _y in range(n_rows):
        if pos + 1 + stride > len(data):
            raise ValueError("PNG pixel payload truncated")
        ftype = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + _paeth(a, prev[x], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        rows.append(row)
        prev = row
    return rows, pos


def _png_row_samples(row, n_px, nch, bit_depth):
    """Unpack one unfiltered scanline into per-channel sample values:
    direct bytes at depth 8, high bytes at depth 16 (the practical 8-bit
    reduction), bit-unpacked values at depths 1/2/4 (single-channel
    types only, per the spec)."""
    if bit_depth == 8:
        return list(row[:n_px * nch])
    if bit_depth == 16:
        return list(row[0:2 * n_px * nch:2])
    per = 8 // bit_depth
    mask = (1 << bit_depth) - 1
    return [
        (row[x // per] >> (8 - bit_depth * (x % per + 1))) & mask
        for x in range(n_px)
    ]


def decode_png_pixels(content: bytes) -> tuple[int, int, int, bytes]:
    """REAL pure-stdlib PNG pixel decode (RFC 2083): zlib-inflate the
    IDAT stream and undo the five scanline filters (None/Sub/Up/Average/
    Paeth).  Covers the full still-image matrix (r11.5): color types
    greyscale / RGB / palette / grey+alpha / RGBA, bit depths 1/2/4/8/16
    (16-bit reduces to the high byte — the practical 8-bit view), and
    BOTH interlace methods (none / Adam7 seven-pass).  Palette images
    expand through PLTE to RGB; sub-byte greyscale scales to 0–255.
    Returns ``(width, height, channels, raw)`` with ``raw`` the samples
    row-major, ``width × height × channels`` bytes — the array a
    resize/embed stage consumes.

    Per-row cost is O(bytes); runs inside the Arrow boundary like the
    header decoders (no external dependency, no JVM round-trip)."""
    import struct
    import zlib

    if not content or not content.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    pos, width = len(PNG_MAGIC), None
    height = bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = b""
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos:pos + 4])
        tag = content[pos + 4:pos + 8]
        body = content[pos + 8:pos + 8 + length]
        pos += 12 + length  # len + tag + body + crc
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG without IHDR")
    valid = (
        (color_type in (0, 3) and bit_depth in (1, 2, 4, 8, 16))
        or (color_type in (2, 4, 6) and bit_depth in (8, 16))
    )
    if color_type == 3 and bit_depth == 16:
        valid = False
    if not valid or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG shape (color type {color_type}, depth {bit_depth}, "
            f"interlace {interlace}) is outside the spec matrix"
        )
    if color_type == 3 and not plte:
        raise ValueError("palette PNG without PLTE")
    nch_raw = 1 if color_type in (0, 3) else _PNG_CHANNELS[color_type]
    bpp = max(1, nch_raw * bit_depth // 8)
    data = zlib.decompress(bytes(idat))

    if bit_depth == 8 and not interlace and color_type != 3:
        # fast path: the common web shape decodes without the sample
        # scatter (one unfilter pass straight into the output buffer)
        stride = width * nch_raw
        if len(data) != (stride + 1) * height:
            raise ValueError(
                f"PNG pixel payload is {len(data)} bytes, "
                f"expected {(stride + 1) * height}"
            )
        rows, _pos = _png_unfilter_lines(data, 0, height, stride, bpp)
        return width, height, nch_raw, b"".join(bytes(r) for r in rows)

    # general path: per-pass unfilter → sample scatter into the full grid
    samples = [0] * (width * height * nch_raw)
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    off = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        pstride = (pw * nch_raw * bit_depth + 7) // 8
        rows, off = _png_unfilter_lines(data, off, ph, pstride, bpp)
        for ry, row in enumerate(rows):
            vals = _png_row_samples(row, pw, nch_raw, bit_depth)
            y = y0 + ry * dy
            for rx in range(pw):
                base = (y * width + x0 + rx * dx) * nch_raw
                for c in range(nch_raw):
                    samples[base + c] = vals[rx * nch_raw + c]

    if color_type == 3:  # palette → RGB
        out = bytearray(width * height * 3)
        for i, idx in enumerate(samples):
            if 3 * idx + 2 >= len(plte):
                raise ValueError(f"palette index {idx} outside PLTE")
            out[3 * i:3 * i + 3] = plte[3 * idx:3 * idx + 3]
        return width, height, 3, bytes(out)
    if bit_depth < 8:  # sub-byte greyscale scales to full range
        mask = (1 << bit_depth) - 1
        return width, height, 1, bytes(v * 255 // mask for v in samples)
    return width, height, nch_raw, bytes(samples)


def extract_features(
    df: DataFrame, *, use_fake_decoder: bool = True, decoder: str | None = None
) -> DataFrame:
    """Per-batch feature extraction over media rows via ``mapInPandas``.

    ``decoder`` selects the pixel source:

    - ``"fake"`` (default, = ``use_fake_decoder=True``): deterministic
      byte-histogram feature over the RAW file bytes — the end-to-end
      plumbing fixture;
    - ``"png"``: REAL pixels — :func:`decode_png_pixels` unfilters the
      image stdlib-side and the feature is the normalized 16-bin
      histogram over actual samples (decode errors raise, like any
      codec); non-PNG content raises ``NotImplementedError``;
    - ``"gif"``: REAL pixels via :func:`decode_gif_pixels` (LZW decode +
      palette mapping, first frame) — same histogram over the RGB bytes;
    - ``"tiff"``: REAL pixels via
      :func:`architxt_spark.functions.tiff.decode_tiff_pixels` (strips,
      LZW/Deflate/PackBits, predictor, palette — the scanned-document
      shape) — same histogram over the samples;
    - ``"wav"``: REAL audio — :func:`decode_wav_samples` de-interleaves
      the PCM stream and the feature is the normalized 16-bin AMPLITUDE
      histogram (|sample| // 2048 for 16-bit) — silence lands in bin 0,
      a full-scale square wave in bin 15;
    - ``None`` with ``use_fake_decoder=False``: legacy strict mode —
      header-decode validation then byte-histogram features.
    """
    import numpy as np
    import pandas as pd

    base_mode = decoder or ("fake" if use_fake_decoder else "strict")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for content in pdf["content"]:
                if content is None:
                    feats.append(None)
                    continue
                raw = bytes(content)
                mode = base_mode
                if mode == "sniff":
                    # mixed-media corpora don't arrive sorted by format
                    mode = sniff_format(raw)
                    if mode is None:
                        raise ValueError(
                            "undecodable media content (sniff found no "
                            "PNG/GIF/JPEG/TIFF/WAV magic)"
                        )
                if mode in ("wav", "aiff"):
                    decode_fn = (
                        decode_aiff_samples if mode == "aiff"
                        else decode_wav_samples
                    )
                    _ch, _rate, chans = decode_fn(raw)
                    flat = np.array(
                        [s for c in chans for s in c], dtype=np.int64
                    )
                    bins = np.minimum(np.abs(flat) // 2048, 15)
                    hist = np.bincount(bins, minlength=16).astype("float32")
                    total = hist.sum() or 1.0
                    feats.append((hist / total).tolist())
                    continue
                if mode == "png":
                    _w, _h, _c, raw = decode_png_pixels(raw)
                elif mode == "gif":
                    _w, _h, _c, raw = decode_gif_pixels(raw)
                elif mode == "jpeg":
                    from architxt_spark.functions.jpeg import decode_jpeg_pixels

                    _w, _h, _c, raw = decode_jpeg_pixels(raw)
                elif mode == "tiff":
                    from architxt_spark.functions.tiff import decode_tiff_pixels

                    _w, _h, _c, raw = decode_tiff_pixels(raw)
                elif mode == "strict":
                    decode_image(raw)
                arr = np.frombuffer(raw, dtype=np.uint8)
                hist = np.bincount(arr % 16, minlength=16).astype("float32")
                total = hist.sum() or 1.0
                feats.append((hist / total).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [len(bytes(c)) if c is not None else 0 for c in pdf["content"]],
                }
            )

    return df.select("media_id", "kind", "content").mapInPandas(run, FEATURE_SCHEMA)


def _png_filter_rows(rows: list[bytes], stride: int, bpp: int, filter_type: int) -> bytes:
    """Filter scanlines per RFC 2083 (the encode direction of
    :func:`_png_unfilter_lines`); returns filter-byte-prefixed lines."""
    raw = bytearray()
    prev = bytes(stride)
    for row in rows:
        filt = bytearray(row)
        if filter_type == 1:  # Sub
            for x in range(stride - 1, bpp - 1, -1):
                filt[x] = (filt[x] - row[x - bpp]) & 0xFF
        elif filter_type == 2:  # Up
            for x in range(stride):
                filt[x] = (filt[x] - prev[x]) & 0xFF
        elif filter_type == 3:  # Average
            for x in range(stride - 1, -1, -1):
                a = row[x - bpp] if x >= bpp else 0
                filt[x] = (filt[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif filter_type == 4:  # Paeth
            for x in range(stride - 1, -1, -1):
                a = row[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                filt[x] = (filt[x] - _paeth(a, prev[x], c)) & 0xFF
        elif filter_type != 0:
            raise ValueError(f"unknown filter type {filter_type}")
        raw += bytes([filter_type]) + bytes(filt)
        prev = row
    return bytes(raw)


def _png_pack_row(vals: list[int], bit_depth: int) -> bytes:
    """Sample values → one packed scanline (bit packing below depth 8,
    high-byte pairs at 16)."""
    if bit_depth == 8:
        return bytes(vals)
    if bit_depth == 16:
        return bytes(b for v in vals for b in (v, v))
    per = 8 // bit_depth
    out = bytearray((len(vals) + per - 1) // per)
    for i, v in enumerate(vals):
        out[i // per] |= v << (8 - bit_depth * (i % per + 1))
    return bytes(out)


def make_png_bytes(
    width: int,
    height: int,
    pixels: bytes | None = None,
    *,
    color_type: int = 0,
    filter_type: int = 0,
    bit_depth: int = 8,
    palette: bytes | None = None,
    interlace: int = 0,
) -> bytes:
    """Deterministic PNG fixture builder (signature + IHDR [+ PLTE] +
    IDAT + IEND, correct CRCs).  With ``pixels`` it writes a REAL
    renderable image, each scanline FILTERED with ``filter_type`` (0-4)
    per RFC 2083 — the encoder twin :func:`decode_png_pixels`'s
    coverage tests round-trip through.  Without ``pixels`` it keeps the
    legacy header-only shape (empty IDAT).

    r11.5 extensions mirror the decoder's matrix: ``palette`` (RGB
    triples; ``pixels`` become indices, ``color_type`` forced to 3),
    ``bit_depth`` 1/2/4 (single-channel types; ``pixels`` are sample
    VALUES below the full range) / 16 (samples written as high-byte
    pairs), and ``interlace=1`` (Adam7 pass split, filters applied
    per pass)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    if palette is not None:
        color_type = 3
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace
    )
    out = PNG_MAGIC + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    if pixels is None:
        return out + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")

    nch_raw = 1 if color_type in (0, 3) else _PNG_CHANNELS[color_type]
    if len(pixels) != width * height * nch_raw:
        raise ValueError(
            f"need {width * height * nch_raw} sample bytes, got {len(pixels)}"
        )
    bpp = max(1, nch_raw * bit_depth // 8)
    raw = bytearray()
    passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        pstride = (pw * nch_raw * bit_depth + 7) // 8
        rows = []
        for ry in range(ph):
            y = y0 + ry * dy
            vals = []
            for rx in range(pw):
                base = (y * width + x0 + rx * dx) * nch_raw
                vals.extend(pixels[base:base + nch_raw])
            rows.append(_png_pack_row(vals, bit_depth))
        raw += _png_filter_rows(rows, pstride, bpp, filter_type)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def make_wav_bytes(
    n_channels: int,
    sample_rate: int,
    n_frames: int,
    samples: list[list[int]] | None = None,
    *,
    sample_width: int = 2,
    g711: str | None = None,
    float32: bool = False,
) -> bytes:
    """Deterministic WAV fixture builder via the stdlib ``wave`` writer —
    a real RIFF/WAVE file whose metadata round-trips through
    :func:`decode_wav_meta`.  ``samples`` (one int16 list per channel,
    ``n_frames`` each) writes a real waveform the sample decoder
    round-trips; without it, silence.  ``sample_width`` 3/4 widens the
    int16 samples into 24/32-bit PCM (low bytes zero, so the decoder's
    16-bit view is exact); ``g711`` = ``"ulaw"``/``"alaw"`` writes a
    telephony-format file through the companding encoders instead."""
    import io
    import struct
    import wave

    if float32:
        if samples is None:
            samples = [[0] * n_frames for _ in range(n_channels)]
        data = struct.pack(
            f"<{n_frames * n_channels}f",
            *(samples[c][f] / 32767.0
              for f in range(n_frames) for c in range(n_channels)),
        )
        fmt = struct.pack(
            "<HHIIHH", 3, n_channels, sample_rate,
            sample_rate * n_channels * 4, n_channels * 4, 32,
        )
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    if g711 is not None:
        enc = linear_to_ulaw if g711 == "ulaw" else linear_to_alaw
        if samples is None:
            samples = [[0] * n_frames for _ in range(n_channels)]
        data = bytes(
            enc(samples[c][f])
            for f in range(n_frames)
            for c in range(n_channels)
        )
        tag = 7 if g711 == "ulaw" else 6
        fmt = struct.pack(
            "<HHIIHH", tag, n_channels, sample_rate,
            sample_rate * n_channels, n_channels, 8,
        )
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sample_width)
        w.setframerate(sample_rate)
        if samples is None:
            w.writeframes(b"\x00" * sample_width * n_channels * n_frames)
        else:
            inter = [
                samples[c][f] for f in range(n_frames) for c in range(n_channels)
            ]
            if sample_width == 2:
                w.writeframes(struct.pack(f"<{len(inter)}h", *inter))
            else:
                pad = sample_width - 2
                w.writeframes(b"".join(
                    bytes(pad) + struct.pack("<h", v) for v in inter
                ))
    return buf.getvalue()


def resample_pcm(
    samples: list[list[int]], from_rate: int, to_rate: int
) -> list[list[int]]:
    """REAL PCM resampling — per-channel linear interpolation on the
    continuous-time reconstruction (numpy ``interp``), output length
    ``round(n · to/from)``, values rounded and clamped to int16.  The
    basic DSP everybody's first resampler is; band-limited (sinc/poly-
    phase) resampling stays on the external-library path for quality,
    not feasibility.  Identity when the rates match."""
    import numpy as np

    if from_rate <= 0 or to_rate <= 0:
        raise ValueError("rates must be positive")
    if from_rate == to_rate:
        return [list(c) for c in samples]
    out = []
    for chan in samples:
        n = len(chan)
        m = max(1, round(n * to_rate / from_rate))
        src_t = np.arange(n) / from_rate
        dst_t = np.arange(m) / to_rate
        vals = np.interp(dst_t, src_t, np.asarray(chan, dtype=float))
        out.append(
            np.clip(np.rint(vals), -32768, 32767).astype(int).tolist()
        )
    return out


#: RIFF/AVI constants for the MJPEG frame sampler
_AVI_MAGIC = (b"RIFF", b"AVI ")


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling over MJPEG-in-AVI video — REAL for that (old but
    genuine) format: each task walks the RIFF structure of its ``binary``
    column (``avih`` microseconds-per-frame, ``movi`` LIST, ``00dc``
    chunks), picks one frame per ``every_ms`` window, and decodes it
    with the in-repo baseline JPEG codec
    (:mod:`architxt_spark.functions.jpeg`) — no pyav/ffmpeg.  Output:
    one row per sampled frame ``(media_id, frame_idx, t_ms, width,
    height, channels, pixels)``.  Inter-frame codecs (H.264 & co.)
    raise ``NotImplementedError`` — motion-compensated decode genuinely
    wants a codec library; MJPEG is the format whose frames ARE
    JPEGs."""
    import pandas as pd

    schema = (
        "media_id string, frame_idx long, t_ms long, width int, height int,"
        " channels int, pixels binary"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from architxt_spark.functions.jpeg import decode_jpeg_pixels

        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                frames, us_per_frame = parse_avi_mjpeg(bytes(content))
                stride = max(1, int(every_ms * 1000 / max(us_per_frame, 1)))
                for i in range(0, len(frames), stride):
                    w, h, ch, raw = decode_jpeg_pixels(frames[i])
                    rows.append(
                        (
                            media_id,
                            i,
                            i * us_per_frame // 1000,
                            w,
                            h,
                            ch,
                            raw,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_idx", "t_ms", "width", "height",
                    "channels", "pixels",
                ],
            )

    return df.select("media_id", "content").mapInPandas(run, schema)


def parse_avi_mjpeg(content: bytes) -> tuple[list[bytes], int]:
    """Walk a RIFF/AVI container: returns (JPEG frame payloads from the
    ``movi`` LIST's ``..dc`` chunks, microseconds per frame from
    ``avih``).  Non-MJPEG streams raise — their frames aren't
    self-contained images."""
    import struct

    if content[:4] != _AVI_MAGIC[0] or content[8:12] != _AVI_MAGIC[1]:
        raise ValueError("not a RIFF/AVI file")
    us_per_frame = 40000  # 25 fps default when avih is absent
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal us_per_frame
        while pos + 8 <= end:
            tag = content[pos:pos + 4]
            (size,) = struct.unpack("<I", content[pos + 4:pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                walk(body_start + 4, body_start + size)
            elif tag == b"avih" and size >= 4:
                (us_per_frame,) = struct.unpack(
                    "<I", content[body_start:body_start + 4]
                )
            elif tag[2:4] == b"dc":
                frame = content[body_start:body_start + size]
                if frame[:2] != b"\xff\xd8":
                    raise NotImplementedError(
                        "non-MJPEG video stream: inter-frame codecs need "
                        "pyav/ffmpeg; only MJPEG frames decode in-repo"
                    )
                frames.append(frame)
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    walk(12, len(content))
    return frames, us_per_frame


def make_avi_mjpeg_bytes(frames: list[bytes], us_per_frame: int = 40000) -> bytes:
    """Fixture writer: a minimal RIFF/AVI wrapping the given JPEG frame
    payloads as ``00dc`` chunks (hdrl LIST with ``avih``, movi LIST) —
    the :func:`sample_video_frames` round-trip twin."""
    import struct

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack("<I", us_per_frame) + b"\x00" * 52
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
