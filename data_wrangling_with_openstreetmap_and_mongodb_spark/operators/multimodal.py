"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A training-data engine at the 100 TB point carries image/audio/video as
``binary`` columns with a typed metadata struct, decoding only inside
Arrow-batched Python so bytes never round-trip through JVM row objects one
at a time.  Every per-document stage here — payload synthesis
(:func:`synthesize_payloads` over a per-format plan), decode, feature
extraction, resize/resample, frame extraction — is a per-row function
handed to :func:`~data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap.map_rows`
(Project → MapInPandas, map-only).

Two decode tiers:

- REAL stdlib codecs: 24-bit BI_RGB BMP (:func:`decode_bmp` — struct-parsed
  headers, bottom-up/top-down row order, 4-byte row padding, BGR→RGB),
  WAV (:func:`decode_wav` — RIFF chunk walk, fmt/data chunks; 16-bit PCM,
  8-bit G.711 mu/A-law expansion, and 4-bit IMA/DVI ADPCM with per-block
  predictor state and the stereo 4-byte interleave, r13), 8-bit grey/RGB/palette(+tRNS)/RGBA PNG
  (:func:`decode_png` — chunk framing with CRC-32 verification, zlib
  inflate, all five scanline unfilters, PLTE/tRNS expansion),
  multi-frame GIF87a/89a (:func:`decode_gif` — full GIF-variant LZW with
  growing code widths, global/local color tables, interlace, GCE delays),
  and JPEG — baseline sequential AND progressive/SOF2 (:func:`decode_jpeg`
  — marker walk, DQT/DHT read from the file, Huffman entropy decode with
  unstuffing + restart markers, spectral selection + successive
  approximation + EOB runs for progressive, dequantize/dezigzag/IDCT,
  YCbCr→RGB, 4:2:0 upsampling).
  No external libraries; encode and
  decode are independent implementations (the WAV encoder is CPython's
  ``wave`` module, the decoder is a hand-written RIFF parser; the BMP/PNG
  pairs are validated against hand-crafted golden bytes; the JPEG decoder
  is validated against a test-side double-loop IDCT reference and
  closed-form constant-block fixtures).
- MP3 FRAME-HEADER decode (r14): sync walk, version/layer/bitrate/
  sample-rate tables, frame-size arithmetic, ID3v2/v1 skip, VBR detection
  and exact duration — the framing metadata a corpus pipeline routes on.
  PCM synthesis (Huffman + MDCT) stays a documented exclusion.
- A deterministic byte-level fake for ``text/plain`` payloads, standing in
  for codecs the container genuinely lacks (video containers …) — those
  raise ``NotImplementedError`` at the dispatch.

Payloads derive from driver-provided tables (``documents``): deterministic
input, same plumbing as a real corpus.
"""

from __future__ import annotations

import struct
from collections.abc import Callable

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap import map_rows

PAYLOAD_SCHEMA = (
    "doc_id long, payload binary, "
    "meta struct<format:string, n_bytes:long>"
)

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, fingerprint string, "
    "n_frames long, f0 double, f1 double, f2 double"
)

FRAME_BYTES = 64  # fixed "frame" size for the frame-sampling stub


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload + metadata struct to each document."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real stdlib codecs: 24-bit BMP + 16-bit PCM WAV
# ---------------------------------------------------------------------------


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 top-down RGB array as a 24-bit BI_RGB
    BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, rows stored bottom-up in BGR
    order, each padded to a 4-byte boundary — the baseline Windows format."""
    h, w, _ = rgb.shape
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    pixel_bytes = (row_raw + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + pixel_bytes, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(rgb[y][:, ::-1].tobytes() + b"\x00" * pad)  # RGB → BGR
    return header + info + b"".join(rows)


def decode_bmp(b: bytes) -> np.ndarray:
    """Decode an uncompressed BI_RGB BMP to an ``(h, w, 3)`` uint8 top-down
    RGB array.  24-bit (BGR), 32-bit (BGRX — the reserved 4th byte drops,
    r14), and PALETTE files at 1/4/8 bits per pixel (BGRX color table;
    sub-8 depths added r15 after a FOREIGN fixture exposed the gap —
    OpenJDK's BMP writer emits 4-bit files for ≤16-color images, which the
    8-bit-only path rejected) are supported; both bottom-up (positive
    height) and top-down (negative height) row orders and per-row 4-byte
    padding are handled.  RLE/bitfield compression and other depths raise
    ``NotImplementedError`` — explicit gaps, never a silent mis-decode."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    off = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
    if hdr_size < 40 or comp != 0 or bpp not in (1, 4, 8, 24, 32):
        raise NotImplementedError(
            f"only 1/4/8/24/32-bit BI_RGB BMP supported "
            f"(got bpp={bpp}, compression={comp})"
        )
    top_down = h < 0
    h = abs(h)
    # rows are padded to 4-byte boundaries at every depth (bit-packed
    # depths round the BIT width up to whole bytes first)
    row_raw = (w * bpp + 7) // 8
    row_size = (row_raw + 3) // 4 * 4
    if off + row_size * h > len(b):
        raise ValueError("truncated BMP pixel data")
    arr = np.frombuffer(b, dtype=np.uint8, count=row_size * h, offset=off)
    rows = arr.reshape(h, row_size)[:, :row_raw]
    if bpp in (1, 4, 8):
        # color table: BGRX entries right after the info header
        (clr_used,) = struct.unpack_from("<I", b, 46)
        n_colors = clr_used or (1 << bpp)
        tab_off = 14 + hdr_size
        if tab_off + 4 * n_colors > len(b):
            raise ValueError("truncated BMP color table")
        table = np.frombuffer(
            b, dtype=np.uint8, count=4 * n_colors, offset=tab_off
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        if bpp == 8:
            idx = rows.reshape(h, w)
        else:
            # MSB-first bit packing within each byte (the BMP spec order)
            bits = np.unpackbits(rows, axis=1)
            if bpp == 1:
                idx = bits[:, :w]
            else:  # 4-bit: each nibble is one index
                nib = bits.reshape(h, -1, 4)
                idx = (
                    nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                    + nib[:, :, 2] * 2 + nib[:, :, 3]
                )[:, :w]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP palette index out of range")
        px = table[idx]
    else:
        px = rows.reshape(h, w, bpp // 8)[:, :, :3][:, :, ::-1]  # BGR(X) -> RGB
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


def encode_wav(rate: int, channels: int, samples: np.ndarray) -> bytes:
    """Encode interleaved int16 samples as a PCM WAV via CPython's stdlib
    ``wave`` module (the known-good encoder the hand-written decoder is
    tested against)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(channels)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def _mulaw_expand_table() -> np.ndarray:
    """G.711 μ-law byte → linear int16 (the standard segment expansion:
    complement, 4-bit mantissa biased by 0x84, 3-bit exponent shift).
    Anchors: 0xFF → 0, 0x00 → -32124, 0x80 → +32124."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        out[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    return out


def _alaw_expand_table() -> np.ndarray:
    """G.711 A-law byte → linear int16 (XOR 0x55 toggle, segment 0/1
    special-cased, others shift).  Anchors: 0x55 → -8, 0xD5 → +8,
    0x2A → -32256, 0xAA → +32256."""
    out = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[b] = t if (a & 0x80) else -t
    return out


_G711_TABLES = {6: _alaw_expand_table(), 7: _mulaw_expand_table()}
_G711_NAMES = {6: "alaw", 7: "mulaw"}

# IMA/DVI ADPCM (WAV format tag 0x11): the canonical 89-entry step-size
# table and the 3-bit index adjustment table (public spec constants)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM step: (new_predictor, new_index) after decoding one
    4-bit code against the current state."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    predictor = predictor - diff if nibble & 8 else predictor + diff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble & 7]))
    return predictor, index


def _ima_adpcm_decode(
    data: bytes, channels: int, block_align: int, n_samples: int | None = None
) -> np.ndarray:
    """Decode IMA ADPCM WAV data (format 0x11) to interleaved int16: per
    block, a 4-byte header per channel (int16 predictor, step index,
    reserved), then nibble data — sequential low-nibble-first for mono,
    interleaved in 4-byte/8-nibble groups per channel for stereo.  The
    header predictor is the block's first output sample.

    ``n_samples`` is the WAV ``fact`` chunk's dwSampleLength (frames per
    channel): when given, a SHORT final block is decoded too and the output
    truncates to exactly that length, so third-party files whose last block
    is not full don't grow pad-nibble ghost samples.  Without it (fact
    absent) the legacy full-blocks-only behavior holds: any
    ``len(data) % block_align`` remainder is dropped."""
    if block_align < 4 * channels or block_align % 4:
        raise ValueError(f"bad ADPCM blockAlign {block_align}")
    out: list[list[int]] = [[] for _ in range(channels)]
    if n_samples is None:
        end = len(data) - len(data) % block_align
    else:
        end = len(data)
    for boff in range(0, end, block_align):
        block = data[boff : boff + block_align]
        if len(block) < 4 * channels:
            raise ValueError(
                f"truncated ADPCM block header at byte {boff} "
                f"({len(block)} < {4 * channels})"
            )
        if len(block[4 * channels :]) % (4 * channels):
            raise ValueError(
                f"partial ADPCM nibble group in final block at byte {boff}"
            )
        preds = []
        idxs = []
        for c in range(channels):
            p, i = struct.unpack_from("<hB", block, c * 4)
            if i > 88:
                raise ValueError(f"ADPCM step index {i} out of range")
            preds.append(p)
            idxs.append(i)
            out[c].append(p)
        body = block[4 * channels :]
        # nibble groups: 4 bytes (8 samples) per channel, round-robin
        for goff in range(0, len(body), 4 * channels):
            for c in range(channels):
                word = body[goff + c * 4 : goff + (c + 1) * 4]
                for byte in word:
                    for nib in (byte & 0x0F, byte >> 4):
                        preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                        out[c].append(preds[c])
    n = min(len(ch) for ch in out)
    if n_samples is not None:
        if n_samples > n:
            raise ValueError(
                f"fact dwSampleLength {n_samples} exceeds decoded {n} frames"
            )
        n = n_samples
    inter = np.empty(n * channels, dtype=np.int16)
    for c in range(channels):
        inter[c::channels] = out[c][:n]
    return inter


def encode_wav_g711(rate: int, channels: int, raw: bytes, law: str) -> bytes:
    """Wrap already-companded G.711 bytes (``law`` = 'mulaw'/'alaw') in a
    RIFF/WAVE container: format tag 7/6, 8 bits per sample — the telephony
    WAV flavor.  The payload bytes pass through untouched; this is container
    framing only (decode expands them, so encode and decode stay
    independent implementations)."""
    tag = {"mulaw": 7, "alaw": 6}[law]
    # non-PCM format tags require the cbSize extension field (18-byte fmt
    # chunk) per the WAVE spec; strict decoders reject a bare 16-byte fmt
    fmt = struct.pack(
        "<HHIIHHH", tag, channels, rate, rate * channels, channels, 8, 0
    )
    data = raw
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_adpcm(
    rate: int,
    channels: int,
    block_align: int,
    data: bytes,
    n_samples: int | None = None,
) -> bytes:
    """Wrap pre-built IMA ADPCM block data (format 0x11: per-channel 4-byte
    headers + 4-bit nibble groups, as :func:`_ima_adpcm_decode` reads them)
    in a RIFF/WAVE container: 20-byte fmt chunk (cbSize=2 +
    wSamplesPerBlock, the spec shape for compressed formats) plus a
    ``fact`` chunk carrying ``n_samples`` (dwSampleLength) when given — the
    authoritative length for streams whose final block is short.  Container
    framing only; the block bytes pass through untouched, so encode and
    decode stay independent implementations."""
    if block_align < 4 * channels or block_align % 4:
        raise ValueError(f"bad ADPCM blockAlign {block_align}")
    spb = (block_align - 4 * channels) * 2 // channels + 1
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, channels, rate,
        max(1, rate * block_align // spb),
        block_align, 4, 2, spb,
    )
    fact = (
        b"fact" + struct.pack("<II", 4, n_samples)
        if n_samples is not None
        else b""
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(b: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a WAV: walk the RIFF chunk list (word-aligned, so junk/LIST
    chunks skip correctly), read ``fmt ``/``fact``/``data``, return
    ``(sample_rate, n_channels, interleaved samples)``.  Supports PCM
    format 1 at 8 (unsigned, offset-128 → int16), 16 (int16) and 24 bits
    (→ int32 in the native range, r14), IEEE float32 (format 3, returned
    unscaled, r14), 8-bit G.711 μ-law/A-law (formats 7/6 — expanded to
    linear int16 via the standard segment tables), 4-bit IMA ADPCM
    (format 0x11, fact-truncated), and the WAVE_FORMAT_EXTENSIBLE wrapper
    (0xFFFE — re-dispatched on the SubFormat tag, r14).  Anything else
    raises ``NotImplementedError``."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt_chunk = data = None
    fact_samples = None
    pos = 12
    while pos + 8 <= len(b):
        cid, sz = struct.unpack_from("<4sI", b, pos)
        pos += 8
        if cid == b"fmt ":
            fmt_chunk = b[pos : pos + sz]
        elif cid == b"data":
            data = b[pos : pos + sz]
        elif cid == b"fact" and sz >= 4:
            # dwSampleLength: frames per channel — authoritative for
            # compressed formats whose final block may be short
            (fact_samples,) = struct.unpack_from("<I", b, pos)
        pos += sz + (sz & 1)  # RIFF chunks are 2-byte aligned
    if fmt_chunk is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, ch, rate, _brate, _align, bits = struct.unpack_from(
        "<HHIIHH", fmt_chunk, 0
    )
    if audio_fmt == 0xFFFE and len(fmt_chunk) >= 26:
        # WAVE_FORMAT_EXTENSIBLE (r14): the real format tag is the first
        # two bytes of the SubFormat GUID at fmt offset 24
        audio_fmt = struct.unpack_from("<H", fmt_chunk, 24)[0]
    if audio_fmt == 1 and bits == 16:
        return rate, ch, np.frombuffer(data, dtype="<i2")
    if audio_fmt == 1 and bits == 8:
        # legacy unsigned 8-bit PCM: offset-128, scaled to int16 (r14)
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
        return rate, ch, ((u - 128) << 8).astype(np.int16)
    if audio_fmt == 1 and bits == 24:
        # 24-bit little-endian PCM -> int32 in the native 24-bit range (r14)
        raw = np.frombuffer(data, dtype=np.uint8)
        raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3).astype(np.int32)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        return rate, ch, np.where(v >= 1 << 23, v - (1 << 24), v).astype(np.int32)
    if audio_fmt == 3 and bits == 32:
        # IEEE float PCM (r14): returned as float32, no scaling applied
        return rate, ch, np.frombuffer(data, dtype="<f4")
    if audio_fmt in _G711_TABLES and bits == 8:
        table = _G711_TABLES[audio_fmt]
        return rate, ch, table[np.frombuffer(data, dtype=np.uint8)]
    if audio_fmt == 0x11 and bits == 4:  # IMA/DVI ADPCM (r13)
        return rate, ch, _ima_adpcm_decode(data, ch, _align, fact_samples)
    raise NotImplementedError(
        f"only 8/16/24-bit PCM, float32, 8-bit G.711 mu/A-law, and 4-bit "
        f"IMA ADPCM WAV supported (got format={audio_fmt}, bits={bits})"
    )


# ---------------------------------------------------------------------------
# Real stdlib PNG codec (zlib is in the standard library, so the most common
# real-world image format needs no external dependency): 8-bit greyscale /
# RGB / palette (PLTE, optional tRNS alpha) / RGBA, all five scanline
# filters.  Sub-8/16-bit depth and Adam7 interlace raise
# NotImplementedError — explicit gaps, never a silent mis-decode.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel in the FILTERED stream (palette type 3
# carries 1 index per pixel and expands after unfilter)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# spec-valid bit depths per color type (PNG spec, ISO/IEC 15948 §11.2.2)
_PNG_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (left, up, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_filter_scanlines(
    raw: np.ndarray, bpp: int, row_filters=None
) -> bytes:
    """Apply PNG scanline filters to a ``(h, stride)`` int16 byte matrix
    (default: row ``y`` uses filter ``y % 5``).  Vectorized per row — the
    encoder only needs the RAW previous row, so there is no sequential
    dependency on the encode side."""
    h, stride = raw.shape
    zero = np.zeros(stride, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        f = (y % 5) if row_filters is None else int(row_filters[y])
        cur = raw[y]
        prior = raw[y - 1] if y else zero
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16), prior[:-bpp]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prior
        elif f == 3:
            filt = cur - (left + prior) // 2
        elif f == 4:
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, upleft)),
                dtype=np.int16,
                count=stride,
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
    return bytes(out)


def _png_pack_rows(sub: np.ndarray, depth: int) -> np.ndarray:
    """``(h, w, ch)`` sample array → ``(h, stride)`` int16 byte matrix (the
    shape the scanline filters operate on): identity bytes at depth 8,
    big-endian sample pairs at 16, MSB-first bit packing at 1/2/4 (each
    row — and each interlace pass — packs independently, per the spec)."""
    h, w, ch = sub.shape
    if depth == 8:
        return sub.reshape(h, w * ch).astype(np.int16)
    if depth == 16:
        be = sub.reshape(h, w * ch).astype(">u2")
        return (
            np.frombuffer(be.tobytes(), dtype=np.uint8)
            .reshape(h, w * ch * 2)
            .astype(np.int16)
        )
    per_byte = 8 // depth
    stride = (w + per_byte - 1) // per_byte
    out = np.zeros((h, stride), dtype=np.int16)
    vals = sub[:, :, 0].astype(np.int64)
    for x in range(w):
        shift = depth * (per_byte - 1 - x % per_byte)
        out[:, x // per_byte] |= (vals[:, x] << shift).astype(np.int16)
    return out


def encode_png(
    px: np.ndarray, row_filters=None, interlace: bool = False, depth: int = 8
) -> bytes:
    """Encode a sample array as a PNG: ``(h, w)`` → greyscale (color type
    0), ``(h, w, 2)`` → grey+alpha (4), ``(h, w, 3)`` → RGB (2),
    ``(h, w, 4)`` → RGBA (6).

    ``depth`` (r14) selects the bit depth over the spec's valid
    combinations: 16 takes uint16 samples (big-endian on the wire), 1/2/4
    are greyscale-only with MSB-first bit packing (values must fit the
    depth); anything else is a ``ValueError``.  ``row_filters`` picks the
    scanline filter per row (default: row ``y`` uses filter ``y % 5``, so
    any image taller than 4 rows exercises every filter type —
    None/Sub/Up/Average/Paeth all have to be applied AND inverted correctly
    for a round trip to be pixel-exact).  ``interlace=True`` (r13) writes
    Adam7: each pass extracts its pixel grid, packs and filters
    independently (filter memory resets per pass, per the spec), and the
    passes concatenate into one zlib stream."""
    import zlib

    px = np.asarray(px, dtype=np.uint16 if depth == 16 else np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color_type is None:
        raise ValueError(f"unsupported channel count {ch} (want 1/2/3/4)")
    if depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(
            f"bit depth {depth} invalid for color type {color_type}"
        )
    if depth < 8 and int(px.max(initial=0)) >= (1 << depth):
        raise ValueError(f"sample exceeds {depth}-bit range")
    bpp = max(1, depth * ch // 8)  # filter distance in BYTES, per the spec
    if not interlace:
        out = _png_filter_scanlines(_png_pack_rows(px, depth), bpp, row_filters)
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            parts.append(
                _png_filter_scanlines(
                    _png_pack_rows(sub, depth), bpp, row_filters=None
                )
            )
        out = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def encode_palette_png(
    indices: np.ndarray, plte: np.ndarray, trns: bytes | None = None,
    row_filters=None,
) -> bytes:
    """Encode an ``(h, w)`` uint8 index array as an 8-bit palette PNG
    (color type 3): PLTE from the ``(n, 3)`` uint8 palette, optional tRNS
    per-entry alpha.  Scanline filters operate on the INDEX bytes (bpp=1),
    same per-row filter choice as :func:`encode_png` (default ``y % 5``)."""
    import zlib

    indices = np.asarray(indices, dtype=np.uint8)
    plte = np.asarray(plte, dtype=np.uint8)
    if plte.ndim != 2 or plte.shape[1] != 3 or not 1 <= len(plte) <= 256:
        raise ValueError(f"palette must be (n<=256, 3) uint8, got {plte.shape}")
    if int(indices.max(initial=0)) >= len(plte):
        raise ValueError("index out of palette range")
    h, w = indices.shape
    raw = indices.reshape(h, w).astype(np.int16)
    zero = np.zeros(w, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        f = (y % 5) if row_filters is None else int(row_filters[y])
        cur = raw[y]
        prior = raw[y - 1] if y else zero
        left = np.concatenate([np.zeros(1, dtype=np.int16), cur[:-1]])
        upleft = np.concatenate([np.zeros(1, dtype=np.int16), prior[:-1]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prior
        elif f == 3:
            filt = cur - (left + prior) // 2
        elif f == 4:
            pred = np.fromiter(
                (_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, upleft)),
                dtype=np.int16,
                count=w,
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    chunks = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", plte.tobytes())
    if trns is not None:
        chunks += _png_chunk(b"tRNS", bytes(trns))
    return chunks + _png_chunk(b"IDAT", zlib.compress(bytes(out))) + _png_chunk(b"IEND", b"")


def _png_unfilter(data: bytes, h: int, stride: int, bpp: int) -> bytes:
    """Invert PNG scanline filters over ``h`` rows of ``stride`` bytes
    (``data`` is exactly ``h*(stride+1)`` filtered bytes).  Sequential:
    Sub/Average/Paeth reference the RECONSTRUCTED left neighbor."""
    prior = bytearray(stride)
    rows = []
    for y in range(h):
        off = y * (stride + 1)
        f = data[off]
        line = bytearray(data[off + 1 : off + 1 + stride])
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (left + prior[x]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                upleft = prior[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(left, prior[x], upleft)) & 0xFF
        else:
            raise ValueError(f"bad PNG scanline filter {f} at row {y}")
        prior = line
        rows.append(bytes(line))
    return b"".join(rows)


def _png_rows_to_samples(
    rows: bytes, h: int, stride: int, w: int, ch: int, depth: int
) -> np.ndarray:
    """Unfiltered row bytes → ``(h, w, ch)`` sample array (uint8, or uint16
    at depth 16; sub-8-bit samples are the RAW 1/2/4-bit values — scaling
    to 8-bit is the caller's per-color-type concern)."""
    if depth == 8:
        return (
            np.frombuffer(rows, dtype=np.uint8)
            .reshape(h, stride)[:, : w * ch]
            .reshape(h, w, ch)
        )
    if depth == 16:
        return (
            np.frombuffer(rows, dtype=">u2")
            .reshape(h, stride // 2)[:, : w * ch]
            .reshape(h, w, ch)
            .astype(np.uint16)
        )
    # 1/2/4-bit (ch == 1 only: grey or palette indices), MSB-first packing
    bits = np.unpackbits(
        np.frombuffer(rows, dtype=np.uint8).reshape(h, stride), axis=1
    )
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (
        bits.reshape(h, stride * 8 // depth, depth) @ weights
    ).astype(np.uint8)
    return vals[:, :w].reshape(h, w, 1)


def decode_png(b: bytes) -> np.ndarray:
    """Decode a PNG to a pixel array: greyscale → ``(h, w)``, grey+alpha →
    ``(h, w, 2)``, RGB → ``(h, w, 3)``, RGBA → ``(h, w, 4)``; dtype uint8,
    or uint16 for 16-bit images (no silent precision loss).

    Full baseline coverage (r13 closed the depth/interlace gaps): all five
    color types, bit depths 1/2/4/8/16 per the spec's valid combinations,
    and Adam7 interlace (seven passes, filter memory reset per pass,
    scattered back on the pass grids).  Sub-8-bit greys scale to 8-bit
    (×255/85/17 — exact); palette indices stay raw at any depth and expand
    through PLTE to RGB — or RGBA when a tRNS chunk supplies per-entry
    alpha — with out-of-range indices a ``ValueError``, never a silent
    wrap.  Signature, big-endian chunk framing with CRC-32 verification on
    every chunk, IHDR validation, multi-IDAT concatenation, zlib inflate.
    Invalid depth/color-type combinations and framing/CRC damage raise
    ``ValueError``."""
    import zlib

    if b[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    trns = None
    idat = bytearray()
    saw_iend = False
    while pos + 8 <= len(b):
        length, ctype = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(b):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError(f"PLTE length {length} not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    if not saw_iend:
        raise ValueError("truncated PNG (no complete IEND chunk)")
    w, h, depth, color_type, comp, filt_method, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if comp != 0 or filt_method != 0:
        raise ValueError(f"bad IHDR compression/filter method ({comp}/{filt_method})")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    if depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(
            f"invalid PNG depth {depth} for color type {color_type} "
            f"(spec allows {_PNG_VALID_DEPTHS[color_type]})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG (color type 3) missing PLTE chunk")
    ch = _PNG_CHANNELS[color_type]
    data = zlib.decompress(bytes(idat))

    def sub_image(pw: int, ph: int, offset: int) -> tuple[np.ndarray, int]:
        stride = (pw * ch * depth + 7) // 8
        bpp = max(1, ch * depth // 8)
        need = (stride + 1) * ph
        if offset + need > len(data):
            raise ValueError(
                f"PNG pixel data length {len(data)} < expected {offset + need}"
            )
        rows = _png_unfilter(data[offset : offset + need], ph, stride, bpp)
        return _png_rows_to_samples(rows, ph, stride, pw, ch, depth), need

    if interlace == 0:
        px, used = sub_image(w, h, 0)
    else:  # Adam7: seven passes, filter memory reset per pass
        px = np.zeros(
            (h, w, ch), dtype=np.uint16 if depth == 16 else np.uint8
        )
        used = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, n_used = sub_image(pw, ph, used)
            used += n_used
            px[y0::dy, x0::dx] = sub
    if used != len(data):
        raise ValueError(
            f"PNG pixel data length {len(data)} != expected {used}"
        )
    if color_type == 0 and depth < 8:
        px = (px * np.uint8({1: 255, 2: 85, 4: 17}[depth])).astype(np.uint8)
    if color_type == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError(
                f"palette index {int(idx.max())} out of range "
                f"(PLTE has {len(plte)} entries)"
            )
        rgb = plte[idx]  # (h, w, 3)
        if trns is None:
            return np.ascontiguousarray(rgb)
        # tRNS: alpha per palette entry; entries past its end are opaque
        alpha_tab = np.full(len(plte), 255, dtype=np.uint8)
        alpha_tab[: len(trns)] = trns[: len(plte)]
        return np.ascontiguousarray(
            np.concatenate([rgb, alpha_tab[idx][:, :, None]], axis=-1)
        )
    return np.ascontiguousarray(px[:, :, 0] if ch == 1 else px)


# ---------------------------------------------------------------------------
# MP3 frame-HEADER walk (r14, VERDICT r13 ask #7): the container has no
# audio codec libraries and a from-scratch MDCT synthesis is out of scope,
# but the FRAMING layer — sync walk, version/layer/bitrate/samplerate
# tables, frame-size arithmetic, ID3 skip, VBR detection, duration — is
# pure public-spec integer math and is what a corpus pipeline actually
# needs (validate/measure/route audio shards).  PCM synthesis stays an
# explicit NotImplementedError.
# ---------------------------------------------------------------------------

# bitrate tables, kbps, indexes 1..14 (0 = free-format, 15 = invalid);
# keyed by (version_group, layer) where version_group 1 = MPEG1 and
# 2 = MPEG2/2.5 (which share tables; their layer II and III also coincide)
_MP3_BITRATES = {
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# sample-rate tables by the header's 2-bit version field
# (3 = MPEG1, 2 = MPEG2, 0 = MPEG2.5, 1 = reserved)
_MP3_SAMPLE_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
_MP3_VERSION_NAMES = {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}


def _mp3_frame_params(h: int) -> tuple[str, int, int, int, int, int, int]:
    """Parse a 32-bit frame header → (version, layer, bitrate_kbps,
    sample_rate, padding, n_channels, frame_bytes).  Raises ValueError on
    reserved/invalid fields, NotImplementedError on free-format streams
    (bitrate index 0: frame size is not derivable from the header)."""
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError(f"lost MP3 frame sync (header 0x{h:08x})")
    vbits = (h >> 19) & 3
    lbits = (h >> 17) & 3
    if vbits == 1:
        raise ValueError("reserved MPEG version")
    if lbits == 0:
        raise ValueError("reserved MP3 layer")
    layer = 4 - lbits  # bits 3/2/1 = layers I/II/III
    vgroup = 1 if vbits == 3 else 2
    bidx = (h >> 12) & 0xF
    if bidx == 15:
        raise ValueError("invalid bitrate index 15")
    if bidx == 0:
        raise NotImplementedError("free-format MP3 (bitrate index 0)")
    # MPEG2/2.5 layers II and III share one table
    table = _MP3_BITRATES[(vgroup, min(layer, 2) if vgroup == 2 else layer)]
    br = table[bidx - 1]
    sidx = (h >> 10) & 3
    if sidx == 3:
        raise ValueError("reserved sample-rate index")
    sr = _MP3_SAMPLE_RATES[vbits][sidx]
    pad = (h >> 9) & 1
    mode = (h >> 6) & 3
    ch = 1 if mode == 3 else 2
    if layer == 1:
        size = (12 * br * 1000 // sr + pad) * 4
    elif layer == 2 or vgroup == 1:
        size = 144 * br * 1000 // sr + pad
    else:  # layer III, MPEG2/2.5: half-size frames
        size = 72 * br * 1000 // sr + pad
    return _MP3_VERSION_NAMES[vbits], layer, br, sr, pad, ch, size


def _mp3_samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2 or version == "MPEG1":
        return 1152
    return 576  # layer III, MPEG2/2.5


def decode_mp3_headers(b: bytes) -> dict:
    """Walk every MP3 frame header in ``b`` and return the stream's framing
    metadata: ``{"kind": "audio_meta", "version", "layer", "sample_rate",
    "n_channels", "n_frames", "n_samples", "duration_s", "avg_bitrate_kbps",
    "is_vbr", "n_bytes"}``.

    Skips a leading ID3v2 tag (synchsafe size) and a trailing 128-byte
    ID3v1 ``TAG`` block; requires version/layer/sample-rate to stay
    constant across frames (a mixed stream is a framing error) while
    bitrate may vary per frame (VBR — reported via ``is_vbr`` and the
    exact average).  A frame extending past the payload end is a
    ``ValueError`` (truncation, never a silent partial decode); free-format
    streams raise ``NotImplementedError``.  HEADERS ONLY: no PCM synthesis
    (Huffman + MDCT are out of scope per SCALING.md; use the WAV family
    for sample-level oracles)."""
    pos = 0
    end = len(b)
    if b[:3] == b"ID3" and len(b) >= 10:
        syn = b[6:10]
        if any(x & 0x80 for x in syn):
            raise ValueError("bad ID3v2 synchsafe size")
        pos = 10 + ((syn[0] << 21) | (syn[1] << 14) | (syn[2] << 7) | syn[3])
    if end - pos >= 128 and b[end - 128 : end - 125] == b"TAG":
        end -= 128
    frames = 0
    bitrate_sum = 0
    bitrates = set()
    sig = None
    while pos < end:
        if end - pos < 4:
            raise ValueError(f"truncated MP3 header at byte {pos}")
        (h,) = struct.unpack_from(">I", b, pos)
        version, layer, br, sr, _pad, ch, size = _mp3_frame_params(h)
        if sig is None:
            sig = (version, layer, sr, ch)
        elif sig != (version, layer, sr, ch):
            raise ValueError(
                f"mixed MP3 stream at byte {pos}: {sig} -> "
                f"{(version, layer, sr, ch)}"
            )
        if pos + size > end:
            raise ValueError(
                f"truncated MP3 frame at byte {pos} (needs {size})"
            )
        frames += 1
        bitrate_sum += br
        bitrates.add(br)
        pos += size
    if not frames:
        raise ValueError("no MP3 frames in payload")
    version, layer, sr, ch = sig
    spf = _mp3_samples_per_frame(version, layer)
    return {
        "kind": "audio_meta",
        "version": version,
        "layer": layer,
        "sample_rate": sr,
        "n_channels": ch,
        "n_frames": frames,
        "n_samples": frames * spf,
        "duration_s": frames * spf / sr,
        "avg_bitrate_kbps": bitrate_sum / frames,
        "is_vbr": len(bitrates) > 1,
        "n_bytes": len(b),
    }


def encode_mp3_frames(
    version: str,
    layer: int,
    sample_rate: int,
    frame_specs: list[tuple[int, int]],
    channels: int = 1,
    id3v2_bytes: int = 0,
) -> bytes:
    """Build a syntactically-valid MP3 stream: one frame per
    ``(bitrate_kbps, padding)`` spec, bodies filled with a deterministic
    byte pattern (the header walk never reads them), optionally prefixed
    with a zeroed ID3v2 tag of ``id3v2_bytes`` payload bytes.  Framing
    builder only — no audio is encoded, so :func:`decode_mp3_headers`
    stays an independent implementation of the same public tables."""
    vbits = {v: k for k, v in _MP3_VERSION_NAMES.items()}[version]
    vgroup = 1 if vbits == 3 else 2
    sidx = _MP3_SAMPLE_RATES[vbits].index(sample_rate)
    table = _MP3_BITRATES[(vgroup, min(layer, 2) if vgroup == 2 else layer)]
    out = bytearray()
    if id3v2_bytes:
        if id3v2_bytes >= 1 << 28:
            raise ValueError("ID3v2 size exceeds synchsafe range")
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3v2_bytes >> s) & 0x7F for s in (21, 14, 7, 0)]
        )
        out += bytes(id3v2_bytes)
    for k, (br, pad) in enumerate(frame_specs):
        bidx = table.index(br) + 1
        h = (
            (0x7FF << 21) | (vbits << 19) | ((4 - layer) << 17) | (1 << 16)
            | (bidx << 12) | (sidx << 10) | (pad << 9)
            | ((3 if channels == 1 else 0) << 6)
        )
        if layer == 1:
            size = (12 * br * 1000 // sample_rate + pad) * 4
        elif layer == 2 or vgroup == 1:
            size = 144 * br * 1000 // sample_rate + pad
        else:
            size = 72 * br * 1000 // sample_rate + pad
        frame = bytearray(struct.pack(">I", h))
        body = bytes(((k * 7 + j * 13) % 256) for j in range(size - 4))
        # body bytes must never fake a sync word (0xFF 0xE0+): the walker
        # jumps frame-to-frame so it wouldn't see them, but keep the
        # stream honest for third-party parsers
        frame += body.replace(b"\xff", b"\x7f")
        out += frame
    return bytes(out)


def decode_payload(payload: bytes, fmt: str) -> dict:
    """Codec dispatch.  ``image/bmp``, ``image/png``, ``image/jpeg``
    (baseline sequential AND progressive), ``image/gif`` (multi-frame) and
    ``audio/wav``
    decode for REAL via the stdlib codecs in this module; ``audio/mpeg``
    (MP3) decodes FRAME HEADERS only (:func:`decode_mp3_headers` — framing
    metadata, no PCM synthesis); ``text/plain`` keeps the deterministic
    byte-level fake; everything else raises — the container has no codec
    libraries, and a wrong answer is worse than an explicit gap."""
    if fmt == "text/plain":
        return _fake_decode(payload)
    if fmt in ("audio/mpeg", "audio/mp3"):
        return decode_mp3_headers(payload)
    if fmt == "image/bmp":
        px = decode_bmp(payload)
        h, w, _ = px.shape
        return {"kind": "image", "width": w, "height": h, "pixels": px}
    if fmt == "image/jpeg":
        px = decode_jpeg(payload)
        h, w = px.shape[:2]
        return {"kind": "image", "width": w, "height": h, "pixels": px}
    if fmt == "image/png":
        px = decode_png(payload)
        h, w = px.shape[:2]
        return {"kind": "image", "width": w, "height": h, "pixels": px}
    if fmt == "image/gif":
        frames, delays = decode_gif(payload)
        h, w = frames[0].shape[:2]
        return {
            "kind": "animation",
            "width": w,
            "height": h,
            "n_frames": len(frames),
            "frames": frames,
            "delays": delays,
        }
    if fmt == "audio/wav":
        rate, ch, samples = decode_wav(payload)
        return {
            "kind": "audio",
            "sample_rate": rate,
            "n_channels": ch,
            "samples": samples,
        }
    raise NotImplementedError(
        f"no codec for {fmt!r}: install decoders and register them here"
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic byte-level 'decode' standing in for a codec: byte count,
    md5 fingerprint, fixed-size frame count, and a tiny feature vector —
    every value reproducible from the bytes alone."""
    import hashlib

    n = len(payload)
    # Feature vector flattened to scalar columns (f0..f2): array<double>
    # outputs are unhashable for downstream pandas-based canonicalization.
    return {
        "n_bytes": n,
        "fingerprint": hashlib.md5(payload).hexdigest(),
        "n_frames": (n + FRAME_BYTES - 1) // FRAME_BYTES,
        "f0": float(n % 256),
        "f1": float(payload[0]) if n else 0.0,
        "f2": float(payload[-1]) if n else 0.0,
    }


FRAME_INDEX_SCHEMA = "doc_id long, frame_id int, frame_bytes int, frame_md5 string"


def sample_frames(with_payload: DataFrame, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Frame sampling over binary payloads: one output row per fixed-size
    frame — the video/audio 'decode → per-frame feature' shape, with the
    codec stubbed to byte-slicing + fingerprint.  Demonstrates the 1→N
    :func:`map_rows` contract a real frame extractor uses."""
    import hashlib

    def frames(doc_id, payload):
        b = bytes(payload)
        for i in range(0, max(len(b), 1), frame_bytes):
            chunk = b[i : i + frame_bytes]
            yield {
                "doc_id": doc_id,
                "frame_id": i // frame_bytes,
                "frame_bytes": len(chunk),
                "frame_md5": hashlib.md5(chunk).hexdigest(),
            }

    return map_rows(with_payload, ["doc_id", "payload"], frames, FRAME_INDEX_SCHEMA)


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The decode loop sees pandas batches of raw bytes — exactly the shape a
    real image/audio featurizer needs (decode → ndarray → model) — and emits
    typed columns."""

    def features(doc_id, payload, meta):
        d = decode_payload(bytes(payload), meta["format"])
        d["doc_id"] = doc_id
        return [d]

    return map_rows(with_payload, ["doc_id", "payload", "meta"], features, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Real-codec media pipeline: synthesize genuine BMP/WAV bytes from closed-form
# per-doc formulas, decode them back with the independent stdlib parsers, and
# emit features an oracle can recompute symbolically.  The encode→decode round
# trip is what proves the codecs: row padding, bottom-up flips, BGR ordering,
# RIFF chunk walking all have to be right for the features to match.
# ---------------------------------------------------------------------------

MEDIA_FEATURE_SCHEMA = (
    "doc_id long, fmt string, width long, height long, n_channels long, "
    "sample_rate long, n_samples long, mean_luma double, first_luma double, "
    "mean_r double, rms double, peak long"
)


def _media_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form media spec per doc: even ids carry a BMP whose pixel i
    (row-major, top-down) is ``R=(d+i)%256, G=(d+2i)%256, B=(d+3i)%256``
    over a ``(5+d%4) × (3+d%3)`` canvas (widths 5-8 exercise every row-pad
    width); odd ids carry a ``1+d%2``-channel 16-bit PCM WAV at
    ``8000+(d%3)*4000`` Hz with ``30+d%7`` frames and interleaved sample
    ``s_i = ((d*11 + i*17) % 2048) - 1024``."""
    d = int(doc_id)
    if d % 2 == 0:
        w, h = 5 + d % 4, 3 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        px = np.stack(
            [(d + i) % 256, (d + 2 * i) % 256, (d + 3 * i) % 256], axis=-1
        ).astype(np.uint8).reshape(h, w, 3)
        return "image/bmp", encode_bmp(px)
    ch, rate, frames = 1 + d % 2, 8000 + (d % 3) * 4000, 30 + d % 7
    i = np.arange(frames * ch, dtype=np.int64)
    samples = ((d * 11 + i * 17) % 2048 - 1024).astype(np.int16)
    return "audio/wav", encode_wav(rate, ch, samples)


def synthesize_payloads(
    docs: DataFrame, plan: Callable[[int], tuple[str, bytes]]
) -> DataFrame:
    """Attach a REAL encoded payload to each document: ``plan(doc_id)``
    returns its ``(format, payload)`` — :func:`_media_plan`,
    :func:`_g711_plan`, :func:`_png_plan`, :func:`_png_variant_plan`,
    :func:`_palette_png_plan`, :func:`_gif_plan`, :func:`_jpeg_plan`,
    :func:`_jpeg12_plan`.  Map-only, partition-preserving."""

    def payload(doc_id):
        fmt, b = plan(doc_id)
        return [
            {"doc_id": doc_id, "payload": b, "meta": {"format": fmt, "n_bytes": len(b)}}
        ]

    return map_rows(docs, ["doc_id"], payload, PAYLOAD_SCHEMA)


def _g711_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form G.711 WAV per doc (the `multimodal_wav_g711` formula):
    companded byte ``b_i = (7d + 13i) % 256``, even docs μ-law / odd A-law,
    ``1 + d%2`` channels, ``(30 + d%7) * ch`` interleaved samples, 8 kHz,
    wrapped in a real fmt-7/6 RIFF container.  Format ``audio/wav``, so
    the payload routes through :func:`decode_wav` in both the batch
    extractor and the streaming media-decode runner."""
    d = int(doc_id)
    ch = 1 + d % 2
    n = (30 + d % 7) * ch
    i = np.arange(n, dtype=np.int64)
    raw = ((d * 7 + i * 13) % 256).astype(np.uint8).tobytes()
    law = "mulaw" if d % 2 == 0 else "alaw"
    return "audio/wav", encode_wav_g711(8000, ch, raw, law)


def resize_bmp(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor image resize: destination pixel ``(x, y)`` samples
    source ``(⌊x·w/out_w⌋, ⌊y·h/out_h⌋)`` — the classic index-map NN
    kernel, pure integer arithmetic so it replays exactly in any engine."""
    h, w, _ = px.shape
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return np.ascontiguousarray(px[ys][:, xs])


def resize_bmp_payloads(
    with_payload: DataFrame, out_w: int = 4, out_h: int = 3
) -> DataFrame:
    """REAL image resize over BMP payloads: decode → nearest-neighbor
    sample → re-encode, all inside Arrow batches.  Rows whose format is not
    ``image/bmp`` are dropped (a real pipeline branches by modality before
    a resize stage).  1→1 map-only — no shuffle, partitioning inherited."""

    def resize(doc_id, payload, meta):
        if meta["format"] != "image/bmp":
            return
        resized = encode_bmp(resize_bmp(decode_bmp(bytes(payload)), out_w, out_h))
        yield {
            "doc_id": doc_id,
            "payload": resized,
            "meta": {"format": "image/bmp", "n_bytes": len(resized)},
        }

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], resize, PAYLOAD_SCHEMA
    )


def resample_wav(
    samples: np.ndarray, ch: int, in_frames: int, out_frames: int
) -> np.ndarray:
    """Nearest-neighbor sample-rate conversion: output frame ``j`` samples
    source frame ``⌊j·in_frames/out_frames⌋`` across all channels — the
    audio analogue of :func:`resize_bmp`'s index map, pure integer
    arithmetic."""
    if out_frames <= 0:
        return samples[:0]
    idx = (np.arange(out_frames, dtype=np.int64) * in_frames) // out_frames
    return np.ascontiguousarray(samples.reshape(in_frames, ch)[idx].reshape(-1))


def resample_wav_payloads(with_payload: DataFrame, out_rate: int = 8000) -> DataFrame:
    """REAL audio resample over WAV payloads: decode → NN frame map →
    re-encode at ``out_rate`` (``out_frames = ⌊frames·out_rate/in_rate⌋``).
    Non-WAV rows drop (modality branch).  1→1 map-only, no shuffle."""

    def resample(doc_id, payload, meta):
        if meta["format"] != "audio/wav":
            return
        rate, ch, s = decode_wav(bytes(payload))
        frames = len(s) // ch
        out_frames = (frames * out_rate) // rate
        res = encode_wav(out_rate, ch, resample_wav(s, ch, frames, out_frames))
        yield {
            "doc_id": doc_id,
            "payload": res,
            "meta": {"format": "audio/wav", "n_bytes": len(res)},
        }

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], resample, PAYLOAD_SCHEMA
    )


def _channel_means(px: np.ndarray) -> tuple[list[float], float]:
    """``(means, luma)`` of a decoded ``(h, w)`` or ``(h, w, c)`` pixel
    array: one mean per channel, each an exact integer channel sum divided
    once by the pixel count — ONE float division over an exactly-represented
    integer, so any engine recomputing the same formula lands on the
    bit-identical double (no summation-order drift).  ``luma`` mixes the
    first three means, ``0.299·r̄ + 0.587·ḡ + 0.114·b̄``; a grey image (one
    channel, or grey + alpha) is its own luma."""
    px = px.astype(np.int64).reshape(px.shape[0], px.shape[1], -1)
    n = px.shape[0] * px.shape[1]
    means = [int(px[:, :, c].sum()) / n for c in range(px.shape[2])]
    if len(means) < 3:
        return means, means[0]
    return means, 0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2]


def extract_media_features(with_payload: DataFrame) -> DataFrame:
    """Decode real BMP/WAV payloads and emit typed features, computed as
    exact integer sums divided once (:func:`_channel_means`;
    ``rms = sqrt(int_sumsq / n)`` likewise), so any engine recomputing the
    same formula lands on the bit-identical double."""

    def features(doc_id, payload, meta):
        d = decode_payload(bytes(payload), meta["format"])
        row = {
            "doc_id": doc_id, "fmt": meta["format"],
            "width": None, "height": None, "n_channels": None,
            "sample_rate": None, "n_samples": None,
            "mean_luma": None, "first_luma": None, "mean_r": None,
            "rms": None, "peak": None,
        }
        if d["kind"] == "image":
            px = d["pixels"]
            h, w, _ = px.shape
            means, luma = _channel_means(px)
            row.update(
                width=w, height=h, n_channels=3, n_samples=w * h,
                mean_luma=luma,
                # the first pixel's luma is its 1×1 crop's mean luma
                first_luma=_channel_means(px[:1, :1])[1],
                mean_r=means[0],
            )
        else:
            s = d["samples"].astype(np.int64)
            ns = len(s)
            row.update(
                n_channels=d["n_channels"], sample_rate=d["sample_rate"],
                n_samples=ns,
                rms=float(np.sqrt(int((s * s).sum()) / ns)),
                peak=int(np.abs(s).max()),
            )
        yield row

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], features, MEDIA_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Real-codec PNG pipeline: closed-form per-doc PNGs (grey/RGB/RGBA cycling,
# every scanline filter exercised), decoded back by the independent chunk
# walker above, features exact-rational so a SQL oracle replays them
# symbolically.  Same contract as the BMP/WAV pipeline: the round trip only
# matches if chunk framing, CRCs, inflate and all five unfilters are right.
# ---------------------------------------------------------------------------

PNG_FEATURE_SCHEMA = (
    "doc_id long, png_type string, width long, height long, n_channels long, "
    "n_samples long, mean_c0 double, mean_luma double, mean_alpha double"
)

_PNG_KIND = {0: "grey", 1: "rgb", 2: "rgba", 3: "grey_alpha"}


def _png_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form PNG spec per doc: color type cycles grey/RGB/RGBA with
    ``doc_id % 3`` over a ``(5+d%4) × (3+d%3)`` canvas (widths 5-8, heights
    3-5).  Pixel ``i`` (row-major, top-down): grey ``v=(d+7i)%256``; RGB
    ``r=(d+i)%256, g=(d+2i)%256, b=(d+3i)%256``; RGBA adds ``a=(d+5i)%256``.
    Row ``y`` is stored with scanline filter ``(d+y)%5``, so the corpus
    exercises None/Sub/Up/Average/Paeth at every canvas width and channel
    count."""
    d = int(doc_id)
    w, h = 5 + d % 4, 3 + d % 3
    i = np.arange(w * h, dtype=np.int64)
    kind = d % 3
    if kind == 0:
        px = ((d + 7 * i) % 256).astype(np.uint8).reshape(h, w)
    else:
        planes = [(d + i) % 256, (d + 2 * i) % 256, (d + 3 * i) % 256]
        if kind == 2:
            planes.append((d + 5 * i) % 256)
        px = np.stack(planes, axis=-1).astype(np.uint8).reshape(h, w, len(planes))
    return "image/png", encode_png(px, row_filters=[(d + y) % 5 for y in range(h)])


def _png_variant_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form spec for the r13 decode paths born row-less (VERDICT r13
    ask #5): variant cycles with ``doc_id % 4`` —

    * v0: Adam7-INTERLACED 8-bit RGB over a ``(9+d%5) × (10+d%3)`` canvas
      (wide/tall enough that all seven passes are non-empty):
      ``r=(d+11i)%256, g=(d+23i)%256, b=(d+31i)%256``;
    * v1: 16-BIT greyscale, ``(6+d%4) × (5+d%3)``,
      ``g=(257d+101i)%65536`` (big-endian sample pairs, uint16 out);
    * v2: 4-BIT greyscale, ``(7+d%5) × (6+d%3)``, raw ``(d+i)%16`` —
      decoded samples scale ×17 to 8-bit exactly;
    * v3: GREY+ALPHA 8-bit, ``(5+d%4) × (4+d%3)``,
      ``g=(d+7i)%256, a=(d+13i)%256``.

    Non-interlaced variants store row ``y`` with scanline filter
    ``(d+y)%5``; pixel index ``i`` is row-major top-down."""
    d = int(doc_id)
    v = d % 4
    if v == 0:
        w, h = 9 + d % 5, 10 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        px = np.stack(
            [(d + 11 * i) % 256, (d + 23 * i) % 256, (d + 31 * i) % 256],
            axis=-1,
        ).astype(np.uint8).reshape(h, w, 3)
        return "image/png", encode_png(px, interlace=True)
    if v == 1:
        w, h = 6 + d % 4, 5 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        px = ((257 * d + 101 * i) % 65536).astype(np.uint16).reshape(h, w)
        return "image/png", encode_png(px, depth=16, row_filters=[(d + y) % 5 for y in range(h)])
    if v == 2:
        w, h = 7 + d % 5, 6 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        px = ((d + i) % 16).astype(np.uint8).reshape(h, w)
        return "image/png", encode_png(px, depth=4, row_filters=[(d + y) % 5 for y in range(h)])
    w, h = 5 + d % 4, 4 + d % 3
    i = np.arange(w * h, dtype=np.int64)
    px = np.stack([(d + 7 * i) % 256, (d + 13 * i) % 256], axis=-1).astype(
        np.uint8
    ).reshape(h, w, 2)
    return "image/png", encode_png(px, row_filters=[(d + y) % 5 for y in range(h)])


def extract_png_features(with_payload: DataFrame) -> DataFrame:
    """Decode real PNG payloads (any supported channel count) and emit typed
    features as exact integer sums divided once (:func:`_channel_means`).
    ``mean_luma`` is the 0.299/0.587/0.114 mix for RGB(A) and the grey mean
    for greyscale (a grey pixel's luma is itself); ``mean_alpha`` is NULL
    unless the image has an alpha channel (grey + alpha, or RGBA)."""

    def features(doc_id, payload, meta):
        d = decode_payload(bytes(payload), meta["format"])
        px = d["pixels"]
        ch = 1 if px.ndim == 2 else px.shape[-1]
        h, w = d["height"], d["width"]
        means, luma = _channel_means(px)
        yield {
            "doc_id": doc_id,
            "png_type": _PNG_KIND[{1: 0, 2: 3, 3: 1, 4: 2}[ch]],
            "width": w, "height": h, "n_channels": ch, "n_samples": w * h,
            "mean_c0": means[0], "mean_luma": luma,
            "mean_alpha": means[-1] if ch in (2, 4) else None,
        }

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], features, PNG_FEATURE_SCHEMA
    )


def _palette_png_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form palette PNG per doc: an 8-entry palette with entry ``j``
    = ``((d+37j)%256, (d+59j)%256, (d+83j)%256)``, index map ``(d+i)%8``
    over the usual ``(5+d%4) × (3+d%3)`` canvas, row ``y`` filtered with
    ``(d+y)%5``; ODD docs add a 4-entry tRNS (``alpha_j = (d+11j)%256``,
    later entries opaque) so both the RGB and RGBA expansion paths carry
    oracle coverage."""
    d = int(doc_id)
    w, h = 5 + d % 4, 3 + d % 3
    j = np.arange(8, dtype=np.int64)
    plte = np.stack(
        [(d + 37 * j) % 256, (d + 59 * j) % 256, (d + 83 * j) % 256], axis=-1
    ).astype(np.uint8)
    idx = ((d + np.arange(w * h, dtype=np.int64)) % 8).astype(np.uint8).reshape(h, w)
    trns = bytes(int((d + 11 * k) % 256) for k in range(4)) if d % 2 else None
    return "image/png", encode_palette_png(
        idx, plte, trns=trns, row_filters=[(d + y) % 5 for y in range(h)]
    )


# ---------------------------------------------------------------------------
# Real stdlib GIF codec: the multi-frame (video-shaped) format — frame
# extraction through a REAL container instead of the byte-slicing fake.
# Decoder implements full GIF-variant LZW (growing code widths to 12 bits,
# clear/end codes), 87a/89a headers, global AND local color tables, Adam-less
# 4-pass interlace, and Graphic Control Extension delays.  The encoder emits
# a VALID literal-only LZW stream (clear codes re-issued before the code
# width would grow — the classic "uncompressed GIF" construction), so the
# two directions share no compression logic.
# ---------------------------------------------------------------------------


def _gif_pack_codes(codes: list[int], min_code_size: int) -> bytes:
    """LSB-first bit-pack LZW codes at the width the DECODER will track:
    width starts at min_code_size+1 and grows when the dict (which gains one
    entry per emitted code after the first post-clear code) reaches 2^width."""
    clear = 1 << min_code_size
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1
    dict_size = clear + 2
    prev_was_clear = True
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            width = min_code_size + 1
            dict_size = clear + 2
            prev_was_clear = True
        elif code == clear + 1:
            break
        else:
            if prev_was_clear:
                prev_was_clear = False  # first code after clear adds nothing
            else:
                dict_size += 1
                if dict_size == (1 << width) and width < 12:
                    width += 1
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(h: int) -> list[int]:
    return [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]


def encode_gif(
    frames: list[np.ndarray],
    plte: np.ndarray,
    delays_cs: list[int] | None = None,
    interlace: bool = False,
    local_palettes: list[np.ndarray | None] | None = None,
    transparent_idx: list[int | None] | None = None,
) -> bytes:
    """Encode ``(h, w)`` uint8 index frames as a GIF89a: global color table
    from ``plte`` (padded to the next power of two, max 256 entries), one
    image block per frame (optional per-frame local color table overriding
    the global one), literal-only LZW (valid stream, no dict reuse),
    optional interlaced row order, per-frame delay in centiseconds via a
    Graphic Control Extension.  ``transparent_idx`` (r14) sets each
    frame's GCE transparency flag + index (None = opaque; forces a GCE
    even without delays)."""
    plte = np.asarray(plte, dtype=np.uint8)
    if plte.ndim != 2 or plte.shape[1] != 3 or not 1 <= len(plte) <= 256:
        raise ValueError(f"palette must be (n<=256, 3) uint8, got {plte.shape}")
    h, w = frames[0].shape

    def table_bits(n):
        bits = 1
        while (1 << bits) < n:
            bits += 1
        return max(bits, 1)

    gbits = table_bits(len(plte))
    gct = plte.tobytes() + b"\x00" * ((1 << gbits) * 3 - len(plte) * 3)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (gbits - 1), 0, 0)
    out += gct
    for fi, fr in enumerate(frames):
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.shape != (h, w):
            raise ValueError("all frames must share the canvas size")
        lct = None if local_palettes is None else local_palettes[fi]
        active = plte if lct is None else np.asarray(lct, dtype=np.uint8)
        if int(fr.max(initial=0)) >= len(active):
            raise ValueError("index out of color-table range")
        tr = transparent_idx[fi] if transparent_idx is not None else None
        if delays_cs is not None or tr is not None:
            out += struct.pack(
                "<BBBBHBB", 0x21, 0xF9, 4,
                0x01 if tr is not None else 0,
                delays_cs[fi] if delays_cs is not None else 0,
                tr if tr is not None else 0, 0,
            )
        flags = 0
        lbits = 0
        if lct is not None:
            lbits = table_bits(len(lct))
            flags |= 0x80 | (lbits - 1)
        if interlace:
            flags |= 0x40
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, flags)
        if lct is not None:
            out += active.tobytes() + b"\x00" * ((1 << lbits) * 3 - len(active) * 3)
        # indices in stored row order
        ys = _gif_interlace_order(h) if interlace else range(h)
        literals = [int(v) for y in ys for v in fr[y]]
        min_code = max(table_bits(len(active)), 2)
        clear = 1 << min_code
        codes = []
        for i, lit in enumerate(literals):
            if i % 200 == 0:
                codes.append(clear)  # re-clear before the width would grow
            codes.append(lit)
        if not literals:
            codes.append(clear)
        codes.append(clear + 1)  # end of information
        packed = _gif_pack_codes(codes, min_code)
        out.append(min_code)
        for off in range(0, len(packed), 255):
            chunk = packed[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """Full GIF-variant LZW: growing code width (to 12 bits), clear resets,
    end-of-information; raises on corrupt streams instead of guessing."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    dictionary: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    acc = 0
    nbits = 0
    pos = 0
    prev: list[int] | None = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dictionary = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(dictionary) or not dictionary[code]:
                raise ValueError(f"bad first LZW code {code}")
            entry = dictionary[code]
        elif code < len(dictionary) and (dictionary[code] or code < clear):
            entry = dictionary[code]
            dictionary.append(prev + [entry[0]])
        elif code == len(dictionary):
            entry = prev + [prev[0]]
            dictionary.append(entry)
        else:
            raise ValueError(f"bad LZW code {code} (dict size {len(dictionary)})")
        out.extend(entry)
        if prev is not None and len(dictionary) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(
            f"GIF LZW stream ended early: got {len(out)} of {n_pixels} pixels"
        )
    return out[:n_pixels]


def decode_gif(b: bytes) -> tuple[list[np.ndarray], list[int | None]]:
    """Decode a GIF87a/89a to ``(frames, delays)``: one ``(h, w, 3)`` uint8
    RGB array per image block (local color table wins over the global one;
    interlaced frames are deinterlaced), and the preceding Graphic Control
    Extension's delay in centiseconds (None when absent).  When ANY frame's
    GCE sets the transparency flag, EVERY frame returns ``(h, w, 4)`` RGBA
    instead (alpha 0 at that frame's transparent index, 255 elsewhere —
    r14; previously the flag was silently ignored and transparent pixels
    rendered as their palette color).  Malformed framing, missing color
    tables, and out-of-range indices raise ``ValueError``."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")
    if len(b) < 13:
        raise ValueError(f"truncated GIF (logical screen descriptor, {len(b)} bytes)")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 1 << ((flags & 0x07) + 1)
        gct = np.frombuffer(b, dtype=np.uint8, count=n * 3, offset=pos).reshape(-1, 3)
        pos += n * 3
    frames: list[np.ndarray] = []
    delays: list[int | None] = []
    transparent: list[int | None] = []  # per-frame GCE transparent index
    pending_delay: int | None = None
    pending_transparent: int | None = None

    def _byte_at(p: int, what: str) -> int:
        # keep the documented contract: malformed framing is ValueError,
        # never a bare IndexError from a payload truncated mid-block
        if p >= len(b):
            raise ValueError(f"truncated GIF ({what} at byte {p} of {len(b)})")
        return b[p]

    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            if any(t is not None for t in transparent):
                # one shape per GIF: frames without a transparency GCE
                # gain a fully-opaque alpha channel
                frames = [
                    f if f.shape[-1] == 4 else np.dstack(
                        [f, np.full(f.shape[:2], 255, dtype=np.uint8)]
                    )
                    for f in frames
                ]
            return frames, delays
        if block == 0x21:  # extension: label + sub-blocks
            label = _byte_at(pos, "extension label")
            pos += 1
            while True:
                size = _byte_at(pos, "extension sub-block size")
                pos += 1
                if size == 0:
                    break
                if pos + size > len(b):
                    raise ValueError(
                        f"truncated GIF (extension sub-block of {size} bytes "
                        f"at byte {pos} of {len(b)})"
                    )
                if label == 0xF9 and size == 4:
                    gce_flags = b[pos]
                    pending_delay = struct.unpack_from("<H", b, pos + 1)[0]
                    pending_transparent = (
                        b[pos + 3] if gce_flags & 0x01 else None
                    )
                pos += size
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        if pos + 9 > len(b):
            raise ValueError(f"truncated GIF (image descriptor at byte {pos})")
        fx, fy, fw, fh, fflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if (fx, fy) != (0, 0) or (fw, fh) != (w, h):
            raise NotImplementedError(
                "sub-canvas GIF frames (compositing) not supported"
            )
        table = gct
        if fflags & 0x80:
            n = 1 << ((fflags & 0x07) + 1)
            table = np.frombuffer(
                b, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(-1, 3)
            pos += n * 3
        if table is None:
            raise ValueError("GIF frame has neither local nor global color table")
        min_code = _byte_at(pos, "LZW minimum code size")
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"bad LZW minimum code size {min_code}")
        data = bytearray()
        while True:
            size = _byte_at(pos, "image sub-block size")
            pos += 1
            if size == 0:
                break
            if pos + size > len(b):
                raise ValueError(
                    f"truncated GIF (image sub-block of {size} bytes at "
                    f"byte {pos} of {len(b)})"
                )
            data += b[pos : pos + size]
            pos += size
        idx = np.array(
            _gif_lzw_decode(bytes(data), min_code, fw * fh), dtype=np.int64
        ).reshape(fh, fw)
        if fflags & 0x40:  # interlaced: stored rows map to pass order
            order = _gif_interlace_order(fh)
            de = np.empty_like(idx)
            de[order] = idx
            idx = de
        if int(idx.max(initial=0)) >= len(table):
            raise ValueError(
                f"GIF index {int(idx.max())} out of color-table range ({len(table)})"
            )
        if pending_transparent is not None and pending_transparent >= len(table):
            raise ValueError(
                f"GIF transparent index {pending_transparent} out of "
                f"color-table range ({len(table)})"
            )
        frames.append(np.ascontiguousarray(table[idx].astype(np.uint8)))
        delays.append(pending_delay)
        transparent.append(pending_transparent)
        if pending_transparent is not None:
            # remember the index map so the RGBA pass can rebuild alpha
            frames[-1] = np.dstack(
                [frames[-1],
                 np.where(idx == pending_transparent, 0, 255).astype(np.uint8)]
            )
        pending_delay = None
        pending_transparent = None
    raise ValueError("truncated GIF (no trailer)")


GIF_FRAME_SCHEMA = (
    "doc_id long, frame_id long, delay_cs long, width long, height long, "
    "n_samples long, mean_c0 double, mean_luma double"
)


def _gif_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form multi-frame GIF per doc: ``1 + d%3`` frames on the usual
    ``(5+d%4) × (3+d%3)`` canvas, 16-entry palette
    ``j → ((d+29j)%256, (d+53j)%256, (d+71j)%256)``, frame ``f`` pixel ``i``
    (row-major) indexing entry ``(d+f+i)%16``, delay ``4+f`` cs."""
    d = int(doc_id)
    w, h = 5 + d % 4, 3 + d % 3
    j = np.arange(16, dtype=np.int64)
    plte = np.stack(
        [(d + 29 * j) % 256, (d + 53 * j) % 256, (d + 71 * j) % 256], axis=-1
    ).astype(np.uint8)
    i = np.arange(w * h, dtype=np.int64)
    frames = [
        ((d + f + i) % 16).astype(np.uint8).reshape(h, w)
        for f in range(1 + d % 3)
    ]
    return "image/gif", encode_gif(
        frames, plte, delays_cs=[4 + f for f in range(len(frames))]
    )


def extract_gif_frames(with_payload: DataFrame) -> DataFrame:
    """Decode real multi-frame GIFs and emit ONE ROW PER FRAME — the 1→N
    frame-extraction contract (the video decode shape) through a REAL
    codec, superseding :func:`sample_frames`' byte-slicing stand-in for
    this format.  Features are exact integer sums divided once, the
    bit-reproducible contract shared with the other codec extractors."""

    def per_frame(doc_id, payload, meta):
        if meta["format"] != "image/gif":
            return
        frames, delays = decode_gif(bytes(payload))
        for fi, (px, delay) in enumerate(zip(frames, delays)):
            h, w, _ = px.shape
            means, luma = _channel_means(px)
            yield {
                "doc_id": doc_id, "frame_id": fi,
                "delay_cs": delay, "width": w, "height": h,
                "n_samples": w * h,
                "mean_c0": means[0],
                "mean_luma": luma,
            }

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], per_frame, GIF_FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# Baseline sequential JPEG (ITU-T T.81 / JFIF), stdlib + numpy: the single
# most common image format in any real multimodal corpus.  Decode is the
# full baseline path — marker walk, DQT/DHT/SOF0/SOS/DRI parsing, Huffman
# entropy decode with byte unstuffing and restart markers, dequantize,
# dezigzag, 8x8 IDCT, level shift, and YCbCr->RGB — reading ALL tables from
# the file, so it decodes third-party baseline JPEGs, not just this
# encoder's.  Encode is the forward path (level shift, DCT, quantize,
# zigzag, DC-diff + AC run-length Huffman) with flat 8-bit canonical code
# tables — valid-but-uncompressed DHTs chosen so the encoder shares no code
# assignment logic with the decoder's generic table builder.  Progressive
# (SOF2) is fully supported at 8-bit, and extended sequential (SOF1)
# encodes/decodes at 12-bit with pq=1 16-bit quant tables (r14);
# lossless/arithmetic SOFs and 12-bit progressive raise
# NotImplementedError — explicit gaps, never a silent mis-decode.  Rounding
# is floor(x+0.5) at both the IDCT and color-convert steps so the pixel
# pipeline is engine-replayable (DuckDB FLOOR matches; numpy round() would
# tie half-to-even).
# ---------------------------------------------------------------------------

# zigzag scan order (T.81 Figure 5): _JPEG_ZIGZAG[k] = raster index of the
# k-th zigzag coefficient
_JPEG_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)


def _dct_matrix() -> np.ndarray:
    """8x8 DCT-II basis C with C[u,x] = c(u)/2 * cos((2x+1)u*pi/16),
    c(0)=1/sqrt(2) else 1 — forward S = C @ s @ C.T, inverse s = C.T @ S @ C
    (the T.81 normalization: a constant block c has DC exactly 8c)."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
    return c / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0)


_DCT_M = _dct_matrix()

# Flat encoder-side Huffman spec: every symbol gets an 8-bit canonical code
# equal to its position in HUFFVAL (176 symbols < 255, so no code is the
# forbidden all-ones).  Valid per T.81, zero compression — the decoder
# builds its tables generically from the DHT segment, so any table works.
_ENC_DC_VALS = list(range(12))  # DC categories 0..11
# EOB0..EOB14 (progressive EOB-run lengths; baseline uses only 0x00), the
# (run, size) matrix, and ZRL — 176 symbols, all 8-bit codes
_ENC_AC_VALS = [r << 4 for r in range(15)] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
] + [0xF0]
# 12-bit alphabets (r14, T.81 tables F.1/F.2): DC categories 0..15, AC
# sizes 1..14 — 16 and 15+16*14+1 = 240 symbols, still all-8-bit canonical
# (code 255, the forbidden all-ones, stays unused)
_ENC_DC_VALS12 = list(range(16))
_ENC_AC_VALS12 = [r << 4 for r in range(15)] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
] + [0xF0]


def _enc_bits_vals(vals: list[int]) -> tuple[bytes, bytes]:
    bits = [0] * 16
    bits[7] = len(vals)  # all codes 8 bits long
    return bytes(bits), bytes(vals)


# default quantization tables for encode: DC step 8 (divides the constant
# -block DC 8*(v-128) exactly), AC step 16
_JPEG_DEFAULT_Q = np.full(64, 16, dtype=np.int64)
_JPEG_DEFAULT_Q[0] = 8


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:  # pad with 1-bits per T.81
            self.write(1, 1)


def _jpeg_category(v: int) -> int:
    return int(abs(v)).bit_length()


def _jpeg_value_bits(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


_AC_IDX = {v: i for i, v in enumerate(_ENC_AC_VALS)}
_DC_IDX = {v: i for i, v in enumerate(_ENC_DC_VALS)}


def _encode_jpeg_progressive_scans(
    blocks, samp, ncomp, mcux, mcuy, w, h, hmax, vmax
) -> bytes:
    """Emit the progressive (SOF2) scan script over pre-quantized zigzag
    blocks: interleaved DC-first (Al=1) → DC-refine (raw bits) → per
    component AC-first (Ss=1..63, Al=1, EOB runs) → AC-refine (magnitude
    correction bits).  Every successive-approximation mechanism the decoder
    implements gets exercised: point transforms, multi-block EOB runs, and
    correction bits buffered through runs and emitted after the next code.
    """
    out = bytearray()

    def sos_hdr(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            tid = 0 if ci == 0 else 1
            body += bytes([ci + 1, (tid << 4) | tid])
        return body + bytes([ss, se, (ah << 4) | al])

    def mcu_block_order(ci: int):
        hi, vi = samp[ci]
        for my in range(mcuy):
            for mx in range(mcux):
                for byy in range(vi):
                    for bxx in range(hi):
                        yield blocks[ci][(mx * hi + bxx, my * vi + byy)]

    def ni_block_order(ci: int):
        """Non-interleaved grid: ceil of the component's OWN dimensions."""
        hi, vi = samp[ci]
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        for by in range(-(-chh // 8)):
            for bx in range(-(-cw // 8)):
                yield blocks[ci][(bx, by)]

    # --- scan 1: DC first, interleaved, Al=1 -------------------------------
    bw = _JpegBitWriter()
    pred = [0] * ncomp
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(ncomp):
                hi, vi = samp[ci]
                for byy in range(vi):
                    for bxx in range(hi):
                        dc = int(blocks[ci][(mx * hi + bxx, my * vi + byy)][0]) >> 1
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        t = _jpeg_category(diff)
                        bw.write(_DC_IDX[t], 8)
                        if t:
                            bw.write(_jpeg_value_bits(diff, t), t)
    bw.flush()
    out += _seg(0xDA, sos_hdr(list(range(ncomp)), 0, 0, 0, 1)) + bw.out

    # --- scan 2: DC refine, interleaved, Ah=1 Al=0 (raw bits, no codes) ----
    bw = _JpegBitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(ncomp):
                hi, vi = samp[ci]
                for byy in range(vi):
                    for bxx in range(hi):
                        dc = int(blocks[ci][(mx * hi + bxx, my * vi + byy)][0])
                        bw.write(dc & 1, 1)
    bw.flush()
    out += _seg(0xDA, sos_hdr(list(range(ncomp)), 0, 0, 1, 0)) + bw.out

    # --- per component: AC first then AC refine ----------------------------
    for ci in range(ncomp):
        # AC first: Ss=1 Se=63 Ah=0 Al=1, values at half magnitude
        bw = _JpegBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if not eobrun:
                return
            r = eobrun.bit_length() - 1
            bw.write(_AC_IDX[r << 4], 8)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0

        for zz in ni_block_order(ci):
            v64 = [int(v) for v in zz]
            vals = [v >> 1 if v >= 0 else -((-v) >> 1) for v in v64]
            last = max((k for k in range(1, 64) if vals[k]), default=0)
            if last == 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            r = 0
            for k in range(1, last + 1):
                v = vals[k]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    bw.write(_AC_IDX[0xF0], 8)
                    r -= 16
                s = _jpeg_category(v)
                bw.write(_AC_IDX[(r << 4) | s], 8)
                bw.write(_jpeg_value_bits(v, s), s)
                r = 0
            if last < 63:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        bw.flush()
        out += _seg(0xDA, sos_hdr([ci], 1, 63, 0, 1)) + bw.out

        # AC refine: Ah=1 Al=0 — correction bits + newly-significant ±1
        bw = _JpegBitWriter()
        eobrun = 0
        pending: list[int] = []

        def flush_eob_refine():
            nonlocal eobrun, pending
            if eobrun:
                r = eobrun.bit_length() - 1
                bw.write(_AC_IDX[r << 4], 8)
                if r:
                    bw.write(eobrun - (1 << r), r)
                eobrun = 0
            for bit in pending:
                bw.write(bit, 1)
            pending = []

        for zz in ni_block_order(ci):
            v64 = [int(v) for v in zz]
            t = [abs(v) for v in v64]  # Al=0: magnitude at this scale
            last = max((k for k in range(1, 64) if t[k]), default=0)
            r = 0
            br_bits: list[int] = []
            for k in range(1, last + 1):
                if t[k] == 0:
                    r += 1
                    continue
                # ANY nonzero (correction or newly-significant) settles
                # overdue ZRLs first — eager emission keeps each ZRL's
                # correction bits inside its own 16-slot span (the decoder
                # consumes them DURING that ZRL's advance; deferring until
                # the next newly-significant desyncs the stream — found by
                # the r13 hypothesis tier on its first run)
                while r > 15:
                    flush_eob_refine()
                    bw.write(_AC_IDX[0xF0], 8)
                    r -= 16
                    for bit in br_bits:
                        bw.write(bit, 1)
                    br_bits = []
                if t[k] > 1:
                    br_bits.append(t[k] & 1)
                else:  # newly significant at this scan (magnitude 1)
                    flush_eob_refine()
                    bw.write(_AC_IDX[(r << 4) | 1], 8)
                    bw.write(1 if v64[k] > 0 else 0, 1)
                    for bit in br_bits:
                        bw.write(bit, 1)
                    br_bits = []
                    r = 0
            if r > 0 or br_bits or last < 63:
                eobrun += 1
                pending.extend(br_bits)
                if eobrun == 0x7FFF:
                    flush_eob_refine()
        flush_eob_refine()
        bw.flush()
        out += _seg(0xDA, sos_hdr([ci], 1, 63, 1, 0)) + bw.out
    return bytes(out)


def encode_jpeg(
    px: np.ndarray,
    *,
    ycbcr: bool = False,
    subsample: bool = False,
    quant_luma: np.ndarray | None = None,
    quant_chroma: np.ndarray | None = None,
    restart_interval: int = 0,
    progressive: bool = False,
    precision: int = 8,
) -> bytes:
    """Encode a uint8 array as a JFIF JPEG: ``(h, w)`` → grayscale,
    ``(h, w, 3)`` → color (RGB by default; ``ycbcr=True`` treats the planes
    as already-YCbCr, the exactness path the oracle uses).  ``subsample``
    picks 4:2:0 (2x2 luma sampling, chroma from 2x2 plane means); default
    is 4:4:4.  Quant tables are zigzag-ordered length-64 int arrays
    (default: DC step 8, AC step 16).  Dimensions not multiples of the MCU
    size pad by edge replication.  ``restart_interval`` > 0 emits DRI +
    RSTn markers every that many MCUs (sequential mode only).
    ``progressive=True`` (r13) writes SOF2 with the standard scan script —
    interleaved DC first/refine, per-component AC first/refine with EOB
    runs — exercising every successive-approximation mechanism the decoder
    implements; the two modes share only the forward DCT/quantization, so
    cross-mode decode equality is a real equivalence check
    (tests/test_multimodal_codecs.py::TestJpegProgressive).
    ``precision=12`` (r14) writes EXTENDED SEQUENTIAL (SOF1): uint16
    samples < 4096, level shift 2048, pq=1 16-bit quant tables, DC/AC
    Huffman alphabets widened to categories 15/14 per T.81 — progressive
    stays 8-bit (the decoder's documented scope)."""
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    if precision == 12 and progressive:
        raise ValueError("12-bit progressive encode not supported (SOF1 only)")
    px = np.asarray(px, dtype=np.uint8 if precision == 8 else np.uint16)
    if precision == 12 and int(px.max(initial=0)) > 4095:
        raise ValueError("12-bit JPEG sample exceeds 4095")
    center = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    gray = px.ndim == 2
    if not gray and px.shape[2] != 3:
        raise ValueError(f"expected (h,w) or (h,w,3), got {px.shape}")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ql = np.asarray(
        _JPEG_DEFAULT_Q if quant_luma is None else quant_luma, dtype=np.int64
    )
    qc = np.asarray(
        _JPEG_DEFAULT_Q if quant_chroma is None else quant_chroma, dtype=np.int64
    )

    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        p = px.astype(np.float64)
        if ycbcr:
            y, cb, cr = p[:, :, 0], p[:, :, 1], p[:, :, 2]
        else:
            r, g, b = p[:, :, 0], p[:, :, 1], p[:, :, 2]
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = center - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = center + 0.5 * r - 0.418688 * g - 0.081312 * b
            y, cb, cr = (
                np.clip(np.floor(v + 0.5), 0, maxv) for v in (y, cb, cr)
            )
        mode = (
            "420" if subsample is True else str(subsample) if subsample else None
        )
        if mode == "420":
            # pad to even dims (edge), then 2x2 plane means for chroma
            ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            def pad_even(a):
                return np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge")
            cb2 = pad_even(cb).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr2 = pad_even(cr).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes = [y, np.floor(cb2 + 0.5), np.floor(cr2 + 0.5)]
            samp = [(2, 2), (1, 1), (1, 1)]
        elif mode == "422":
            # horizontal-only chroma halving (asymmetric sampling factors)
            pw = (w + 1) // 2 * 2
            def pad_w(a):
                return np.pad(a, ((0, 0), (0, pw - w)), mode="edge")
            cb2 = pad_w(cb).reshape(h, pw // 2, 2).mean(axis=2)
            cr2 = pad_w(cr).reshape(h, pw // 2, 2).mean(axis=2)
            planes = [y, np.floor(cb2 + 0.5), np.floor(cr2 + 0.5)]
            samp = [(2, 1), (1, 1), (1, 1)]
        elif mode is None:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unknown subsample mode {subsample!r} (420/422)")
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # pad every plane to its full MCU-grid size by edge replication and
    # pre-compute quantized zigzag coefficient blocks
    blocks: list[dict[tuple[int, int], np.ndarray]] = []
    for ci, plane in enumerate(planes):
        hi, vi = samp[ci]
        tw, th = mcux * hi * 8, mcuy * vi * 8
        ph, pw = plane.shape
        plane = np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        q = ql if qids[ci] == 0 else qc
        qr = np.empty(64, dtype=np.float64)
        qr[_JPEG_ZIGZAG] = q  # raster-order steps
        # batched forward DCT: all blocks of the plane in one matmul pair
        # (same per-element op sequence as the per-block form)
        ny, nx = th // 8, tw // 8
        b4 = plane.reshape(ny, 8, nx, 8).transpose(0, 2, 1, 3) - center
        coef = np.matmul(np.matmul(_DCT_M, b4), _DCT_M.T)
        codes = np.floor(coef.reshape(ny, nx, 64) / qr + 0.5).astype(np.int64)
        zzs = codes[:, :, _JPEG_ZIGZAG]  # zigzag order
        per: dict[tuple[int, int], np.ndarray] = {
            (bx, by): zzs[by, bx] for by in range(ny) for bx in range(nx)
        }
        blocks.append(per)

    # header segments
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if precision == 12:
        # pq=1 (16-bit elements) — the spec pairs it with 12-bit samples
        def _dqt(tid, q):
            return _seg(
                0xDB, bytes([0x10 | tid]) + b"".join(
                    struct.pack(">H", int(v)) for v in q
                )
            )
    else:
        if int(ql.max()) > 255 or int(qc.max()) > 255:
            raise ValueError("8-bit JPEG quant values must fit a byte")

        def _dqt(tid, q):
            return _seg(0xDB, bytes([tid]) + bytes(int(v) for v in q))

    out += _dqt(0, ql)
    if not gray:
        out += _dqt(1, qc)
    ncomp = len(planes)
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qids[ci]])
    sof_marker = 0xC2 if progressive else (0xC1 if precision == 12 else 0xC0)
    out += _seg(sof_marker, sof)
    # 12-bit widens the alphabets: DC categories 0..15, AC sizes 1..14
    enc_dc_vals = _ENC_DC_VALS if precision == 8 else _ENC_DC_VALS12
    enc_ac_vals = _ENC_AC_VALS if precision == 8 else _ENC_AC_VALS12
    # symbol -> flat-code index as dicts: .index() is a linear scan per
    # emitted symbol and the scan loop below runs per coefficient (r15)
    dc_idx = {v: i for i, v in enumerate(enc_dc_vals)}
    ac_idx = {v: i for i, v in enumerate(enc_ac_vals)}
    dc_bits, dc_vals = _enc_bits_vals(enc_dc_vals)
    ac_bits, ac_vals = _enc_bits_vals(enc_ac_vals)
    out += _seg(0xC4, b"\x00" + dc_bits + dc_vals)  # DC table 0
    out += _seg(0xC4, b"\x10" + ac_bits + ac_vals)  # AC table 0
    if not gray:
        out += _seg(0xC4, b"\x01" + dc_bits + dc_vals)
        out += _seg(0xC4, b"\x11" + ac_bits + ac_vals)
    if progressive:
        if restart_interval:
            raise ValueError(
                "restart_interval with progressive encode not supported"
            )
        out += _encode_jpeg_progressive_scans(
            blocks, samp, ncomp, mcux, mcuy, w, h, hmax, vmax
        )
        out += b"\xff\xd9"  # EOI
        return bytes(out)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)

    # entropy-coded scan: flat 8-bit codes (symbol value IS the code)
    bw = _JpegBitWriter()
    pred = [0] * ncomp
    mcu_count = 0
    rst_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) % 8
                pred = [0] * ncomp
            for ci in range(ncomp):
                hi, vi = samp[ci]
                for byy in range(vi):
                    for bxx in range(hi):
                        zz = blocks[ci][(mx * hi + bxx, my * vi + byy)]
                        dc = int(zz[0])
                        diff = dc - pred[ci]
                        pred[ci] = dc
                        t = _jpeg_category(diff)
                        dc_sym = dc_idx[t]
                        bw.write(dc_sym, 8)
                        if t:
                            bw.write(_jpeg_value_bits(diff, t), t)
                        k = 1
                        while k < 64:
                            run = 0
                            while k < 64 and zz[k] == 0:
                                run += 1
                                k += 1
                            if k == 64:
                                bw.write(ac_idx[0x00], 8)  # EOB
                                break
                            while run > 15:
                                bw.write(ac_idx[0xF0], 8)  # ZRL
                                run -= 16
                            v = int(zz[k])
                            s = _jpeg_category(v)
                            bw.write(ac_idx[(run << 4) | s], 8)
                            bw.write(_jpeg_value_bits(v, s), s)
                            k += 1
            mcu_count += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _build_huff_table(bits: bytes, vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman (length, code) → symbol map from a DHT payload."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if k >= len(vals):
                raise ValueError("DHT: fewer values than BITS counts")
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops (raises) at any real marker unless it is an expected
    RSTn consumed via :meth:`restart`."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.b = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _next_byte(self) -> int:
        if self.pos >= len(self.b):
            raise ValueError("truncated JPEG entropy segment")
        v = self.b[self.pos]
        self.pos += 1
        if v == 0xFF:
            if self.pos >= len(self.b):
                raise ValueError("truncated JPEG entropy segment (lone 0xFF)")
            m = self.b[self.pos]
            if m == 0x00:
                self.pos += 1  # stuffed literal 0xFF
            else:
                raise ValueError(f"unexpected marker 0xff{m:02x} in entropy data")
        return v

    def read_bit(self) -> int:
        if self.n == 0:
            self.acc = self._next_byte()
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")

    def receive_extend(self, t: int) -> int:
        if t == 0:
            return 0
        v = self.read_bits(t)
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    def restart(self, expect: int) -> None:
        """Consume an RSTn marker at a byte boundary; reset bit state."""
        self.n = 0
        if self.pos + 2 > len(self.b):
            raise ValueError("truncated JPEG (missing restart marker)")
        if self.b[self.pos] != 0xFF or self.b[self.pos + 1] != 0xD0 + expect:
            raise ValueError(
                f"expected RST{expect} at byte {self.pos}, got "
                f"{self.b[self.pos:self.pos+2].hex()}"
            )
        self.pos += 2


def _jpeg_reconstruct(comps, coefs, qt, fw: int, fh: int, prec: int = 8) -> np.ndarray:
    """Shared back half of both JPEG decode paths: dequantize + batched 8x8
    IDCT + replication upsample + crop + JFIF YCbCr→RGB over accumulated
    ZIGZAG-order coefficient grids (one ``(ny, nx, 64)`` int array per
    frame component).  The batched ``_DCT_M.T @ X @ _DCT_M`` keeps the
    per-element float op order of the single-block form.  ``prec`` sets
    the level shift / clamp (128/255 at 8-bit, 2048/4095 at 12-bit — r14);
    12-bit output is uint16, no silent precision loss."""
    center = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for si, c in enumerate(comps):
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError(f"missing quant table {c['tq']}")
        arr = coefs[si]
        ny, nx = arr.shape[:2]
        raster = np.zeros((ny, nx, 64), dtype=np.float64)
        raster[:, :, _JPEG_ZIGZAG] = arr
        deq = (raster * q.astype(np.float64)).reshape(ny, nx, 8, 8)
        blk = np.matmul(np.matmul(_DCT_M.T, deq), _DCT_M) + center
        blk = np.clip(np.floor(blk + 0.5), 0, maxv).astype(dtype)
        plane = blk.transpose(0, 2, 1, 3).reshape(ny * 8, nx * 8)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[:fh, :fw])
    if len(comps) == 1:
        return np.ascontiguousarray(full[0])
    if len(comps) != 3:
        raise NotImplementedError(f"{len(comps)}-component JPEG")
    y = full[0].astype(np.float64)
    cb = full[1].astype(np.float64) - center
    cr = full[2].astype(np.float64) - center
    r = np.clip(np.floor(y + 1.402 * cr + 0.5), 0, maxv)
    g = np.clip(np.floor(y - 0.344136 * cb - 0.714136 * cr + 0.5), 0, maxv)
    bch = np.clip(np.floor(y + 1.772 * cb + 0.5), 0, maxv)
    return np.ascontiguousarray(
        np.stack([r, g, bch], axis=-1).astype(dtype)
    )


def decode_jpeg(b: bytes) -> np.ndarray:
    """Decode a JFIF JPEG to a uint8 array: ``(h, w)`` for grayscale,
    ``(h, w, 3)`` RGB for color (JFIF YCbCr constants, floor(x+0.5)
    rounding).  Handles BOTH baseline sequential (SOF0) and progressive
    (SOF2, r13): spectral selection, successive approximation (DC shift/OR
    refinement, AC magnitude-correction refinement), EOB runs, interleaved
    DC scans and per-component AC scans over non-interleaved block grids.
    Reads quantization and Huffman tables from the file; 4:4:4 and
    subsampled (e.g. 4:2:0) frames via per-component MCU grids with
    nearest-replication upsampling; DRI/RSTn restart intervals (MCU-counted
    in interleaved scans, block-counted in non-interleaved); byte
    unstuffing.  Extended sequential (SOF1) decodes too, at 8- OR 12-bit
    precision (r14: pq=1 16-bit DQTs, 2048 level shift, 4095 clamp, uint16
    out), and LOSSLESS (SOF3, r14) decodes the predictive Huffman process
    at precisions 2..16 (returns raw component samples — no color
    conversion; see :func:`encode_jpeg_lossless`).  Arithmetic-coded SOFs
    (the QM-coder — the one remaining JPEG gap), 12-bit PROGRESSIVE, and
    non-interleaved multi-scan SEQUENTIAL files raise
    ``NotImplementedError``; malformed or truncated framing raises
    ``ValueError``."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    sof = None
    dri = 0
    progressive = False
    lossless = False
    coefs: list[np.ndarray] | None = None
    scans_seen = 0

    def need(n: int, what: str) -> None:
        if pos + n > len(b):
            raise ValueError(f"truncated JPEG ({what} at byte {pos} of {len(b)})")

    while True:
        need(2, "marker")
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}, got 0x{b[pos]:02x}")
        while pos < len(b) and b[pos] == 0xFF and b[pos + 1 : pos + 2] == b"\xff":
            pos += 1  # fill bytes
        need(2, "marker")  # payload may END in fill bytes (0xFF 0xFF...)
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and scans_seen:
                return _jpeg_reconstruct(
                    sof["comps"], coefs, qt, sof["w"], sof["h"], sof["prec"]
                )
            raise ValueError("JPEG ended (EOI) before a scan")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        need(2, "segment length")
        (seglen,) = struct.unpack_from(">H", b, pos)
        if seglen < 2:
            raise ValueError(f"bad segment length {seglen}")
        need(seglen, "segment body")
        seg = b[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT: one or more tables (pq=1 → 16-bit, r14)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq not in (0, 1):
                    raise ValueError(f"bad DQT element precision {pq}")
                width = 1 + pq
                if i + 1 + 64 * width > len(seg):
                    raise ValueError("truncated DQT")
                zz = np.frombuffer(
                    seg, dtype=">u2" if pq else np.uint8, count=64, offset=i + 1
                )
                raster = np.empty(64, dtype=np.int64)
                raster[_JPEG_ZIGZAG] = zz
                qt[tq] = raster
                i += 1 + 64 * width
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                if i + 17 > len(seg):
                    raise ValueError("truncated DHT")
                bits = seg[i + 1 : i + 17]
                nvals = sum(bits)
                if i + 17 + nvals > len(seg):
                    raise ValueError("truncated DHT values")
                vals = seg[i + 17 : i + 17 + nvals]
                (dc_tabs if tc == 0 else ac_tabs)[th] = _build_huff_table(bits, vals)
                i += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0/1 ext/2 prog/3 lossless
            if len(seg) < 6:
                raise ValueError("truncated SOF segment")
            prec, fh, fw, nc = struct.unpack_from(">BHHB", seg, 0)
            # baseline SOF0 is 8-bit by definition; extended sequential
            # SOF1 (Huffman) allows 12-bit (r14); 12-bit PROGRESSIVE is
            # spec-legal but out of scope — explicit, never mis-decoded;
            # lossless SOF3 (r14) allows the spec's full 2..16
            if marker == 0xC0 and prec != 8:
                raise ValueError(f"baseline SOF0 must be 8-bit, got {prec}")
            if marker == 0xC1 and prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit precision JPEG")
            if marker == 0xC2 and prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit progressive JPEG (extended sequential "
                    "SOF1 carries the 12-bit path)"
                )
            if marker == 0xC3 and not (2 <= prec <= 16):
                raise ValueError(f"lossless JPEG precision {prec} out of 2..16")
            if fh == 0 or fw == 0:
                raise ValueError(f"empty JPEG frame ({fw}x{fh})")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated SOF component list")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + ci * 3 : 9 + ci * 3]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError(f"bad sampling factors {hs}x{vs}")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-fw // (8 * hmax))
            mcuy = -(-fh // (8 * vmax))
            for c in comps:
                # non-interleaved block grid: ceil of the COMPONENT's own
                # sample dimensions (T.81 A.2.2), inside the MCU-padded grid
                cw = -(-fw * c["h"] // hmax)
                chh = -(-fh * c["v"] // vmax)
                c["bx_ni"], c["by_ni"] = -(-cw // 8), -(-chh // 8)
            sof = {
                "h": fh, "w": fw, "comps": comps, "prec": prec,
                "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
            }
            progressive = marker == 0xC2
            lossless = marker == 0xC3
            if lossless and (hmax != 1 or vmax != 1):
                raise NotImplementedError(
                    "subsampled lossless JPEG (all components must be 1x1)"
                )
            coefs = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                for c in comps
            ]
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF 0x{marker:02x}) not supported — "
                "sequential (SOF0/SOF1 incl. 12-bit), 8-bit progressive "
                "(SOF2), and lossless (SOF3) only"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated DRI segment")
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS: entropy decode follows
            if sof is None:
                raise ValueError("SOS before SOF")
            if not seg:
                raise ValueError("truncated SOS segment")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS component list")
            scan = []
            sidx = []
            for si in range(ns):
                cid, tt = seg[1 + si * 2 : 3 + si * 2]
                ci = next(
                    (i for i, c in enumerate(sof["comps"]) if c["id"] == cid),
                    None,
                )
                if ci is None:
                    raise ValueError(f"SOS references unknown component {cid}")
                scan.append({**sof["comps"][ci], "dc": tt >> 4, "ac": tt & 15})
                sidx.append(ci)
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            br = _JpegBitReader(b, pos)
            if lossless:
                if ns != len(sof["comps"]):
                    raise NotImplementedError(
                        "multi-scan lossless JPEG (scan must carry every "
                        "component)"
                    )
                if not (1 <= ss <= 7) or se != 0 or ah != 0:
                    raise ValueError(
                        f"bad lossless scan header Ss={ss} Se={se} Ah={ah}"
                    )
                if al != 0:
                    raise NotImplementedError(
                        f"lossless point transform Pt={al}"
                    )
                if dri:
                    raise NotImplementedError(
                        "restart intervals in lossless JPEG"
                    )
                return _jpeg_scan_lossless(br, sof, scan, sidx, dri,
                                           dc_tabs, ss)
            if not progressive:
                if ns != len(sof["comps"]):
                    raise NotImplementedError(
                        f"non-interleaved multi-scan JPEG (scan has {ns} of "
                        f"{len(sof['comps'])} components)"
                    )
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError(
                        f"bad baseline scan header Ss={ss} Se={se} "
                        f"Ah={ah} Al={al}"
                    )
                _jpeg_scan_sequential(br, sof, scan, sidx, coefs, dri,
                                      dc_tabs, ac_tabs)
                return _jpeg_reconstruct(
                    sof["comps"], coefs, qt, sof["w"], sof["h"], sof["prec"]
                )
            _jpeg_scan_progressive(br, sof, scan, sidx, coefs, dri,
                                   dc_tabs, ac_tabs, ss, se, ah, al)
            scans_seen += 1
            pos = br.pos
        # APPn / COM / others: skipped
    raise ValueError("unreachable")


def encode_jpeg_lossless(
    px: np.ndarray, predictor: int = 1, precision: int | None = None
) -> bytes:
    """Encode an array as a LOSSLESS JPEG (SOF3, Huffman — T.81 Annex H,
    the DICOM/medical flavor, r14): per-sample mod-2^16 differences from
    one of the seven spec predictors, Huffman-coded with the DC alphabet
    widened to category 16 (the special no-extend-bits diff 32768).
    ``px`` is ``(h, w)`` or ``(h, w, ncomp)`` with every component
    1x1-sampled; ``precision`` (2..16) defaults to the tightest depth that
    holds ``px``.  Bit-exact round trip with :func:`decode_jpeg` for every
    input — there is no quantizer."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor must be 1..7, got {predictor}")
    px = np.asarray(px)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ncomp = px.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if ncomp > 4:
        raise ValueError(f"too many components ({ncomp})")
    vmax = int(px.max(initial=0))
    if precision is None:
        precision = max(2, vmax.bit_length())
    if not 2 <= precision <= 16:
        raise ValueError(f"precision must be 2..16, got {precision}")
    if vmax >= (1 << precision):
        raise ValueError(f"sample exceeds {precision}-bit range")
    planes = px.astype(np.int64)

    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])  # 1x1 sampling, Tq=0 (unused)
    out += _seg(0xC3, sof)
    # flat 8-bit canonical DC table over categories 0..16 (17 symbols)
    vals = list(range(17))
    out += _seg(0xC4, b"\x00" + _enc_bits_vals(vals)[0] + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, 0])  # Ss=predictor, Se=0, AhAl=0
    out += _seg(0xDA, sos)

    bw = _JpegBitWriter()
    default = 1 << (precision - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(ncomp):
                p = planes[:, :, ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(p[0, x - 1])
                elif x == 0:
                    pred = int(p[y - 1, 0])
                else:
                    pred = _jpeg_predict(
                        predictor,
                        int(p[y, x - 1]),
                        int(p[y - 1, x]),
                        int(p[y - 1, x - 1]),
                    )
                diff = (int(p[y, x]) - pred) & 0xFFFF
                v = diff - 65536 if diff > 32768 else diff
                if v == 32768:
                    bw.write(16, 8)  # category 16: no extend bits
                    continue
                t = _jpeg_category(v)
                bw.write(t, 8)
                if t:
                    bw.write(_jpeg_value_bits(v, t), t)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_predict(pred_sel: int, ra: int, rb: int, rc: int) -> int:
    """T.81 H.1.2 predictor (arithmetic >>1, mod-2^16 result)."""
    if pred_sel == 1:
        v = ra
    elif pred_sel == 2:
        v = rb
    elif pred_sel == 3:
        v = rc
    elif pred_sel == 4:
        v = ra + rb - rc
    elif pred_sel == 5:
        v = ra + ((rb - rc) >> 1)
    elif pred_sel == 6:
        v = rb + ((ra - rc) >> 1)
    else:  # 7
        v = (ra + rb) >> 1
    return v & 0xFFFF


def _jpeg_scan_lossless(br, sof, scan, sidx, dri, dc_tabs, pred_sel):
    """Lossless (SOF3) scan: one Huffman-coded mod-2^16 DIFFERENCE per
    sample, row-major, one sample per component per MCU (all components
    1x1-sampled — the only layout this decoder supports).  First sample of
    the scan predicts ``2^(P-1)``; the rest of the first line predicts Ra
    (left); the first sample of later lines predicts Rb (above); interior
    samples use the scan's predictor selector.  Category 16 conveys the
    bit-pattern diff 32768 with no extend bits (T.81 H.2)."""
    fh, fw, prec = sof["h"], sof["w"], sof["prec"]
    ncomp = len(scan)
    planes = [np.zeros((fh, fw), dtype=np.int64) for _ in scan]
    default = 1 << (prec - 1)
    for y in range(fh):
        for x in range(fw):
            for si in range(ncomp):
                tab = dc_tabs.get(scan[si]["dc"])
                if tab is None:
                    raise ValueError(f"missing DC table {scan[si]['dc']}")
                t = br.read_huff(tab)
                if t > 16:
                    raise ValueError(f"bad lossless diff category {t}")
                diff = 32768 if t == 16 else br.receive_extend(t)
                p = planes[si]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(p[0, x - 1])
                elif x == 0:
                    pred = int(p[y - 1, 0])
                else:
                    pred = _jpeg_predict(
                        pred_sel,
                        int(p[y, x - 1]),
                        int(p[y - 1, x]),
                        int(p[y - 1, x - 1]),
                    )
                p[y, x] = (pred + diff) & 0xFFFF
    dtype = np.uint8 if prec <= 8 else np.uint16
    if ncomp == 1:
        return planes[0].astype(dtype)
    return np.stack(planes, axis=-1).astype(dtype)


def _jpeg_scan_sequential(br, sof, scan, sidx, coefs, dri, dc_tabs, ac_tabs):
    """Baseline interleaved scan: full DC+AC per block, MCU order."""
    pred = [0] * len(scan)
    rst_idx = 0
    mcu_count = 0
    for my in range(sof["mcuy"]):
        for mx in range(sof["mcux"]):
            if dri and mcu_count and mcu_count % dri == 0:
                br.restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                pred = [0] * len(scan)
            for si, c in enumerate(scan):
                dct = dc_tabs.get(c["dc"])
                act = ac_tabs.get(c["ac"])
                if dct is None or act is None:
                    raise ValueError("missing Huffman table for scan")
                for byy in range(c["v"]):
                    for bxx in range(c["h"]):
                        t = br.read_huff(dct)
                        pred[si] += br.receive_extend(t)
                        zz = coefs[sidx[si]][my * c["v"] + byy, mx * c["h"] + bxx]
                        zz[0] = pred[si]
                        k = 1
                        while k < 64:
                            rs = br.read_huff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past coefficient 63")
                            zz[k] = br.receive_extend(s)
                            k += 1
            mcu_count += 1


def _jpeg_scan_progressive(br, sof, scan, sidx, coefs, dri, dc_tabs, ac_tabs,
                           ss, se, ah, al):
    """One progressive scan (T.81 G.2): DC scans may interleave components;
    AC scans are single-component over the non-interleaved block grid.
    First scans (Ah=0) establish values at the Al point transform; refine
    scans (Ah>0) add one magnitude bit.  EOB runs span blocks whose band
    has no NEW nonzero coefficients; their correction bits ride along."""
    if ss == 0:  # DC scan (Se must be 0)
        if se != 0:
            raise ValueError(f"DC progressive scan with Se={se}")
        rst_idx = 0
        count = 0
        pred = [0] * len(scan)

        def dc_block(si, by, bx):
            zz = coefs[sidx[si]][by, bx]
            if ah == 0:
                t = br.read_huff(dc_tabs[scan[si]["dc"]])
                pred[si] += br.receive_extend(t)
                zz[0] = pred[si] << al
            else:
                if br.read_bit():
                    zz[0] |= 1 << al

        if ah == 0:
            for c in scan:
                if dc_tabs.get(c["dc"]) is None:
                    raise ValueError("missing DC Huffman table for scan")
        if len(scan) > 1:  # interleaved: MCU order
            for my in range(sof["mcuy"]):
                for mx in range(sof["mcux"]):
                    if dri and count and count % dri == 0:
                        br.restart(rst_idx)
                        rst_idx = (rst_idx + 1) % 8
                        pred = [0] * len(scan)
                    for si, c in enumerate(scan):
                        for byy in range(c["v"]):
                            for bxx in range(c["h"]):
                                dc_block(si, my * c["v"] + byy, mx * c["h"] + bxx)
                    count += 1
        else:  # single component: its own non-interleaved grid
            c = scan[0]
            for by in range(c["by_ni"]):
                for bx in range(c["bx_ni"]):
                    if dri and count and count % dri == 0:
                        br.restart(rst_idx)
                        rst_idx = (rst_idx + 1) % 8
                        pred = [0] * len(scan)
                    dc_block(0, by, bx)
                    count += 1
        return

    # AC scan: single component required by the spec
    if len(scan) != 1:
        raise ValueError("progressive AC scan must cover exactly one component")
    if not 1 <= ss <= se <= 63:
        raise ValueError(f"bad spectral selection Ss={ss} Se={se}")
    c = scan[0]
    act = ac_tabs.get(c["ac"])
    if act is None:
        raise ValueError("missing AC Huffman table for scan")
    grid = coefs[sidx[0]]
    eobrun = 0
    rst_idx = 0
    count = 0
    p1 = 1 << al
    for by in range(c["by_ni"]):
        for bx in range(c["bx_ni"]):
            if dri and count and count % dri == 0:
                br.restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                eobrun = 0
            count += 1
            zz = grid[by, bx]
            if ah == 0:  # first AC scan
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.read_huff(act)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past spectral band end")
                    zz[k] = br.receive_extend(s) << al
                    k += 1
                continue
            # AC refinement scan (T.81 G.2 / the correction-bit walk)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = br.read_huff(act)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r)
                            if r:
                                eobrun += br.read_bits(r)
                            break  # rest of band via the EOB-run path below
                        newval = 0  # ZRL: 16 zero-history skips, no new value
                    elif s == 1:
                        newval = p1 if br.read_bit() else -p1
                    else:
                        raise ValueError(
                            f"AC refinement code with size {s} (must be 1)"
                        )
                    # advance past r zero-history slots, correcting nonzero
                    # ones as they pass
                    while k <= se:
                        if zz[k] != 0:
                            if br.read_bit() and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] > 0 else -p1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s and k <= se:
                        zz[k] = newval
                    k += 1
            if eobrun > 0:
                # block belongs to an EOB run: correction bits only
                while k <= se:
                    if zz[k] != 0 and br.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else -p1
                    k += 1
                eobrun -= 1

JPEG_FEATURE_SCHEMA = (
    "doc_id long, jpeg_type string, width long, height long, "
    "n_samples long, mean_c0 double, mean_luma double"
)


def _jpeg_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form JPEG per doc: a ``(1+d%2) x (1+d%3)`` grid of constant
    8x8 blocks (canvas 8-16 x 8-24).  Even docs are grayscale BASELINE
    (SOF0) with block ``k`` (row-major) value ``(d+17k)%256``; odd docs are
    4:4:4 color PROGRESSIVE (SOF2, r13 — so the driver row drives both
    entropy paths) with YCbCr planes ``Y=(d+17k)%256, Cb=(d+31k)%256,
    Cr=(d+47k)%256``.  Constant blocks make the lossy pipeline EXACT under
    either coding: the only nonzero coefficient is DC ``8*(v-128)``, the DC
    quant step is 8, and the progressive DC scan pair (shift then OR)
    reassembles the same value — so dequant+IDCT+floor(x+0.5) returns ``v``
    bit-for-bit and the oracle replays the whole decode (including
    YCbCr->RGB) in closed-form SQL, identical for both codings."""
    d = int(doc_id)
    bw, bh = 1 + d % 2, 1 + d % 3
    k = np.arange(bw * bh, dtype=np.int64).reshape(bh, bw)
    yv = ((d + 17 * k) % 256).astype(np.uint8)
    up = np.repeat(np.repeat(yv, 8, axis=0), 8, axis=1)
    if d % 2 == 0:
        return "image/jpeg", encode_jpeg(up)
    cbv = np.repeat(np.repeat(((d + 31 * k) % 256).astype(np.uint8), 8, 0), 8, 1)
    crv = np.repeat(np.repeat(((d + 47 * k) % 256).astype(np.uint8), 8, 0), 8, 1)
    return "image/jpeg", encode_jpeg(
        np.stack([up, cbv, crv], axis=-1), ycbcr=True, progressive=True
    )


def _jpeg12_plan(doc_id: int) -> tuple[str, bytes]:
    """Closed-form 12-BIT JPEG per doc (r14, extended sequential SOF1): the
    same constant-block grid as :func:`_jpeg_plan` but with 12-bit sample
    formulas — even docs greyscale ``(d+17k)%4096``, odd docs 4:4:4 YCbCr
    ``Y=(d+17k)%4096, Cb=(d+31k)%4096, Cr=(d+47k)%4096``.  Constant blocks
    keep the lossy pipeline exact at any precision (DC ``8*(v-2048)``, DC
    quant step 8), so the oracle replays the decode — including the
    2048-centered, 4095-clamped YCbCr→RGB — symbolically."""
    d = int(doc_id)
    bw, bh = 1 + d % 2, 1 + d % 3
    k = np.arange(bw * bh, dtype=np.int64).reshape(bh, bw)
    yv = ((d + 17 * k) % 4096).astype(np.uint16)
    up = np.repeat(np.repeat(yv, 8, axis=0), 8, axis=1)
    if d % 2 == 0:
        return "image/jpeg", encode_jpeg(up, precision=12)
    cbv = np.repeat(np.repeat(((d + 31 * k) % 4096).astype(np.uint16), 8, 0), 8, 1)
    crv = np.repeat(np.repeat(((d + 47 * k) % 4096).astype(np.uint16), 8, 0), 8, 1)
    return "image/jpeg", encode_jpeg(
        np.stack([up, cbv, crv], axis=-1), ycbcr=True, precision=12
    )


MP3_FEATURE_SCHEMA = (
    "doc_id long, version string, layer long, sample_rate long, "
    "n_channels long, n_frames long, n_samples long, duration_s double, "
    "avg_bitrate_kbps double, is_vbr boolean, n_bytes long"
)


def extract_mp3_features(with_payload: DataFrame) -> DataFrame:
    """Walk MP3 frame headers in each payload (:func:`decode_mp3_headers` —
    framing metadata only, no PCM) and emit the routing features a corpus
    landing zone filters on: frame counts, exact duration, average
    bitrate, VBR flag.  Arrow-batched, map-only — the streaming media
    runner dispatches ``audio/mpeg`` here (r14)."""

    def features(doc_id, payload):
        m = decode_mp3_headers(bytes(payload))
        yield {
            "doc_id": doc_id, "version": m["version"],
            "layer": m["layer"], "sample_rate": m["sample_rate"],
            "n_channels": m["n_channels"],
            "n_frames": m["n_frames"], "n_samples": m["n_samples"],
            "duration_s": m["duration_s"],
            "avg_bitrate_kbps": m["avg_bitrate_kbps"],
            "is_vbr": m["is_vbr"], "n_bytes": m["n_bytes"],
        }

    return map_rows(with_payload, ["doc_id", "payload"], features, MP3_FEATURE_SCHEMA)


def extract_jpeg_features(with_payload: DataFrame) -> DataFrame:
    """Decode real baseline JPEGs and emit typed features as exact integer
    sums divided once — the bit-reproducible contract shared with the other
    codec extractors.  ``mean_c0`` is the R-channel (or gray) mean,
    ``mean_luma`` the 0.299/0.587/0.114 mix (gray = itself)."""

    def features(doc_id, payload, meta):
        if meta["format"] != "image/jpeg":
            return
        px = decode_jpeg(bytes(payload))
        h, w = px.shape[:2]
        means, luma = _channel_means(px)
        yield {
            "doc_id": doc_id,
            "jpeg_type": "gray" if px.ndim == 2 else "ycbcr",
            "width": w, "height": h, "n_samples": w * h,
            "mean_c0": means[0], "mean_luma": luma,
        }

    return map_rows(
        with_payload, ["doc_id", "payload", "meta"], features, JPEG_FEATURE_SCHEMA
    )
