"""Real stdlib codecs (BMP/WAV): golden-byte decode, encode↔decode round
trips, format-quirk handling (row padding, top-down BMPs, extra RIFF chunks),
explicit NotImplementedError for unsupported codecs, and the end-to-end
synthesize→decode feature pipeline against its closed-form spec."""

from __future__ import annotations

import math
import struct
from pathlib import Path

import numpy as np
import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
    _media_plan,
    _png_plan,
    decode_bmp,
    decode_payload,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
    extract_media_features,
    extract_png_features,
    synthesize_payloads,
)

FIXTURES = Path(__file__).parent / "fixtures"

# the golden 2x2 image: top-left RED, top-right GREEN, bottom-left BLUE,
# bottom-right WHITE (top-down RGB)
GOLDEN_2X2 = np.array(
    [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
)


class TestBmp:
    def test_decode_golden_fixture(self):
        """Hand-crafted canonical bytes (independent of encode_bmp): decoding
        must flip the bottom-up rows, undo BGR, and drop the 2-byte pad."""
        b = (FIXTURES / "golden_2x2.bmp").read_bytes()
        assert np.array_equal(decode_bmp(b), GOLDEN_2X2)

    def test_encode_matches_golden_bytes(self):
        """The encoder reproduces the canonical file byte-for-byte."""
        assert encode_bmp(GOLDEN_2X2) == (FIXTURES / "golden_2x2.bmp").read_bytes()

    @pytest.mark.parametrize("w,h", [(5, 3), (6, 4), (7, 5), (8, 3), (1, 1), (4, 2)])
    def test_roundtrip_every_pad_width(self, w, h):
        """Widths 5..8 exercise row pads 1/2/3/0; the round trip must be
        pixel-exact for each."""
        rng = np.random.RandomState(w * 10 + h)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)  # test-only rand
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    def test_top_down_bmp(self):
        """Negative height = top-down row order (no flip)."""
        b = bytearray(encode_bmp(GOLDEN_2X2))
        # rewrite height to -2 and swap the stored row order to top-down
        struct.pack_into("<i", b, 22, -2)
        rows = b[54:62], b[62:70]
        b[54:62], b[62:70] = rows[1], rows[0]
        assert np.array_equal(decode_bmp(bytes(b)), GOLDEN_2X2)

    def test_unsupported_bmp_raises(self):
        b = bytearray(encode_bmp(GOLDEN_2X2))
        struct.pack_into("<H", b, 28, 16)  # bpp=16 (bitfield territory)
        with pytest.raises(NotImplementedError, match="8/24/32-bit"):
            decode_bmp(bytes(b))
        with pytest.raises(ValueError, match="magic"):
            decode_bmp(b"XX" + bytes(b)[2:])
        # 8-bit decodes for real since r14 — a file relabeled 8-bit
        # WITHOUT a palette is a framing error, not a gap
        b2 = bytearray(encode_bmp(GOLDEN_2X2))
        struct.pack_into("<H", b2, 28, 8)
        with pytest.raises(ValueError, match="color table|palette index|truncated"):
            decode_bmp(bytes(b2))


class TestWav:
    def test_decode_golden_fixture(self):
        rate, ch, s = decode_wav((FIXTURES / "golden_mono.wav").read_bytes())
        assert (rate, ch) == (8000, 1)
        assert s.tolist() == [0, 1000, -1000, 32767, -32768]

    def test_roundtrip_stereo(self):
        samples = np.arange(-500, 500, 7, dtype=np.int16)
        rate, ch, out = decode_wav(encode_wav(44100, 2, samples))
        assert (rate, ch) == (44100, 2)
        assert np.array_equal(out, samples)

    def test_extra_riff_chunk_skipped(self):
        """A LIST chunk between fmt and data (word-aligned, odd size) must
        be skipped by the chunk walk, not break parsing."""
        b = encode_wav(8000, 1, np.array([1, 2, 3], dtype=np.int16))
        fmt_at = b.index(b"fmt ")
        data_at = b.index(b"data")
        extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # pad byte
        patched = b[:data_at] + extra + b[data_at:]
        patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
        rate, ch, s = decode_wav(patched)
        assert (rate, ch) == (8000, 1) and s.tolist() == [1, 2, 3]
        assert fmt_at < data_at

    def test_unsupported_wav_raises(self):
        b = bytearray(encode_wav(8000, 1, np.array([1], dtype=np.int16)))
        fmt_at = bytes(b).index(b"fmt ") + 8
        struct.pack_into("<H", b, fmt_at, 3)  # IEEE float format
        with pytest.raises(NotImplementedError, match="PCM"):
            decode_wav(bytes(b))
        with pytest.raises(ValueError, match="RIFF"):
            decode_wav(b"nope")


class TestPng:
    def test_decode_golden_fixture(self):
        """Hand-assembled canonical bytes (filter-0 scanlines, stored-block
        deflate — built independently of encode_png): the decoder must walk
        the chunk framing, verify CRCs, inflate, and strip the filter
        bytes."""
        b = (FIXTURES / "golden_2x2.png").read_bytes()
        assert np.array_equal(decode_png(b), GOLDEN_2X2)

    @pytest.mark.parametrize("ch", [1, 3, 4])
    @pytest.mark.parametrize("w,h", [(5, 3), (8, 5), (1, 1), (2, 7)])
    def test_roundtrip_every_channel_count(self, ch, w, h):
        rng = np.random.RandomState(ch * 100 + w * 10 + h)  # test-only rand
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(px))  # default: filter y%5 per row
        assert out.shape == shape and np.array_equal(out, px)

    @pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
    def test_roundtrip_each_filter_uniform(self, f):
        """Every scanline filter applied to EVERY row (not just the y%5 mix)
        must invert exactly — Sub/Average/Paeth reference the reconstructed
        left neighbor, the decoder's sequential path."""
        rng = np.random.RandomState(f)  # test-only rand
        px = rng.randint(0, 256, size=(6, 7, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(px, row_filters=[f] * 6)), px)

    def test_multi_idat_concatenation(self):
        """Pixel data split across several IDAT chunks is one zlib stream."""
        import struct as st
        import zlib

        b = encode_png(GOLDEN_2X2)
        # locate the single IDAT and split its payload into two chunks
        pos = 8
        out = b[:8]
        while pos + 8 <= len(b):
            length, ctype = st.unpack_from(">I4s", b, pos)
            data = b[pos + 8 : pos + 8 + length]
            if ctype == b"IDAT":
                for part in (data[:3], data[3:]):
                    out += (
                        st.pack(">I", len(part)) + b"IDAT" + part
                        + st.pack(">I", zlib.crc32(b"IDAT" + part) & 0xFFFFFFFF)
                    )
            else:
                out += b[pos : pos + 12 + length]
            pos += 12 + length
        assert np.array_equal(decode_png(out), GOLDEN_2X2)

    def test_crc_and_framing_damage_raises(self):
        b = bytearray(encode_png(GOLDEN_2X2))
        b[20] ^= 0xFF  # flip a byte inside IHDR → CRC mismatch
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(b))
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"XX" + encode_png(GOLDEN_2X2)[2:])
        with pytest.raises(ValueError, match="truncated"):
            decode_png(encode_png(GOLDEN_2X2)[:-8])

    def test_invalid_variants_raise(self):
        """r13 closed the depth/interlace gaps, so the remaining rejections
        are spec-INVALID combinations (ValueError, not NotImplementedError)
        and header/data mismatches."""
        import struct as st
        import zlib

        def with_ihdr(depth, color_type, interlace):
            ihdr = st.pack(">IIBBBBB", 2, 2, depth, color_type, 0, 0, interlace)
            b = bytearray(encode_png(GOLDEN_2X2))
            b[16:29] = ihdr
            st.pack_into(
                ">I", b, 29, zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
            )
            return bytes(b)

        with pytest.raises(ValueError, match="invalid PNG depth"):
            decode_png(with_ihdr(16, 3, 0))  # 16-bit palette: spec-invalid
        with pytest.raises(ValueError, match="invalid PNG depth"):
            decode_png(with_ihdr(4, 2, 0))  # 4-bit RGB: spec-invalid
        with pytest.raises(ValueError, match="interlace"):
            decode_png(with_ihdr(8, 2, 7))  # unknown interlace method
        with pytest.raises(ValueError, match="color type"):
            decode_png(with_ihdr(8, 5, 0))  # no such color type
        # valid combo whose data length no longer matches the mangled header
        with pytest.raises(ValueError, match="pixel data length"):
            decode_png(with_ihdr(16, 2, 0))

    @pytest.mark.parametrize("ch", [1, 3, 4])
    @pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (7, 5), (8, 8), (13, 11)])
    def test_adam7_interlace_roundtrip(self, ch, w, h):
        """Adam7 encode→decode is pixel-exact for every channel count and
        for dimensions that leave some passes empty (w or h < pass step) —
        the pass-grid scatter and per-pass filter reset both have to be
        right."""
        rng = np.random.RandomState(ch * 100 + w * 10 + h)  # test-only rand
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(px, interlace=True))
        assert out.shape == shape and np.array_equal(out, px)

    @staticmethod
    def _assemble_png(w, h, depth, color_type, row_chunks, plte=None,
                      interlace=0):
        """Hand-assemble a PNG from pre-packed scanline payloads
        (``row_chunks`` = list of per-row packed sample bytes, filter 0) —
        independent of encode_png, which writes 8-bit only."""
        import struct as st
        import zlib

        def chunk(t, d):
            return (
                st.pack(">I", len(d)) + t + d
                + st.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        scan = b"".join(b"\x00" + r for r in row_chunks)
        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", st.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
        )
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")

    def test_16bit_grey_and_rgb_decode(self):
        """16-bit samples decode to uint16 with no precision loss."""
        import struct as st

        vals = [[0, 65535, 256], [12345, 1, 65280]]
        rows = [b"".join(st.pack(">H", v) for v in r) for r in vals]
        out = decode_png(self._assemble_png(3, 2, 16, 0, rows))
        assert out.dtype == np.uint16 and out.tolist() == vals
        # RGB16: one pixel
        row = st.pack(">HHH", 65535, 0, 513)
        out = decode_png(self._assemble_png(1, 1, 16, 2, [row]))
        assert out.dtype == np.uint16 and out.tolist() == [[[65535, 0, 513]]]

    @pytest.mark.parametrize("depth,scale", [(1, 255), (2, 85), (4, 17)])
    def test_sub8_grey_scales_exactly(self, depth, scale):
        """1/2/4-bit greys: MSB-first unpacking, row-end bit padding
        dropped, values scaled by the exact 255/(2^d-1) factor."""
        maxv = (1 << depth) - 1
        w = 5  # not a multiple of 8/depth: exercises padding crop
        vals = [(i * 3) % (maxv + 1) for i in range(w)]
        packed = 0
        nbits = 0
        out_bytes = bytearray()
        for v in vals:
            packed = (packed << depth) | v
            nbits += depth
            if nbits == 8:
                out_bytes.append(packed)
                packed, nbits = 0, 0
        if nbits:
            out_bytes.append(packed << (8 - nbits))
        out = decode_png(self._assemble_png(w, 1, depth, 0, [bytes(out_bytes)]))
        assert out.tolist() == [[v * scale for v in vals]]

    def test_sub8_palette_decode(self):
        """2-bit palette indices expand through PLTE."""
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
        # indices 0,1,2,3 in one packed byte (2 bits each, MSB-first)
        row = bytes([0b00011011])
        out = decode_png(self._assemble_png(4, 1, 2, 3, [row], plte=plte))
        assert out.tolist() == [
            [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]]
        ]

    def test_grey_alpha_decode(self):
        """Color type 4 (grey + alpha) → (h, w, 2)."""
        rows = [bytes([10, 255, 200, 128])]  # two pixels: (g, a) pairs
        out = decode_png(self._assemble_png(2, 1, 8, 4, rows))
        assert out.shape == (1, 2, 2)
        assert out.tolist() == [[[10, 255], [200, 128]]]

    def test_16bit_interlaced_decode(self):
        """Adam7 at depth 16: a 2x2 image hits passes 1/6/7 only; the
        assembler packs each pass's rows in pass order."""
        import struct as st

        # pixels: (0,0)=1000 (pass1), (1,0)=2000 (pass6), row y=1 (pass7):
        # (0,1)=3000, (1,1)=4000
        chunks = [
            st.pack(">H", 1000),            # pass 1: 1x1
            st.pack(">H", 2000),            # pass 6: 1x1 (x0=1, dy=2)
            st.pack(">HH", 3000, 4000),     # pass 7: 2x1 (y0=1)
        ]
        out = decode_png(self._assemble_png(2, 2, 16, 0, chunks, interlace=1))
        assert out.dtype == np.uint16
        assert out.tolist() == [[1000, 2000], [3000, 4000]]

    @staticmethod
    def _palette_png(indices, plte, trns=None):
        """Hand-assemble an 8-bit palette PNG (filter-0 scanlines,
        stored-block deflate) — independent of encode_png, which has no
        palette writer."""
        import struct as st
        import zlib

        h = len(indices)
        w = len(indices[0])
        scan = b"".join(b"\x00" + bytes(row) for row in indices)

        def chunk(t, d):
            return (
                st.pack(">I", len(d)) + t + d
                + st.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", st.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        )
        out += chunk(b"PLTE", b"".join(bytes(c) for c in plte))
        if trns is not None:
            out += chunk(b"tRNS", bytes(trns))
        return out + chunk(b"IDAT", zlib.compress(scan, 0)) + chunk(b"IEND", b"")

    def test_palette_decodes_through_plte(self):
        plte = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
        b = self._palette_png([[0, 1], [2, 3]], plte)
        assert np.array_equal(decode_png(b), GOLDEN_2X2)

    def test_palette_trns_yields_rgba(self):
        """tRNS supplies per-entry alpha; entries past its end are opaque."""
        plte = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
        b = self._palette_png([[0, 1], [2, 3]], plte, trns=[255, 128])
        px = decode_png(b)
        assert px.shape == (2, 2, 4)
        assert np.array_equal(px[:, :, :3], GOLDEN_2X2)
        assert px[:, :, 3].tolist() == [[255, 128], [255, 255]]

    def test_palette_errors(self):
        plte = [(255, 0, 0), (0, 255, 0)]
        with pytest.raises(ValueError, match="out of range"):
            decode_png(self._palette_png([[0, 5]], plte))
        # strip the PLTE chunk entirely → explicit error, not a KeyError
        b = self._palette_png([[0, 1]], plte)
        plte_at = b.index(b"PLTE") - 4
        plte_len = 8 + 6 + 4  # header + 2 RGB entries + crc
        with pytest.raises(ValueError, match="missing PLTE"):
            decode_png(b[:plte_at] + b[plte_at + plte_len :])


class TestDispatch:
    def test_unknown_format_raises(self):
        with pytest.raises(NotImplementedError, match="no codec"):
            decode_payload(b"\x00\x00\x00\x18ftypmp42", "video/mp4")
        # audio/mp3 dispatches to the r14 header walk now; a 7-byte payload
        # whose header promises a 417-byte frame is the walker's truncation
        # ValueError, not a missing-codec gap
        with pytest.raises(ValueError, match="truncated MP3"):
            decode_payload(b"\xff\xfb\x90...", "audio/mp3")
        # image/jpeg dispatches to the real r13 codec now; a malformed
        # payload is the codec's ValueError, not a missing-codec gap
        with pytest.raises(ValueError, match="truncated JPEG"):
            decode_payload(b"\xff\xd8\xff...", "image/jpeg")

    def test_jpeg_trailing_fill_bytes_are_valueerror(self):
        """ADVICE r13: a payload truncated at a run of 0xFF fill bytes used
        to IndexError past the buffer after the fill-skip loop — third-party
        JPEGs legitimately pad with fill bytes, so the marker walk must
        re-check bounds and raise the documented ValueError."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
        )

        for tail in (b"\xff\xff", b"\xff\xff\xff", b"\xff\xff\xff\xff"):
            with pytest.raises(ValueError, match="truncated JPEG"):
                decode_jpeg(b"\xff\xd8" + tail)

    def test_real_formats_dispatch(self):
        img = decode_payload(encode_bmp(GOLDEN_2X2), "image/bmp")
        assert img["kind"] == "image" and (img["width"], img["height"]) == (2, 2)
        png = decode_payload(encode_png(GOLDEN_2X2), "image/png")
        assert png["kind"] == "image" and (png["width"], png["height"]) == (2, 2)
        assert np.array_equal(png["pixels"], GOLDEN_2X2)
        aud = decode_payload(
            encode_wav(8000, 1, np.array([5], dtype=np.int16)), "audio/wav"
        )
        assert aud["kind"] == "audio" and aud["sample_rate"] == 8000


class TestResize:
    def test_nearest_neighbor_kernel(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            resize_bmp,
        )

        # 2x2 golden upscaled to 4x4: each source pixel becomes a 2x2 block
        up = resize_bmp(GOLDEN_2X2, 4, 4)
        assert up.shape == (4, 4, 3)
        assert np.array_equal(up[0, 0], [255, 0, 0]) and np.array_equal(up[1, 1], [255, 0, 0])
        assert np.array_equal(up[0, 3], [0, 255, 0])
        assert np.array_equal(up[3, 0], [0, 0, 255])
        assert np.array_equal(up[3, 3], [255, 255, 255])
        # downscale 4x4 back to 2x2 recovers the original (NN is exact here)
        assert np.array_equal(resize_bmp(up, 2, 2), GOLDEN_2X2)

    def test_resize_payloads_roundtrip(self, spark):
        """decode → NN-sample → re-encode over Spark: re-decoded pixels equal
        the index-sampled source; non-BMP rows drop."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_bmp,
            resize_bmp,
            resize_bmp_payloads,
        )

        docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        src = {r["doc_id"]: bytes(r["payload"])
               for r in synthesize_payloads(docs, _media_plan).collect()}
        out = resize_bmp_payloads(synthesize_payloads(docs, _media_plan), 4, 3).collect()
        assert {r["doc_id"] for r in out} == {0, 2, 4, 6, 8}  # WAV rows dropped
        for r in out:
            expect = resize_bmp(decode_bmp(src[r["doc_id"]]), 4, 3)
            assert np.array_equal(decode_bmp(bytes(r["payload"])), expect)
            assert r["meta"]["n_bytes"] == len(bytes(r["payload"]))


class TestResample:
    def test_nn_kernel_mono(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            resample_wav,
        )

        s = np.arange(6, dtype=np.int16)  # frames 0..5, mono
        # 6 -> 3 frames: indices (j*6)//3 = 0, 2, 4
        assert resample_wav(s, 1, 6, 3).tolist() == [0, 2, 4]
        # 6 -> 4 frames: (j*6)//4 = 0, 1, 3, 4
        assert resample_wav(s, 1, 6, 4).tolist() == [0, 1, 3, 4]
        assert resample_wav(s, 1, 6, 0).tolist() == []

    def test_nn_kernel_stereo_keeps_channel_pairing(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            resample_wav,
        )

        # frames (L, R) = (0, 100), (1, 101), (2, 102), (3, 103)
        s = np.array([0, 100, 1, 101, 2, 102, 3, 103], dtype=np.int16)
        out = resample_wav(s, 2, 4, 2)  # frames 0 and 2
        assert out.tolist() == [0, 100, 2, 102]

    def test_resample_payloads_roundtrip(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
            resample_wav,
            resample_wav_payloads,
        )

        docs = spark.range(0, 10).withColumnRenamed("id", "doc_id")
        src = {r["doc_id"]: bytes(r["payload"])
               for r in synthesize_payloads(docs, _media_plan).collect()}
        out = resample_wav_payloads(synthesize_payloads(docs, _media_plan), 8000).collect()
        assert {r["doc_id"] for r in out} == {1, 3, 5, 7, 9}  # BMP rows dropped
        for r in out:
            rate0, ch, s0 = decode_wav(src[r["doc_id"]])
            frames = len(s0) // ch
            oframes = (frames * 8000) // rate0
            rate1, ch1, s1 = decode_wav(bytes(r["payload"]))
            assert (rate1, ch1) == (8000, ch)
            assert np.array_equal(s1, resample_wav(s0, ch, frames, oframes))


class TestMediaPipeline:
    def test_features_match_closed_form(self, spark):
        """End-to-end synthesize→decode over Spark: recovered features equal
        the closed-form spec — which only happens if the decoders undo
        everything the encoders did."""
        docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
        rows = {
            r["doc_id"]: r
            for r in extract_media_features(synthesize_payloads(docs, _media_plan)).collect()
        }
        assert len(rows) == 20
        for d in range(20):
            r = rows[d]
            if d % 2 == 0:
                w, h = 5 + d % 4, 3 + d % 3
                n = w * h
                i = np.arange(n, dtype=np.int64)
                sr = int(((d + i) % 256).sum())
                sg = int(((d + 2 * i) % 256).sum())
                sb = int(((d + 3 * i) % 256).sum())
                assert (r["fmt"], r["width"], r["height"]) == ("image/bmp", w, h)
                assert r["n_samples"] == n and r["n_channels"] == 3
                assert r["mean_r"] == sr / n
                assert r["mean_luma"] == 0.299 * (sr / n) + 0.587 * (sg / n) + 0.114 * (sb / n)
                assert r["first_luma"] == pytest.approx(d % 256)
                assert r["rms"] is None and r["peak"] is None
            else:
                ch, rate, frames = 1 + d % 2, 8000 + (d % 3) * 4000, 30 + d % 7
                ns = frames * ch
                i = np.arange(ns, dtype=np.int64)
                s = (d * 11 + i * 17) % 2048 - 1024
                assert (r["fmt"], r["n_channels"], r["sample_rate"]) == (
                    "audio/wav", ch, rate,
                )
                assert r["n_samples"] == ns
                assert r["rms"] == math.sqrt(int((s * s).sum()) / ns)
                assert r["peak"] == int(np.abs(s).max())
                assert r["width"] is None and r["mean_luma"] is None


class TestPngPipeline:
    def test_png_features_match_closed_form(self, spark):
        """End-to-end synthesize→decode over Spark: recovered features equal
        the closed-form pixel formulas — which only happens if chunk
        framing, CRCs, inflate and every scanline unfilter are exact
        (row y of doc d is stored with filter (d+y)%5)."""
        docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
        rows = {
            r["doc_id"]: r
            for r in extract_png_features(synthesize_payloads(docs, _png_plan)).collect()
        }
        assert len(rows) == 24
        for d in range(24):
            r = rows[d]
            w, h = 5 + d % 4, 3 + d % 3
            n = w * h
            i = np.arange(n, dtype=np.int64)
            kind = d % 3
            assert (r["width"], r["height"], r["n_samples"]) == (w, h, n)
            if kind == 0:
                s0 = int(((d + 7 * i) % 256).sum())
                assert (r["png_type"], r["n_channels"]) == ("grey", 1)
                assert r["mean_c0"] == s0 / n and r["mean_luma"] == s0 / n
                assert r["mean_alpha"] is None
            else:
                sr = int(((d + i) % 256).sum())
                sg = int(((d + 2 * i) % 256).sum())
                sb = int(((d + 3 * i) % 256).sum())
                assert r["png_type"] == ("rgb" if kind == 1 else "rgba")
                assert r["n_channels"] == (3 if kind == 1 else 4)
                assert r["mean_c0"] == sr / n
                assert r["mean_luma"] == (
                    0.299 * (sr / n) + 0.587 * (sg / n) + 0.114 * (sb / n)
                )
                if kind == 2:
                    sa = int(((d + 5 * i) % 256).sum())
                    assert r["mean_alpha"] == sa / n
                else:
                    assert r["mean_alpha"] is None


class TestPaletteEncoder:
    def test_encode_palette_roundtrip_all_filters(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_palette_png,
        )

        rng = np.random.RandomState(11)  # test-only rand
        plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.randint(0, 16, size=(6, 7), dtype=np.uint8)
        for f in range(5):
            out = decode_png(encode_palette_png(idx, plte, row_filters=[f] * 6))
            assert np.array_equal(out, plte[idx]), f
        # tRNS: alpha rides entry index; entries past its end opaque
        out = decode_png(encode_palette_png(idx, plte, trns=bytes([7, 9])))
        assert out.shape == (6, 7, 4)
        assert np.array_equal(out[:, :, :3], plte[idx])
        alpha_tab = np.full(16, 255, dtype=np.uint8)
        alpha_tab[:2] = [7, 9]
        assert np.array_equal(out[:, :, 3], alpha_tab[idx])

    def test_encode_palette_validation(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_palette_png,
        )

        plte = np.zeros((4, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="out of palette range"):
            encode_palette_png(np.array([[5]], dtype=np.uint8), plte)
        with pytest.raises(ValueError, match="palette must be"):
            encode_palette_png(np.array([[0]], dtype=np.uint8), np.zeros((4, 4), dtype=np.uint8))


class TestGif:
    def _rng(self, seed=3):
        return np.random.RandomState(seed)  # test-only rand

    def test_multiframe_roundtrip_with_delays(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng()
        plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
        frames = [rng.randint(0, 16, size=(7, 9), dtype=np.uint8) for _ in range(3)]
        out, delays = decode_gif(encode_gif(frames, plte, delays_cs=[10, 20, 30]))
        assert delays == [10, 20, 30]
        for f, o in zip(frames, out):
            assert np.array_equal(o, plte[f])

    def test_interlaced_frame_deinterlaces(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng(5)
        plte = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
        fr = rng.randint(0, 8, size=(11, 4), dtype=np.uint8)  # >8 rows: all 4 passes
        out, _ = decode_gif(encode_gif([fr], plte, interlace=True))
        assert np.array_equal(out[0], plte[fr])

    def test_local_color_table_overrides_global(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng(7)
        gct = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
        lct = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
        f0 = rng.randint(0, 16, size=(5, 6), dtype=np.uint8)
        f1 = rng.randint(0, 8, size=(5, 6), dtype=np.uint8)
        out, _ = decode_gif(encode_gif([f0, f1], gct, local_palettes=[None, lct]))
        assert np.array_equal(out[0], gct[f0])
        assert np.array_equal(out[1], lct[f1])

    def test_large_frame_crosses_subblocks_and_clears(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng(9)
        plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
        big = rng.randint(0, 16, size=(40, 60), dtype=np.uint8)  # 2400 px
        out, _ = decode_gif(encode_gif([big], plte))
        assert np.array_equal(out[0], plte[big])

    @staticmethod
    def _container(codes, min_code, w, h, plte):
        """Assemble a one-frame GIF around a hand-chosen LZW code stream —
        the decoder's DICTIONARY paths (the literal-only encoder never emits
        dict references or the KwKwK case)."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _gif_pack_codes,
        )

        gct = plte.tobytes()
        bits = 2  # 4-entry table
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        out += gct
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        packed = _gif_pack_codes(codes, min_code)
        out.append(min_code)
        out.append(len(packed))
        out += packed
        out.append(0)
        out.append(0x3B)
        return bytes(out)

    def test_lzw_dictionary_reference_and_kwkwk(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
        )

        plte = np.arange(12, dtype=np.uint8).reshape(4, 3)
        # KwKwK: clear,1,6,2,end → pixels [1,1,1,2]
        out, _ = decode_gif(self._container([4, 1, 6, 2, 5], 2, 2, 2, plte))
        assert np.array_equal(out[0].reshape(-1, 3), plte[[1, 1, 1, 2]])
        # plain dict reference: clear,1,1,6,end → dict[6]=[1,1] → [1,1,1,1]
        out2, _ = decode_gif(self._container([4, 1, 1, 6, 5], 2, 2, 2, plte))
        assert np.array_equal(out2[0].reshape(-1, 3), plte[[1, 1, 1, 1]])

    def test_gif_errors(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng(11)
        plte = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
        fr = rng.randint(0, 4, size=(3, 3), dtype=np.uint8)
        good = encode_gif([fr], plte)
        with pytest.raises(ValueError, match="signature"):
            decode_gif(b"XX" + good[2:])
        with pytest.raises(ValueError, match="trailer"):
            decode_gif(good[:-1])
        # sub-canvas frame (compositing) is an honest gap
        b = bytearray(good)
        at = bytes(b).index(b"\x2c")
        struct.pack_into("<H", b, at + 1, 1)  # frame x-offset 1
        with pytest.raises(NotImplementedError, match="sub-canvas"):
            decode_gif(bytes(b))
        # out-of-range index at encode
        with pytest.raises(ValueError, match="out of color-table range"):
            encode_gif([np.full((2, 2), 9, dtype=np.uint8)], plte)

    def test_gif_truncated_mid_block_is_valueerror(self):
        """A payload cut mid-block raises ValueError (the docstring
        contract), never a bare IndexError from the block walk."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        rng = self._rng(17)
        plte = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
        fr = rng.randint(0, 4, size=(3, 3), dtype=np.uint8)
        good = encode_gif([fr], plte, delays_cs=[10])
        # cut at EVERY prefix length: each must raise ValueError or
        # NotImplementedError, never IndexError/struct.error
        for cut in range(8, len(good)):
            with pytest.raises((ValueError, NotImplementedError)):
                decode_gif(good[:cut])
        # extension introducer with the label byte cut off
        ext_at = good.index(b"\x21")
        with pytest.raises(ValueError, match="truncated GIF"):
            decode_gif(good[:ext_at] + b"\x21")

    def test_lzw_early_end_is_named_error(self):
        """An end-of-information code before n_pixels are produced raises a
        codec-level error naming the shortfall, not a reshape failure."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
        )

        plte = np.arange(12, dtype=np.uint8).reshape(4, 3)
        # 2x2 frame needs 4 pixels but the stream ends after 2:
        # clear, 1, 2, end
        with pytest.raises(ValueError, match="ended early: got 2 of 4"):
            decode_gif(self._container([4, 1, 2, 5], 2, 2, 2, plte))

    def test_dispatch_animation(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_gif,
        )

        rng = self._rng(13)
        plte = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
        frames = [rng.randint(0, 4, size=(3, 5), dtype=np.uint8) for _ in range(2)]
        d = decode_payload(encode_gif(frames, plte), "image/gif")
        assert d["kind"] == "animation" and d["n_frames"] == 2
        assert (d["width"], d["height"]) == (5, 3)


class TestG711:
    def test_expansion_anchor_values(self):
        """Spec anchors for both laws (independent of the oracle SQL, which
        re-derives the same formula): mu-law 0xFF→0 / 0x00→-32124 /
        0x80→+32124; A-law 0x55→-8 / 0xD5→+8 / 0x2A→-32256 / 0xAA→+32256."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _alaw_expand_table,
            _mulaw_expand_table,
        )

        mu, al = _mulaw_expand_table(), _alaw_expand_table()
        assert (mu[0xFF], mu[0x00], mu[0x80]) == (0, -32124, 32124)
        assert (al[0x55], al[0xD5], al[0x2A], al[0xAA]) == (-8, 8, -32256, 32256)
        # sign symmetry: flipping the sign bit negates (mu complements, so
        # bytes b and b^0x80 are the +/- pair)
        for b in range(256):
            assert mu[b] == -mu[b ^ 0x80]
            assert al[b] == -al[b ^ 0x80]

    def test_container_roundtrip_and_odd_padding(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _mulaw_expand_table,
            decode_wav,
            encode_wav_g711,
        )

        raw = bytes(range(256))
        rate, ch, s = decode_wav(encode_wav_g711(8000, 1, raw, "mulaw"))
        assert (rate, ch) == (8000, 1)
        assert np.array_equal(
            s, _mulaw_expand_table()[np.frombuffer(raw, dtype=np.uint8)]
        )
        # odd data length pads the RIFF chunk but not the samples
        rate, ch, s = decode_wav(encode_wav_g711(16000, 2, raw[:-1], "alaw"))
        assert (rate, ch, len(s)) == (16000, 2, 255)

    def test_fmt_chunk_has_cbsize_extension(self):
        """Non-PCM format tags carry the 18-byte fmt chunk (cbSize=0) the
        WAVE spec requires, so strict third-party decoders accept it."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_wav_g711,
        )

        for law in ("mulaw", "alaw"):
            b = encode_wav_g711(8000, 1, b"\x00\x01", law)
            at = b.index(b"fmt ")
            (size,) = struct.unpack_from("<I", b, at + 4)
            assert size == 18
            (cbsize,) = struct.unpack_from("<H", b, at + 8 + 16)
            assert cbsize == 0

    def test_pcm_path_unchanged_and_other_formats_still_raise(self):
        r, c, s = decode_wav(encode_wav(8000, 1, np.array([1, -2, 3], dtype=np.int16)))
        assert (r, c, s.tolist()) == (8000, 1, [1, -2, 3])
        b = bytearray(encode_wav(8000, 1, np.array([1], dtype=np.int16)))
        fmt_at = bytes(b).index(b"fmt ") + 8
        struct.pack_into("<H", b, fmt_at, 3)  # IEEE float: still a real gap
        with pytest.raises(NotImplementedError, match="PCM"):
            decode_wav(bytes(b))


class TestJpeg:
    @staticmethod
    def _rng(seed):
        return np.random.RandomState(seed)

    def test_constant_block_gray_exact(self):
        """Constant 8x8 blocks survive the lossy pipeline EXACTLY: the only
        nonzero coefficient is DC 8*(v-128), the DC quant step is 8, so
        dequant + IDCT + floor(x+0.5) returns v bit-for-bit."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        vals = np.array([[0, 255], [128, 1], [200, 77]], dtype=np.uint8)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        out = decode_jpeg(encode_jpeg(px))
        assert out.shape == (24, 16)
        assert np.array_equal(out, px)

    def test_constant_block_ycbcr_color_exact(self):
        """4:4:4 color with direct YCbCr planes: decoded RGB equals the
        closed-form JFIF conversion (floor(x+0.5), clamp) of the original
        constants — the exactness contract the catalog oracle replays."""
        import math

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        cases = [(120, 90, 200), (0, 0, 0), (255, 255, 255), (77, 180, 33)]
        for Y, CB, CR in cases:
            img = np.stack(
                [np.full((8, 8), v, np.uint8) for v in (Y, CB, CR)], axis=-1
            )
            rgb = decode_jpeg(encode_jpeg(img, ycbcr=True))
            cb, cr = CB - 128.0, CR - 128.0
            exp = [
                max(0, min(255, math.floor(Y + 1.402 * cr + 0.5))),
                max(0, min(255, math.floor(Y - 0.344136 * cb - 0.714136 * cr + 0.5))),
                max(0, min(255, math.floor(Y + 1.772 * cb + 0.5))),
            ]
            for c in range(3):
                assert (rgb[:, :, c] == exp[c]).all(), (Y, CB, CR, c)

    def test_random_near_lossless_roundtrip(self):
        """q=1 tables: the only loss is DCT-coefficient rounding, so random
        images round-trip within a couple of levels — this exercises the
        full AC Huffman path (runs, EOB, large categories) in both
        directions."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = self._rng(7)
        q1 = np.ones(64, dtype=np.int64)
        gray = rng.randint(0, 256, size=(24, 17), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(gray, quant_luma=q1))
        assert out.shape == gray.shape
        assert int(np.abs(out.astype(int) - gray.astype(int)).max()) <= 2
        rgb = rng.randint(0, 256, size=(17, 13, 3), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(rgb, quant_luma=q1, quant_chroma=q1))
        assert out.shape == rgb.shape
        # RGB->YCbCr->RGB adds its own +-2 of integer rounding
        assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 4

    def test_restart_markers_roundtrip(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = self._rng(11)
        q1 = np.ones(64, dtype=np.int64)
        gray = rng.randint(0, 256, size=(16, 40), dtype=np.uint8)  # 10 MCUs
        b = encode_jpeg(gray, quant_luma=q1, restart_interval=3)
        assert b"\xff\xd0" in b or b"\xff\xd1" in b  # RSTn actually emitted
        out = decode_jpeg(b)
        assert int(np.abs(out.astype(int) - gray.astype(int)).max()) <= 2

    def test_subsampled_420_constant_chroma_exact(self):
        """4:2:0: four different constant luma blocks per MCU + constant
        chroma — the subsampled chroma block is the mean of constants (= the
        constant), so the decode is exact and pins the MCU block layout and
        the replication upsampler."""
        import math

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        y = np.repeat(
            np.repeat(np.array([[40, 90], [140, 190]], np.uint8), 8, 0), 8, 1
        )
        img = np.stack(
            [y, np.full((16, 16), 100, np.uint8), np.full((16, 16), 160, np.uint8)],
            axis=-1,
        )
        rgb = decode_jpeg(encode_jpeg(img, ycbcr=True, subsample=True))
        cb, cr = 100 - 128.0, 160 - 128.0
        for by in range(2):
            for bx in range(2):
                Y = float(y[by * 8, bx * 8])
                exp_r = max(0, min(255, math.floor(Y + 1.402 * cr + 0.5)))
                blk = rgb[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk[:, :, 0] == exp_r).all(), (bx, by)

    def test_decoder_against_independent_idct(self):
        """Hand-packed entropy segment (test-side bit packer, spec Annex-K
        DC table, custom 4-bit AC table — none of the encoder's machinery)
        with chosen coefficients; expected pixels from a double-loop IDCT
        written here, independently of the decoder's matrix form."""
        import math

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
        )

        ZZ = [  # spec zigzag, duplicated here for independence
             0,  1,  8, 16,  9,  2,  3, 10,
            17, 24, 32, 25, 18, 11,  4,  5,
            12, 19, 26, 33, 40, 48, 41, 34,
            27, 20, 13,  6,  7, 14, 21, 28,
            35, 42, 49, 56, 57, 50, 43, 36,
            29, 22, 15, 23, 30, 37, 44, 51,
            58, 59, 52, 45, 38, 31, 39, 46,
            53, 60, 61, 54, 47, 55, 62, 63,
        ]
        # Annex-K DC luminance table
        dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
        dc_vals = list(range(12))
        # custom AC table: EOB, sizes 1-5 at run 0, run 2 size 3, ZRL,
        # all 4-bit canonical codes
        ac_syms = [0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x23, 0xF0]
        ac_bits = [0, 0, 0, len(ac_syms)] + [0] * 12
        def canonical(bits, vals):
            code, k, out = 0, 0, {}
            for ln in range(1, 17):
                for _ in range(bits[ln - 1]):
                    out[vals[k]] = (ln, code)
                    k += 1
                    code += 1
                code <<= 1
            return out
        dc_map = canonical(dc_bits, dc_vals)
        ac_map = canonical(ac_bits, ac_syms)

        # quant table (zigzag order): step k+1 so dequant actually scales
        qzz = [k + 1 for k in range(64)]
        # chosen zigzag coefficients: DC=5, zz[1]=-3, zz[4]=7 (run 2, size 3)
        coefs = {0: 5, 1: -3, 4: 7}

        bitsbuf = []
        def put(v, n):
            for i in range(n - 1, -1, -1):
                bitsbuf.append((v >> i) & 1)
        def put_code(m, sym):
            ln, code = m[sym]
            put(code, ln)
        def vbits(v, t):
            return v if v >= 0 else v + (1 << t) - 1
        put_code(dc_map, 3)          # DC category 3
        put(vbits(5, 3), 3)          # DC value 5
        put_code(ac_map, 0x01 * 0 + 0x02)  # zz1: size 2
        put(vbits(-3, 2), 2)
        put_code(ac_map, 0x23)       # run 2, size 3 -> zz4
        put(vbits(7, 3), 3)
        put_code(ac_map, 0x00)       # EOB
        while len(bitsbuf) % 8:
            bitsbuf.append(1)
        entropy = bytearray()
        for i in range(0, len(bitsbuf), 8):
            byte = int("".join(map(str, bitsbuf[i : i + 8])), 2)
            entropy.append(byte)
            if byte == 0xFF:
                entropy.append(0x00)

        def seg(marker, payload):
            return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

        jpg = (
            b"\xff\xd8"
            + seg(0xDB, b"\x00" + bytes(qzz))
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
            + seg(0xC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals))
            + seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_syms))
            + seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
            + bytes(entropy)
            + b"\xff\xd9"
        )
        out = decode_jpeg(jpg)

        # independent reference: double-loop IDCT over the dequantized grid
        S = [[0.0] * 8 for _ in range(8)]
        for zk, v in coefs.items():
            S[ZZ[zk] // 8][ZZ[zk] % 8] = v * qzz[zk]
        def cc(u):
            return 1.0 / math.sqrt(2.0) if u == 0 else 1.0
        exp = np.zeros((8, 8), dtype=np.uint8)
        for x in range(8):
            for yy in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        acc += (
                            cc(u) * cc(v) / 4.0 * S[u][v]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * yy + 1) * v * math.pi / 16)
                        )
                exp[x][yy] = max(0, min(255, math.floor(acc + 128.0 + 0.5)))
        assert np.array_equal(out, exp)

    def test_error_paths(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = self._rng(13)
        px = rng.randint(0, 256, size=(8, 8), dtype=np.uint8)
        good = encode_jpeg(px)
        with pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"XX" + good[2:])
        # every truncation (except dropping only the EOI, which a lenient
        # baseline decoder tolerates) raises ValueError, never IndexError
        for cut in range(2, len(good) - 2):
            with pytest.raises((ValueError, NotImplementedError)):
                decode_jpeg(good[:cut])
        # progressive (SOF2) is SUPPORTED since r13 — relabeling a
        # sequential stream as SOF2 makes its baseline-style scan header
        # malformed (a DC progressive scan cannot have Se=63)
        b = bytearray(good)
        at = bytes(b).index(b"\xff\xc0")
        b[at + 1] = 0xC2
        with pytest.raises(ValueError, match="DC progressive scan"):
            decode_jpeg(bytes(b))
        # lossless SOF3 decodes for real since r14 — relabeling a
        # SEQUENTIAL stream makes its DCT-style scan header (Ss=0, Se=63)
        # invalid for the lossless scan rules, a framing ValueError
        b = bytearray(good)
        b[at + 1] = 0xC3
        with pytest.raises(ValueError, match="lossless scan header"):
            decode_jpeg(bytes(b))
        # arithmetic-coded SOF stays an honest gap
        b = bytearray(good)
        b[at + 1] = 0xC9
        with pytest.raises(NotImplementedError, match="non-baseline"):
            decode_jpeg(bytes(b))
        # pq=1 (16-bit) DQT parses for real since r14 — flipping the nibble
        # WITHOUT doubling the payload is now a framing truncation
        b = bytearray(good)
        at = bytes(b).index(b"\xff\xdb")
        b[at + 4] = 0x10
        with pytest.raises(ValueError, match="truncated DQT"):
            decode_jpeg(bytes(b))
        # and an invalid pq nibble is a ValueError, not a silent skip
        b = bytearray(good)
        b[at + 4] = 0x20
        with pytest.raises(ValueError, match="DQT element precision"):
            decode_jpeg(bytes(b))

    def test_crafted_malformed_segments_are_valueerror(self):
        """Segment CONTENT shorter than its internal structure (valid outer
        framing, crafted inner fields) raises ValueError — never
        struct.error / StopIteration / ZeroDivisionError."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = self._rng(19)
        good = encode_jpeg(rng.randint(0, 256, size=(8, 8), dtype=np.uint8))
        sof_at = good.index(b"\xff\xc0")
        # zero sampling factors
        b = bytearray(good)
        b[sof_at + 11] = 0x00  # component 1 h/v byte
        with pytest.raises(ValueError, match="sampling factors"):
            decode_jpeg(bytes(b))
        # SOS references a component id the SOF never declared
        sos_at = good.index(b"\xff\xda")
        b = bytearray(good)
        b[sos_at + 5] = 9  # scan component id
        with pytest.raises(ValueError, match="unknown component"):
            decode_jpeg(bytes(b))
        # component count larger than the segment carries
        b = bytearray(good)
        b[sof_at + 9] = 4  # nc=4 but only one component follows
        with pytest.raises(ValueError, match="truncated SOF"):
            decode_jpeg(bytes(b))
        # zero-dimension frame
        b = bytearray(good)
        struct.pack_into(">H", b, sof_at + 5, 0)  # height = 0
        with pytest.raises(ValueError, match="empty JPEG frame"):
            decode_jpeg(bytes(b))
        # non-interleaved multi-scan (scan covers a component subset) is an
        # honest gap, not a silent first-scan-only decode
        color = encode_jpeg(
            rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
        )
        b = bytearray(color)
        at = bytes(b).index(b"\xff\xda")
        struct.pack_into(">H", b, at + 2, 2 + 1 + 2 + 3)  # seglen for ns=1
        b[at + 4] = 1  # ns=1: scan covers only component 1 of 3
        # rebuild a consistent SOS body: comp 1, tables 0, spectral bytes
        b[at + 5 : at + 12] = bytes([1, 0x00, 0x00, 0x3F, 0x00]) + b[at + 10 : at + 12]
        with pytest.raises(NotImplementedError, match="non-interleaved"):
            decode_jpeg(bytes(b))

    def test_dispatch_and_plan(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _jpeg_plan,
            decode_payload,
        )

        fmt, payload = _jpeg_plan(4)
        assert fmt == "image/jpeg"
        d = decode_payload(payload, fmt)
        assert d["kind"] == "image" and (d["width"], d["height"]) == (8, 16)
        # closed-form gray: block k value (4+17k)%256, blocks stacked 1 wide
        assert (d["pixels"][:8] == 4).all() and (d["pixels"][8:] == 21).all()
        d = decode_payload(_jpeg_plan(3)[1], "image/jpeg")
        assert d["pixels"].shape == (8, 16, 3)


class TestJpegProgressive:
    """Progressive (SOF2) coverage: the progressive and sequential encoders
    share only the forward DCT/quantization (identical coefficient grids),
    and the two decode ENTROPY paths are disjoint code — so bit-identical
    decode between the two encodings of the same image verifies spectral
    selection, successive approximation (DC shift/OR, AC magnitude
    correction), EOB runs, and the scan script against the already-pinned
    sequential path."""

    @staticmethod
    def _rng(seed):
        return np.random.RandomState(seed)

    def _assert_equiv(self, px, **kw):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        seq = decode_jpeg(encode_jpeg(px, **kw))
        prog = decode_jpeg(encode_jpeg(px, progressive=True, **kw))
        assert prog.shape == seq.shape
        assert np.array_equal(prog, seq), (
            int(np.abs(prog.astype(int) - seq.astype(int)).max())
        )

    @pytest.mark.parametrize("w,h", [(8, 8), (17, 13), (24, 40)])
    def test_gray_random_equivalence(self, w, h):
        q1 = np.ones(64, dtype=np.int64)
        px = self._rng(w * h).randint(0, 256, size=(h, w), dtype=np.uint8)
        self._assert_equiv(px, quant_luma=q1)
        self._assert_equiv(px)  # default tables: sparser ACs, more EOB runs

    @pytest.mark.parametrize("subsample", [False, True])
    def test_color_random_equivalence(self, subsample):
        q1 = np.ones(64, dtype=np.int64)
        px = self._rng(42).randint(0, 256, size=(21, 19, 3), dtype=np.uint8)
        self._assert_equiv(px, quant_luma=q1, quant_chroma=q1,
                           subsample=subsample)
        self._assert_equiv(px, subsample=subsample)

    def test_sparse_image_exercises_multiblock_eob_runs(self):
        """A flat image with a few hot pixels: most blocks have all-zero AC
        bands in BOTH progressive AC scans, so multi-block EOB runs (with
        correction bits riding refine-scan runs) are the dominant path."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_jpeg,
        )

        px = np.full((48, 48), 128, dtype=np.uint8)
        px[3, 5] = 255
        px[30, 41] = 0
        px[45, 2] = 77
        b = encode_jpeg(px, progressive=True)
        assert b"\xff\xc2" in b and b"\xff\xc0" not in b  # SOF2, no SOF0
        self._assert_equiv(px)
        # and under q=1 (dense small coefficients -> correction-bit heavy)
        self._assert_equiv(px, quant_luma=np.ones(64, dtype=np.int64))

    def test_constant_blocks_stay_exact_through_progressive(self):
        """The catalog exactness contract holds for SOF2 too: constant
        blocks decode bit-exactly (DC-only, both DC scans reassemble the
        full predictor)."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        vals = np.array([[0, 255], [128, 1], [200, 77]], dtype=np.uint8)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        assert np.array_equal(decode_jpeg(encode_jpeg(px, progressive=True)), px)

    def test_progressive_error_paths(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        px = self._rng(3).randint(0, 256, size=(8, 8), dtype=np.uint8)
        good = encode_jpeg(px, progressive=True)
        # every truncation raises cleanly (EOI is REQUIRED for progressive —
        # it triggers reconstruction — so sweep to the very end)
        for cut in range(2, len(good)):
            with pytest.raises((ValueError, NotImplementedError)):
                decode_jpeg(good[:cut])
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg(px, progressive=True, restart_interval=2)


class TestJpeg422:
    def test_422_constant_chroma_exact_and_equivalent(self):
        """4:2:2 (asymmetric 2x1 luma sampling): constant chroma survives
        the horizontal halving exactly, pinning the MCU layout and the
        horizontal-only replication upsampler — and the progressive coding
        of the same image decodes identically."""
        import math

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        # two CONSTANT 8x8 luma blocks side by side (one 16x8 MCU at 2x1)
        y = np.repeat(np.repeat(np.array([[40, 90]], np.uint8), 8, axis=0), 8, axis=1)
        img = np.stack(
            [y, np.full((8, 16), 100, np.uint8), np.full((8, 16), 160, np.uint8)],
            axis=-1,
        )
        rgb = decode_jpeg(encode_jpeg(img, ycbcr=True, subsample="422"))
        cr = 160 - 128.0
        for x in range(16):
            Y = float(y[0, x])
            exp_r = max(0, min(255, math.floor(Y + 1.402 * cr + 0.5)))
            assert (rgb[:, x, 0] == exp_r).all(), x
        prog = decode_jpeg(
            encode_jpeg(img, ycbcr=True, subsample="422", progressive=True)
        )
        assert np.array_equal(prog, rgb)

    def test_422_random_equivalence_and_unknown_mode(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.RandomState(5)
        img = rng.randint(0, 256, size=(11, 9, 3), dtype=np.uint8)
        seq = decode_jpeg(encode_jpeg(img, subsample="422"))
        prog = decode_jpeg(encode_jpeg(img, subsample="422", progressive=True))
        assert seq.shape == img.shape and np.array_equal(prog, seq)
        with pytest.raises(ValueError, match="subsample mode"):
            encode_jpeg(img, subsample="411")


class TestImaAdpcm:
    """IMA/DVI ADPCM WAV (format 0x11, r13): hand-walked golden blocks
    against an independently-written reference stepper, the stereo 4-byte
    interleave layout, a test-side encoder roundtrip, and error paths."""

    STEP = None  # filled from the module table (structural checks below)

    @staticmethod
    def _ref_step(pred, idx, nib, steps):
        """Reference stepper written with //-arithmetic (exactly equivalent
        to the decoder's shift form for nonnegative steps) — a second
        implementation of the spec, not a copy."""
        step = steps[idx]
        diff = step // 8
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step // 2
        if nib & 1:
            diff += step // 4
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx += (-1, -1, -1, -1, 2, 4, 6, 8)[nib & 7]
        return pred, max(0, min(88, idx))

    @staticmethod
    def _container(channels, block, align=None):
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, channels, 8000, 4000, align or len(block), 4, 2, 0
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(block)) + block
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_step_table_structure(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
        )

        assert len(_IMA_STEP_TABLE) == 89
        assert _IMA_STEP_TABLE[0] == 7 and _IMA_STEP_TABLE[88] == 32767
        assert all(
            b > a for a, b in zip(_IMA_STEP_TABLE, _IMA_STEP_TABLE[1:])
        )
        # ~1.1 geometric growth (the table's defining property)
        ratios = [
            b / a for a, b in zip(_IMA_STEP_TABLE[8:], _IMA_STEP_TABLE[9:])
        ]
        assert all(1.05 < r < 1.13 for r in ratios)

    def test_mono_golden_block_matches_reference(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
            decode_wav,
        )

        # header: predictor=100, index=10, reserved; nibbles low-first:
        # bytes 0x21 -> (1, 2), 0x9F -> (15, 9), 0x80 -> (0, 8)
        block = struct.pack("<hBB", 100, 10, 0) + bytes([0x21, 0x9F, 0x80, 0x73])
        rate, ch, s = decode_wav(self._container(1, block))
        assert (rate, ch) == (8000, 1)
        pred, idx = 100, 10
        want = [100]
        for nib in (1, 2, 15, 9, 0, 8, 3, 7):
            pred, idx = self._ref_step(pred, idx, nib, _IMA_STEP_TABLE)
            want.append(pred)
        assert s.tolist() == want

    def test_stereo_interleave_layout(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
            decode_wav,
        )

        hdr = struct.pack("<hBB", 1000, 20, 0) + struct.pack("<hBB", -2000, 40, 0)
        # one 4-byte word per channel: ch0 nibbles all 1, ch1 all 9
        block = hdr + bytes([0x11] * 4) + bytes([0x99] * 4)
        rate, ch, s = decode_wav(self._container(2, block))
        assert ch == 2
        left, right = s[0::2].tolist(), s[1::2].tolist()
        p, i = 1000, 20
        wl = [1000]
        for _ in range(8):
            p, i = self._ref_step(p, i, 1, _IMA_STEP_TABLE)
            wl.append(p)
        assert left == wl
        p, i = -2000, 40
        wr = [-2000]
        for _ in range(8):
            p, i = self._ref_step(p, i, 9, _IMA_STEP_TABLE)
            wr.append(p)
        assert right == wr

    def test_encoder_roundtrip_tracks_signal(self):
        """Test-side IMA encoder (standard bit-by-bit quantization): a
        smooth signal decodes back within a few quantization steps."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
            decode_wav,
        )

        n = 505  # one block: 4-byte header + 252 nibble bytes
        t = np.arange(n)
        sig = (6000 * np.sin(t / 9.0) + 2000 * np.sin(t / 37.0)).astype(int)

        pred, idx = int(sig[0]), 32  # warm start: skip the attack transient
        nibbles = []
        for x in sig[1:]:
            step = _IMA_STEP_TABLE[idx]
            delta = int(x) - pred
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                nib |= 4
                delta -= step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                nib |= 1
            pred, idx = self._ref_step(pred, idx, nib, _IMA_STEP_TABLE)
            nibbles.append(nib)
        body = bytearray(struct.pack("<hBB", int(sig[0]), 32, 0))
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            body.append(lo | (hi << 4))
        rate, ch, out = decode_wav(self._container(1, bytes(body)))
        assert len(out) == n
        err = np.abs(out.astype(int) - sig[: len(out)])
        assert int(err.max()) < 1200 and float(err.mean()) < 120

    def test_error_paths(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
        )

        block = struct.pack("<hBB", 0, 99, 0) + bytes([0x00] * 4)
        with pytest.raises(ValueError, match="step index"):
            decode_wav(self._container(1, block))
        bad = struct.pack("<hBB", 0, 0, 0) + bytes([0x00])  # align % 4 != 0
        with pytest.raises(ValueError, match="blockAlign"):
            decode_wav(self._container(1, bad))

    @staticmethod
    def _container_fact(channels, block_align, data, n_frames):
        """Container with a `fact` chunk (dwSampleLength) before `data` —
        the layout every spec-conforming non-PCM WAV writer emits."""
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, channels, 8000, 4000, block_align, 4, 2, 0
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, n_frames)
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_fact_chunk_truncates_short_final_block(self):
        """ADVICE r13: without `fact`, a short final block's pad nibbles
        decode as ghost trailing samples (or the remainder drops entirely).
        With `fact`, the short block IS decoded and output truncates to
        dwSampleLength exactly."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
            decode_wav,
        )

        # block_align=12: full block = header(4) + 8 nibble bytes = 17 frames
        full = struct.pack("<hBB", 100, 10, 0) + bytes(
            [0x21, 0x9F, 0x80, 0x73, 0x11, 0x22, 0x33, 0x44]
        )
        # short final block: header + ONE 4-byte group = 9 decodable frames,
        # of which fact says only 5 are real (the rest are encoder padding)
        short = struct.pack("<hBB", -50, 5, 0) + bytes([0x55, 0x66, 0x77, 0x88])
        data = full + short

        n_frames = 17 + 5
        rate, ch, s = decode_wav(self._container_fact(1, 12, data, n_frames))
        assert (rate, ch) == (8000, 1)
        assert len(s) == n_frames
        # the short block's samples are real decoded output, not ghosts
        pred, idx = -50, 5
        want = [-50]
        for nib in (5, 5, 6, 6, 7, 7, 8, 8):
            pred, idx = self._ref_step(pred, idx, nib, _IMA_STEP_TABLE)
            want.append(pred)
        assert s[17:].tolist() == want[:5]

        # fallback without fact: remainder (the short block) drops silently
        rate, ch, legacy = decode_wav(self._container(1, data, align=12))
        assert len(legacy) == 17
        assert legacy.tolist() == s[:17].tolist()

        # fact larger than decodable output is a framing lie -> ValueError
        with pytest.raises(ValueError, match="dwSampleLength"):
            decode_wav(self._container_fact(1, 12, data, 100))

    def test_encode_wav_adpcm_container_roundtrip(self):
        """encode_wav_adpcm is framing-only (the block bytes pass through),
        so container-then-decode must equal decoding the same blocks via a
        hand-built container — including the fact-chunk truncation path."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
            encode_wav_adpcm,
        )

        full = struct.pack("<hBB", 100, 10, 0) + bytes(
            [0x21, 0x9F, 0x80, 0x73, 0x11, 0x22, 0x33, 0x44]
        )
        short = struct.pack("<hBB", -50, 5, 0) + bytes([0x55, 0x66, 0x77, 0x88])
        rate, ch, s = decode_wav(encode_wav_adpcm(8000, 1, 12, full + short, 22))
        assert (rate, ch, len(s)) == (8000, 1, 22)
        want = decode_wav(self._container_fact(1, 12, full + short, 22))[2]
        assert s.tolist() == want.tolist()
        # without n_samples: legacy full-blocks-only
        _, _, legacy = decode_wav(encode_wav_adpcm(8000, 1, 12, full + short))
        assert len(legacy) == 17
        with pytest.raises(ValueError, match="blockAlign"):
            encode_wav_adpcm(8000, 1, 7, full)


class TestPngDepthVariants:
    """r14 encode_png depth/grey-alpha support against the r13 decoder:
    every spec-valid (depth, color-type) combination round-trips exactly,
    plain AND Adam7-interlaced."""

    def test_16bit_roundtrips_exact(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(7)
        for ch in (1, 2, 3, 4):
            for il in (False, True):
                shape = (9, 11) if ch == 1 else (9, 11, ch)
                px = rng.integers(0, 65536, size=shape, dtype=np.uint16)
                got = decode_png(encode_png(px, depth=16, interlace=il))
                assert got.dtype == np.uint16
                assert np.array_equal(got.reshape(px.shape), px), (ch, il)

    def test_sub8_grey_scales_exact(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(11)
        for d, scale in ((1, 255), (2, 85), (4, 17)):
            for il in (False, True):
                px = rng.integers(0, 1 << d, size=(10, 13), dtype=np.uint8)
                got = decode_png(encode_png(px, depth=d, interlace=il))
                assert np.array_equal(got, px * scale), (d, il)

    def test_grey_alpha_8bit_roundtrip(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(13)
        for il in (False, True):
            px = rng.integers(0, 256, size=(7, 6, 2), dtype=np.uint8)
            assert np.array_equal(decode_png(encode_png(px, interlace=il)), px)

    def test_invalid_combinations_raise(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_png,
        )

        rgb = np.zeros((4, 4, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="invalid for color type"):
            encode_png(rgb, depth=2)  # sub-8 is greyscale-only
        with pytest.raises(ValueError, match="invalid for color type"):
            encode_png(np.zeros((4, 4)), depth=12)
        with pytest.raises(ValueError, match="range"):
            encode_png(np.full((4, 4), 4, dtype=np.uint8), depth=2)


class TestMp3Headers:
    """r14 MP3 frame-header walk (VERDICT r13 ask #7): framing metadata
    from the public header tables — no PCM synthesis.  The builder and the
    walker are independent implementations of the same tables (builder
    indexes INTO them; walker derives size/duration arithmetic)."""

    def test_cbr_mpeg1_layer3(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_mp3_headers,
            encode_mp3_frames,
        )

        b = encode_mp3_frames(
            "MPEG1", 3, 44100, [(128, 0), (128, 1), (128, 0)], channels=2
        )
        # hand arithmetic: 144*128000/44100 = 417 (+pad)
        assert len(b) == 417 + 418 + 417
        m = decode_mp3_headers(b)
        assert m["n_frames"] == 3 and not m["is_vbr"]
        assert m["n_samples"] == 3 * 1152 and m["n_channels"] == 2
        assert m["avg_bitrate_kbps"] == 128.0
        assert abs(m["duration_s"] - 3 * 1152 / 44100) < 1e-12

    def test_vbr_mpeg25_with_id3v2_and_id3v1(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_mp3_headers,
            encode_mp3_frames,
        )

        b = encode_mp3_frames(
            "MPEG2.5", 3, 8000, [(8, 0), (24, 1), (64, 0)], id3v2_bytes=200
        )
        m = decode_mp3_headers(b + b"TAG" + bytes(125))
        assert m["is_vbr"] and m["n_frames"] == 3
        assert m["n_samples"] == 3 * 576  # MPEG2.5 L3: half-size frames
        assert m["avg_bitrate_kbps"] == 32.0
        assert m["n_channels"] == 1 and m["sample_rate"] == 8000

    def test_layer1_and_layer2_frame_sizes(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_mp3_headers,
            encode_mp3_frames,
        )

        m1 = decode_mp3_headers(encode_mp3_frames("MPEG1", 1, 32000, [(96, 0), (96, 1)]))
        assert m1["layer"] == 1 and m1["n_samples"] == 2 * 384
        m2 = decode_mp3_headers(encode_mp3_frames("MPEG2", 2, 24000, [(48, 0)]))
        assert m2["layer"] == 2 and m2["n_samples"] == 1152

    def test_error_paths(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_mp3_headers,
            encode_mp3_frames,
        )

        good = encode_mp3_frames("MPEG1", 3, 44100, [(128, 0), (128, 0)])
        with pytest.raises(ValueError, match="truncated MP3 frame"):
            decode_mp3_headers(good[:-10])
        with pytest.raises(ValueError, match="frame sync"):
            decode_mp3_headers(b"\x00\x01\x02\x03\x04")
        with pytest.raises(ValueError, match="no MP3 frames"):
            decode_mp3_headers(b"ID3\x04\x00\x00\x00\x00\x00\x00")
        # mixed sample-rate streams are a framing error
        mixed = good + encode_mp3_frames("MPEG1", 3, 48000, [(128, 0)])
        with pytest.raises(ValueError, match="mixed MP3 stream"):
            decode_mp3_headers(mixed)
        # free-format: size not derivable -> explicit NotImplementedError
        free = bytearray(good[:4])
        free[2] &= 0x0F  # bitrate index 0
        with pytest.raises(NotImplementedError, match="free-format"):
            decode_mp3_headers(bytes(free))


class TestJpeg12:
    """12-bit extended sequential JPEG (SOF1, r14): pq=1 16-bit DQTs,
    widened Huffman alphabets, 2048 level shift, 4095 clamp, uint16 out."""

    def test_constant_blocks_exact(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.full((16, 16), 3000, dtype=np.uint16)
        out = decode_jpeg(encode_jpeg(img, precision=12))
        assert out.dtype == np.uint16 and np.array_equal(out, img)
        # YCbCr constant: decode converts to RGB with the 2048 center
        y, cb, cr = 1234, 1234, 1234
        img3 = np.full((8, 8, 3), y, dtype=np.uint16)
        out3 = decode_jpeg(encode_jpeg(img3, ycbcr=True, precision=12))
        r = max(0, min(4095, int(np.floor(y + 1.402 * (cr - 2048) + 0.5))))
        g = max(0, min(4095, int(np.floor(
            y - 0.344136 * (cb - 2048) - 0.714136 * (cr - 2048) + 0.5))))
        b = max(0, min(4095, int(np.floor(y + 1.772 * (cb - 2048) + 0.5))))
        assert out3[0, 0].tolist() == [r, g, b]
        assert len(np.unique(out3.reshape(-1, 3), axis=0)) == 1

    def test_random_images_bounded_loss(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(5)
        g = rng.integers(0, 4096, (24, 17), dtype=np.uint16)
        out = decode_jpeg(encode_jpeg(g, precision=12))
        # default tables: DC step 8, AC step 16 — same bound as 8-bit,
        # now a tiny fraction of the 12-bit range
        assert int(np.abs(out.astype(int) - g.astype(int)).max()) <= 64
        c = rng.integers(0, 4096, (16, 16, 3), dtype=np.uint16)
        outc = decode_jpeg(encode_jpeg(c, precision=12))
        assert outc.dtype == np.uint16
        assert int(np.abs(outc.astype(int) - c.astype(int)).max()) <= 192

    def test_restart_markers_and_errors(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 4096, (32, 32), dtype=np.uint16)
        a = decode_jpeg(encode_jpeg(img, precision=12))
        b = decode_jpeg(encode_jpeg(img, precision=12, restart_interval=2))
        assert np.array_equal(a, b)
        with pytest.raises(ValueError, match="exceeds 4095"):
            encode_jpeg(np.full((4, 4), 5000, dtype=np.uint16), precision=12)
        with pytest.raises(ValueError, match="12-bit progressive"):
            encode_jpeg(img, precision=12, progressive=True)
        with pytest.raises(ValueError, match="precision must be"):
            encode_jpeg(np.zeros((4, 4), dtype=np.uint8), precision=10)

    def test_8bit_path_regression(self):
        """The precision plumbing must leave the 8-bit pipeline untouched:
        SOF0 marker, 8-bit DQT, uint8 out, same bytes as before the r14
        change for a fixed image."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, (12, 11, 3), dtype=np.uint8)
        b = encode_jpeg(img)
        assert b"\xff\xc0" in b and b"\xff\xc1" not in b
        out = decode_jpeg(b)
        assert out.dtype == np.uint8 and out.shape == img.shape

    def test_12bit_sof1_markers_on_wire(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            encode_jpeg,
        )

        b = encode_jpeg(np.full((8, 8), 100, dtype=np.uint16), precision=12)
        assert b"\xff\xc1" in b and b"\xff\xc0" not in b
        # DQT pq nibble = 1 (16-bit elements): segment payload starts 0x10
        at = b.index(b"\xff\xdb")
        assert b[at + 4] == 0x10


class TestJpegLossless:
    """Lossless JPEG (SOF3, T.81 Annex H, r14): per-sample predictive
    Huffman coding, mod-2^16 differences, category 16 = diff 32768.  No
    quantizer — every round trip must be bit-exact."""

    def test_all_predictors_all_precisions_exact(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg_lossless,
        )

        rng = np.random.default_rng(11)
        for prec in (2, 8, 12, 16):
            for pred in range(1, 8):
                for shape in [(7, 9), (5, 6, 3), (1, 1), (1, 8), (8, 1)]:
                    px = rng.integers(0, 1 << prec, shape, dtype=np.uint32).astype(
                        np.uint16 if prec > 8 else np.uint8
                    )
                    out = decode_jpeg(encode_jpeg_lossless(px, predictor=pred,
                                                           precision=prec))
                    assert out.shape == px.shape, (prec, pred, shape)
                    assert np.array_equal(
                        out.astype(np.uint32), px.astype(np.uint32)
                    ), (prec, pred, shape)

    def test_category16_wraparound_diff(self):
        """pred 32768 (the 16-bit default) to sample 0 is diff -32768 ≡
        32768 mod 2^16 — the category-16 symbol with no extend bits."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg_lossless,
        )

        px = np.array([[0, 32768], [65535, 1]], dtype=np.uint16)
        out = decode_jpeg(encode_jpeg_lossless(px, precision=16))
        assert out.tolist() == px.tolist()

    def test_error_paths(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg_lossless,
        )

        px = np.zeros((4, 4), dtype=np.uint8)
        with pytest.raises(ValueError, match="predictor"):
            encode_jpeg_lossless(px, predictor=8)
        with pytest.raises(ValueError, match="exceeds"):
            encode_jpeg_lossless(np.full((2, 2), 9, dtype=np.uint8), precision=3)
        good = encode_jpeg_lossless(np.arange(16, dtype=np.uint8).reshape(4, 4))
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(good[:-8])
        # truncation anywhere raises cleanly, never IndexError
        for cut in range(2, len(good) - 2, 3):
            with pytest.raises((ValueError, NotImplementedError)):
                decode_jpeg(good[:cut])

    def test_inferred_precision_default(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_jpeg,
            encode_jpeg_lossless,
        )

        px = np.array([[5, 200]], dtype=np.uint8)  # needs 8 bits
        b = encode_jpeg_lossless(px)
        assert np.array_equal(decode_jpeg(b), px)


class TestThirdPartyFlavors:
    """r14 third-party container flavors: the decoders accept the formats
    real files actually ship — 8/24-bit + float WAV, extensible wrapper,
    32-bit and palette BMP — with hand-built golden containers (never this
    repo's own encoders, which don't emit these shapes)."""

    @staticmethod
    def _wav(fmt, ch, rate, bits, data, align=None, ext_tag=None):
        if ext_tag is not None:
            body_fmt = struct.pack(
                "<HHIIHHH", 0xFFFE, ch, rate, rate * ch * bits // 8,
                align or ch * bits // 8, bits, 22,
            ) + struct.pack("<HI", bits, 1) + struct.pack("<H", ext_tag) + bytes(14)
        else:
            body_fmt = struct.pack(
                "<HHIIHH", fmt, ch, rate, rate * ch * bits // 8,
                align or ch * bits // 8, bits,
            )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(body_fmt)) + body_fmt
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_wav_8bit_unsigned_pcm(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
        )

        rate, ch, s = decode_wav(self._wav(1, 1, 8000, 8, bytes([0, 128, 255])))
        assert s.dtype == np.int16
        assert s.tolist() == [(0 - 128) << 8, 0, (255 - 128) << 8]

    def test_wav_24bit_pcm(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
        )

        # samples: 0x000001=1, 0xFFFFFF=-1, 0x800000=-2^23, 0x7FFFFF=2^23-1
        data = (b"\x01\x00\x00" + b"\xff\xff\xff"
                + b"\x00\x00\x80" + b"\xff\xff\x7f")
        rate, ch, s = decode_wav(self._wav(1, 1, 48000, 24, data))
        assert s.dtype == np.int32
        assert s.tolist() == [1, -1, -(1 << 23), (1 << 23) - 1]

    def test_wav_float32(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
        )

        vals = np.array([0.0, 0.5, -1.0, 0.25], dtype="<f4")
        rate, ch, s = decode_wav(self._wav(3, 2, 44100, 32, vals.tobytes()))
        assert s.dtype == np.float32 and ch == 2
        assert s.tolist() == vals.tolist()

    def test_wav_extensible_wrapper_redispatches(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_wav,
        )

        samples = np.array([5, -7, 32767], dtype="<i2")
        rate, ch, s = decode_wav(
            self._wav(None, 1, 16000, 16, samples.tobytes(), ext_tag=1)
        )
        assert s.tolist() == samples.tolist()

    def test_bmp_32bit_drops_reserved_byte(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_bmp,
        )

        # 2x2 bottom-up 32-bit: rows are 4-aligned already; BGRX order
        rows = [
            bytes([10, 20, 30, 0]) + bytes([40, 50, 60, 0]),   # file row 0 = image row 1
            bytes([70, 80, 90, 0]) + bytes([100, 110, 120, 0]),
        ]
        hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + 16, 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 0, 16, 0, 0, 0, 0)
        px = decode_bmp(hdr + info + rows[0] + rows[1])
        assert px.shape == (2, 2, 3)
        assert px[1, 0].tolist() == [30, 20, 10]  # bottom row, RGB order
        assert px[0, 1].tolist() == [120, 110, 100]

    def test_bmp_8bit_palette(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_bmp,
        )

        import pytest

        # 3-color table, 3x2 image, rows padded to 4 bytes
        table = bytes([1, 2, 3, 0]) + bytes([4, 5, 6, 0]) + bytes([7, 8, 9, 0])
        rows = bytes([0, 1, 2, 0]) + bytes([2, 2, 0, 0])
        off = 14 + 40 + len(table)
        hdr = b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
        info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 8, 0, len(rows), 0, 0, 3, 0)
        px = decode_bmp(hdr + info + table + rows)
        assert px.shape == (2, 3, 3)
        # bottom-up: file row 0 is image row 1; BGRX table -> RGB
        assert px[1].tolist() == [[3, 2, 1], [6, 5, 4], [9, 8, 7]]
        assert px[0].tolist() == [[9, 8, 7], [9, 8, 7], [3, 2, 1]]
        # out-of-range palette index is a ValueError, never a wrap
        bad = bytes([0, 1, 5, 0]) + bytes([2, 2, 0, 0])
        with pytest.raises(ValueError, match="palette index"):
            decode_bmp(hdr + info + table + bad)


class TestGifTransparency:
    """r14: the GCE transparency flag decodes to an alpha channel instead
    of being silently ignored (a transparent GIF used to render its
    transparent pixels as opaque palette colors)."""

    PLTE = np.array([[10, 20, 30], [40, 50, 60], [70, 80, 90]], dtype=np.uint8)

    def test_alpha_channel_and_shape_harmony(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        f0 = np.array([[0, 1], [2, 0]], dtype=np.uint8)
        f1 = np.array([[2, 2], [1, 0]], dtype=np.uint8)
        frames, delays = decode_gif(
            encode_gif([f0, f1], self.PLTE, delays_cs=[3, 4],
                       transparent_idx=[1, None])
        )
        # ONE shape per GIF: the opaque frame gains a 255 alpha plane
        assert frames[0].shape == (2, 2, 4) and frames[1].shape == (2, 2, 4)
        assert frames[0][0, 1].tolist() == [40, 50, 60, 0]
        assert frames[0][0, 0].tolist() == [10, 20, 30, 255]
        assert bool((frames[1][:, :, 3] == 255).all())
        assert delays == [3, 4]

    def test_opaque_gif_keeps_rgb_shape(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        f0 = np.array([[0, 1], [2, 0]], dtype=np.uint8)
        frames, _ = decode_gif(encode_gif([f0], self.PLTE))
        assert frames[0].shape == (2, 2, 3)

    def test_transparency_without_delay_gce(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        f0 = np.array([[0, 1], [2, 0]], dtype=np.uint8)
        frames, delays = decode_gif(
            encode_gif([f0], self.PLTE, transparent_idx=[2])
        )
        assert frames[0].shape == (2, 2, 4)
        assert frames[0][1, 0, 3] == 0 and delays == [0]

    def test_out_of_range_transparent_index_raises(self):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
            decode_gif,
            encode_gif,
        )

        f0 = np.array([[0, 1], [2, 0]], dtype=np.uint8)
        g = bytearray(encode_gif([f0], self.PLTE, transparent_idx=[1]))
        # GCE layout: 0x21 0xF9 0x04 flags delay(2) transparent_idx 0x00
        at = bytes(g).index(b"\x21\xf9\x04")
        g[at + 6] = 200  # beyond the 4-entry padded table
        with pytest.raises(ValueError, match="transparent index"):
            decode_gif(bytes(g))
