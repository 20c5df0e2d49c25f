"""Baseline JPEG codec tests (sources/jpeg.py — pure-numpy ITU-T T.81).

The encoder's output must be a STANDARD baseline JFIF stream (marker layout
checked structurally), the decoder must be a GENERAL baseline decoder (its
tables and sampling factors come from the file, proven by decoding a
hand-assembled 4:2:0 stream the encoder cannot produce), and the roundtrip
must clear the payload validation gate (PSNR ≥ 40 dB at the payload
quality).  No image library exists in this container to cross-check against,
so generality is pinned by construction: the 4:2:0 test encodes its entropy
bits from the spec's coding rules directly, independent of the encoder."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from govuk_crawler_worker_spark.sources import images as img
from govuk_crawler_worker_spark.sources.jpeg import (
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    _canonical_codes,
    decode_jpeg,
    encode_jpeg,
)


class TestRoundtrip:
    def test_flat_gray_is_exact(self):
        g = np.full((16, 24, 3), 128, dtype=np.uint8)
        assert np.array_equal(decode_jpeg(encode_jpeg(g, 90)), g)

    def test_psnr_gate_at_payload_quality(self):
        px = img.make_pixels(np.random.default_rng(2), 48, 32)
        dec = decode_jpeg(encode_jpeg(px, img.JPEG_QUALITY))
        assert img.psnr(px, dec) >= 40.0

    def test_smooth_content_high_fidelity(self):
        yy, xx = np.mgrid[0:64, 0:64]
        sm = np.stack([xx * 4, yy * 4, (xx + yy) * 2], -1).astype(np.uint8)
        assert img.psnr(sm, decode_jpeg(encode_jpeg(sm, 90))) >= 45.0

    def test_non_multiple_of_8_dims(self):
        for h, w in [(1, 1), (7, 9), (17, 31), (8, 13)]:
            px = img.make_pixels(np.random.default_rng(h * 100 + w), w, h)
            dec = decode_jpeg(encode_jpeg(px, 95))
            assert dec.shape == (h, w, 3)
            assert img.psnr(px, dec) >= 25.0  # tiny noisy tiles, loose floor

    def test_quality_monotone(self):
        px = img.make_pixels(np.random.default_rng(3), 32, 32)
        p = [img.psnr(px, decode_jpeg(encode_jpeg(px, q))) for q in (50, 75, 90, 98)]
        assert p == sorted(p)

    def test_deterministic_bytes(self):
        px = img.make_pixels(np.random.default_rng(4), 24, 16)
        assert encode_jpeg(px, 90) == encode_jpeg(px, 90)


class TestStandardStructure:
    def test_marker_layout(self):
        px = img.make_pixels(np.random.default_rng(5), 16, 16)
        b = encode_jpeg(px, 85)
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
        # the segment walk must visit DQT×2, SOF0, DHT×4, SOS in order
        seen = []
        pos = 2
        while pos < len(b) - 2:
            assert b[pos] == 0xFF
            marker = b[pos + 1]
            seen.append(marker)
            if marker == 0xDA:
                break
            (ln,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            pos += 2 + ln
        assert seen.count(0xDB) == 2 and seen.count(0xC4) == 4
        assert 0xC0 in seen and seen[-1] == 0xDA

    def test_sof0_dimensions(self):
        px = img.make_pixels(np.random.default_rng(6), 19, 7)
        b = encode_jpeg(px, 85)
        i = b.find(b"\xff\xc0")
        _ln, _prec, h, w, nc = struct.unpack(">HBHHB", b[i + 2 : i + 10])
        assert (h, w, nc) == (7, 19, 3)

    def test_entropy_bytes_are_stuffed(self):
        # no bare 0xFF inside the entropy segment except the EOI at the end
        px = img.make_pixels(np.random.default_rng(7), 64, 64)
        b = encode_jpeg(px, 85)
        i = b.find(b"\xff\xda")
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        ent = b[i + 2 + ln : -2]
        j = 0
        while j < len(ent):
            if ent[j] == 0xFF:
                assert ent[j + 1] == 0x00, f"unstuffed 0xFF at {j}"
                j += 2
            else:
                j += 1

    def test_reject_non_jpeg_and_progressive(self):
        with pytest.raises(ValueError):
            decode_jpeg(b"not a jpeg")
        px = img.make_pixels(np.random.default_rng(8), 8, 8)
        b = bytearray(encode_jpeg(px, 85))
        i = bytes(b).find(b"\xff\xc0")
        b[i + 1] = 0xC2  # masquerade as progressive
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(b))


def _bits_of(code: int, length: int) -> list[int]:
    return [(code >> (length - 1 - i)) & 1 for i in range(length)]


class TestGeneralBaselineDecoder:
    def test_decodes_handmade_420_stream(self):
        """The encoder only emits 4:4:4 — so assemble a 16×16 4:2:0 JPEG by
        hand (1 MCU: 4 Y blocks + 1 Cb + 1 Cr, DC-only, flat quant=16) and
        check the decoder reconstructs the four 8×8 gray quadrants.  This
        pins the sampling-factor/MCU-interleave/upsample path against the
        spec, independent of the encoder."""
        qt = bytes([16] * 64)  # flat table, tq 0: DC step 16
        dc_l = _canonical_codes(*_DC_LUMA)
        dc_c = _canonical_codes(*_DC_CHROMA)
        ac_l = _canonical_codes(*_AC_LUMA)
        ac_c = _canonical_codes(*_AC_CHROMA)

        bits: list[int] = []

        def put_dc(codes, diff):
            size = int(abs(diff)).bit_length() if diff else 0
            code, ln = codes[size]
            bits.extend(_bits_of(code, ln))
            if size:
                amp = diff if diff >= 0 else diff + (1 << size) - 1
                bits.extend(_bits_of(amp, size))

        def put_eob(codes):
            code, ln = codes[0x00]
            bits.extend(_bits_of(code, ln))

        # Y quadrant DCs: levels −64, −32, +32, +64 around 128.  Quantized
        # DC = round(level*8 / 16) (orthonormal DCT: DC = 8·mean(shifted)).
        # diffs are against the running predictor.
        ydc = [-32, -16, 16, 32]  # quantized values
        pred = 0
        for v in ydc:
            put_dc(dc_l, v - pred)
            pred = v
            put_eob(ac_l)
        put_dc(dc_c, 0)  # Cb = 128
        put_eob(ac_c)
        put_dc(dc_c, 0)  # Cr = 128
        put_eob(ac_c)
        while len(bits) % 8:
            bits.append(1)
        entropy = bytearray()
        for i in range(0, len(bits), 8):
            byte = int("".join(map(str, bits[i : i + 8])), 2)
            entropy.append(byte)
            if byte == 0xFF:
                entropy.append(0x00)

        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        b = struct.pack(">H", 0xFFD8)
        b += seg(0xFFDB, bytes([0x00]) + qt)
        sof = struct.pack(">BHHB", 8, 16, 16, 3)
        sof += struct.pack(">BBB", 1, 0x22, 0)  # Y: h=v=2
        sof += struct.pack(">BBB", 2, 0x11, 0)  # Cb
        sof += struct.pack(">BBB", 3, 0x11, 0)  # Cr
        b += seg(0xFFC0, sof)
        for tc_th, spec in (
            (0x00, _DC_LUMA), (0x10, _AC_LUMA), (0x01, _DC_CHROMA), (0x11, _AC_CHROMA),
        ):
            b += seg(0xFFC4, bytes([tc_th]) + bytes(spec[0]) + bytes(spec[1]))
        sos = struct.pack(">B", 3)
        for cid, tdta in ((1, 0x00), (2, 0x11), (3, 0x11)):
            sos += struct.pack(">BB", cid, tdta)
        sos += b"\x00\x3f\x00"
        b += seg(0xFFDA, sos)
        b += bytes(entropy)
        b += struct.pack(">H", 0xFFD9)

        px = decode_jpeg(b)
        assert px.shape == (16, 16, 3)
        # each 8×8 quadrant is flat gray at 128 + quantizedDC·16/8
        for (qy, qx), v in zip([(0, 0), (0, 1), (1, 0), (1, 1)], ydc):
            quad = px[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
            want = int(round(128 + v * 16 / 8))
            got = quad.astype(int)
            assert np.all(np.abs(got - want) <= 1), (qy, qx, want, got[0, 0])
            # gray: R == G == B (Cb = Cr = 128 exactly)
            assert np.array_equal(quad[..., 0], quad[..., 1])
            assert np.array_equal(quad[..., 0], quad[..., 2])


class TestMultiScanRejected:
    def test_non_interleaved_multi_scan_raises_loud(self):
        """A legal baseline stream may carry several non-interleaved scans
        (one component per SOS); this decoder handles only the single
        interleaved scan and must fail LOUD like the SOF2/arithmetic
        rejections — not return the uncovered components as silent zeros
        (r6 ADVICE).  The raise happens at header parse, before any entropy
        decode, so a minimal headers-only stream pins it."""
        import pytest

        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        b = struct.pack(">H", 0xFFD8)
        b += seg(0xFFDB, bytes([0x00]) + bytes([16] * 64))
        sof = struct.pack(">BHHB", 8, 16, 16, 3)
        for cid in (1, 2, 3):
            sof += struct.pack(">BBB", cid, 0x11, 0)
        b += seg(0xFFC0, sof)
        # first SOS covers ONLY component 1 of the 3 the SOF declared
        b += seg(0xFFDA, struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00) + b"\x00\x3f\x00")
        b += struct.pack(">H", 0xFFD9)
        with pytest.raises(NotImplementedError, match="1 of 3"):
            decode_jpeg(b)


class TestLegacyAndDispatch:
    def test_payload_bytes_are_real_jpeg(self):
        px = img.make_pixels(np.random.default_rng(9), 12, 12)
        assert img.encode_lossy(px)[:2] == b"\xff\xd8"

    def test_qim1_payloads_are_refused(self):
        """The pre-r6 "QIM1" stub is not a JPEG: decoding it fails loudly."""
        import zlib

        px = img.make_pixels(np.random.default_rng(10), 10, 6)
        stub = b"QIM1" + struct.pack(">IIB", 10, 6, 4) + zlib.compress(px.tobytes(), 6)
        with pytest.raises(ValueError, match="not a JPEG"):
            img.decode_lossy(stub)
        with pytest.raises(ValueError, match="not a JPEG"):
            img.decode_image(stub, "jpeg")


class TestCodecProperty:
    def test_roundtrip_property_random_sizes_and_qualities(self):
        """Fuzz the r7 vectorized entropy coder pair: random dimensions
        (incl. non-multiples of 8), contents and qualities must round-trip
        — dimensions exact, PSNR sane for the quality, encode deterministic.
        Guards the item-ordering/bit-packing refactors against edge shapes
        (1-pixel edges, single-block, tall/thin)."""
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=25, deadline=None)
        @given(
            w=st.integers(min_value=1, max_value=41),
            h=st.integers(min_value=1, max_value=41),
            q=st.sampled_from([50, 75, 90, 98]),
            seed=st.integers(min_value=0, max_value=2**31),
        )
        def check(w, h, q, seed):
            rng = np.random.default_rng(seed)
            px = img.make_pixels(rng, w, h)
            data = encode_jpeg(px, q)
            assert data == encode_jpeg(px, q)  # deterministic
            out = decode_jpeg(data)
            assert out.shape == (h, w, 3)
            # noisy content at q50 still lands well above garbage level
            assert img.psnr(px, out) >= (40.0 if q >= 98 else 20.0)

        check()
