"""Ogg Vorbis decode tier (operators/vorbiscodec.py).

Round-trip verification uses the INDEPENDENT test-side encoder in
``tests/vorbis_encoder.py`` (same pattern as the JPEG/PNG/FLAC/MPEG
codecs: own bit packer, own Ogg CRC, own codeword emission, own
forward MDCT)."""

import math
import struct

import numpy as np
import pytest

from vorbis_encoder import (
    BitWriterLSB,
    _lacing,
    encode_vorbis,
    float32_pack,
    ogg_page,
)

from datamancer_spark.operators.bitreader import BitReaderLSB
from datamancer_spark.operators.vorbiscodec import (
    _assign_codewords,
    _float32_unpack,
    _imdct,
    _lookup1_values,
    _read_codebook,
    _window,
    ogg_packets,
    vorbis_decode_array,
    vorbis_stream_supported,
)


def _bl_noise(n, seed, frac=0.35):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal(n)
    spec = np.fft.rfft(x)
    spec[int(len(spec) * frac) :] = 0
    return 0.3 * np.fft.irfft(spec, n)


def _corr(a, b):
    n = min(len(a), len(b))
    a, b = np.asarray(a[:n]), np.asarray(b[:n])
    return float(
        np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b) + 1e-12)
    )


class TestRoundTrip:
    def test_mono_noise(self):
        sig = _bl_noise(8192, 1)
        got = vorbis_decode_array(encode_vorbis([sig], 8000, delta=0.004))
        assert got is not None
        rate, pcm = got
        assert rate == 8000
        # one half-block (256) of priming delay; last half-block unflushed
        assert len(pcm) == 8192 - 512
        assert _corr(sig[256:], pcm) > 0.99

    def test_mono_tone(self):
        n = np.arange(8192)
        sig = 0.4 * np.sin(2 * math.pi * 440 * n / 44100)
        # concentrated tonal energy -> larger lattice step to avoid clip
        got = vorbis_decode_array(encode_vorbis([sig], 44100, delta=0.025))
        assert got is not None
        assert got[0] == 44100
        assert _corr(sig[256:], got[1]) > 0.99

    def test_stereo_residue2(self):
        left = _bl_noise(8192, 2)
        right = _bl_noise(8192, 3)
        got = vorbis_decode_array(
            encode_vorbis([left, right], 8000, delta=0.004)
        )
        assert got is not None
        mix = 0.5 * (left + right)
        assert _corr(mix[256:], got[1]) > 0.99

    def test_residue_format0(self):
        sig = _bl_noise(8192, 4)
        got = vorbis_decode_array(
            encode_vorbis([sig], 8000, delta=0.004, residue_type=0)
        )
        assert got is not None
        assert _corr(sig[256:], got[1]) > 0.99

    @pytest.mark.parametrize("n", [256, 1024])
    def test_other_blocksizes(self, n):
        sig = _bl_noise(8192, 5)
        # coefficient scale grows ~1/sqrt(n) under the n/4 convention
        got = vorbis_decode_array(
            encode_vorbis([sig], 16000, n=n, delta=0.006 if n == 256 else 0.003)
        )
        assert got is not None
        assert got[0] == 16000
        assert _corr(sig[n // 2 :], got[1]) > 0.99

    def test_descending_floor_roundtrip(self):
        """Nonzero-partition floor1 with DESCENDING segments (real
        encoders always emit these). Exercises render_line's
        toward-zero truncation: with floor division the decoder would
        over-step every interior sample, drive y negative and wrap
        through the dB table into garbage amplitudes — correlation
        collapses. Also covers the partition-class Y-value book path
        and the neighbor-prediction inverse."""
        sig = _bl_noise(8192, 7)
        # dy does not divide adx on either segment, so the spec's
        # err-accumulator actually engages (the bug's trigger shape)
        pts = [(0, 255), (80, 240), (256, 60)]
        got = vorbis_decode_array(
            encode_vorbis([sig], 8000, delta=0.012, floor_points=pts)
        )
        assert got is not None
        assert _corr(sig[256:], got[1]) > 0.99

    def test_descending_floor_stereo(self):
        left = _bl_noise(8192, 8)
        right = _bl_noise(8192, 9)
        # shallow descent inside the signal band (255->247 over 100
        # bins: err-accumulator active on in-band bins), steep only
        # past the band edge so the 32-level lattice never clips
        pts = [(0, 255), (100, 247), (256, 180)]
        got = vorbis_decode_array(
            encode_vorbis([left, right], 8000, delta=0.006, floor_points=pts)
        )
        assert got is not None
        mix = 0.5 * (left + right)
        assert _corr(mix[256:], got[1]) > 0.99

    def test_render_line_descending_truncates_toward_zero(self):
        from datamancer_spark.operators.vorbiscodec import _render_line

        # shallow descending segment: base = trunc(-1/100) = 0, so every
        # interior sample stays at y0 until the err accumulator wraps at
        # the very end. Floor division (base = -1) would render y=50 at
        # the midpoint and end at -99.
        out = [0] * 101
        _render_line(0, 100, 100, 99, out, 101)
        assert out[50] == 100
        assert min(out[:100]) == 100
        # steeper non-dividing slope must stay within [y1, y0]
        out = [0] * 64
        _render_line(0, 10, 64, 3, out, 64)
        assert max(out) == 10 and min(out) >= 3
        assert out[0] == 10


class TestHeadersAndRefusals:
    def test_stream_supported(self):
        blob = encode_vorbis([_bl_noise(2048, 7)], 8000)
        assert vorbis_stream_supported(blob)

    def test_truncated_headers_refuse(self):
        blob = encode_vorbis([_bl_noise(2048, 7)], 8000)
        for cut in (10, 30, 58, 120):
            assert not vorbis_stream_supported(blob[:cut])
            assert vorbis_decode_array(blob[:cut]) is None

    def test_corrupt_page_crc_stops_cleanly(self):
        blob = bytearray(encode_vorbis([_bl_noise(4096, 8)], 8000))
        # flip a byte inside the FIRST page body: the ident header's
        # CRC no longer matches -> the walk yields nothing -> None
        blob[40] ^= 0xFF
        assert vorbis_decode_array(bytes(blob)) is None

    def test_opus_and_stub_refuse(self):
        from datamancer_spark.operators.fixtures import ogg_stub_blob

        assert not vorbis_stream_supported(ogg_stub_blob(3))
        assert vorbis_decode_array(ogg_stub_blob(3)) is None

    def test_mutations_never_throw(self):
        """Corrupt-input posture: decode returns None or truncated
        output, never raises (one corrupt blob must never kill a
        100 TB task)."""
        base = encode_vorbis([_bl_noise(4096, 9)], 8000, delta=0.004)
        rng = np.random.default_rng(0)
        for _ in range(60):
            b = bytearray(base)
            for _ in range(rng.integers(1, 4)):
                b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
            got = vorbis_decode_array(bytes(b))
            assert got is None or len(got[1]) >= 0
        for cut in range(0, len(base), 997):
            got = vorbis_decode_array(base[:cut])
            assert got is None or len(got[1]) >= 0


class TestOggLayer:
    def test_packet_spanning_pages(self):
        """A packet continued across a page boundary (255-lacing tail +
        continued flag) reassembles."""
        pkt = bytes(range(256)) * 3  # 768 bytes
        part1, part2 = pkt[:510], pkt[510:]
        # page 1: two full 255 segments, no terminator -> continues
        lace1 = bytes([255, 255])
        hdr1 = (
            b"OggS" + bytes([0, 0x02]) + struct.pack("<q", 0)
            + struct.pack("<I", 7) + struct.pack("<I", 0)
            + b"\x00\x00\x00\x00" + bytes([len(lace1)]) + lace1
        )
        from vorbis_encoder import _crc32_ogg

        crc1 = _crc32_ogg(hdr1 + part1)
        page1 = hdr1[:22] + struct.pack("<I", crc1) + hdr1[26:] + part1
        lace2 = _lacing(len(part2))
        hdr2 = (
            b"OggS" + bytes([0, 0x01]) + struct.pack("<q", 1)
            + struct.pack("<I", 7) + struct.pack("<I", 1)
            + b"\x00\x00\x00\x00" + bytes([len(lace2)]) + lace2
        )
        crc2 = _crc32_ogg(hdr2 + part2)
        page2 = hdr2[:22] + struct.pack("<I", crc2) + hdr2[26:] + part2
        got = list(ogg_packets(page1 + page2))
        assert len(got) == 1
        assert got[0][0] == pkt

    def test_multi_packet_page_and_255_multiple(self):
        pkts = [b"a" * 255, b"b" * 10]  # 255-multiple needs 0 terminator
        page = ogg_page(pkts, 5, 9, 0, 0)
        got = [p for p, _ in ogg_packets(page)]
        assert got == pkts

    def test_crc_rejects_flip(self):
        page = ogg_page([b"hello world"], 0, 1, 0, 0)
        assert [p for p, _ in ogg_packets(page)] == [b"hello world"]
        bad = bytearray(page)
        bad[-1] ^= 1
        assert list(ogg_packets(bytes(bad))) == []


class TestCodebookMachinery:
    def _book_bits(self, write):
        w = BitWriterLSB()
        write(w)
        return BitReaderLSB(w.tobytes())

    def test_sparse_codebook(self):
        def write(w):
            w.write(0x564342, 24)
            w.write(1, 16)  # dim
            w.write(4, 24)  # entries
            w.write(0, 1)  # unordered
            w.write(1, 1)  # sparse
            # entries 0,2 used (len 1), 1,3 unused
            w.write(1, 1); w.write(0, 5)
            w.write(0, 1)
            w.write(1, 1); w.write(0, 5)
            w.write(0, 1)
            w.write(0, 4)  # no lookup

        cb = _read_codebook(self._book_bits(write))
        # canonical: entry 0 -> 0, entry 2 -> 1
        assert cb.dec == {(1, 0): 0, (1, 1): 2}

    def test_ordered_codebook(self):
        def write(w):
            w.write(0x564342, 24)
            w.write(1, 16)
            w.write(6, 24)
            w.write(1, 1)  # ordered
            w.write(1, 5)  # first length-1 = 1 -> length 2
            # ilog(6)=3 bits: 2 entries at len 2
            w.write(2, 3)
            # ilog(4)=3 bits: 4 entries at len 3
            w.write(4, 3)
            w.write(0, 4)

        cb = _read_codebook(self._book_bits(write))
        lens = sorted(l for (l, _c) in cb.dec)
        assert lens == [2, 2, 3, 3, 3, 3]
        # Kraft-complete: 2*2^-2 + 4*2^-3 = 1
        assert sum(2.0 ** -l for (l, _c) in cb.dec) == 1.0

    def test_single_entry_codebook_reads_zero_bits(self):
        def write(w):
            w.write(0x564342, 24)
            w.write(1, 16)
            w.write(3, 24)
            w.write(0, 1)
            w.write(1, 1)  # sparse
            w.write(0, 1)
            w.write(1, 1); w.write(4, 5)  # entry 1 used, len 5
            w.write(0, 1)
            w.write(0, 4)

        cb = _read_codebook(self._book_bits(write))
        bits = BitReaderLSB(b"")
        assert cb.decode_scalar(bits) == 1  # zero bits consumed

    def test_assign_codewords_canonical(self):
        # mixed lengths in entry order; lowest-valued available per spec
        dec = _assign_codewords([(0, 2), (1, 4), (2, 4), (3, 4), (4, 4),
                                 (5, 2), (6, 3), (7, 3)])
        # prefix-free + complete
        codes = sorted((l, c) for (l, c) in dec)
        assert sum(2.0 ** -l for (l, _c) in dec) == 1.0
        for (l1, c1) in dec:
            for (l2, c2) in dec:
                if (l1, c1) != (l2, c2) and l1 < l2:
                    assert (c2 >> (l2 - l1)) != c1
        # entry 0 takes codeword 0
        assert dec[(2, 0)] == 0

    def test_float32_roundtrip(self):
        for v in (0.0, 1.0, -1.0, 0.004, -0.06, 1e-5, 123.5, -3.0e4):
            got = _float32_unpack(float32_pack(v))
            assert got == pytest.approx(v, rel=1e-6)

    def test_lookup1_values(self):
        assert _lookup1_values(64, 2) == 8
        assert _lookup1_values(1024, 2) == 32
        assert _lookup1_values(81, 4) == 3
        assert _lookup1_values(80, 4) == 2


class TestSynthesisChain:
    def test_variable_blocksize_lap_exact(self):
        """Forward MDCT (same windows) -> decoder IMDCT + lap is an
        exact inverse across short<->long transitions — validates the
        window shapes and the center-aligned overlap-add the decoder
        uses for REAL (dual-blocksize) streams, which the test encoder
        does not emit."""
        bs0 = 256
        seq = [
            (256, 0, 0), (256, 0, 0),
            (1024, 1, 1), (256, 0, 0),
            (1024, 1, 0), (1024, 0, 1),
            (256, 0, 0), (256, 0, 0),
        ]
        rng = np.random.default_rng(0)
        starts = [0]
        for f in range(1, len(seq)):
            pc = starts[f - 1] + seq[f - 1][0] // 2
            n_prev, n_cur = seq[f - 1][0], seq[f][0]
            starts.append(pc + n_prev // 4 + n_cur // 4 - n_cur // 2)
        total = starts[-1] + seq[-1][0]
        x = 0.3 * rng.standard_normal(total)
        out = []
        tail = None
        prev_n = None
        for f, (n, ps, ns) in enumerate(seq):
            w = _window(n, ps, ns, bs0)
            m = _imdct(n)
            spec = (x[starts[f] : starts[f] + n] * w) @ m / (n / 4.0)
            y = (m @ spec) * w
            left, right = y[: n // 2], y[n // 2 :]
            if tail is not None:
                hop = prev_n // 4 + n // 4
                seg = np.zeros(hop)
                t = tail[:hop]
                seg[: len(t)] += t
                lft = left[max(0, n // 2 - hop) :]
                seg[hop - len(lft) :] += lft
                out.append(seg)
            tail = right
            prev_n = n
        rec = np.concatenate(out)
        ref = x[seq[0][0] // 2 : seq[0][0] // 2 + len(rec)]
        assert np.abs(rec - ref).max() < 1e-10


class TestIntegration:
    def test_classify_and_audio_decode(self):
        from datamancer_spark.operators.multimodal import (
            _classify_decode_tier,
            audio_decode_array,
        )

        sig = _bl_noise(8192, 11)
        ogg = encode_vorbis([sig], 8000, delta=0.004)
        assert _classify_decode_tier(ogg) == ("ogg", True)
        got = audio_decode_array(ogg)
        assert got is not None and got[0] == 8000
        assert _corr(sig[256:], got[1]) > 0.99

    def test_cross_codec_dhash_wav_vs_ogg(self):
        """Same clip through WAV and Vorbis fingerprints within the
        engine's near-dup radius (audio_dhash_pairs max_hamming=3)."""
        from datamancer_spark.operators.multimodal import (
            audio_decode_array,
            audio_dhash64,
        )

        sig = _bl_noise(16384, 5)
        ogg = encode_vorbis([sig], 8000, delta=0.004)
        dec = audio_decode_array(ogg)
        assert dec is not None
        aligned = sig[256 : 256 + len(dec[1])]
        data = np.clip(aligned * 32767, -32768, 32767).astype("<i2").tobytes()
        wav = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )
        h_wav = audio_dhash64(audio_decode_array(wav)[1])
        h_ogg = audio_dhash64(dec[1])
        assert bin((h_wav ^ h_ogg) & (2**64 - 1)).count("1") <= 3

    def test_container_metadata_decodable_flag(self, spark):
        from datamancer_spark.operators.fixtures import ogg_stub_blob
        from datamancer_spark.operators.multimodal import (
            audio_container_metadata,
        )

        rows = [
            ("vorbis", bytearray(encode_vorbis([_bl_noise(2048, 12)], 8000))),
            ("stub", bytearray(ogg_stub_blob(1))),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {
            r["path"]: (r["container"], r["decodable"])
            for r in audio_container_metadata(df).collect()
        }
        assert got["vorbis"] == ("ogg/vorbis", True)
        # the stub isn't a full Ogg page — the metadata walk yields
        # NULLs (unknown container), and decodable is NULL, not True
        assert got["stub"][1] is not True

    def test_media_coverage_counts_vorbis_screenable(self, spark):
        from datamancer_spark.operators.multimodal import (
            media_decode_coverage,
        )

        rows = [
            (f"v{i}", bytearray(encode_vorbis([_bl_noise(1024, i)], 8000)))
            for i in range(3)
        ]
        from datamancer_spark.operators.fixtures import ogg_stub_blob

        rows.append(("stub", bytearray(ogg_stub_blob(0))))
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {
            r["container"]: (r["n"], r["n_screenable"])
            for r in media_decode_coverage(df).collect()
        }
        assert got["ogg"] == (4, 3)
