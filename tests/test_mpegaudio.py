"""MPEG-1 audio decode tier (operators/mpegaudio.py + mpeghuff.py).

Round-trip verification uses the INDEPENDENT test-side encoder in
``tests/mpeg_encoder.py`` (same pattern as the JPEG/PNG/FLAC codecs:
the encoder shares only the public spec's constant tables, never the
decoder's code paths)."""

import math

import numpy as np
import pytest


class TestHuffmanTables:
    def test_tables_validated(self):
        """Pin EXACTLY which Layer III code tables passed the
        structural gate (prefix-free + Kraft-complete). 10 and 13 are
        documented transcription failures; 16/24 (ESC) deliberately
        not shipped."""
        from datamancer_spark.operators import mpeghuff as mh

        assert sorted(mh.PAIR_TABLES) == [1, 2, 3, 5, 6, 7, 8, 9, 11,
                                          12, 15]
        assert sorted(mh.COUNT1_TABLES) == [0, 1]
        # ESC selects resolve to None (refused), as do 10/13
        for sel in (4, 10, 13, 14, 16, 20, 24, 31):
            assert mh.pair_table_for_select(sel) is None
        # supported selects resolve with linbits 0
        for sel in (1, 2, 3, 5, 6, 7, 8, 9, 11, 12, 15):
            dec, maxlen, linbits = mh.pair_table_for_select(sel)
            assert linbits == 0
            assert 1 <= maxlen <= 13

    def test_kraft_and_prefix_exhaustive(self):
        """Every shipped decode map is a complete prefix code: walking
        ANY bit sequence always terminates at a symbol within maxlen
        bits."""
        from datamancer_spark.operators import mpeghuff as mh

        for tid, (dec, maxlen) in mh.PAIR_TABLES.items():
            # every leaf reachable: follow 256 pseudo-random bit paths
            for seed in range(256):
                acc = 0
                ln = 0
                path = seed
                hit = None
                while ln < maxlen:
                    acc = (acc << 1) | (path & 1)
                    path >>= 1
                    ln += 1
                    if (ln, acc) in dec:
                        hit = dec[(ln, acc)]
                        break
                assert hit is not None, (tid, seed)


class TestFilterbank:
    def test_perfect_reconstruction(self):
        from datamancer_spark.operators import mpegaudio as m

        rng = np.random.default_rng(7)
        x = rng.standard_normal(32768)
        rec = m.synthesis(m.analysis(x))
        d = m.chain_delay()
        assert d == 481
        n = 30000
        a = x[: n - d]
        b = rec[d:n]
        err = a - b
        snr = 10 * np.log10(np.dot(a, a) / np.dot(err, err))
        assert snr > 50.0, snr

    def test_sine_lands_in_one_subband(self):
        from datamancer_spark.operators import mpegaudio as m

        n = np.arange(8192)
        # subband k spans (k/64, (k+1)/64) cycles/sample; aim at the
        # center of subband 5
        f = (5 + 0.5) / 64.0
        x = np.sin(2 * math.pi * f * n)
        s = m.analysis(x)
        power = (s[32:] ** 2).sum(axis=0)
        assert int(np.argmax(power)) == 5
        others = power.sum() - power[5]
        assert others < 0.01 * power[5]


#: the decoder TRIMS its own lead-in (481 filterbank + 576 MDCT
#: granule for Layer III), so decoded output aligns with the source
#: timeline at delay 0
_L3_DELAY = 0
_L1_DELAY = 0


def _corr_at(ref, got, delay, n=20000):
    a = np.asarray(ref[:n])
    b = np.asarray(got[delay : delay + n])
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)
                                 + 1e-12))


def _bl_noise(n, seed, rate_frac=0.35):
    """Band-limited deterministic noise — aperiodic, so the
    correlation peak pins the exact chain delay."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal(n)
    spec = np.fft.rfft(x)
    spec[int(len(spec) * rate_frac) :] = 0
    return 0.3 * np.fft.irfft(spec, n)


class TestLayer1RoundTrip:
    def test_mono(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer1

        sig = _bl_noise(44100, 21)
        got = mpeg_audio_decode_array(encode_layer1([sig], 44100))
        assert got is not None
        rate, mono = got
        assert rate == 44100
        assert _corr_at(sig, mono, _L1_DELAY) > 0.995

    def test_stereo_mixes_to_mono(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer1

        left = _bl_noise(32000, 3)
        right = _bl_noise(32000, 4)
        got = mpeg_audio_decode_array(
            encode_layer1([left, right], 44100)
        )
        assert got is not None
        assert _corr_at(0.5 * (left + right), got[1], _L1_DELAY) > 0.995


class TestLayer3RoundTrip:
    def test_mono_tone(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        n = np.arange(44100)
        sig = (0.5 * np.sin(2 * math.pi * 440 * n / 44100)
               + 0.2 * np.sin(2 * math.pi * 3000 * n / 44100))
        got = mpeg_audio_decode_array(encode_layer3([sig], 44100))
        assert got is not None
        assert got[0] == 44100
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.99

    def test_mono_noise(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(44100, 7)
        got = mpeg_audio_decode_array(encode_layer3([sig], 44100))
        assert got is not None
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.99

    @pytest.mark.parametrize("rate", [48000, 32000])
    def test_other_samplerates(self, rate):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(rate, 9)
        got = mpeg_audio_decode_array(encode_layer3([sig], rate))
        assert got is not None
        assert got[0] == rate
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.99

    def test_stereo_lr(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        left = _bl_noise(44100, 11)
        right = _bl_noise(44100, 12)
        got = mpeg_audio_decode_array(
            encode_layer3([left, right], 44100)
        )
        assert got is not None
        assert _corr_at(0.5 * (left + right), got[1], _L3_DELAY) > 0.99

    def test_stereo_ms(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        left = _bl_noise(44100, 13)
        right = 0.4 * left + _bl_noise(44100, 14) * 0.6
        got = mpeg_audio_decode_array(
            encode_layer3([left, right], 44100, ms_stereo=True)
        )
        assert got is not None
        assert _corr_at(0.5 * (left + right), got[1], _L3_DELAY) > 0.98

    @pytest.mark.parametrize("ms", [False, True])
    def test_intensity_stereo(self, ms):
        """Intensity streams (mode_ext 1 and 3) decode EXACTLY under
        the mono-mix contract (r9): intensity bands carry L + R = M
        verbatim, and for mode_ext 3 the MS butterfly stops at the
        right channel's sfb-aligned rzero bound. Pinned against the
        plain-LR encoding of the SAME signals — intensity must decode
        no worse than the baseline, within a 0.005 corr hair."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
            mpeg_stream_supported,
        )
        from mpeg_encoder import encode_layer3

        left = _bl_noise(4 * 1152, 31)
        right = _bl_noise(4 * 1152, 32)
        mix = 0.5 * (left + right)
        blob = encode_layer3(
            [left, right], 44100, ms_stereo=ms, intensity_bound_sfb=12
        )
        assert mpeg_stream_supported(blob)  # was a refusal before r9
        got = mpeg_audio_decode_array(blob)
        assert got is not None
        base = mpeg_audio_decode_array(encode_layer3([left, right], 44100))
        c_int = _corr_at(mix, got[1], _L3_DELAY)
        c_base = _corr_at(mix, base[1], _L3_DELAY)
        assert c_int > 0.93
        assert c_int >= c_base - 0.005, (c_int, c_base)

    def test_intensity_is_pos_7_bands_take_ms_butterfly(self):
        """is_position == 7 marks a band in the intensity region as
        NOT intensity-coded (ISO 11172-3 2.4.3.4.9.3): with mode_ext 3
        it takes the MS butterfly, so a mid of (L+R)/sqrt(2) with S=0
        restores the true mono mix. A decoder that treats every band
        above the bound as intensity is off by sqrt(2) there."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        left = _bl_noise(4 * 1152, 33)
        right = _bl_noise(4 * 1152, 34)
        mix = 0.5 * (left + right)
        blob = encode_layer3(
            [left, right], 44100, ms_stereo=True, intensity_bound_sfb=12,
            intensity_is7_sfbs=(13, 15, 16), scalefac_compress=13,
        )
        got = mpeg_audio_decode_array(blob)
        assert got is not None
        base = mpeg_audio_decode_array(encode_layer3([left, right], 44100))
        c_is7 = _corr_at(mix, got[1], _L3_DELAY)
        c_base = _corr_at(mix, base[1], _L3_DELAY)
        assert c_is7 > 0.93
        assert c_is7 >= c_base - 0.005, (c_is7, c_base)


def _bp_noise(n, seed, lo=0.033, hi=0.09):
    """Band-pass deterministic noise confined to subbands 2-5 (lines
    36..107 of a long-block spectrum): near-zero spectral magnitudes
    below sample 36, big ones above, so window-switching granules
    Huffman-split their big_values across the 36-sample region
    boundary with DIFFERENT tables per region."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal(n)
    spec = np.fft.rfft(x)
    f = np.arange(len(spec)) / n
    spec[(f < lo) | (f > hi)] = 0
    return 0.3 * np.fft.irfft(spec, n)


class TestLayer3WindowSwitching:
    """Window-switching (start/short/stop) coverage. Pins the ISO
    11172-3 2.4.2.7 implied region boundary: region0 ends at sample 36
    for start/stop/mixed granules (implied region0_count=7 ->
    sfb_l[8]=36 at every MPEG-1 rate), NOT 54 — a decoder using 54
    reads samples 36..53 with region0's Huffman table and desyncs."""

    def test_full_sequence_round_trip(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(8 * 1152, 42)
        got = mpeg_audio_decode_array(
            encode_layer3([sig], 44100, block_types=[0, 1, 2, 3] * 4)
        )
        assert got is not None
        assert got[0] == 44100
        # short blocks quantize coarser than long (6-line windows);
        # the chain itself is exact (see mdct tests)
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.95

    def test_short_block_runs(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(8 * 1152, 43)
        bts = [0, 1, 2, 2, 2, 2, 3, 0] * 2
        got = mpeg_audio_decode_array(
            encode_layer3([sig], 44100, block_types=bts)
        )
        assert got is not None
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.95

    @pytest.mark.parametrize("rate", [48000, 32000])
    def test_other_samplerates(self, rate):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(8 * 1152, 44)
        got = mpeg_audio_decode_array(
            encode_layer3([sig], rate, block_types=[0, 1, 2, 3] * 4)
        )
        assert got is not None
        assert got[0] == rate
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.95

    def test_region_boundary_table_split(self):
        """The regression test for the r8-flagged bug: start/stop
        granules whose big_values region crosses sample 36 with
        different Huffman tables on each side. Self-validating: the
        side info is parsed back to PROVE the split is present (a
        boundary of 54 decoded this stream at corr ~0.46)."""
        from datamancer_spark.operators.mpegaudio import (
            _parse_side_info,
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import _BITRATES_L3, encode_layer3

        sig = _bp_noise(8 * 1152, 5)
        blob = encode_layer3([sig], 44100, block_types=[0, 1, 3, 0] * 4)

        split_seen = 0
        off = 0
        while off < len(blob):
            br = _BITRATES_L3[blob[off + 2] >> 4]
            frame_bytes = 144 * br * 1000 // 44100
            _, _, granules = _parse_side_info(
                blob[off + 4 : off + 21], 1
            )
            for gr in range(2):
                g = granules[gr][0]
                if not g["window_switching"]:
                    continue
                assert g["block_type"] in (1, 3)
                if (g["big_values"] * 2 > 36
                        and g["table_select"][0] != g["table_select"][1]):
                    split_seen += 1
            off += frame_bytes
        assert split_seen >= 6, split_seen

        got = mpeg_audio_decode_array(blob)
        assert got is not None
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.95

    def test_mixed_blocks_round_trip(self):
        """Mixed granules (block_type 2 + mixed flag: subbands 0-1
        long-windowed, 2-31 short) exercise the mixed requantize /
        reorder-from-sfb-3 / single-boundary alias / per-subband
        hybrid paths — and the SAME implied region0_count=7 -> 36
        boundary the r9 fix pinned. The spec's window set has no
        mixed-aware start/stop shape, so the two long subbands lap
        imperfectly at the transitions — corr ~0.96 is the physics
        ceiling here, not decoder slack."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(8 * 1152, 42)
        for bts in ([0, 1, "m", 3] * 4,
                    [0, 1, "m", "m", 2, "m", 3, 0] * 2):
            got = mpeg_audio_decode_array(
                encode_layer3([sig], 44100, block_types=bts)
            )
            assert got is not None
            assert got[0] == 44100
            assert _corr_at(sig, got[1], _L3_DELAY) > 0.94

    def test_mixed_region_boundary_table_split(self):
        """Mixed granules with big_values crossing sample 36 and
        different tables per region — the mixed arm of the r9
        boundary fix (implied region0_count=7, same as start/stop)."""
        from datamancer_spark.operators.mpegaudio import (
            _parse_side_info,
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import _BITRATES_L3, encode_layer3

        sig = _bp_noise(8 * 1152, 5)
        blob = encode_layer3([sig], 44100, block_types=[0, 1, "m", 3] * 4)
        split_seen = 0
        off = 0
        while off < len(blob):
            br = _BITRATES_L3[blob[off + 2] >> 4]
            frame_bytes = 144 * br * 1000 // 44100
            _, _, granules = _parse_side_info(blob[off + 4 : off + 21], 1)
            for gr in range(2):
                g = granules[gr][0]
                if g["window_switching"] and g["mixed_block"]:
                    assert g["block_type"] == 2
                    if (g["big_values"] * 2 > 36
                            and g["table_select"][0] != g["table_select"][1]):
                        split_seen += 1
            off += frame_bytes
        assert split_seen >= 3, split_seen
        got = mpeg_audio_decode_array(blob)
        assert got is not None
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.94

    def test_ws_mdct_chain_exact(self):
        """Forward (test-encoder) MDCTs -> decoder hybrid synthesis is
        an EXACT inverse across every block-type transition, one
        granule of algorithmic delay — isolates windowing/normalization
        from quantization noise."""
        from datamancer_spark.operators.mpegaudio import (
            _hybrid_synthesis,
        )
        from mpeg_encoder import mdct_short, mdct_windowed

        rng = np.random.default_rng(0)
        bts = [0, 1, 2, 3, 0, 1, 2, 3]
        ngr = len(bts)
        sub = rng.standard_normal((ngr * 18, 32))
        specs = []
        prev = np.zeros((18, 32))
        for g in range(ngr):
            cur = sub[g * 18 : (g + 1) * 18, :]
            spec = np.empty(576)
            for sb in range(32):
                if bts[g] == 2:
                    spec[sb * 18 : (sb + 1) * 18] = mdct_short(
                        prev[:, sb], cur[:, sb]
                    )
                else:
                    spec[sb * 18 : (sb + 1) * 18] = mdct_windowed(
                        prev[:, sb], cur[:, sb], bts[g]
                    )
            prev = cur
            specs.append(spec)
        overlap = np.zeros((32, 18))
        rec = []
        for g in range(ngr):
            gd = {
                "window_switching": 1 if bts[g] else 0,
                "block_type": bts[g],
                "mixed_block": 0,
            }
            rec.append(_hybrid_synthesis(specs[g], gd, overlap))
        rec = np.vstack(rec)
        assert np.abs(rec[18:] - sub[:-18]).max() < 1e-10

    def test_scalefactors_preflag_scfsi(self):
        """Nonzero scalefactors + preflag + scfsi granule-1 reuse all
        survive the round trip."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(44100, 15)
        sf = [2, 1, 0, 3, 1, 0, 2, 1, 0, 1, 2, 0, 1, 2, 3, 0, 1, 2, 3,
              1, 2]
        blob = encode_layer3(
            [sig], 44100, scalefac_compress=10, sf_bands=sf,
            preflag=1, scalefac_scale=1, scfsi=[[0, 1, 1, 0]],
        )
        got = mpeg_audio_decode_array(blob)
        assert got is not None
        # scalefac_scale=1 with sf up to 3 coarsens quantization by up
        # to 8x in the flagged bands — the lower bar is the LOSSY
        # step, not decode error (same encode with sf=0: > 0.99)
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.95

    def test_id3_wrapping_ignored(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer3

        sig = _bl_noise(44100, 16)
        core = encode_layer3([sig], 44100)
        pay = b"\x00" * 64
        id3v2 = b"ID3\x04\x00\x00" + bytes(
            [(len(pay) >> 21) & 0x7F, (len(pay) >> 14) & 0x7F,
             (len(pay) >> 7) & 0x7F, len(pay) & 0x7F]
        ) + pay
        id3v1 = b"TAG" + b"\x00" * 125
        got = mpeg_audio_decode_array(id3v2 + core + id3v1)
        assert got is not None
        assert _corr_at(sig, got[1], _L3_DELAY) > 0.99


def _frame_with_table_select(select: int) -> bytes:
    """Hand-build a mono Layer III frame whose granule 0 references
    ``select`` with nonzero big_values."""
    from mpeg_encoder import BitWriter, _frame_header

    w = BitWriter()
    w.write(0, 9)
    w.write(0, 5)
    for _ in range(4):
        w.write(0, 1)
    for _gr in range(2):
        w.write(64, 12)  # part2_3_length
        w.write(2, 9)  # big_values
        w.write(210, 8)
        w.write(0, 4)
        w.write(0, 1)  # no window switching
        w.write(select, 5)
        w.write(0, 5)
        w.write(0, 5)
        w.write(0, 4)
        w.write(0, 3)
        w.write(0, 1)
        w.write(0, 1)
        w.write(0, 1)
    side = w.tobytes()
    assert len(side) == 17
    hdr = _frame_header(3, 9, 0, 3)
    frame_bytes = 144 * 128000 // 44100
    frame = hdr + side
    frame += b"\x00" * (frame_bytes - len(frame))
    return frame * 3


class TestRefusals:
    def test_esc_table_refused(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
            mpeg_stream_supported,
        )

        blob = _frame_with_table_select(16)
        assert mpeg_audio_decode_array(blob) is None
        assert mpeg_stream_supported(blob) is False

    def test_failed_transcription_table_refused(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
            mpeg_stream_supported,
        )

        blob = _frame_with_table_select(13)
        assert mpeg_audio_decode_array(blob) is None
        assert mpeg_stream_supported(blob) is False

    def test_supported_table_not_refused_by_screen(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_stream_supported,
        )

        assert mpeg_stream_supported(_frame_with_table_select(7))

    def test_layer2_refused(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
            mpeg_stream_supported,
        )
        from mpeg_encoder import _frame_header

        frame_bytes = 144 * 128000 // 44100
        frame = _frame_header(2, 9, 0, 3)
        frame += b"\x00" * (frame_bytes - len(frame))
        assert mpeg_audio_decode_array(frame * 4) is None
        assert mpeg_stream_supported(frame * 4) is False

    def test_intensity_stereo_silent_frame_decodes(self):
        """r9 flip of the old refusal regression: intensity streams
        (mode_ext bit 0) now DECODE under the mono-mix contract — a
        hand-built all-zero intensity frame yields silence, not
        None."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import BitWriter, _frame_header

        w = BitWriter()
        w.write(0, 9)
        w.write(0, 3)
        for _ in range(8):
            w.write(0, 1)
        for _gr in range(2):
            for _ch in range(2):
                w.write(0, 12)
                w.write(0, 9)
                w.write(210, 8)
                w.write(0, 4)
                w.write(0, 1)
                for _ in range(3):
                    w.write(0, 5)
                w.write(0, 4)
                w.write(0, 3)
                w.write(0, 3)
        side = w.tobytes()
        assert len(side) == 32
        hdr = _frame_header(3, 9, 0, 1, mode_ext=1)  # intensity on
        frame_bytes = 144 * 128000 // 44100
        frame = hdr + side + b"\x00" * (frame_bytes - 36)
        got = mpeg_audio_decode_array(frame * 3)
        assert got is not None
        rate, mono = got
        assert rate == 44100
        assert float(np.abs(mono).max()) == 0.0

    def test_corruption_fuzz_never_raises(self):
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
            mpeg_stream_supported,
        )
        from mpeg_encoder import encode_layer1, encode_layer3

        sig = _bl_noise(22050, 33)
        for blob in (encode_layer3([sig], 44100), encode_layer1([sig], 44100)):
            rng = np.random.default_rng(99)
            for _ in range(40):
                mut = bytearray(blob)
                for _k in range(rng.integers(1, 8)):
                    mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
                mpeg_audio_decode_array(bytes(mut))  # None or decode
                mpeg_stream_supported(bytes(mut))

    def test_layer1_allocation_overrun_is_undecodable(self):
        """Allocation codes 14 everywhere ask for 15-bit samples in all
        32 subbands — far more bits than the frame holds. The read past
        the frame end makes the clip undecodable (``None``), never an
        exception out of the decoder."""
        from datamancer_spark.operators.mpegaudio import (
            mpeg_audio_decode_array,
        )
        from mpeg_encoder import encode_layer1

        blob = bytearray(encode_layer1([_bl_noise(22050, 33)], 44100))
        blob[4:20] = b"\xee" * 16  # first frame's allocation, no CRC
        assert mpeg_audio_decode_array(bytes(blob)) is None


class TestHeaders:
    def test_header_parse_and_frame_len(self):
        from datamancer_spark.operators import mpegaudio as m

        # MPEG-1 Layer III, 128 kbps, 44100 Hz, no padding, mono
        hdr = m.parse_frame_header(bytes([0xFF, 0xFB, 0x90, 0xC0]))
        assert hdr["layer"] == 3
        assert hdr["bitrate"] == 128000
        assert hdr["samplerate"] == 44100
        assert hdr["channels"] == 1
        assert hdr["frame_bytes"] == 144 * 128000 // 44100
        # Layer I frame length is in 4-byte slots
        hdr1 = m.parse_frame_header(bytes([0xFF, 0xFF, 0x90, 0x00]))
        assert hdr1["layer"] == 1
        assert hdr1["frame_bytes"] % 4 == 0

    def test_rejects_mpeg2_and_reserved(self):
        from datamancer_spark.operators import mpegaudio as m

        assert m.parse_frame_header(bytes([0xFF, 0xF3, 0x90, 0x00])) \
            is None  # MPEG-2
        assert m.parse_frame_header(bytes([0xFF, 0xF9, 0x90, 0x00])) \
            is None  # reserved layer
        assert m.parse_frame_header(bytes([0xFF, 0xFB, 0xF0, 0x00])) \
            is None  # bad bitrate index
        assert m.parse_frame_header(bytes([0xFF, 0xFB, 0x9C, 0x00])) \
            is None  # reserved samplerate
