"""Codec plug-in backend interface (operators/codecbackend.py —
VERDICT r9 #3: the batch-shaped decode-backend posture as code).

The pure-Python decoders are the verification oracle: any backend must
pass bit-for-bit validation on the fixture corpus before it is
trusted. These tests pin (a) the reference backend == the direct
decode chain, (b) the validator actually CATCHES wrong backends
(pixel drift, dim drift, decodability drift), (c) resolution by
name / env var / instance, and (d) the Spark kernels produce identical
frames through an explicitly-passed backend."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datamancer_spark.operators.codecbackend import (
    ImageDecodeBackend,
    PILImageBackend,
    PurePythonAudioBackend,
    PurePythonImageBackend,
    resolve_audio_backend,
    resolve_image_backend,
    validate_audio_backend,
    validate_image_backend,
)
from datamancer_spark.operators.fixtures import (
    bmp_exact_blob,
    mp3_ws_blob,
    ogg_stub_blob,
    ogg_vorbis_blob,
    pattern_png_blob,
    solid_png_blob,
    tiff_exact_blob,
    wav_const_blob,
    webp_exact_blob,
)

IMAGE_BLOBS = (
    [solid_png_blob(i) for i in range(3)]
    + [bmp_exact_blob(3), tiff_exact_blob(4), webp_exact_blob(5)]
    + [pattern_png_blob(6)]
    + [ogg_stub_blob(7), b"not an image at all", b""]
)

AUDIO_BLOBS = [
    wav_const_blob(0),
    wav_const_blob(1),
    mp3_ws_blob(2),
    ogg_vorbis_blob(3),
    ogg_stub_blob(4),  # Opus stub: undecodable
    b"garbage",
]


class TestImageBackend:
    def test_reference_matches_direct_chain(self):
        from datamancer_spark.operators.multimodal import decode_image_blob

        got = PurePythonImageBackend().decode_batch(IMAGE_BLOBS)
        assert len(got) == len(IMAGE_BLOBS)
        for blob, res in zip(IMAGE_BLOBS, got):
            want = decode_image_blob(blob)
            assert (res is None) == (want is None)
            if res is not None:
                assert res[:3] == want[:3]
                assert np.array_equal(
                    np.asarray(res[3]), np.asarray(want[3])
                )
        # the fixture images all decode; the stubs/garbage all refuse
        assert [r is not None for r in got] == [True] * 7 + [False] * 3

    def test_validator_passes_exact_backend(self):
        assert validate_image_backend(
            PurePythonImageBackend(), IMAGE_BLOBS
        ) == []

    def test_validator_catches_pixel_drift(self):
        class OffByOne(ImageDecodeBackend):
            name = "off-by-one"

            def available(self):
                return True

            def decode_batch(self, blobs):
                out = PurePythonImageBackend().decode_batch(blobs)
                bad = []
                for r in out:
                    if r is None:
                        bad.append(None)
                    else:
                        px = np.asarray(r[3]).copy()
                        px.flat[0] ^= 1  # single-bit pixel drift
                        bad.append((r[0], r[1], r[2], px))
                return bad

        bad = validate_image_backend(OffByOne(), IMAGE_BLOBS)
        assert len(bad) == 7 and all("pixel" in m for m in bad)

    def test_validator_catches_dim_and_decodability_drift(self):
        class Drifty(ImageDecodeBackend):
            name = "drifty"

            def available(self):
                return True

            def decode_batch(self, blobs):
                out = PurePythonImageBackend().decode_batch(blobs)
                # wrong width on the first decodable, fake-decode the
                # first undecodable
                res = list(out)
                res[0] = (res[0][0] + 1, res[0][1], res[0][2], res[0][3])
                res[7] = (4, 4, 3, np.zeros((4, 4, 3), dtype=np.uint8))
                return res

        bad = validate_image_backend(Drifty(), IMAGE_BLOBS)
        assert any("dims" in m for m in bad)
        assert any("decodability" in m for m in bad)

    def test_resolution(self, monkeypatch):
        assert resolve_image_backend().name == "pure-python"
        assert resolve_image_backend("pure-python").name == "pure-python"
        inst = PurePythonImageBackend()
        assert resolve_image_backend(inst) is inst
        monkeypatch.setenv("DATAMANCER_IMAGE_BACKEND", "pure-python")
        assert resolve_image_backend().name == "pure-python"
        with pytest.raises(ValueError):
            resolve_image_backend("no-such-backend")

    def test_pil_backend_gating(self):
        b = PILImageBackend()
        try:
            import PIL.Image  # noqa: F401

            have_pil = True
        except ImportError:
            have_pil = False
        assert b.available() == have_pil
        if not have_pil:
            with pytest.raises(RuntimeError):
                resolve_image_backend("pil")

    def test_pil_backend_channels_consistent(self, monkeypatch):
        """ADVICE r10 witness: the PIL backend must report channels ==
        pixels.shape[2] (old code reported the pre-conversion band
        count — e.g. 4 for RGBA, 1 for grayscale — alongside a forced
        3-channel RGB array, so the validator flagged every non-RGB
        blob as a dims mismatch instead of validating). PIL is absent
        in this container, so drive the decode path with a stub whose
        modes cover grayscale, RGBA, and palette."""
        import sys
        import types

        class _FakeImg:
            def __init__(self, mode, h, w):
                self.mode, self._h, self._w = mode, h, w

            def convert(self, to):
                out = _FakeImg(to, self._h, self._w)
                return out

            def __array__(self, dtype=None, copy=None):
                if self.mode in ("I", "I;16", "I;16B"):
                    # 16-bit luminance source: 2-D wide samples, some
                    # deliberately > 255 so a convert('L') clip would
                    # be caught by the value assertion below
                    a = np.arange(self._h * self._w, dtype=np.uint16) * 300
                    return a.reshape(self._h, self._w)
                ch = 1 if self.mode == "L" else len(self.mode)
                a = np.arange(self._h * self._w * ch, dtype=np.uint8)
                shape = (
                    (self._h, self._w)
                    if ch == 1
                    else (self._h, self._w, ch)
                )
                return a.reshape(shape)

        modes = {b"g": "L", b"a": "RGBA", b"p": "P", b"r": "RGB",
                 b"i": "I;16", b"la": "LA"}

        fake_image_mod = types.ModuleType("PIL.Image")
        fake_image_mod.open = lambda fh: _FakeImg(
            modes[fh.getvalue()], 4, 5
        )
        fake_pil = types.ModuleType("PIL")
        fake_pil.Image = fake_image_mod
        monkeypatch.setitem(sys.modules, "PIL", fake_pil)
        monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

        out = PILImageBackend().decode_batch(
            [b"g", b"a", b"p", b"r", b"i", b"la"]
        )
        want_ch = [1, 3, 3, 3, 1, 1]  # alpha dropped, palette -> RGB
        for (blob_ch, res) in zip(want_ch, out):
            w, h, ch, px = res
            assert (w, h) == (5, 4)
            assert ch == blob_ch
            assert px.shape == (4, 5, ch), (ch, px.shape)
        # r11 ADVICE witness: 16-bit modes must take the HIGH BYTE of
        # each sample (matching the pure-Python PNG path, which keeps
        # the high byte of big-endian 16-bit samples) — NOT PIL's
        # convert('L'), which clips everything > 255 to 255.
        wide = np.arange(4 * 5, dtype=np.uint16) * 300
        want_px = (wide >> 8).astype(np.uint8).reshape(4, 5, 1)
        got_px = out[4][3]
        assert got_px.dtype == np.uint8
        assert np.array_equal(got_px, want_px), (
            "16-bit samples were clipped, not high-byte-downshifted"
        )


class TestAudioBackend:
    def test_reference_matches_direct_chain(self):
        from datamancer_spark.operators.multimodal import audio_decode_array

        got = PurePythonAudioBackend().decode_batch(AUDIO_BLOBS)
        for blob, res in zip(AUDIO_BLOBS, got):
            want = audio_decode_array(blob)
            assert (res is None) == (want is None)
            if res is not None:
                assert res[0] == want[0]
                assert np.array_equal(
                    np.asarray(res[1]), np.asarray(want[1])
                )
        assert [r is not None for r in got] == [True] * 4 + [False] * 2

    def test_validator_passes_and_catches(self):
        assert validate_audio_backend(
            PurePythonAudioBackend(), AUDIO_BLOBS
        ) == []

        class Louder(PurePythonAudioBackend):
            name = "louder"

            def decode_batch(self, blobs):
                out = super().decode_batch(blobs)
                return [
                    None if r is None else (r[0], np.asarray(r[1]) * 1.001)
                    for r in out
                ]

        bad = validate_audio_backend(Louder(), AUDIO_BLOBS)
        assert len(bad) == 4 and all("sample" in m for m in bad)
        # a tolerance documents a genuinely different decoder
        assert validate_audio_backend(
            Louder(), AUDIO_BLOBS, atol=0.01
        ) == []

    def test_resolution(self):
        assert resolve_audio_backend().name == "pure-python"
        with pytest.raises(ValueError):
            resolve_audio_backend("nope")


class TestSparkKernelWiring:
    def test_decode_images_backend_param(self, spark):
        from datamancer_spark.operators.fixtures import synth_blob_frame
        from datamancer_spark.operators.multimodal import decode_images

        ids = spark.range(8).select(
            F.col("id").cast("string").alias("path")
        )
        blobs = synth_blob_frame(
            ids, lambda i: solid_png_blob(i), id_col="path"
        )
        default = decode_images(blobs).orderBy("path").collect()
        explicit = (
            decode_images(blobs, backend=PurePythonImageBackend())
            .orderBy("path")
            .collect()
        )
        assert default == explicit
        assert all(r["width"] is not None for r in default)

    def test_audio_features_backend_param(self, spark):
        from datamancer_spark.operators.fixtures import synth_blob_frame
        from datamancer_spark.operators.multimodal import audio_features

        ids = spark.range(6).select(
            F.col("id").cast("string").alias("path")
        )
        blobs = synth_blob_frame(
            ids, lambda i: wav_const_blob(i), id_col="path"
        )
        default = audio_features(blobs).orderBy("path").collect()
        explicit = (
            audio_features(blobs, backend="pure-python")
            .orderBy("path")
            .collect()
        )
        assert default == explicit
        assert all(r["duration_s"] is not None for r in default)


class TestDhashBackendWiring:
    """r10: the perceptual screens (the decode-bound stage at crawl
    scale) accept a backend too — explicit pure-python must equal the
    default path bit for bit, undecodables stay NULL."""

    def test_image_dhash_backend_identical(self, spark):
        from datamancer_spark.operators.fixtures import (
            ogg_stub_blob,
            pattern_png_blob,
            synth_blob_frame,
        )
        from datamancer_spark.operators.multimodal import image_dhash

        ids = spark.range(12).select(
            F.col("id").cast("string").alias("path")
        )
        blobs = synth_blob_frame(
            ids,
            lambda i: ogg_stub_blob(i) if i % 4 == 0 else pattern_png_blob(i),
            id_col="path",
        )
        default = sorted(
            (r["path"], r["dhash"]) for r in image_dhash(blobs).collect()
        )
        explicit = sorted(
            (r["path"], r["dhash"])
            for r in image_dhash(blobs, backend="pure-python").collect()
        )
        assert default == explicit
        assert any(h is None for _, h in default)  # stubs stay NULL
        assert any(h is not None for _, h in default)

    def test_audio_dhash_backend_identical(self, spark):
        from datamancer_spark.operators.fixtures import (
            synth_blob_frame,
            wav_dhash_blob,
        )
        from datamancer_spark.operators.multimodal import audio_dhash

        ids = spark.range(8).select(
            F.col("id").cast("string").alias("path")
        )
        blobs = synth_blob_frame(ids, wav_dhash_blob, id_col="path")
        default = sorted(
            (r["path"], r["dhash"]) for r in audio_dhash(blobs).collect()
        )
        explicit = sorted(
            (r["path"], r["dhash"])
            for r in audio_dhash(
                blobs, backend=PurePythonAudioBackend()
            ).collect()
        )
        assert default == explicit
        assert all(h is not None for _, h in default)


@pytest.mark.parametrize(
    "kernel, env_var, kind",
    [
        ("decode_images", "DATAMANCER_IMAGE_BACKEND", "image"),
        ("image_dhash", "DATAMANCER_IMAGE_BACKEND", "image"),
        ("audio_features", "DATAMANCER_AUDIO_BACKEND", "audio"),
        ("audio_dhash", "DATAMANCER_AUDIO_BACKEND", "audio"),
    ],
)
def test_backend_env_var_selects_backend(spark, monkeypatch, kernel, env_var, kind):
    """The env var selects the backend for EVERY backend kernel — the
    dHash screens included, not only the decode stages: an unknown
    name is the same named refusal everywhere."""
    from datamancer_spark.operators import multimodal

    df = spark.createDataFrame(
        [("a", bytearray(b""))], "path string, content binary"
    )
    monkeypatch.setenv(env_var, "no-such-backend")
    with pytest.raises(ValueError, match=f"unknown {kind} backend"):
        getattr(multimodal, kernel)(df)


class TestMapBlobs:
    """``map_blobs`` owns the Arrow-boundary policy for every kernel
    over a binary column; these pin the contract on the kernel itself,
    not on one caller."""

    def test_exact_int64_in_mixed_null_batch(self, spark):
        from pyspark.sql.types import LongType, StructField, StructType

        from datamancer_spark.operators.codecbackend import map_blobs

        big = (1 << 62) + 1
        df = spark.createDataFrame(
            [(i, bytearray(b"x" * (i % 3))) for i in range(30)],
            "doc_id long, content binary",
        ).coalesce(1)  # one partition -> one mixed batch

        def rows_of(doc_id, blob):
            yield (None if doc_id % 4 == 0 else big + doc_id,)

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("v", LongType())]
        )
        got = {
            r["doc_id"]: r["v"]
            for r in map_blobs(
                df, ["doc_id"], "content", rows_of, schema
            ).collect()
        }
        assert got == {i: None if i % 4 == 0 else big + i for i in range(30)}

    def test_null_is_empty_and_decode_runs_once_per_batch(self, spark):
        from pyspark.sql.types import (
            BinaryType,
            StringType,
            StructField,
            StructType,
        )

        from datamancer_spark.operators.codecbackend import map_blobs

        df = spark.createDataFrame(
            [
                ("a", bytearray(b"ab")),
                ("b", None),
                ("c", bytearray(b"")),
                ("d", bytearray(b"d")),
            ],
            "path string, content binary",
        ).coalesce(1)

        def decode(blobs):
            return [f"{len(blobs)}:{b!r}" for b in blobs]

        def rows_of(path, blob, decoded):
            if path == "d":
                return  # zero rows for this blob
            yield (blob, decoded)
            if path == "a":
                yield (b"again", decoded)

        out = map_blobs(
            df,
            ["path"],
            "content",
            rows_of,
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("blob", BinaryType()),
                    StructField("decoded", StringType()),
                ]
            ),
            decode=decode,
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            ("a", b"ab", "4:b'ab'"),
            ("a", b"again", "4:b'ab'"),
            ("b", b"", "4:b''"),
            ("c", b"", "4:b''"),
        ]


def test_blob_kernels_go_through_map_blobs():
    """Regrowth guard: a new kernel over a binary column in these
    modules goes through ``map_blobs``, never its own ``mapInPandas``
    batch loop (the copies are what drifted apart on NULL blobs)."""
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "datamancer_spark/operators"
    )
    for name in ("multimodal.py", "warc.py"):
        assert "mapInPandas(" not in (ops / name).read_text(), name
