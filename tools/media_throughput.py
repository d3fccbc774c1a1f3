"""Media decode throughput → SCALING.md media rows (VERDICT r7 #9).

Measures SINGLE-CORE decode throughput (clips-or-images/sec/core and
payload MB/s) for every real decoder the engine ships, over blobs
produced by the INDEPENDENT test-side encoders. Decode is
embarrassingly parallel (Arrow-batched mapInPandas, no shuffle until
the (id, hash) projection), so cluster throughput = per-core rate ×
cores × (1 − batch overhead); the per-core number is the honest unit.

Usage: python tools/media_throughput.py [reps]
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"),
)


def _images(n, h=128, w=128, seed=7):
    """Photo-like content: smooth gradients + mild texture (pure noise
    is the Huffman worst case and misrepresents real crawls)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    out = []
    for i in range(n):
        base = (
            128
            + 90 * np.sin(2 * math.pi * (xx / w + 0.13 * i))
            + 60 * np.cos(2 * math.pi * (yy / h - 0.07 * i))
        )
        tex = rng.standard_normal((h, w)) * 6
        img = np.stack(
            [
                np.clip(base + tex + 20 * c, 0, 255)
                for c in range(3)
            ],
            axis=2,
        ).astype(np.uint8)
        out.append(img)
    return out


def _pcm(n_clips, seconds=1.0, rate=8000, seed=9):
    rng = np.random.default_rng(seed)
    n = int(seconds * rate)
    t = np.arange(n)
    return [
        0.4 * np.sin(2 * math.pi * (200 + 50 * i) * t / rate)
        + 0.05 * rng.standard_normal(n)
        for i in range(n_clips)
    ]


def build_corpora(n_img=24, n_clip=12):
    from mpeg_encoder import encode_layer1, encode_layer3
    from test_flac import encode_flac
    from test_jpeg import encode_jpeg, encode_jpeg_progressive

    from datamancer_spark.operators.fixtures import wav_const_blob
    from datamancer_spark.operators.multimodal import png_encode

    imgs = _images(n_img)
    pcm = _pcm(n_clip)
    pcm16 = [np.clip(x * 32767, -32768, 32767).astype(int) for x in pcm]
    mp3_pcm = _pcm(n_clip, seconds=2 * 1152 / 44100.0, rate=44100, seed=3)
    corpora = {
        "png_rgb_128": [png_encode(im) for im in imgs],
        "jpeg_base_128": [encode_jpeg(im, quality=85) for im in imgs],
        "jpeg_prog_128": [encode_jpeg_progressive(im, quality=85) for im in imgs],
        "wav_pcm16_1s": [wav_const_blob(i) for i in range(n_clip)],
        # rice_param sized to the residual magnitude (a too-small param
        # explodes the unary quotients ~50 bytes/sample — encoder
        # pathology, not decoder load)
        "flac_16b_1s": [
            encode_flac([list(x)], rate=8000, blocksize=1024, rice_param=11)
            for x in pcm16
        ],
        # window-switching sequences included (r9 decoder surface)
        "mp3_l3_ws": [
            encode_layer3([x], 44100, block_types=[0, 1, 3, 0]) for x in mp3_pcm
        ],
        # Layer I: 384-sample frames, the path with the bounds-checked
        # allocation/sample reads
        "mp3_l1": [encode_layer1([x], 44100) for x in mp3_pcm],
        "ogg_vorbis_1s": _vorbis_clips(pcm),
        "tiff_lzw_128": _tiff_imgs(imgs),
        "webp_vp8l_128": _webp_imgs(imgs),
    }
    return corpora


def _webp_imgs(imgs):
    from vp8l_encoder import encode_vp8l

    return [
        encode_vp8l(im, subtract_green=True, cache_bits=6) for im in imgs
    ]


def _tiff_imgs(imgs):
    from test_tiff import encode_tiff

    return [encode_tiff(im, compression=5, predictor=2) for im in imgs]


def _vorbis_clips(pcm):
    from vorbis_encoder import encode_vorbis

    return [encode_vorbis([x], 8000, delta=0.004) for x in pcm]


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from datamancer_spark.operators.multimodal import (
        _decode_gray,
        _decode_rgb,
        audio_decode_array,
    )

    decoders = {
        "png_rgb_128": _decode_gray,
        "jpeg_base_128": _decode_gray,
        "jpeg_prog_128": _decode_gray,
        "wav_pcm16_1s": audio_decode_array,
        "flac_16b_1s": audio_decode_array,
        "mp3_l3_ws": audio_decode_array,
        "mp3_l1": audio_decode_array,
        "ogg_vorbis_1s": audio_decode_array,
        "tiff_lzw_128": _decode_gray,
        "webp_vp8l_128": _decode_rgb,
    }
    print("building corpora (test-side encoders)...", flush=True)
    corpora = build_corpora()
    print(f"| corpus | blobs | avg KB | items/s/core | MB/s/core |")
    print(f"|---|---|---|---|---|")
    for name, blobs in corpora.items():
        dec = decoders[name]
        for b in blobs[:2]:  # warm + assert decodable
            assert dec(b) is not None, name
        best = 1e18
        for _ in range(reps):
            t0 = time.perf_counter()
            for b in blobs:
                dec(b)
            best = min(best, time.perf_counter() - t0)
        n = len(blobs)
        kb = sum(len(b) for b in blobs) / n / 1024.0
        ips = n / best
        mbs = sum(len(b) for b in blobs) / best / 1e6
        print(
            f"| {name} | {n} | {kb:.1f} | {ips:.1f} | {mbs:.2f} |",
            flush=True,
        )


if __name__ == "__main__":
    main()
