"""The shared bit reader (operators/bitreader.py).

Each bit order is checked against the INDEPENDENT test-side writer of
a codec that uses it: ``vorbis_encoder.BitWriterLSB`` (LSB-first, as
Vorbis and WebP lossless) and ``mpeg_encoder.BitWriter`` (MSB-first, as
MPEG audio and FLAC)."""

import pathlib
import re

import numpy as np
import pytest
from mpeg_encoder import BitWriter
from vorbis_encoder import BitWriterLSB

from datamancer_spark.operators.bitreader import (
    BitOverrun,
    BitReaderLSB,
    BitReaderMSB,
)


def _fields(seed, n=400):
    """Seeded ``(value, width)`` pairs, widths 0..32, one in four a
    single bit so ``read1`` is exercised next to ``read``."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        w = 1 if rng.random() < 0.25 else int(rng.integers(0, 33))
        out.append((int(rng.integers(0, 1 << w)) if w else 0, w))
    return out


@pytest.mark.parametrize(
    "writer, reader",
    [(BitWriterLSB, BitReaderLSB), (BitWriter, BitReaderMSB)],
    ids=["lsb", "msb"],
)
def test_reads_back_what_the_writer_packed(writer, reader):
    for seed in range(4):
        fields = _fields(seed)
        w = writer()
        nbits = 0
        for v, n in fields:
            w.write(v, n)
            nbits += n
        padded = nbits + (-nbits % 8)
        w.write(0, padded - nbits)
        w.write(0xA5, 8)  # byte-aligned marker after the fields
        r = reader(w.tobytes())
        assert r.bits_left() == padded + 8
        for v, n in fields:
            got = r.read1() if n == 1 else r.read(n)
            assert got == v
        assert r.pos == nbits
        r.align()
        assert r.pos == padded
        r.align()  # already aligned: no move
        assert r.read(8) == 0xA5
        assert r.bits_left() == 0


@pytest.mark.parametrize("reader", [BitReaderLSB, BitReaderMSB])
def test_one_bit_past_the_end_raises_bit_overrun(reader):
    """Exactly the bit past the end overruns, as ``BitOverrun`` (any
    other exception type fails the test), and leaves ``pos`` alone."""
    data = bytes([0x5A, 0xC3, 0x0F])
    for used in range(25):
        r = reader(data)
        r.read(used)
        left = r.bits_left()
        assert left == 24 - used
        with pytest.raises(BitOverrun):
            r.read(left + 1)
        assert r.pos == used
        r.read(left)
        assert r.read(0) == 0
        with pytest.raises(BitOverrun):
            r.read1()
        assert r.bits_left() == 0


def test_codecs_use_the_shared_reader():
    """Regrowth guard: the four codecs read bits only through
    ``bitreader`` — no private reader class, no per-bit indexing of
    the byte buffer."""
    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "datamancer_spark/operators"
    )
    reader_class = re.compile(r"^class \w*(Bit|Reader)\w*", re.M)
    per_bit = re.compile(r"\[\s*\(?\s*[\w.]+(\s*\+\s*\w+)?\s*\)?\s*>>\s*3\s*\]")
    for name in ("webpcodec.py", "vorbiscodec.py", "mpegaudio.py",
                 "flaccodec.py"):
        src = (ops / name).read_text()
        assert not reader_class.search(src), name
        assert not per_bit.search(src), name
        assert "from .bitreader import" in src, name
