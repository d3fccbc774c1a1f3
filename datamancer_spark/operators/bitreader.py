"""The bit reader under the WebP, Vorbis, MPEG audio and FLAC decoders.

Two bit orders, one interface, one overrun policy:

* ``BitReaderLSB`` — bits fill each byte from its least significant
  end (WebP lossless, Vorbis);
* ``BitReaderMSB`` — bits fill each byte from its most significant end
  (MPEG-1 audio, FLAC).

``pos`` is a bit position (assignable: MPEG skips Layer III stuffing by
setting it). ``read(n)`` takes one slice of the bytes that hold the
``n`` bits, turns it into an int with ``int.from_bytes`` and shifts and
masks it — no per-bit Python loop. ``read1()`` is the one-bit fast path
the Huffman walks use; ``align()`` moves to the next byte boundary;
``bits_left()`` counts what remains.

Every read past the end raises ``BitOverrun`` and nothing else, and
leaves ``pos`` where it was. Each codec catches it where a truncated
stream means "undecodable" (``None``) or, for Vorbis audio packets,
"end of packet" — so a corrupt blob never reaches ``map_blobs`` as a
worker stack trace.

Three other readers stay separate on purpose. JPEG keeps its own
``_BitReader``: byte-stuffing (``0xFF 0x00``) and marker-terminated
entropy segments are part of its byte source, not of the bit order.
The GIF and TIFF LZW decoders keep their code readers because they are
fused into the decode loop (one ``int.from_bytes`` window per code,
with the code width changing as the table grows).
"""

from __future__ import annotations


class BitOverrun(Exception):
    """A read asked for bits past the end of the data."""


class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.nbits = len(data) * 8

    def bits_left(self) -> int:
        return self.nbits - self.pos

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class BitReaderLSB(_BitReader):
    """LSB-first: the first bit read is bit 0 of byte 0, and a
    multi-bit field's first bit is its least significant."""

    __slots__ = ()

    def read(self, n: int) -> int:
        p = self.pos
        e = p + n
        if e > self.nbits:
            raise BitOverrun
        self.pos = e
        chunk = int.from_bytes(self.data[p >> 3 : (e + 7) >> 3], "little")
        return (chunk >> (p & 7)) & ((1 << n) - 1)

    def read1(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise BitOverrun
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class BitReaderMSB(_BitReader):
    """MSB-first: the first bit read is bit 7 of byte 0, and a
    multi-bit field's first bit is its most significant."""

    __slots__ = ()

    def read(self, n: int) -> int:
        p = self.pos
        e = p + n
        if e > self.nbits:
            raise BitOverrun
        self.pos = e
        chunk = int.from_bytes(self.data[p >> 3 : (e + 7) >> 3], "big")
        return (chunk >> (-e & 7)) & ((1 << n) - 1)

    def read1(self) -> int:
        p = self.pos
        if p >= self.nbits:
            raise BitOverrun
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1
