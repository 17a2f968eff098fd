"""Pure-Python JPEG codec (ITU-T T.81).

``decode_jpeg_pixels`` decodes every non-differential process:
baseline (SOF0), extended sequential (SOF1, 8/12-bit), progressive
(SOF2), lossless (SOF3, ``jpeg_lossless.py``), and sequential (SOF9,
8/12-bit) and progressive (SOF10) arithmetic (``jpeg_arith.py``); only
the differential processes return None (SCALE.md). ONE marker reader
serves the package: ``_jpeg_segment`` walks the segments,
``_JpegTables`` parses DQT/DHT/DAC/DRI, ``_read_sof`` the frame header,
and the walk runs once, handing on to the process its first frame
header names; SOF2 and SOF10 share one progressive driver.
Sequential decode: DQT (8/16-bit), DHT (canonical Huffman per Annex
C), restart intervals, byte-unstuffing, per-MCU entropy decode with
any h x v sampling, dequantize + dezigzag, float separable IDCT (A.T @
B @ A, orthonormal DCT-II basis), level shift, chroma replication
upsample, JFIF YCbCr -> RGB, for 1 or 3 components.

``encode_jpeg`` is the matching minimal encoder (used by the tests and
the registered query path): baseline SOF0, quality-1 quantization
(all-ones tables, so the only loss is DCT float rounding), flat
canonical Huffman tables (12 DC symbols at 4 bits, 162 AC symbols at
8 bits -- valid per Annex C, the all-ones code unused), grayscale or
4:4:4 color. Decoders read Huffman/quant tables from the stream, so
interop does not depend on the standard Annex K tables.

Everything is numpy + stdlib. The per-block Python loops are fine for
the small curation payloads this engine decodes inside Arrow batches
(the same argument as the PNG unfilter loop); swap in libjpeg-turbo
via PIL where thumbnails get big.
"""

from __future__ import annotations

import math

#: zigzag order: zigzag[k] = (row, col) of the k-th coefficient.
_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]


_DCT_BASIS = None


def _dct_basis():
    """Orthonormal 8x8 DCT-II basis A (A[u, x] = c(u)/2 *
    cos((2x+1) u pi / 16)): spatial = A.T @ coeff @ A, coeff = A @
    spatial @ A.T. Computed once per process (it was rebuilt per
    decoded image, a measurable share of the tiny-image decode cost);
    callers must not mutate the returned array."""
    global _DCT_BASIS
    if _DCT_BASIS is None:
        import numpy as np

        a = np.empty((8, 8))
        for u in range(8):
            c = math.sqrt(0.125) if u == 0 else 0.5
            for x in range(8):
                a[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
        a.setflags(write=False)
        _DCT_BASIS = a
    return _DCT_BASIS


class _HuffTable:
    """Canonical Huffman table per T.81 Annex C: codes assigned in
    order of increasing length, then symbol order within a length."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        # encoder view: symbol -> (code, length)
        self.encode = {
            sym: (code, length) for (length, code), sym in self.lookup.items()
        }
        # first-8-bits decoder LUT: lut8[prefix] = (symbol, length) for
        # every 8-bit prefix that starts with a code of length <= 8
        # (prefix-free, so the match is unique); None means the code is
        # longer than 8 bits or the prefix is not assigned -- the
        # decoder falls back to the per-length dict walk for 9..16.
        lut8: list = [None] * 256
        for (length, c), sym in self.lookup.items():
            if length <= 8:
                base = c << (8 - length)
                entry = (sym, length)
                for i in range(1 << (8 - length)):
                    lut8[base + i] = entry
        self.lut8 = lut8


#: (counts bytes, symbols) -> _HuffTable memo: the standard encode
#: tables and every stream-parsed DHT in a corpus repeat endlessly, and
#: table construction was a measurable share of small-image decode.
#: Tables are immutable after __init__, so sharing is sound.
_HUFF_CACHE: dict = {}


def _huff_table(counts, symbols: bytes) -> _HuffTable:
    key = (bytes(counts), bytes(symbols))
    t = _HUFF_CACHE.get(key)
    if t is None:
        if len(_HUFF_CACHE) > 256:
            _HUFF_CACHE.clear()
        t = _HuffTable(list(counts), symbols)
        _HUFF_CACHE[key] = t
    return t


class _BitReader:
    """Entropy-segment bit reader: MSB-first, 0xFF00 unstuffing; stops
    at any non-stuffed marker (the caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                return False  # a real marker: scan data ends here
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def bit(self) -> int | None:
        if self.nbits == 0 and not self._fill():
            return None
        self.nbits -= 1
        v = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1  # keep the int small
        return v

    def bits(self, n: int) -> int | None:
        # batched: one shift/mask per FIELD, not per bit (the per-bit
        # loop was a top entry in the entropy-decode profile)
        if n <= 0:
            return 0
        while self.nbits < n:
            if not self._fill():
                return None
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def _tail_pos(self) -> int:
        """Byte position of the first WHOLLY-unconsumed input byte:
        rolls self.pos back over buffered-but-unread whole bytes
        (nbits // 8 of them; the remaining <8 bits belong to a
        partially consumed byte, which counts as consumed, matching
        the old lazy per-bit reader). Unstuffing-aware: a buffered
        byte that entered as FF 00 rolls back two input bytes -- the
        pair is unambiguous because a raw 00 can never directly follow
        a raw FF inside entropy data (FF 00 IS the stuffing). Without
        this, the eager accumulator would report a position past
        garbage bytes the logical decode never consumed, accepting
        streams the per-bit reader rejected."""
        d = self.data
        p = self.pos
        for _ in range(self.nbits >> 3):
            if p >= 2 and d[p - 1] == 0x00 and d[p - 2] == 0xFF:
                p -= 2
            else:
                p -= 1
        return p

    def align_and_expect_rst(self, idx: int) -> bool:
        """Byte-align, then consume the expected RSTn marker."""
        self.pos = self._tail_pos()
        self.acc = 0
        self.nbits = 0
        d = self.data
        if self.pos + 2 > len(d) or d[self.pos] != 0xFF:
            return False
        if d[self.pos + 1] != 0xD0 + (idx & 7):
            return False
        self.pos += 2
        return True

    def decode_huff(self, table: _HuffTable) -> int | None:
        # Fast path: one first-8-bits LUT probe resolves codes of
        # length <= 8 (the overwhelming majority); longer codes fall
        # back to the per-length dict walk over 9..16. Zero-padding a
        # truncated tail is sound: a prefix-free match using only the
        # genuinely available bits is the same symbol the per-bit walk
        # would have found, and a match needing padded bits is
        # rejected (None), exactly like the walk running out of bits.
        while self.nbits < 8 and self._fill():
            pass
        have = self.nbits
        if have == 0:
            return None
        acc = self.acc
        peek8 = (acc << (8 - have)) & 0xFF if have < 8 else (
            acc >> (have - 8)
        ) & 0xFF
        ent = table.lut8[peek8]
        if ent is not None:
            sym, length = ent
            if length <= have:
                self.nbits = have - length
                self.acc = acc & ((1 << self.nbits) - 1)
                return sym
            return None  # code needs bits the stream does not have
        while self.nbits < 16 and self._fill():
            pass
        have = self.nbits
        acc = self.acc
        peek16 = (acc << (16 - have)) if have < 16 else acc >> (have - 16)
        lookup = table.lookup
        for length in range(9, 17):
            if length > have:
                return None
            sym = lookup.get((length, peek16 >> (16 - length)))
            if sym is not None:
                self.nbits = have - length
                self.acc = acc & ((1 << self.nbits) - 1)
                return sym
        return None


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed
    value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# Marker-segment layer (T.81 B.1.1): the one reader behind every JPEG
# walk in the package -- the decoders here, in jpeg_arith.py and
# jpeg_lossless.py, and multimodal.py's header probes.

_SOS, _EOI = 0xDA, 0xD9
_DHT, _DAC, _DQT, _DRI = 0xC4, 0xCC, 0xDB, 0xDD
#: frame-header (SOFn) markers: 0xC0-0xCF minus DHT, JPG and DAC
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {_DHT, 0xC8, _DAC}
_TABLE_MARKERS = (_DQT, _DHT, _DAC, _DRI)


def _jpeg_marker(payload, i: int):
    """``(marker, at)`` of the first marker at or after byte ``i``
    that heads a segment or ends the image; fill bytes (0xFF 0xFF) and
    standalone markers (TEM, RSTn, SOI) are stepped over. Running out
    of data reads as EOI; None when the stream desyncs (no 0xFF where
    a marker must start)."""
    n = len(payload)
    while i + 2 <= n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
        elif marker == 0x01 or 0xD0 <= marker <= 0xD8:
            i += 2
        else:
            return marker, i
    return _EOI, i


def _jpeg_segment(payload, i: int):
    """The next marker segment at or after byte ``i``: ``(marker,
    body, end)``, ``end`` being the offset just past it, or ``(EOI,
    b"", end)`` at EOI or the end of the data. None on desync, or when
    the u16 length (which counts itself) is under 2 or runs past the
    payload. The one place a JPEG segment length is read."""
    found = _jpeg_marker(payload, i)
    if found is None:
        return None
    marker, at = found
    if marker == _EOI:
        return _EOI, b"", at + 2
    if at + 4 > len(payload):
        return None
    end = at + 2 + int.from_bytes(payload[at + 2 : at + 4], "big")
    if end < at + 4 or end > len(payload):
        return None
    return marker, payload[at + 4 : end], end


class _JpegTables:
    """The DQT / DHT / DAC / DRI state one marker walk gathers
    (T.81 B.2.4), and the walk itself."""

    def __init__(self):
        self.quant: dict = {}  # Tq -> 8x8 dequantization table
        self.huff_dc: dict[int, _HuffTable] = {}
        self.huff_ac: dict[int, _HuffTable] = {}
        self.conditioning: dict = {}  # ('dc'|'ac', tbl) -> (L, U) / Kx
        self.dri = 0

    def walk(self, payload, i: int, reads=_TABLE_MARKERS):
        """Read segments from byte ``i`` up to the next frame header,
        SOS or EOI and return that segment (``_jpeg_segment``'s
        triple). Table segments in ``reads`` are parsed; every other
        segment is passed over unread -- each process reads only the
        tables it uses, so a malformed table of another kind never
        fails it. None on a broken stream or a malformed table."""
        while True:
            seg = _jpeg_segment(payload, i)
            if seg is None:
                return None
            marker, body, i = seg
            if marker in _SOF_MARKERS or marker in (_SOS, _EOI):
                return seg
            if marker in reads and not self._read(marker, body):
                return None

    def _read(self, marker: int, body: bytes) -> bool:
        """Parse one table segment; False when it is malformed."""
        if marker == _DQT:
            import numpy as np

            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq not in (0, 1) or tq > 3:
                    return False
                width = 2 if pq else 1
                if p + 64 * width > len(body):
                    return False
                vals = np.frombuffer(body, ">u2" if pq else "u1", 64, p)
                q = np.zeros((8, 8))
                for k, (r, c) in enumerate(_ZIGZAG):
                    q[r, c] = vals[k]
                p += 64 * width
                self.quant[tq] = q
        elif marker == _DHT:
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                counts = list(body[p + 1 : p + 17])
                total = sum(counts)
                p += 17
                if p + total > len(body) or tc > 1:
                    return False
                table = _huff_table(counts, body[p : p + total])
                p += total
                (self.huff_ac if tc else self.huff_dc)[th] = table
        elif marker == _DAC:
            p = 0
            while p + 2 <= len(body):
                tc, tb, cs = body[p] >> 4, body[p] & 0x0F, body[p + 1]
                p += 2
                if tc == 0:
                    self.conditioning[("dc", tb)] = (cs & 0x0F, cs >> 4)
                elif tc == 1:
                    self.conditioning[("ac", tb)] = cs
                else:
                    return False
        else:  # DRI
            self.dri = int.from_bytes(body[0:2], "big")
        return True


def _read_sof(body: bytes):
    """A frame header (T.81 B.2.2): ``(height, width, comps,
    precision)`` with comps ``[(id, h, v, tq), ...]``, or None when the
    body is shorter than its component list or a dimension or the
    component count is 0. Each process checks its own limits."""
    if len(body) < 6:
        return None
    height = int.from_bytes(body[1:3], "big")
    width = int.from_bytes(body[3:5], "big")
    nc = body[5]
    if not (height and width and nc) or len(body) < 6 + 3 * nc:
        return None
    comps = [
        (body[6 + 3 * c], body[7 + 3 * c] >> 4, body[7 + 3 * c] & 0x0F,
         body[8 + 3 * c])
        for c in range(nc)
    ]
    return height, width, comps, body[0]


def decode_jpeg_pixels(payload: bytes):
    """JPEG pixel decode of every non-differential process: baseline
    (SOF0), extended sequential (SOF1, 8/12-bit), progressive (SOF2),
    lossless (SOF3), sequential arithmetic (SOF9, 8/12-bit) and
    progressive arithmetic (SOF10). Returns numpy uint8 (height,
    width, 3) RGB (12-bit and lossless samples keep their high 8
    bits), or None when the payload is not decodable (wrong magic,
    a differential process, structural corruption). TOTAL over
    arbitrary bytes: any out-of-bounds segment access a crafted
    truncation could reach is converted to the None contract here,
    never an exception into the caller's Arrow batch."""
    try:
        return _decode_jpeg_pixels(payload)
    except (IndexError, ValueError, TypeError, KeyError):
        return None


def _decode_jpeg_pixels(payload: bytes):
    """One marker walk: tables up to the first frame header, whose
    marker picks the process that carries the walk on from there."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    tables = _JpegTables()
    seg = tables.walk(payload, 2)
    if seg is None:
        return None
    marker = seg[0]
    if marker == 0xC2:  # progressive Huffman
        return _decode_progressive(
            payload, seg, tables, _decode_progressive_scan,
            (_DQT, _DHT, _DRI),
        )
    if marker == 0xCA:  # progressive arithmetic
        from .jpeg_arith import decode_arith_progressive_scan

        return _decode_progressive(
            payload, seg, tables, decode_arith_progressive_scan,
            (_DQT, _DAC, _DRI),
        )
    if marker == 0xC3:  # lossless predictive
        from .jpeg_lossless import decode_lossless_rgb

        return decode_lossless_rgb(payload, seg, tables)
    # sequential DCT: SOF0 baseline (8-bit by spec), SOF1 extended
    # (8/12-bit), SOF9 arithmetic (8/12-bit) -- only the entropy route
    # and sample depth vary; a later sequential SOF replaces the frame
    frame = None
    while seg[0] in (0xC0, 0xC1, 0xC9):
        sof_marker, body, end = seg
        frame = _read_sof(body)
        if (
            frame is None
            or frame[3] not in (8, 12)
            or (frame[3] == 12 and sof_marker == 0xC0)
            or len(frame[2]) not in (1, 3)
        ):
            return None
        seg = tables.walk(payload, end)
        if seg is None:
            return None
    marker, body, end = seg
    if frame is None or marker != _SOS:
        return None  # EOI, or another process's frame header
    if sof_marker == 0xC9:
        from .jpeg_arith import decode_arith_scan as scan
    else:
        scan = _decode_scan
    return scan(payload, end, body, frame, tables)


def _sampling(comps):
    """``(hmax, vmax)`` of a frame's components, or None unless every
    sampling factor is 1..4 (T.81 B.2.2) and divides the largest. A
    factor of 0 beside a larger one is refused here, not divided by."""
    if any(not (1 <= h <= 4 and 1 <= v <= 4) for _, h, v, _ in comps):
        return None
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    if any(hmax % h or vmax % v for _, h, v, _ in comps):
        return None
    return hmax, vmax


def _sequential_layout(sos_body, frame, quant):
    """What a sequential scan needs before its entropy decode, for
    either coder: ``(tables, hmax, vmax, mcus_x, mcus_y, planes)`` with
    tables ``{comp id: (Td, Ta)}`` and one zeroed sample plane per
    component. None unless the scan is one interleaved pass over every
    component whose quant table is defined, within the sampling and
    size limits."""
    import numpy as np

    height, width, comps, _precision = frame
    ns = sos_body[0]
    if ns != len(comps):
        return None  # multi-scan files are progressive-ish: unsupported
    tables = {}
    for s in range(ns):
        cs = sos_body[1 + 2 * s]
        td, ta = sos_body[2 + 2 * s] >> 4, sos_body[2 + 2 * s] & 0x0F
        tables[cs] = (td, ta)
    sampling = _sampling(comps)
    if sampling is None:
        return None
    hmax, vmax = sampling
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # dims cap (PIL MAX_IMAGE_PIXELS pattern): a corrupt SOF claiming
    # 65535x65535 would otherwise allocate tens of GiB of plane arrays
    # before the entropy decode ever touches the (tiny) scan data
    if mcus_x * mcus_y * 64 * hmax * vmax * len(comps) > 64_000_000:
        return None
    planes = []
    for cid, h, v, tq in comps:
        if cid not in tables or tq not in quant:
            return None
        planes.append(np.zeros((mcus_y * v * 8, mcus_x * h * 8)))
    return tables, hmax, vmax, mcus_x, mcus_y, planes


def _decode_scan(payload, data_pos, sos_body, frame, tables):
    """Sequential Huffman scan (SOF0/SOF1) to uint8 RGB, or None."""
    layout = _sequential_layout(sos_body, frame, tables.quant)
    if layout is None:
        return None
    scan_tables, hmax, vmax, mcus_x, mcus_y, planes = layout
    comps, precision = frame[2], frame[3]
    quant, huff_dc, huff_ac = tables.quant, tables.huff_dc, tables.huff_ac
    dri = tables.dri
    for cid, _h, _v, _tq in comps:
        td, ta = scan_tables[cid]
        if td not in huff_dc or ta not in huff_ac:
            return None
    shift = float(1 << (precision - 1))
    basis = _dct_basis()
    reader = _BitReader(payload, data_pos)
    preds = [0] * len(comps)
    rst_idx = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                if not reader.align_and_expect_rst(rst_idx):
                    return None
                rst_idx = (rst_idx + 1) & 7
                preds = [0] * len(comps)
            for ci, (cid, h, v, tq) in enumerate(comps):
                td, ta = scan_tables[cid]
                for by in range(v):
                    for bx in range(h):
                        block = _decode_block(
                            reader, huff_dc[td], huff_ac[ta], quant[tq],
                            preds, ci, precision,
                        )
                        if block is None:
                            return None
                        spatial = basis.T @ block @ basis + shift
                        y0 = (my * v + by) * 8
                        x0 = (mx * h + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1
    return _planes_to_rgb(planes, frame, hmax, vmax)


def _planes_to_rgb(planes, frame, hmax, vmax):
    """Decoded sample planes to uint8 RGB, shared by every DCT
    process: replicate-upsample subsampled chroma, crop to the frame,
    JFIF YCbCr -> RGB for 3 components. Samples deeper than 8 bits
    keep their high 8 bits (the libjpeg scaled-output convention)."""
    import numpy as np

    height, width, comps, precision = frame
    shift = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    out = []
    for p, (_cid, h, v, _tq) in zip(planes, comps):
        if h != hmax or v != vmax:
            p = np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)
        out.append(p[:height, :width])
    if len(out) == 1:
        g = np.clip(np.rint(out[0]), 0, maxv).astype(np.int64)
        g >>= precision - 8
        g = g.astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = out[0], out[1] - shift, out[2] - shift
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, maxv).astype(
        np.int64
    )
    rgb >>= precision - 8
    return rgb.astype(np.uint8)


def _decode_block(reader, dc_table, ac_table, q, preds, ci, precision=8):
    """One 8x8 block: DC diff + AC run/size entropy decode, dequantize,
    dezigzag."""
    import numpy as np

    s = reader.decode_huff(dc_table)
    if s is None or s > (11 if precision == 8 else 15):
        return None
    if s:
        v = reader.bits(s)
        if v is None:
            return None
        preds[ci] += _extend(v, s)
    block = np.zeros((8, 8))
    block[0, 0] = preds[ci] * q[0, 0]
    k = 1
    while k < 64:
        rs = reader.decode_huff(ac_table)
        if rs is None:
            return None
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL: 16 zeros
            k += 16
            continue
        run, size = rs >> 4, rs & 0x0F
        k += run
        if k >= 64 or size == 0:
            return None
        v = reader.bits(size)
        if v is None:
            return None
        r, c = _ZIGZAG[k]
        block[r, c] = _extend(v, size) * q[r, c]
        k += 1
    return block


# ---------------------------------------------------------------------------
# Minimal encoder (tests + generated-payload queries).
# ---------------------------------------------------------------------------

#: Flat canonical tables (Annex-C-valid; all-ones code unused):
#: 12 DC size symbols at 4 bits, 162 AC run/size symbols at 8 bits.
_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_DC_SYMBOLS = bytes(range(12))
_AC_SYMBOLS = bytes(
    [0x00, 0xF0]
    + sorted((r << 4) | s for r in range(16) for s in range(1, 11))
)
_AC_COUNTS = [0] * 7 + [162] + [0] * 8

#: 12-bit (extended sequential, SOF1) twins: DC categories reach 15
#: (15 codes at 4 bits + 1 at 5 keeps the all-ones code reserved per
#: Annex C), AC sizes reach 14.
_DC_COUNTS12 = [0, 0, 0, 15, 1] + [0] * 11
_DC_SYMBOLS12 = bytes(range(16))
_AC_SYMBOLS12 = bytes(
    [0x00, 0xF0]
    + sorted((r << 4) | s for r in range(16) for s in range(1, 15))
)
_AC_COUNTS12 = [0] * 7 + [len(_AC_SYMBOLS12)] + [0] * 8


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, raw bits) for a signed coefficient, per F.1.2.1."""
    v = int(v)
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_block(writer, block, dc_tab, ac_tab, pred):
    import numpy as np

    coeff = np.rint(block).astype(int)
    diff = coeff[0, 0] - pred
    s, raw = _magnitude(diff)
    code, length = dc_tab.encode[s]
    writer.write(code, length)
    if s:
        writer.write(raw, s)
    zz = [coeff[r, c] for r, c in _ZIGZAG]
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_tab.encode[0xF0]
            writer.write(code, length)
            run -= 16
        s, raw = _magnitude(zz[k])
        code, length = ac_tab.encode[(run << 4) | s]
        writer.write(code, length)
        writer.write(raw, s)
        run = 0
    if last_nz < 63:
        code, length = ac_tab.encode[0x00]
        writer.write(code, length)
    return coeff[0, 0]


def encode_jpeg(
    pixels,
    *,
    subsample_420: bool = False,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Minimal baseline JPEG: grayscale when the input is 2-D or all
    three channels equal, else YCbCr color (4:4:4, or 4:2:0 with
    ``subsample_420`` -- luma 2x2 sampling, chroma box-averaged).
    All-ones quant tables (the only loss is DCT float rounding,
    RGB<->YCbCr rounding, and optional chroma subsampling), flat
    Huffman tables written into DHT, optional DRI/RSTn restarts.
    ``precision=12`` (round 11) emits the EXTENDED SEQUENTIAL process
    (SOF1 -- baseline is 8-bit-only by spec) for grayscale samples in
    [0, 4095]: level shift 2048, DC/AC tables widened to categories
    15 / sizes 14. Component prep and partial-block tiling are SHARED
    with the progressive encoder (_prepare_planes/_block_tile) so the
    emissions can never drift apart."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    comp_planes, samplings, h, w = _prepare_planes(pixels, subsample_420)
    nc = len(comp_planes)
    if precision == 12 and nc != 1:
        raise ValueError("12-bit encode supports grayscale only")
    basis = _dct_basis()
    if precision == 12:
        dc_tab = _huff_table(_DC_COUNTS12, _DC_SYMBOLS12)
        ac_tab = _huff_table(_AC_COUNTS12, _AC_SYMBOLS12)
    else:
        dc_tab = _huff_table(_DC_COUNTS, _DC_SYMBOLS)
        ac_tab = _huff_table(_AC_COUNTS, _AC_SYMBOLS)
    shift = float(1 << (precision - 1))

    out = bytearray(b"\xff\xd8")
    # DQT: table 0, all ones
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0x00])
    out += bytes([1] * 64)
    # SOF0 (baseline) or SOF1 (extended sequential, 12-bit)
    sof = bytes([precision]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([nc])
    for c in range(nc):
        sh, sv = samplings[c]
        sof += bytes([c + 1, (sh << 4) | sv, 0])
    sof_marker = b"\xff\xc0" if precision == 8 else b"\xff\xc1"
    out += sof_marker + (len(sof) + 2).to_bytes(2, "big") + sof
    # DHT: DC table 0, AC table 0
    if precision == 12:
        dht = bytes([0x00]) + bytes(_DC_COUNTS12) + _DC_SYMBOLS12
        dht += bytes([0x10]) + bytes(_AC_COUNTS12) + _AC_SYMBOLS12
    else:
        dht = bytes([0x00]) + bytes(_DC_COUNTS) + _DC_SYMBOLS
        dht += bytes([0x10]) + bytes(_AC_COUNTS) + _AC_SYMBOLS
    out += b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")
    # SOS
    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    writer = _BitWriter()
    preds = [0] * nc
    rst_idx = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                out += writer.flush()
                out += bytes([0xFF, 0xD0 + (rst_idx & 7)])
                rst_idx += 1
                writer = _BitWriter()
                preds = [0] * nc
            for ci, chan in enumerate(comp_planes):
                sh, sv = samplings[ci]
                for by in range(sv):
                    for bx in range(sh):
                        ys = (my * sv + by) * 8
                        xs = (mx * sh + bx) * 8
                        tile = _block_tile(chan, ys, xs)
                        block = basis @ (tile - shift) @ basis.T
                        preds[ci] = _encode_block(
                            writer, block, dc_tab, ac_tab, preds[ci]
                        )
            mcu_count += 1
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive JPEG: the multi-scan driver (SOF2 and SOF10), the SOF2
# Huffman scan decoder and the matching scan-scripted encoder.
#
# Decode model (T.81 G.2): every scan REFINES a per-component DCT
# coefficient store (zigzag index space, integer); spectral selection
# (Ss..Se) splits the 64 coefficients across scans, successive
# approximation (Ah/Al) splits their bits. DC first scans are diff-
# coded like baseline on coef >> Al (interleaved when ns > 1); DC
# refinement reads one bit per block. AC scans are always single-
# component; first passes (Ah = 0) decode run/size with EOB-run
# symbols, refinement passes (Ah = Al + 1) read newly-significant
# coefficients as +-1 << Al and a correction bit for every already-
# nonzero coefficient they pass (the libjpeg decode_mcu_AC_refine
# discipline, mirrored exactly by the encoder below). After EOI the
# accumulated coefficients dequantize + IDCT exactly like baseline --
# so a progressive and a baseline encoding of the SAME coefficients
# must decode to IDENTICAL pixels, which is the property the tests
# pin across random images and random scan scripts.
# ---------------------------------------------------------------------------


def _decode_progressive(payload, seg, tables, scan, reads):
    """The progressive driver shared by SOF2 (Huffman) and SOF10
    (arithmetic): frame geometry and the coefficient store from the
    SOF segment ``seg``, then every scan through ``scan`` -- the only
    part the two processes do not share -- until EOI or the end of
    the data, then the one assembly tail. ``reads`` names the table
    segments the process parses."""
    import numpy as np

    _marker, body, end = seg
    frame = _read_sof(body)
    if frame is None or frame[3] != 8 or len(frame[2]) not in (1, 3):
        return None
    height, width, comps, _precision = frame
    sampling = _sampling(comps)
    if sampling is None:
        return None
    hmax, vmax = sampling
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    if mcus_x * mcus_y * 64 * hmax * vmax * len(comps) > 64_000_000:
        return None  # decode-bomb dims cap, as baseline
    geom = (hmax, vmax, mcus_x, mcus_y)
    # per component: int array (rows, cols, 64) in zigzag space
    coefs = [
        np.zeros((mcus_y * v, mcus_x * h, 64), dtype=np.int64)
        for _, h, v, _ in comps
    ]
    saw_scan = False
    while True:
        seg = tables.walk(payload, end, reads)
        if seg is None:
            return None
        marker, body, end = seg
        if marker == _EOI:
            break
        if marker != _SOS:
            return None  # a second frame header
        end = scan(payload, end, body, frame, geom, coefs, tables)
        if end is None:
            return None
        saw_scan = True
    if not saw_scan:
        return None
    return _assemble_from_coefs(frame, geom, coefs, tables.quant)


def _progressive_scan_header(sos_body, comps):
    """A progressive SOS body (T.81 B.2.3 / G.1.1): ``(scan_comps, ss,
    se, ah, al)`` with scan_comps ``[(comp index, Td, Ta), ...]``, or
    None when it breaks the progressive scan rules."""
    ns = sos_body[0]
    if len(sos_body) != 1 + 2 * ns + 3 or not 1 <= ns <= len(comps):
        return None
    scan_comps = []
    for s in range(ns):
        cs = sos_body[1 + 2 * s]
        td, ta = sos_body[2 + 2 * s] >> 4, sos_body[2 + 2 * s] & 0x0F
        ci = next(
            (k for k, (cid, _, _, _) in enumerate(comps) if cid == cs), None
        )
        if ci is None:
            return None
        scan_comps.append((ci, td, ta))
    ss, se = sos_body[1 + 2 * ns], sos_body[2 + 2 * ns]
    ah, al = sos_body[3 + 2 * ns] >> 4, sos_body[3 + 2 * ns] & 0x0F
    if ss > se or se > 63 or al > 13 or ah > 13:
        return None
    if ss == 0 and se != 0:
        return None  # DC and AC never share a progressive scan
    if ss != 0 and ns != 1:
        return None  # AC scans are single-component (T.81 G.1.1)
    if ah and ah != al + 1:
        return None  # successive approximation refines one bit at a time
    return scan_comps, ss, se, ah, al


def _component_blocks(height, width, h, v, hmax, vmax):
    """(rows, cols) of one component's own block raster, the
    non-interleaved scan geometry (T.81 A.2.2): its own sample grid,
    NOT the MCU-padded one."""
    comp_w = -(-(width * h) // hmax)
    comp_h = -(-(height * v) // vmax)
    return -(-comp_h // 8), -(-comp_w // 8)


def _decode_progressive_scan(
    payload, data_pos, sos_body, frame, geom, coefs, tables
):
    """Decode one Huffman scan into the coefficient store; returns the
    byte position after the scan's entropy data (where the next marker
    starts), or None on corruption."""
    comps = frame[2]
    mcus_x, mcus_y = geom[2:]
    header = _progressive_scan_header(sos_body, comps)
    if header is None:
        return None
    scan_comps, ss, se, ah, al = header
    huff_dc, huff_ac, dri = tables.huff_dc, tables.huff_ac, tables.dri
    is_dc = ss == 0
    reader = _BitReader(payload, data_pos)
    preds = [0] * len(comps)
    state = {"eobrun": 0}
    rst_idx = 0
    units = 0  # restart counting: MCUs (interleaved) or blocks

    def maybe_restart() -> bool:
        nonlocal rst_idx
        if dri and units and units % dri == 0:
            if not reader.align_and_expect_rst(rst_idx):
                return False
            rst_idx = (rst_idx + 1) & 7
            for k in range(len(preds)):
                preds[k] = 0
            state["eobrun"] = 0
        return True

    if is_dc and len(scan_comps) > 1:  # interleaved DC scan: MCU order
        for _my in range(mcus_y):
            for _mx in range(mcus_x):
                if not maybe_restart():
                    return None
                for ci, td, _ta in scan_comps:
                    _cid, h, v, _tq = comps[ci]
                    if ah == 0 and td not in huff_dc:
                        return None
                    for by in range(v):
                        for bx in range(h):
                            row = _my * v + by
                            col = _mx * h + bx
                            if not _dc_unit(
                                reader, coefs[ci], row, col, preds, ci,
                                huff_dc.get(td), ah, al,
                            ):
                                return None
                units += 1
    else:  # single-component scan: the component's own block raster
        ci, td, ta = scan_comps[0]
        _cid, h, v, _tq = comps[ci]
        rows, cols = _component_blocks(frame[0], frame[1], h, v, *geom[:2])
        if is_dc and ah == 0 and td not in huff_dc:
            return None
        if not is_dc and ta not in huff_ac:
            return None
        for row in range(rows):
            for col in range(cols):
                if not maybe_restart():
                    return None
                if is_dc:
                    ok = _dc_unit(
                        reader, coefs[ci], row, col, preds, ci,
                        huff_dc.get(td), ah, al,
                    )
                else:
                    ok = _ac_unit(
                        reader, coefs[ci], row, col, huff_ac.get(ta),
                        ss, se, ah, al, state,
                    )
                if not ok:
                    return None
                units += 1
    # byte-align: leftover bits in the reader's accumulator are pad;
    # _tail_pos rolls back whole bytes the accumulator prefetched but
    # the scan never logically consumed (per-bit reader parity)
    return reader._tail_pos()


def _dc_unit(reader, coef, row, col, preds, ci, dc_table, ah, al) -> bool:
    """One block's DC contribution: first pass (diff-coded, shifted by
    Al) or refinement (one bit)."""
    if ah == 0:
        s = reader.decode_huff(dc_table)
        if s is None or s > 11:
            return False
        if s:
            v = reader.bits(s)
            if v is None:
                return False
            preds[ci] += _extend(v, s)
        coef[row, col, 0] = preds[ci] << al
    else:
        b = reader.bit()
        if b is None:
            return False
        if b:
            coef[row, col, 0] |= 1 << al
    return True


def _ac_unit(reader, coef, row, col, ac_table, ss, se, ah, al, state) -> bool:
    """One block's AC band: first pass (run/size + EOB runs) or
    refinement (newly-significant +-1<<Al plus correction bits) -- the
    T.81 G.1.2 / libjpeg discipline."""
    blk = coef[row, col]
    if ah == 0:  # first pass for this band
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return True
        k = ss
        while k <= se:
            rs = reader.decode_huff(ac_table)
            if rs is None:
                return False
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    eob = (1 << r) - 1
                    if r:
                        extra = reader.bits(r)
                        if extra is None:
                            return False
                        eob += extra
                    state["eobrun"] = eob
                    return True
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                return False
            v = reader.bits(s)
            if v is None:
                return False
            blk[k] = _extend(v, s) << al
            k += 1
        return True
    # refinement pass
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = reader.decode_huff(ac_table)
            if rs is None:
                return False
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eob = 1 << r
                    if r:
                        extra = reader.bits(r)
                        if extra is None:
                            return False
                        eob += extra
                    state["eobrun"] = eob
                    break
                # r == 15: skip 16 zero-history coefficients
            else:
                if s != 1:
                    return False
                b = reader.bit()
                if b is None:
                    return False
                val = p1 if b else m1
            while k <= se:
                if blk[k] != 0:
                    b = reader.bit()
                    if b is None:
                        return False
                    if b and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if blk[k] != 0:
                b = reader.bit()
                if b is None:
                    return False
                if b and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1
    return True


def _assemble_from_coefs(frame, geom, coefs, quant):
    """Dequantize + dezigzag + IDCT the accumulated coefficient store
    and assemble RGB exactly like the baseline path."""
    import numpy as np

    comps = frame[2]
    basis = _dct_basis()
    planes = []
    # zigzag index k -> flat spatial index r*8+c, for the bulk dezigzag
    zz_flat = np.array([r * 8 + c for (r, c) in _ZIGZAG])
    for ci, (_cid, _h, _v, tq) in enumerate(comps):
        if tq not in quant:
            return None
        q = quant[tq]
        rows, cols = coefs[ci].shape[:2]
        # all blocks at once: dezigzag+dequant via one fancy-index
        # scatter, then broadcast A.T @ B @ A over the block stack
        # (bit-equal to the per-block loop it replaces: same products,
        # same 8-term matmul sums)
        bf = np.zeros((rows, cols, 64))
        bf[..., zz_flat] = coefs[ci] * q.reshape(-1)[zz_flat]
        spatial = (
            np.matmul(np.matmul(basis.T, bf.reshape(rows, cols, 8, 8)), basis)
            + 128.0
        )
        planes.append(
            spatial.transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        )
    return _planes_to_rgb(planes, frame, geom[0], geom[1])


# ---------------------------------------------------------------------------
# Progressive encoder: scan-scripted SOF2 emission over the SAME
# all-ones-quant coefficients as encode_jpeg, so baseline and
# progressive encodings of one image decode to identical pixels (the
# tests' equality oracle). Implements spectral selection, successive
# approximation (DC shift / AC point transform), EOB-run coding, AC
# refinement with buffered correction bits, and restart intervals --
# the full Huffman-progressive surface the decoder above accepts.
# ---------------------------------------------------------------------------

#: Progressive AC table: the baseline symbols plus the EOBn symbols
#: (r<<4 | 0 for r = 0..14). 176 symbols, all at 8 bits (canonical,
#: all-ones code unused: 176 <= 255).
_AC_PROG_SYMBOLS = bytes(
    sorted(
        [r << 4 for r in range(15)]
        + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
)
_AC_PROG_COUNTS = [0] * 7 + [len(_AC_PROG_SYMBOLS)] + [0] * 8


def _prepare_planes(pixels, subsample_420: bool):
    """encode_jpeg's component prep (grayscale detection, YCbCr,
    optional 4:2:0), shared with the progressive encoder: returns
    (comp_planes, samplings, h, w)."""
    import numpy as np

    px = np.asarray(pixels)
    if px.ndim == 3 and px.shape[2] >= 3:
        r = px[:, :, 0].astype(float)
        g = px[:, :, 1].astype(float)
        b = px[:, :, 2].astype(float)
        if np.array_equal(px[:, :, 0], px[:, :, 1]) and np.array_equal(
            px[:, :, 0], px[:, :, 2]
        ):
            channels = [r]
        else:
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
            channels = [y, cb, cr]
    else:
        if px.ndim == 3 and px.shape[2] == 1:
            px = px[:, :, 0]
        if px.ndim != 2:
            raise ValueError(
                "expected (h, w), (h, w, 1) grayscale or (h, w, >=3) "
                f"color input, got shape {px.shape}"
            )
        channels = [px.astype(float)]
    h, w = channels[0].shape
    nc = len(channels)
    if subsample_420 and nc == 3:
        he, we = h + (h & 1), w + (w & 1)
        padded = []
        for chan in channels:
            p = np.full((he, we), 128.0)
            p[:h, :w] = chan
            if h & 1:
                p[h, :w] = chan[h - 1]
            if w & 1:
                p[:h, w] = chan[:, w - 1]
            if (h & 1) and (w & 1):
                p[h, w] = chan[h - 1, w - 1]
            padded.append(p)
        chroma = [
            (c[0::2, 0::2] + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2])
            / 4.0
            for c in padded[1:]
        ]
        return [padded[0]] + chroma, [(2, 2), (1, 1), (1, 1)], h, w
    return channels, [(1, 1)] * nc, h, w


def _block_tile(chan, ys, xs):
    """8x8 tile at (ys, xs) with T.81 A.2.4 edge replication (the
    encode_jpeg rule, shared)."""
    import numpy as np

    sub = chan[ys : ys + 8, xs : xs + 8]
    if sub.shape == (8, 8):
        return sub
    if sub.size == 0:
        return np.full((8, 8), 128.0)
    tile = np.empty((8, 8))
    tile[: sub.shape[0], : sub.shape[1]] = sub
    if sub.shape[1] < 8:
        tile[: sub.shape[0], sub.shape[1] :] = sub[:, -1:]
    if sub.shape[0] < 8:
        tile[sub.shape[0] :, :] = tile[sub.shape[0] - 1, :]
    return tile


def default_progressive_scans(nc: int) -> list:
    """A libjpeg-style scan script: shifted DC, two AC bands per
    component at Al=2, then the successive-approximation refinements
    down to full precision."""
    comps = list(range(nc))
    scans = [(comps, 0, 0, 0, 1)]
    for c in comps:
        scans += [([c], 1, 5, 0, 2), ([c], 6, 63, 0, 2)]
    for c in comps:
        scans += [([c], 1, 5, 2, 1), ([c], 6, 63, 2, 1)]
    scans.append((comps, 0, 0, 1, 0))
    for c in comps:
        scans += [([c], 1, 5, 1, 0), ([c], 6, 63, 1, 0)]
    return scans


def encode_jpeg_progressive(
    pixels,
    *,
    scans: list | None = None,
    subsample_420: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) JPEG of ``pixels`` under the given scan
    script (each scan = (component indices, Ss, Se, Ah, Al); default
    ``default_progressive_scans``). Same all-ones quantization as
    ``encode_jpeg``: decoding this payload yields pixels IDENTICAL to
    decoding the baseline encoding."""
    import numpy as np

    planes, samplings, h, w = _prepare_planes(pixels, subsample_420)
    nc = len(planes)
    if scans is None:
        scans = default_progressive_scans(nc)
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    basis = _dct_basis()
    coefs = []
    for ci, chan in enumerate(planes):
        sh, sv = samplings[ci]
        rows, cols = mcus_y * sv, mcus_x * sh
        arr = np.zeros((rows, cols, 64), dtype=np.int64)
        for row in range(rows):
            for col in range(cols):
                tile = _block_tile(chan, row * 8, col * 8)
                block = np.rint(basis @ (tile - 128.0) @ basis.T).astype(int)
                for k, (r, c) in enumerate(_ZIGZAG):
                    arr[row, col, k] = block[r, c]
        coefs.append(arr)
    dc_tab = _huff_table(_DC_COUNTS, _DC_SYMBOLS)
    ac_tab = _huff_table(_AC_PROG_COUNTS, _AC_PROG_SYMBOLS)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0x00])
    out += bytes([1] * 64)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([nc])
    for c in range(nc):
        sh, sv = samplings[c]
        sof += bytes([c + 1, (sh << 4) | sv, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof
    dht = bytes([0x00]) + bytes(_DC_COUNTS) + _DC_SYMBOLS
    dht += bytes([0x10]) + bytes(_AC_PROG_COUNTS) + _AC_PROG_SYMBOLS
    out += b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big")
        out += restart_interval.to_bytes(2, "big")

    for scan_comps, ss, se, ah, al in scans:
        sos = bytes([len(scan_comps)])
        for c in scan_comps:
            sos += bytes([c + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
        out += _encode_progressive_scan(
            coefs, samplings, mcus_x, mcus_y, scan_comps, ss, se, ah, al,
            dc_tab, ac_tab, restart_interval, h, w, hmax, vmax,
        )
    out += b"\xff\xd9"
    return bytes(out)


class _ProgWriter(_BitWriter):
    """_BitWriter plus the AC-refinement state: a pending EOB run and
    the correction bits buffered behind it (libjpeg's BE buffer)."""

    def __init__(self, ac_tab):
        super().__init__()
        self.ac_tab = ac_tab
        self.eobrun = 0
        self.pending = []  # buffered correction bits

    def emit_sym(self, tab, sym):
        code, length = tab.encode[sym]
        self.write(code, length)

    def flush_pending(self):
        for b in self.pending:
            self.write(b, 1)
        self.pending = []

    def emit_eobrun(self):
        # pending correction bits ride behind the EOB symbol (the
        # decoder reads them while walking the EOB-run blocks); when no
        # run is pending they stay buffered for the next symbol
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_sym(self.ac_tab, nbits << 4)
            if nbits:
                self.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
            self.flush_pending()


def _encode_progressive_scan(
    coefs, samplings, mcus_x, mcus_y, scan_comps, ss, se, ah, al,
    dc_tab, ac_tab, dri, h, w, hmax, vmax,
):
    writer = _ProgWriter(ac_tab)
    preds = {c: 0 for c in scan_comps}
    out = bytearray()
    rst_idx = 0
    units = 0

    def restart_point():
        nonlocal rst_idx, units
        if dri and units and units % dri == 0:
            writer.emit_eobrun()
            out.extend(writer.flush())
            out.extend(bytes([0xFF, 0xD0 + (rst_idx & 7)]))
            rst_idx += 1
            writer.out = bytearray()
            writer.acc = 0
            writer.nbits = 0
            for c in preds:
                preds[c] = 0

    if ss == 0 and len(scan_comps) > 1:  # interleaved DC scan
        for my in range(mcus_y):
            for mx in range(mcus_x):
                restart_point()
                for c in scan_comps:
                    sh, sv = samplings[c]
                    for by in range(sv):
                        for bx in range(sh):
                            _enc_dc_unit(
                                writer, coefs[c][my * sv + by, mx * sh + bx],
                                preds, c, ah, al, dc_tab,
                            )
                units += 1
    else:
        c = scan_comps[0]
        sh, sv = samplings[c]
        rows, cols = _component_blocks(h, w, sh, sv, hmax, vmax)
        for row in range(rows):
            for col in range(cols):
                restart_point()
                blk = coefs[c][row, col]
                if ss == 0:
                    _enc_dc_unit(writer, blk, preds, c, ah, al, dc_tab)
                elif ah == 0:
                    _enc_ac_first(writer, blk, ss, se, al, ac_tab)
                else:
                    _enc_ac_refine(writer, blk, ss, se, al, ac_tab)
                units += 1
    writer.emit_eobrun()
    out.extend(writer.flush())
    return bytes(out)


def _enc_dc_unit(writer, blk, preds, c, ah, al, dc_tab):
    if ah == 0:
        v = int(blk[0]) >> al  # arithmetic shift, per G.1.2.1
        diff = v - preds[c]
        preds[c] = v
        s, raw = _magnitude(diff)
        writer.emit_sym(dc_tab, s)
        if s:
            writer.write(raw, s)
    else:
        writer.write((int(blk[0]) >> al) & 1, 1)


def _pt(v: int, al: int) -> int:
    """AC point transform: magnitude shift (division toward zero)."""
    a = abs(int(v)) >> al
    return a if v >= 0 else -a


def _enc_ac_first(writer, blk, ss, se, al, ac_tab):
    vals = [_pt(blk[k], al) for k in range(ss, se + 1)]
    last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
    if last_nz < 0:
        writer.eobrun += 1
        if writer.eobrun == 0x7FFF:
            writer.emit_eobrun()
        return
    writer.emit_eobrun()
    run = 0
    for i in range(last_nz + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            writer.emit_sym(ac_tab, 0xF0)
            run -= 16
        s, raw = _magnitude(v)
        writer.emit_sym(ac_tab, (run << 4) | s)
        writer.write(raw, s)
        run = 0
    if last_nz < len(vals) - 1:
        writer.eobrun += 1
        if writer.eobrun == 0x7FFF:
            writer.emit_eobrun()


def _enc_ac_refine(writer, blk, ss, se, al, ac_tab):
    """libjpeg encode_mcu_AC_refine, mirrored exactly: r counts
    ZERO-HISTORY positions; a ZRL is forced as soon as r exceeds 15 at
    ANY nonzero position at or before the last newly-significant
    coefficient (so each emitted symbol's decode walk covers exactly
    the positions whose correction bits follow it); history
    coefficients (|v| >> Al > 1) buffer their correction bit behind the
    next emitted symbol; trailing content folds into the pending EOB
    run."""
    absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
    eob = max((i for i, v in enumerate(absv) if v == 1), default=-1)
    r = 0
    br: list = []  # THIS block's correction bits (libjpeg's BR buffer)
    for i, v in enumerate(absv):
        if v == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            writer.emit_eobrun()  # flushes prior blocks' bits (BE)
            writer.emit_sym(ac_tab, 0xF0)
            r -= 16
            for b in br:
                writer.write(b, 1)
            br = []
        if v > 1:  # history coefficient: correction bit rides along
            br.append(v & 1)
            continue
        # newly significant: [EOB sym][BE bits][sym][sign][BR bits] --
        # the decoder reads BE during the EOB-run walks of PRIOR blocks
        # and BR during THIS symbol's walk, so the buffers must stay
        # separate (merging them was a measured desync)
        writer.emit_eobrun()
        writer.emit_sym(ac_tab, (r << 4) | 1)
        writer.write(1 if blk[ss + i] >= 0 else 0, 1)
        for b in br:
            writer.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        writer.eobrun += 1
        writer.pending.extend(br)
        if writer.eobrun == 0x7FFF or len(writer.pending) > 900:
            writer.emit_eobrun()
