"""Lossless JPEG (SOF3) -- round-12 ask #4, closing the JPEG family's
last non-differential process.  ITU-T T.81 Annex H: no DCT, no
quantization -- each sample is predicted from decoded neighbors
(predictors 1-7, H.1.2.1) and the prediction DIFFERENCE is coded with
the DC-coefficient Huffman machinery (magnitude category SSSS 0..16 +
appended bits; SSSS=16 means DIFF=32768 with no appended bits, the
one lossless-only case).  All difference arithmetic is modulo 65536
(H.1.2.1's "taken modulo 2^16").

Boundary rules (spec cites inline):

* precision 2..16 bits, point transform Pt shifts samples right by
  Pt before coding and left after (scan header Al field);
* first sample of the scan (and of each restart interval) predicts
  2^(P-Pt-1); the rest of the FIRST line predicts Ra (left); the
  first sample of every other line predicts Rb (above); everything
  else uses the scan's selected predictor Ss in 1..7;
* interleaved multi-component scans are supported for h=v=1
  components (one sample per component per MCU -- the layout real
  lossless writers emit); subsampled lossless stays a counted
  boundary, as does hierarchical/differential coding (SOF5-7/13-15).

The encoder emits a minimal-but-standard stream: SOF3, one DHT whose
canonical table carries all 17 categories at 5 bits (the all-ones
code stays unused, per the Annex C convention), single scan, no
restarts.  The decoder handles restart markers (prediction + first-
line rule reset per H.2.2).  Reuses operators/jpeg.py's bit I/O and
canonical-Huffman classes -- one entropy machine for the family."""

from __future__ import annotations

from .jpeg import (
    _DHT,
    _DRI,
    _BitReader,
    _BitWriter,
    _JpegTables,
    _huff_table,
    _read_sof,
)

#: the table segments a lossless walk parses (no DQT: no quantization)
_READS = (_DHT, _DRI)

#: the lossless DHT: 17 magnitude categories (0..16), all length 5 --
#: canonical assignment leaves the all-ones 5-bit code unused
_L_COUNTS = [0, 0, 0, 0, 17] + [0] * 11
_L_SYMBOLS = bytes(range(17))

#: the image-dimension bomb guard shared with the DCT paths
_MAX_PIXELS = 64_000_000


def encode_jpeg_lossless(
    samples,
    *,
    predictor: int = 4,
    precision: int = 8,
    point_transform: int = 0,
) -> bytes:
    """SOF3 stream of a grayscale (h, w) or multi-component (h, w, nc)
    sample array (nc <= 4, values in [0, 2^precision)).  Decode with
    decode_jpeg_lossless for the sample-exact inverse."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if not (1 <= nc <= 4):
        raise ValueError("1-4 components")
    if not (2 <= precision <= 16):
        raise ValueError("precision 2..16")
    if not (1 <= predictor <= 7):
        raise ValueError("predictor 1..7")
    pt = point_transform
    if a.min() < 0 or a.max() >= (1 << precision):
        raise ValueError("samples out of range for precision")
    out = bytearray(b"\xff\xd8")  # SOI
    sof = bytearray()
    sof += precision.to_bytes(1, "big")
    sof += h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += nc.to_bytes(1, "big")
    for c in range(nc):
        sof += bytes((c + 1, 0x11, 0))  # id, h=v=1, Tq 0 (unused)
    out += b"\xff\xc3" + (2 + len(sof)).to_bytes(2, "big") + sof
    dht = bytes((0x00,)) + bytes(_L_COUNTS) + _L_SYMBOLS
    out += b"\xff\xc4" + (2 + len(dht)).to_bytes(2, "big") + dht
    sos = bytearray((nc,))
    for c in range(nc):
        sos += bytes((c + 1, 0x00))  # DC table 0
    sos += bytes((predictor, 0, pt))  # Ss=predictor, Se=0, Ah<<4|Al=Pt
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    table = _huff_table(_L_COUNTS, _L_SYMBOLS)
    writer = _BitWriter()
    shifted = (a >> pt).astype(np.int64)
    default = 1 << (precision - pt - 1)
    for y in range(h):
        for x in range(w):
            for c in range(nc):
                px = _predict(
                    shifted[:, :, c], y, x, predictor, default, first=(y == 0)
                )
                diff = (int(shifted[y, x, c]) - px) & 0xFFFF
                if diff > 32768:
                    diff -= 65536  # signed view of the modulo ring
                if diff == 32768:
                    code, length = table.encode[16]
                    writer.write(code, length)  # SSSS 16: no raw bits
                    continue
                s = abs(diff).bit_length()
                code, length = table.encode[s]
                writer.write(code, length)
                if s:
                    raw = diff if diff > 0 else diff + (1 << s) - 1
                    writer.write(raw, s)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _predict(plane, y: int, x: int, sel: int, default: int, first: bool):
    """H.1.2.1 prediction (encoder side mirrors decode exactly): the
    plane holds already-shifted sample values."""
    if y == 0 and x == 0:
        return default
    if first:  # rest of the first line: Ra
        return int(plane[y, x - 1])
    if x == 0:  # first sample of a later line: Rb
        return int(plane[y - 1, x])
    ra = int(plane[y, x - 1])
    rb = int(plane[y - 1, x])
    rc = int(plane[y - 1, x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # sel 7


def decode_jpeg_lossless(payload: bytes):
    """SOF3 decode: (samples uint16 array (h, w, nc), precision) or
    None for anything outside the supported set (not SOF3, subsampled
    components, structural corruption, truncated entropy data).
    TOTAL over arbitrary bytes."""
    try:
        if len(payload) < 4 or payload[:2] != b"\xff\xd8":
            return None
        tables = _JpegTables()
        return _decode(payload, tables.walk(payload, 2, _READS), tables)
    except (IndexError, ValueError, TypeError, KeyError):
        return None


def decode_lossless_rgb(payload, seg, tables):
    """decode_jpeg_pixels' SOF3 branch: the walk from segment ``seg``
    on, its samples as uint8 RGB (the high 8 bits; one component is
    repeated, three are carried as-is), None for 2 or 4 components (no
    display mapping)."""
    import numpy as np

    got = _decode(payload, seg, tables)
    if got is None:
        return None
    samples, precision = got
    if precision >= 8:
        px8 = (samples >> (precision - 8)).astype(np.uint8)
    else:
        px8 = (samples << (8 - precision)).astype(np.uint8)
    if px8.shape[2] == 1:
        return np.repeat(px8, 3, axis=2)
    return px8 if px8.shape[2] == 3 else None


def _decode(payload, seg, tables):
    """The SOF3 marker walk from segment ``seg`` on (the SOF3 header
    itself when decode_jpeg_pixels dispatches here): decodes at the
    first SOS after a lossless frame header."""
    frame = None
    while seg is not None:
        marker, body, end = seg
        if marker == 0xC3:
            # lossless reads no Tq (no quantization): a header cut
            # before the last, unused Tq byte still decodes
            sof = _read_sof(body + b"\x00")
            if sof is None:
                return None
            h, w, comps, precision = sof
            if not (2 <= precision <= 16) or len(comps) > 4:
                return None
            if h * w * len(comps) > _MAX_PIXELS:
                return None
            if any((h_, v_) != (1, 1) for _, h_, v_, _ in comps):
                return None  # subsampled lossless: counted boundary
            frame = (h, w, [c[0] for c in comps], precision)
        elif marker == 0xDA:
            if frame is None:
                return None
            return _decode_scan(
                payload, end, body, frame, tables.huff_dc, tables.dri
            )
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA, 0xD9):
            return None  # EOI, or a DCT process: not this decoder's stream
        # the lossless-arithmetic and differential frame headers are
        # passed over, as this walk always has
        seg = tables.walk(payload, end, _READS)
    return None


def _decode_scan(payload, pos, sos, frame, huff, dri):
    import numpy as np

    h, w, comps, precision = frame
    ns = sos[0]
    if ns != len(comps):
        return None
    tables = []
    for c in range(ns):
        td = sos[2 + 2 * c] >> 4
        if td not in huff:
            return None
        tables.append(huff[td])
    sel = sos[1 + 2 * ns]
    pt = sos[3 + 2 * ns] & 0x0F
    if not (1 <= sel <= 7) or pt >= precision:
        return None
    nc = len(comps)
    plane = np.zeros((h, w, nc), dtype=np.int64)
    default = 1 << (precision - pt - 1)
    reader = _BitReader(payload, pos)
    rst = 0
    since_rst = 0
    fresh = True  # scan/restart start: the next sample predicts default
    fresh_row = 0  # the row where the current interval began
    for y in range(h):
        for x in range(w):
            if dri and since_rst == dri:
                if not reader.align_and_expect_rst(rst):
                    return None
                rst = (rst + 1) & 7
                since_rst = 0
                fresh = True
                fresh_row = y
            for c in range(nc):
                s = reader.decode_huff(tables[c])
                if s is None or s > 16:
                    return None
                if s == 16:
                    diff = 32768
                elif s:
                    raw = reader.bits(s)
                    if raw is None:
                        return None
                    diff = (
                        raw
                        if raw >= (1 << (s - 1))
                        else raw - (1 << s) + 1
                    )
                else:
                    diff = 0
                if fresh:
                    px = default
                elif y == fresh_row:
                    px = int(plane[y, x - 1, c])  # first-line rule: Ra
                elif x == 0:
                    px = int(plane[y - 1, x, c])
                else:
                    ra = int(plane[y, x - 1, c])
                    rb = int(plane[y - 1, x, c])
                    rc_ = int(plane[y - 1, x - 1, c])
                    if sel == 1:
                        px = ra
                    elif sel == 2:
                        px = rb
                    elif sel == 3:
                        px = rc_
                    elif sel == 4:
                        px = ra + rb - rc_
                    elif sel == 5:
                        px = ra + ((rb - rc_) >> 1)
                    elif sel == 6:
                        px = rb + ((ra - rc_) >> 1)
                    else:
                        px = (ra + rb) >> 1
                val = (px + diff) & 0xFFFF
                if val >= (1 << (precision - pt)):
                    return None  # corrupt stream: sample out of range
                plane[y, x, c] = val
            fresh = False
            since_rst += 1
    return (plane << pt).astype(np.uint16), precision
