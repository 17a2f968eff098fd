"""Property-based codec proofs (hypothesis): the round-7 pure-Python
codecs -- GIF LZW + animated GIF, WAV/RIFF PCM, baseline JPEG -- are
exact (or error-bounded, for the lossy DCT) inverses on ARBITRARY
inputs, not just the crafted vectors in test_round7_ops.py. Same
strategy as test_kv_property.py: hypothesis explores the input space
(alphabet sizes that cross LZW width growth, dimensions that exercise
MCU padding, sample streams with clipping extremes) far beyond what
hand-written cases cover, and shrinks any failure to a minimal
counterexample.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from map_reduce_framework_spark.operators.audio import (
    decode_wav,
    encode_wav,
)
from map_reduce_framework_spark.operators.jpeg import (
    decode_jpeg_pixels,
    encode_jpeg,
)
from map_reduce_framework_spark.operators.multimodal import (
    _gif_lzw_decode,
    _gif_lzw_encode,
    decode_gif_frames,
    encode_gif,
)


@settings(max_examples=60, deadline=None)
@given(
    mcs=st.integers(min_value=2, max_value=8),
    data=st.data(),
)
def test_gif_lzw_roundtrip_property(mcs, data):
    """encode -> decode is the identity for any index stream over any
    legal alphabet, including streams long enough to grow the code
    width and highly repetitive streams that race to the 4096-entry
    table reset."""
    n = data.draw(st.integers(min_value=0, max_value=3000))
    stream = bytes(
        data.draw(
            st.lists(
                st.integers(0, (1 << mcs) - 1), min_size=n, max_size=n
            )
        )
    )
    out = _gif_lzw_decode(_gif_lzw_encode(stream, mcs), mcs, len(stream))
    assert out is not None and bytes(out) == stream


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    n_frames=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_animated_gif_roundtrip_property(h, w, n_frames, seed):
    """encode_gif -> decode_gif_frames reproduces every frame's pixels
    exactly for any canvas size and frame count (grayscale palette is
    lossless)."""
    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, (h, w), dtype=np.uint8)
        for _ in range(n_frames)
    ]
    out = decode_gif_frames(encode_gif(frames))
    assert out is not None and len(out) == n_frames
    for a, b in zip(frames, out):
        assert np.array_equal(np.stack([a, a, a], axis=-1), b)


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=500,
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    """encode_wav -> decode_wav is the identity for any int16 sample
    stream at any common rate (PCM is lossless)."""
    out, got_rate, ch = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate and ch == 1
    assert np.array_equal(out, np.array(samples, dtype=np.int16))


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_grayscale_error_bound_property(h, w, seed):
    """Baseline JPEG at quality 1 reconstructs ANY grayscale image
    within +/-1 per pixel (the only loss is DCT float rounding) at any
    dimensions, including non-multiple-of-8 edges."""
    rng = np.random.default_rng(seed)
    g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(g))
    assert out.shape == (h, w, 3)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 1


@settings(max_examples=30, deadline=None)
@given(v=st.integers(min_value=0, max_value=255),
       h=st.integers(min_value=1, max_value=20),
       w=st.integers(min_value=1, max_value=20))
def test_jpeg_constant_exact_property(v, h, w):
    """Constant images (DC-only blocks) roundtrip EXACTLY through the
    JPEG codec for every value and any dimensions."""
    out = decode_jpeg_pixels(encode_jpeg(np.full((h, w), v, np.uint8)))
    assert (out[:, :, 0] == v).all()


def test_decoders_never_raise_on_malformed_input():
    """Robustness contract for 100 TB of scraped payloads: every
    decoder returns None (or a valid decode) on ANY input -- random
    garbage, valid magics followed by garbage, truncations of valid
    payloads, and random bit flips -- and never raises or attempts a
    decompression-bomb allocation. (This fuzz originally HUNG the
    suite: corrupt GIF/PNG/JPEG headers claiming 65535x65535 canvases
    allocated tens of GiB before any data validation, and a PNG zlib
    bomb could inflate kilobytes to GiB -- both now refused via
    MAX_DECODE_PIXELS caps and a bounded decompressobj.)"""
    import random

    from map_reduce_framework_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )
    from map_reduce_framework_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from map_reduce_framework_spark.operators.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )
    from map_reduce_framework_spark.operators.jpeg_lossless import (
        decode_jpeg_lossless,
        encode_jpeg_lossless,
    )
    from map_reduce_framework_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_gif_frames,
        decode_gif_pixels,
        decode_png_pixels,
        encode_bmp,
        encode_gif,
    )

    rng = random.Random(0)
    decoders = [
        decode_gif_frames, decode_gif_pixels, decode_png_pixels,
        decode_bmp_pixels, decode_wav, decode_jpeg_pixels,
        decode_jpeg_lossless,
    ]
    payloads = []
    for _ in range(150):
        n = rng.choice([0, 1, 13, 54, 200, 2000])
        payloads.append(bytes(rng.randrange(256) for _ in range(n)))
    magics = [b"GIF89a", b"GIF87a", b"\x89PNG\r\n\x1a\n", b"BM",
              b"RIFF", b"\xff\xd8", b"RIFFxxxxWAVE"]
    for _ in range(150):
        m = rng.choice(magics)
        payloads.append(
            m + bytes(rng.randrange(256)
                      for _ in range(rng.choice([0, 5, 50, 500])))
        )
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rgb = np.stack([g, g[::-1], g.T], -1)
    valids = [
        encode_gif([g, g]),
        encode_bmp(np.stack([g, g, g], -1)),
        encode_wav(list(range(-50, 50))),
        encode_jpeg(g),
        # every other JPEG process the package decodes, each walked by
        # the shared marker reader: color so a mutated sampling factor
        # can sit beside an intact one
        encode_jpeg_progressive(rgb, restart_interval=1),
        encode_jpeg_arith(rgb, restart_interval=1),
        encode_jpeg_arith_progressive(rgb),
        encode_jpeg_lossless(rgb),
        encode_jpeg(g.astype(np.int64) * 64, precision=12),
    ]
    for v in valids:
        for cut in range(0, len(v), max(1, len(v) // 40)):
            payloads.append(v[:cut])
        for _ in range(100):
            b = bytearray(v)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            payloads.append(bytes(b))
    for p in payloads:
        for d in decoders:
            d(p)  # must not raise; None or a valid decode both fine


def test_jpeg_zero_sampling_factor_is_none():
    """A color frame header with a sampling factor of 0 beside an
    intact one decodes to None on every DCT process (it used to raise
    ZeroDivisionError out of decode_jpeg_pixels)."""
    from map_reduce_framework_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )
    from map_reduce_framework_spark.operators.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )

    rgb = np.stack([np.arange(64, dtype=np.uint8).reshape(8, 8)] * 3, -1)
    rgb[:, :, 1] //= 2
    for enc in (
        encode_jpeg, encode_jpeg_progressive, encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    ):
        p = bytearray(enc(rgb))
        sof = next(
            i for i in range(2, len(p) - 1)
            if p[i] == 0xFF and p[i + 1] in (0xC0, 0xC2, 0xC9, 0xCA)
        )
        assert decode_jpeg_pixels(bytes(p)) is not None
        for hv in (0x01, 0x10, 0x00):
            p[sof + 4 + 6 + 3 + 1] = hv  # second component's H/V byte
            assert decode_jpeg_pixels(bytes(p)) is None


def test_decoders_refuse_decompression_bombs():
    """The specific bombs the fuzz found, pinned: huge claimed dims
    with tiny data must return None quickly, not allocate."""
    from map_reduce_framework_spark.operators.jpeg import (
        decode_jpeg_pixels,
    )
    from map_reduce_framework_spark.operators.multimodal import (
        decode_gif_frames,
        decode_png_pixels,
    )

    # GIF: 65535x65535 logical screen, no data
    gif = (b"GIF89a" + b"\xff\xff\xff\xff" + bytes([0x80 | 0x01, 0, 0])
           + bytes(12) + bytes([0x3B]))
    assert decode_gif_frames(gif) is None
    # JPEG: SOF0 claiming 65535x65535, empty scan
    sof = bytes([8]) + b"\xff\xff\xff\xff" + bytes([1, 1, 0x11, 0])
    jpg = (b"\xff\xd8"
           + b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0]) + bytes([1] * 64)
           + b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
           + b"\xff\xc4" + (21).to_bytes(2, "big") + bytes([0])
           + bytes([0, 0, 0, 1] + [0] * 12) + bytes([0])
           + b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0, 0, 63, 0])
           + b"\xff\xd9")
    assert decode_jpeg_pixels(jpg) is None
    # PNG: zlib bomb -- 200 KB of zeros compressed to ~200 bytes, with
    # a huge claimed height; must be refused without full inflation
    import zlib

    ihdr = (b"\x00\x01\x00\x00" + b"\x7f\xff\xff\xff"
            + bytes([8, 0, 0, 0, 0]))
    def chunk(typ, data):
        return len(data).to_bytes(4, "big") + typ + data + b"\x00\x00\x00\x00"
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 200_000))
           + chunk(b"IEND", b""))
    assert decode_png_pixels(png) is None


def _jpeg_process_corpus():
    """One fixed 16x16 image encoded by every JPEG process the package
    writes, each followed by its every-1/60th prefixes, its header
    segments with a bad length field and 150 seeded 1-5 byte
    mutations: the inputs the marker-walk digest is taken over."""
    import random

    from map_reduce_framework_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )
    from map_reduce_framework_spark.operators.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )
    from map_reduce_framework_spark.operators.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    img_rng = np.random.default_rng(7)
    rgb = img_rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    gray = rgb[:, :, 0]
    gray12 = img_rng.integers(0, 4096, (16, 16)).astype(np.int64)
    encodings = [
        encode_jpeg(gray),
        encode_jpeg(rgb),
        encode_jpeg(rgb, subsample_420=True, restart_interval=2),
        encode_jpeg(gray12, precision=12),
        encode_jpeg_progressive(rgb),
        encode_jpeg_progressive(rgb, subsample_420=True, restart_interval=2),
        encode_jpeg_arith(rgb),
        encode_jpeg_arith(rgb, restart_interval=2),
        encode_jpeg_arith(gray12, precision=12),
        encode_jpeg_arith_progressive(rgb),
        encode_jpeg_arith_progressive(
            rgb, subsample_420=True, restart_interval=2
        ),
        encode_jpeg_lossless(rgb, precision=8),
        encode_jpeg_lossless(gray12, precision=12, point_transform=1),
    ]
    payloads = []
    for seed, v in enumerate(encodings):
        payloads.append(v)
        for cut in range(0, len(v), max(1, len(v) // 60)):
            payloads.append(v[:cut])
        # each header segment's length field set below the minimum of 2
        # and past the payload: random mutations rarely hit these bytes
        i = 2
        while v[i + 1] != 0xDA:
            for bad in (0, 1, len(v)):
                b = bytearray(v)
                b[i + 2 : i + 4] = bad.to_bytes(2, "big")
                payloads.append(bytes(b))
            i += 2 + int.from_bytes(v[i + 2 : i + 4], "big")
        rng = random.Random(seed)
        for _ in range(150):
            b = bytearray(v)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            payloads.append(bytes(b))
    return payloads


#: sha256 over every corpus payload of what decode_jpeg_pixels,
#: _jpeg_dims, jpeg_codec_class and _jpeg_sof0_offset return, recorded
#: on the seven hand-written marker walkers the shared segment reader
#: replaced: the reader must give every caller the same answer on
#: valid, truncated and corrupted streams alike.
JPEG_MARKER_WALK_DIGEST = (
    "5e25e70866811c6b84bbf42f5534a2f669902739c57ea33087f85751803a3228"
)


def test_jpeg_marker_walk_digest():
    import hashlib

    from map_reduce_framework_spark.operators.multimodal import (
        _jpeg_dims,
        _jpeg_sof0_offset,
        jpeg_codec_class,
    )

    h = hashlib.sha256()
    for p in _jpeg_process_corpus():
        px = decode_jpeg_pixels(p)
        if px is None:
            h.update(b"none;")
        else:
            h.update(repr((px.shape, px.dtype.str)).encode())
            h.update(hashlib.sha256(px.tobytes()).digest())
        try:
            sof0 = _jpeg_sof0_offset(p)
        except ValueError:
            sof0 = "ValueError"
        h.update(repr((_jpeg_dims(p), jpeg_codec_class(p), sof0)).encode())
    assert h.hexdigest() == JPEG_MARKER_WALK_DIGEST
