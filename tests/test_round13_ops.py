"""Round 13 (optimization round 2) pins: every optimization that
changed an operator's internals gets a focused equality/behavior test.

Covered here:
* FLAC multi-frame decode is shared-state linear (ADVICE r13 #1) and
  still bit-equal across frame boundaries;
* JPEG LUT decode_huff == the per-bit walk it replaced; batched
  bits() == per-bit reference; _tail_pos restores lazy-reader
  accept/reject semantics at scan ends (garbage before a marker);
* GIF LZW int-key encoder is byte-identical to the string-key spec
  form; list-table decoder roundtrips including clear-code resets;
* _dhash_from_pixels vectorized == per-pixel loop;
* _fan_out gates the round-robin repartition on input split count
  (VERDICT r12 ask #6);
* gopher_repetition_filter preserves the input doc_id type
  (ADVICE r12 #2).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest


class TestFlacMultiFrameShared:
    def test_multiframe_decode_exact_and_shared_state(self):
        import map_reduce_framework_spark.operators.flac as FL

        rng = np.random.default_rng(11)
        # > 4096 samples -> several frames; exercises the shared
        # unpacked bit view of _decode_flac
        for n in (4097, 12_288, 40_000):
            clip = [int(v) for v in rng.integers(-3000, 3000, n)]
            for payload in (
                FL.encode_flac(clip),
                FL.encode_flac(clip, mode="lpc"),
                FL.encode_flac_stereo(clip, clip[::-1], mode="mid_side"),
            ):
                got = FL.decode_flac(payload)
                assert got is not None
                assert np.array_equal(
                    got[0], np.asarray(clip, dtype=np.int16)
                )

    def test_windowed_rice_chase_matches_scalar_fallback(self):
        import map_reduce_framework_spark.operators.flac as FL

        rng = np.random.default_rng(13)
        clip = [int(v) for v in rng.integers(-3000, 3000, 9000)]
        payload = FL.encode_flac(clip)
        fast = FL.decode_flac(payload)

        def force_scalar(*a, **k):
            raise FL._NeedExact

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(FL, "_decode_subframe_np", force_scalar)
            slow = FL.decode_flac(payload)
        assert fast is not None and slow is not None
        assert np.array_equal(fast[0], slow[0]) and fast[1:] == slow[1:]


class TestJpegReaderEquivalence:
    def _ref_decode_huff(self, reader_cls, data, pos, table, n_syms):
        """Per-bit reference walk (the retired implementation)."""
        r = reader_cls(data, pos)
        out = []
        for _ in range(n_syms):
            code = 0
            sym = None
            for length in range(1, 17):
                b = r.bit()
                if b is None:
                    sym = None
                    break
                code = (code << 1) | b
                sym = table.lookup.get((length, code))
                if sym is not None:
                    break
            if sym is None:
                break
            out.append(sym)
        return out

    def test_lut_decode_matches_per_bit_walk(self):
        from map_reduce_framework_spark.operators.jpeg import (
            _BitReader,
            _huff_table,
        )

        # a table with 1..16-bit codes: canonical counts over 20 symbols
        counts = [0, 1, 2, 3, 2, 1, 1, 2, 2, 2, 1, 1, 1, 0, 0, 1]
        symbols = bytes(range(sum(counts)))
        table = _huff_table(counts, symbols)
        rng = np.random.default_rng(5)
        for trial in range(200):
            data = bytes(rng.integers(0, 256, rng.integers(1, 40)))
            # 0xFF would need stuffing; keep raw for the pure-bit compare
            data = data.replace(b"\xff", b"\x7f")
            ref = self._ref_decode_huff(_BitReader, data, 0, table, 12)
            r = _BitReader(data, 0)
            got = []
            for _ in range(12):
                s = r.decode_huff(table)
                if s is None:
                    break
                got.append(s)
            assert got == ref, (trial, data.hex())

    def test_bits_matches_per_bit_reads(self):
        from map_reduce_framework_spark.operators.jpeg import _BitReader

        rng = np.random.default_rng(6)
        data = bytes(rng.integers(0, 255, 64))  # < 255: no markers
        widths = [int(w) for w in rng.integers(1, 17, 40)]
        r1, r2 = _BitReader(data, 0), _BitReader(data, 0)
        for w in widths:
            v1 = r1.bits(w)
            v2 = 0
            bad = False
            for _ in range(w):
                b = r2.bit()
                if b is None:
                    bad = True
                    break
                v2 = (v2 << 1) | b
            assert (v1 is None) == bad
            if v1 is None:
                break
            assert v1 == v2

    def test_tail_pos_rejects_garbage_before_marker(self):
        """The eager accumulator must not silently consume bytes the
        per-bit reader never touched: a stream with garbage between
        the entropy data and the marker must still be rejected."""
        from map_reduce_framework_spark.operators.jpeg import _BitReader

        # data: one byte of "entropy", one garbage byte, then RST0
        data = bytes([0b10100000, 0x55, 0xFF, 0xD0])
        r = _BitReader(data, 0)
        assert r.bits(3) == 0b101  # prefetch may pull 0x55 into acc
        assert not r.align_and_expect_rst(0)  # 0x55 is not a marker

        # without garbage the same align succeeds
        data2 = bytes([0b10100000, 0xFF, 0xD0])
        r2 = _BitReader(data2, 0)
        assert r2.bits(3) == 0b101
        assert r2.align_and_expect_rst(0)

    def test_tail_pos_unstuffs(self):
        from map_reduce_framework_spark.operators.jpeg import _BitReader

        # stuffed FF byte buffered but unconsumed: rollback crosses both
        data = bytes([0x12, 0xFF, 0x00, 0xFF, 0xD1])
        r = _BitReader(data, 0)
        assert r.bits(4) == 0x1  # fills 0x12 (and may prefetch FF00)
        r.bits(12)  # consume rest of 0x12 + the stuffed FF
        assert r.align_and_expect_rst(1)


class TestLzwIntKeyEncoder:
    def _ref_encode(self, indices: bytes, mcs: int) -> bytes:
        """The retired string-key encoder, verbatim semantics."""
        clear = 1 << mcs
        eoi = clear + 1
        out = bytearray()
        acc = nbits = 0

        def emit(code, width):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        width = mcs + 1
        next_code = eoi + 1
        emit(clear, width)
        prefix = b""
        n_data = 0
        for byte in indices:
            cur = prefix + bytes([byte])
            if cur in table:
                prefix = cur
                continue
            emit(table[prefix], width)
            n_data += 1
            if next_code < 4096:
                table[cur] = next_code
                next_code += 1
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            else:
                emit(clear, width)
                table = {bytes([i]): i for i in range(clear)}
                width = mcs + 1
                next_code = eoi + 1
                n_data = 0
            prefix = bytes([byte])
        if prefix:
            emit(table[prefix], width)
            if n_data >= 1 and next_code == (1 << width) and width < 12:
                width += 1
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    def test_byte_identical_to_string_key_form(self):
        from map_reduce_framework_spark.operators.multimodal import (
            _gif_lzw_decode,
            _gif_lzw_encode,
        )

        rng = np.random.default_rng(7)
        for mcs in (2, 4, 8):
            for n in (0, 1, 17, 800, 20_000):
                idx = bytes(rng.integers(0, 1 << mcs, n).astype(np.uint8))
                enc = _gif_lzw_encode(idx, mcs)
                assert enc == self._ref_encode(idx, mcs), (mcs, n)
                dec = _gif_lzw_decode(enc, mcs, n)
                assert dec is not None and bytes(dec) == idx
        # table-full reset path (needs > 4096 dictionary entries)
        idx = bytes((rng.integers(0, 4, 40_000) * 5 % 16).astype(np.uint8))
        assert _gif_lzw_encode(idx, 4) == self._ref_encode(idx, 4)


class TestDhashVectorized:
    def test_matches_per_pixel_loop(self):
        import map_reduce_framework_spark.operators.multimodal as MM

        rng = np.random.default_rng(3)
        for _ in range(60):
            h, w = rng.integers(9, 48, 2)
            px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            small = MM.nearest_neighbor_resize(
                px[:, :, 0], MM.DHASH_W, MM.DHASH_H
            )
            ref = 0
            for y in range(MM.DHASH_H):
                for x in range(MM.DHASH_W - 1):
                    k = y * (MM.DHASH_W - 1) + x
                    if k >= MM.DHASH_BITS:
                        break
                    if int(small[y][x]) < int(small[y][x + 1]):
                        ref |= 1 << k
            assert MM._dhash_from_pixels(px) == ref


class TestFanOutGate:
    def test_keeps_exchange_for_underparallel_input(self, spark):
        from map_reduce_framework_spark.operators.text_analysis import (
            _fan_out,
        )

        df = spark.range(100).coalesce(1)
        out = _fan_out(df)
        assert "Repartition" in out._jdf.queryExecution().logical().toString()

    def test_keeps_exchange_for_streaming_input(self, spark):
        """A streaming input has no RDD to count (Spark raises
        AnalysisException), so it keeps the unconditional exchange."""
        from map_reduce_framework_spark.operators.text_analysis import (
            _fan_out,
        )

        df = spark.readStream.format("rate").load()
        out = _fan_out(df)
        assert "Repartition" in out._jdf.queryExecution().logical().toString()

    def test_elides_exchange_for_wide_input(self, spark):
        from map_reduce_framework_spark.operators.text_analysis import (
            _fan_out,
        )
        from map_reduce_framework_spark.session import shuffle_partitions

        target = shuffle_partitions(spark.range(1))
        df = spark.range(10_000).repartition(target * 2)
        out = _fan_out(df)
        assert out is df  # no extra exchange on top

    def test_results_identical_either_way(self, spark, sf_smoke):
        from map_reduce_framework_spark.operators.text_analysis import (
            gopher_repetition_filter,
        )

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        a = gopher_repetition_filter(docs)
        rows_narrow = {tuple(r) for r in a.collect()}
        wide = docs.repartition(64)
        b = gopher_repetition_filter(wide)
        rows_wide = {tuple(r) for r in b.collect()}
        assert rows_narrow == rows_wide


class TestGopherDocIdType:
    def test_doc_id_type_preserved(self, spark):
        from pyspark.sql import functions as F
        from map_reduce_framework_spark.operators.text_analysis import (
            gopher_repetition_filter,
        )

        docs = spark.createDataFrame(
            [("a", "one two two three"), ("b", "x y z")],
            "doc_id string, text string",
        )
        out = gopher_repetition_filter(docs)
        assert dict(out.dtypes)["doc_id"] == "string"
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        assert got == {"a", "b"}
