"""Round-11 additions: the four r10 ADVICE fixes under test, and the
size-tiered compaction of the cross-epoch dedup index (VERDICT r10
ask #1 -- dedup equivalence, torn-compaction convergence, bounded
probe read set).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest


# ---------------------------------------------------------------------------
# ADVICE r10 #1: zero-token / zero-weight strata degrade to NULL like
# the oracle's `// 0`, never ZeroDivisionError
# ---------------------------------------------------------------------------


def test_mixture_plan_zero_stratum_degrades_to_null(spark):
    from map_reduce_framework_spark.operators.langid import (
        _lid_plan_from_rel,
    )

    rel = spark.createDataFrame(
        [(1, "en", 0, 0, 0)],
        "doc_id long, pred_lang string, n_tokens long, h long, b long",
    )
    rows = _lid_plan_from_rel(rel).collect()
    assert len(rows) == 1
    r = rows[0]
    # avail_tokens == 0 -> weight_q quantizes to 0 -> sum_wq == 0:
    # every division in the plan is the oracle's NULL, not a crash
    assert r["avail_tokens"] == 0 and r["weight_q"] == 0
    assert r["alloc_tokens"] is None
    assert r["full_epochs"] is None
    assert r["remainder_tokens"] is None


# ---------------------------------------------------------------------------
# ADVICE r10 #2: the sparse langid trainer is exact under ANY partition
# size -- bounded chunks + flushed partial row-groups produce the
# identical trajectory
# ---------------------------------------------------------------------------


def test_wide_trainer_invariant_under_chunk_and_flush(spark, sf_smoke):
    import map_reduce_framework_spark.operators.langid_union as LU
    from map_reduce_framework_spark.sources.io import load_table

    docs = load_table(spark, sf_smoke, "documents")
    base_rows, base_w = LU.union_train_trace(
        docs, iters=2, dim=16, word_ngrams=(1, 2)
    )
    # degenerate chunk/flush/batch sizes force many chunks per batch,
    # accumulators carried across batches and many emitted partial
    # row-groups per partition (every partition holds well over 7
    # rows); integer sums are associative, so the committed trajectory
    # must not move by a bit
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(conf_key, None)
    old_chunk, old_flush = LU._MM_CHUNK, LU._FLUSH_ROWS
    try:
        LU._MM_CHUNK, LU._FLUSH_ROWS = 3, 7
        spark.conf.set(conf_key, "5")
        chunked_rows, chunked_w = LU.union_train_trace(
            docs, iters=2, dim=16, word_ngrams=(1, 2)
        )
    finally:
        LU._MM_CHUNK, LU._FLUSH_ROWS = old_chunk, old_flush
        if old_batch is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old_batch)
    assert chunked_rows == base_rows
    assert chunked_w == base_w


# ---------------------------------------------------------------------------
# ADVICE r10 #3: SOF0 located by marker walk, decoy FF C0 bytes inside
# an earlier segment cannot be rewritten
# ---------------------------------------------------------------------------


class TestSof0Walk:
    def _stream_with_decoy(self) -> bytes:
        # SOI | COM segment whose PAYLOAD contains a literal FF C0 |
        # real SOF0 | EOI -- a raw find() hits the decoy at offset 6
        com = b"\xff\xfe" + (4).to_bytes(2, "big") + b"\xff\xc0"
        sof0 = (
            b"\xff\xc0"
            + (11).to_bytes(2, "big")
            + bytes([8])  # precision
            + (1).to_bytes(2, "big")  # height
            + (1).to_bytes(2, "big")  # width
            + bytes([1, 1, 0x11, 0])  # 1 component
        )
        return b"\xff\xd8" + com + sof0 + b"\xff\xd9"

    def test_walk_skips_decoy_inside_segment(self):
        from map_reduce_framework_spark.operators.multimodal import (
            _jpeg_sof0_offset,
        )

        payload = self._stream_with_decoy()
        decoy = payload.find(b"\xff\xc0")
        real = _jpeg_sof0_offset(payload)
        assert decoy < real  # find() WOULD have matched the decoy
        assert payload[real : real + 2] == b"\xff\xc0"
        assert payload[real + 4] == 8  # precision byte of the real SOF0

    def test_missing_sof0_raises_not_minus_one(self):
        from map_reduce_framework_spark.operators.multimodal import (
            _jpeg_sof0_offset,
        )

        with pytest.raises(ValueError):
            _jpeg_sof0_offset(b"\xff\xd8\xff\xd9")

    def test_boundary_report_still_plants_correctly(self):
        from map_reduce_framework_spark.operators.jpeg import encode_jpeg
        from map_reduce_framework_spark.operators.multimodal import (
            _jpeg_sof0_offset,
            jpeg_codec_class,
        )

        img = [[(x * 7 + y * 13) % 256 for x in range(16)] for y in range(16)]
        payload = bytearray(encode_jpeg(img, restart_interval=1))
        sof = _jpeg_sof0_offset(payload)
        payload[sof + 1] = 0xC9
        assert jpeg_codec_class(bytes(payload)) == "arithmetic"


# ---------------------------------------------------------------------------
# ADVICE r10 #4: an already-extracted drop that ALSO carries an html
# column must not be silently re-extracted
# ---------------------------------------------------------------------------


_BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while many other "
    "animals watch the field from a distance and wonder about the "
    "strange daily routine of the energetic fox"
)

#: one-word spots of _BASE_TEXT a planted near-dup may rewrite: a
#: single substitution in a 30-word text flips <= 3 of ~28 3-word
#: shingles -- jaccard ~ 0.8, comfortably over the 0.7 threshold
_SPOTS = ("quick", "lazy", "field", "distance", "daily", "energetic")


def _wave_text(i: int) -> str:
    # >= 10 tokens, digit ratio < 0.3, per-doc UNIQUE vocabulary so
    # unrelated docs share only the frame shingles (jaccard << 0.7)
    toks = " ".join(f"alpha{i}beta{j}gamma" for j in range(14))
    return f"wave document about {toks} end"


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "crawl", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_extracted_drop_with_html_column_not_reextracted(spark, tmp_path):
    from map_reduce_framework_spark.streaming.ops import stream_ingest_epoch

    source = str(tmp_path / "source")
    work = str(tmp_path / "work")
    text = _wave_text(1)
    df = _docs_df(spark, [(1, text)]).selectExpr(
        "doc_id",
        "'<html><body><p>decoy page body not the text</p></body></html>'"
        " AS html",
        "text",
        "lang",
        "source",
        "n_chars",
    )
    df.coalesce(1).write.mode("append").parquet(source)
    d0 = stream_ingest_epoch(spark, source, work)
    row = spark.read.parquet(os.path.join(d0, "input")).collect()[0]
    assert row["text"] == text  # NOT overwritten from the html column


def test_explicit_is_raw_pages_overrides_detection(spark, tmp_path):
    from map_reduce_framework_spark.operators.html_extract import (
        synth_pages,
    )
    from map_reduce_framework_spark.streaming.ops import (
        _arriving_stream,
        run_to_memory,
    )

    source = str(tmp_path / "source")
    docs = _docs_df(spark, [(1, _wave_text(2))])
    pages = synth_pages(docs)
    # plant a text column so schema detection alone would say "already
    # extracted" -- the explicit flag must win
    pages.selectExpr(
        "doc_id", "html", "'decoy' AS text", "lang", "source"
    ).coalesce(1).write.mode("append").parquet(source)
    out = run_to_memory(
        _arriving_stream(spark, source, is_raw_pages=True),
        output_mode="append",
    )
    row = out.collect()[0]
    assert row["text"] != "decoy"
    assert _wave_text(2).split()[3] in row["text"]


# ---------------------------------------------------------------------------
# VERDICT r10 ask #1: size-tiered compaction of the cross-epoch dedup
# index
# ---------------------------------------------------------------------------


def _run_waves(spark, scratch: str, waves: list, fanout: int):
    """Drive the epochal ingest over `waves` (list of row-lists) with
    the given compaction fanout; returns the per-epoch survivor sets."""
    import map_reduce_framework_spark.streaming.ops as ops

    source = os.path.join(scratch, "source")
    work = os.path.join(scratch, "work")
    old = ops.EPOCH_INDEX_FANOUT
    survivors = []
    try:
        ops.EPOCH_INDEX_FANOUT = fanout
        for rows in waves:
            _docs_df(spark, rows).coalesce(1).write.mode("append").parquet(
                source
            )
            d = ops.stream_ingest_epoch(spark, source, work)
            survivors.append(
                frozenset(
                    r["doc_id"]
                    for r in spark.read.parquet(
                        os.path.join(d, "input")
                    ).collect()
                )
                if d
                else frozenset()
            )
    finally:
        ops.EPOCH_INDEX_FANOUT = old
    return survivors


def _planted_waves(n_waves: int):
    """Wave 0 plants the original; every later wave carries one
    near-dup of the wave-0 doc (must be dropped by the cross-epoch
    probe -- even after its index entry moves into a compacted
    generation) plus one fresh doc."""
    waves = [[(1, _BASE_TEXT), (2, _wave_text(9))]]
    for k in range(1, n_waves):
        spot = _SPOTS[k % len(_SPOTS)]
        near = _BASE_TEXT.replace(spot, f"swapped{k}")
        waves.append([(100 + k, near), (200 + k, _wave_text(20 + k))])
    return waves


class TestEpochIndexCompaction:
    def test_compacted_index_equivalent_drop_set(self, spark, tmp_path):
        import map_reduce_framework_spark.streaming.ops as ops

        waves = _planted_waves(5)
        flat = _run_waves(
            spark, str(tmp_path / "flat"), waves, fanout=10_000
        )
        tiered = _run_waves(spark, str(tmp_path / "tiered"), waves, fanout=2)
        assert flat == tiered  # identical survivors, epoch by epoch
        # the planted near-dups were dropped in BOTH runs
        for k, s in enumerate(tiered[1:], 1):
            assert (100 + k) not in s and (200 + k) in s
        # compaction actually ran: generations exist, probe read set is
        # smaller than the epoch count
        work = str(tmp_path / "tiered" / "work")
        gens_root = os.path.join(work, "dedup-index")
        assert os.path.isdir(gens_root)
        gens = [n for n in os.listdir(gens_root) if n.startswith("gen-")]
        assert gens
        units = ops._live_index_units(
            work, ops._committed_epoch_dirs(work)
        )
        n_epochs = len(ops._committed_epoch_dirs(work))
        assert len(units) < n_epochs
        # invariant: accepted covers are disjoint and cover every epoch
        all_cov: list = []
        for _, _, cov, _ in units:
            all_cov.extend(cov)
        assert len(all_cov) == len(set(all_cov)) == n_epochs

    @pytest.mark.soak
    def test_torn_staging_orphaned_and_converges(self, spark, tmp_path):
        import map_reduce_framework_spark.streaming.ops as ops

        waves = _planted_waves(3)
        scratch = str(tmp_path / "run")
        survivors = _run_waves(spark, scratch, waves[:2], fanout=2)
        work = os.path.join(scratch, "work")
        # simulate a crash mid-compaction: a torn staging dir with junk
        gens_root = os.path.join(work, "dedup-index")
        os.makedirs(gens_root, exist_ok=True)
        torn = os.path.join(gens_root, "gen-00099.staging")
        os.makedirs(os.path.join(torn, "bands"), exist_ok=True)
        with open(os.path.join(torn, "junk"), "w") as fh:
            fh.write("torn")
        survivors += _run_waves(
            spark, scratch, waves[2:], fanout=2
        )
        assert not os.path.isdir(torn)  # orphaned on re-entry
        # and the planted wave-2 near-dup still dropped
        assert 102 not in survivors[-1] and 202 in survivors[-1]

    @pytest.mark.soak
    def test_superseded_generation_skipped_then_gced(self, spark, tmp_path):
        import map_reduce_framework_spark.streaming.ops as ops

        scratch = str(tmp_path / "run")
        # 4 epochs at fanout 2 end in one tier-2 generation whose merge
        # inputs were GENERATIONS (gen-00000/gen-00001) -- the state a
        # crash between its commit rename and the input delete leaves
        _run_waves(spark, scratch, _planted_waves(4), fanout=2)
        work = os.path.join(scratch, "work")
        gens_root = os.path.join(work, "dedup-index")
        gens = sorted(
            n
            for n in os.listdir(gens_root)
            if n.startswith("gen-") and not n.endswith(".staging")
        )
        assert gens
        newest = os.path.join(gens_root, gens[-1])
        with open(os.path.join(newest, "covers.json")) as fh:
            newest_covers = set(json.load(fh)["covers"])
        assert len(newest_covers) >= 2
        # resurrect a merge input: an older-seq generation whose covers
        # are a strict subset of the newest one's
        newest_seq = int(gens[-1].split("-")[1])
        stale = os.path.join(gens_root, f"gen-{newest_seq - 1:05d}")
        assert not os.path.isdir(stale)
        shutil.copytree(newest, stale)
        with open(os.path.join(stale, "covers.json"), "w") as fh:
            json.dump(
                {"tier": 1, "covers": sorted(newest_covers)[:1]}, fh
            )
        units = ops._live_index_units(
            work, ops._committed_epoch_dirs(work)
        )
        assert stale not in [u[0] for u in units]  # skipped at read
        ops._compact_epoch_index(spark, work)
        assert not os.path.isdir(stale)  # garbage-collected

    @pytest.mark.soak
    def test_compaction_not_triggered_below_fanout(self, spark, tmp_path):
        import map_reduce_framework_spark.streaming.ops as ops

        _run_waves(spark, str(tmp_path / "run"), _planted_waves(3), fanout=8)
        work = str(tmp_path / "run" / "work")
        # below fanout: no generations, every epoch index dir live
        assert not os.path.isdir(os.path.join(work, "dedup-index"))
        units = ops._live_index_units(
            work, ops._committed_epoch_dirs(work)
        )
        assert len(units) == 3 and all(not u[3] for u in units)

    def test_probe_read_set_logarithmic(self, spark, tmp_path):
        import map_reduce_framework_spark.streaming.ops as ops

        waves = [
            [(1000 + i, _wave_text(30 + i * 7))] for i in range(6)
        ]
        _run_waves(spark, str(tmp_path / "run"), waves, fanout=2)
        work = str(tmp_path / "run" / "work")
        units = ops._live_index_units(
            work, ops._committed_epoch_dirs(work)
        )
        # 6 epochs at fanout 2 -> at most fanout-1 units per tier over
        # ceil(log2(6))+1 tiers; concretely far fewer dirs than epochs
        assert len(units) <= 3, [u[0] for u in units]


# ---------------------------------------------------------------------------
# VERDICT r10 ask #2: the codec boundary extended to CONTAINERS --
# mp4 stsd sample formats, AVI stream fourcc, WAV format tag, all by
# header walk, counted never decoded
# ---------------------------------------------------------------------------


class TestMediaBoundary:
    def _frame(self):
        from map_reduce_framework_spark.operators import multimodal as mm

        return mm._md5_quad_frames("media boundary", n_frames=1)[0]

    def test_mp4_sample_formats_classified(self):
        from map_reduce_framework_spark.operators import multimodal as mm

        p = mm.encode_mp4([self._frame()], codec="jpeg")
        assert mm.media_codec_class(p) == ("mp4", "jpeg", True)
        praw = mm.encode_mp4([self._frame()], codec="raw")
        assert mm.media_codec_class(praw) == ("mp4", "raw ", True)
        for fcc in (b"avc1", b"hev1", b"vp09"):
            b = bytearray(p)
            off = mm._mp4_stsd_fmt_offset(b)
            b[off : off + 4] = fcc
            got = mm.media_codec_class(bytes(b))
            assert got == ("mp4", fcc.decode(), False)
            # the planted stream is exactly what decode rejects
            assert mm.decode_mp4_frames(bytes(b)) is None

    def test_stsd_offset_is_box_walked_not_byte_searched(self):
        from map_reduce_framework_spark.operators import multimodal as mm

        p = mm.encode_mp4([self._frame()], codec="jpeg")
        off = mm._mp4_stsd_fmt_offset(p)
        # the walked offset names the stsd entry inside moov (which
        # this writer emits AFTER mdat) -- a raw byte search for the
        # fourcc could hit ftyp/mdat bytes first
        assert bytes(p[off : off + 4]) == b"jpeg"
        assert bytes(p).find(b"jpeg") <= off

    def test_avi_and_wav_offsets(self):
        import hashlib

        from map_reduce_framework_spark.operators import multimodal as mm
        from map_reduce_framework_spark.operators.audio import (
            decode_wav,
            encode_wav,
        )

        avi = mm.encode_avi([self._frame()], codec="MJPG")
        assert mm.media_codec_class(avi) == ("avi", "MJPG", True)
        b = bytearray(avi)
        h, c = mm._avi_vids_offsets(b)
        b[h : h + 4] = b"XVID"
        b[c : c + 4] = b"XVID"
        assert mm.media_codec_class(bytes(b)) == ("avi", "XVID", False)
        # NOTE: decode_avi_frames sniffs CHUNK CONTENT (JPEG magic /
        # DIB header), so this mislabeled-but-MJPG-bytes container
        # still decodes -- the report counts by DECLARED codec, which
        # is the data-card contract; a real XVID stream's chunk bytes
        # are neither JPEG nor DIB and are rejected:
        xvid_chunkish = bytes(b).replace(b"\xff\xd8", b"\x00\x01")
        assert mm.decode_avi_frames(xvid_chunkish) is None
        dib = mm.encode_avi([self._frame()], codec="DIB")
        assert mm.media_codec_class(dib) == ("avi", "DIB ", True)

        wav = encode_wav(
            [(x - 128) * 256 for x in hashlib.md5(b"clip").digest()]
        )
        assert mm.media_codec_class(wav) == ("wav", "pcm", True)
        w = bytearray(wav)
        off = mm._wav_fmt_tag_offset(w)
        w[off : off + 2] = (0x55).to_bytes(2, "little")
        assert mm.media_codec_class(bytes(w)) == ("wav", "mpeg", False)
        assert decode_wav(bytes(w)) is None  # decoder rejects non-PCM

    def test_unrecognized_payloads_are_none(self):
        from map_reduce_framework_spark.operators import multimodal as mm

        for junk in (b"", b"garbage", b"RIFF\x04\x00\x00\x00AVI "):
            assert mm.media_codec_class(junk) is None

    def test_registered_report_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.operators import multimodal as mm
        from map_reduce_framework_spark.sources.io import load_table

        from .oracle_util import compare_to_oracle, duckdb_conn

        docs = load_table(spark, sf_smoke, "documents")
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(
                mm.media_boundary_report(docs),
                con,
                mm.ORACLE_SQL["media_boundary_report"],
            )


# ---------------------------------------------------------------------------
# VERDICT r10 ask #3: arithmetic-coded sequential JPEG (SOF9) -- the
# T.81 Annex D QM-coder; the engine's last NotImplementedError falls
# ---------------------------------------------------------------------------


class TestArithmeticJpeg:
    def test_sof9_pixel_exact_vs_sof0_twin(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        img = np.array(
            [[(x * 7 + y * 13) % 256 for x in range(37)] for y in range(29)],
            dtype=np.uint8,
        )
        p0 = decode_jpeg_pixels(encode_jpeg(img))
        p9 = decode_jpeg_pixels(encode_jpeg_arith(img))
        assert p9 is not None
        assert np.array_equal(p0, p9)

    def test_color_subsampling_and_restarts(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        g = np.array(
            [[(x * 3 + y * 11) % 256 for x in range(24)] for y in range(18)],
            dtype=np.uint8,
        )
        rgb = np.stack(
            [(g * 3) % 256, (g * 5) % 256, (g * 7) % 256], axis=-1
        ).astype(np.uint8)
        for kwargs in (
            {},
            {"subsample_420": True},
            {"restart_interval": 1},
            {"subsample_420": True, "restart_interval": 2},
        ):
            a = decode_jpeg_pixels(encode_jpeg(rgb, **kwargs))
            b = decode_jpeg_pixels(encode_jpeg_arith(rgb, **kwargs))
            assert b is not None, kwargs
            assert np.array_equal(a, b), kwargs

    def test_qm_coder_roundtrip_fuzz(self):
        """Hypothesis fuzz over the raw QM entropy coder: any bit
        string under any context sequence round-trips exactly."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.jpeg_arith import (
            _ArithDecoder,
            _ArithEncoder,
        )

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(0, 1), st.integers(0, 15)
                ),
                min_size=1,
                max_size=600,
            )
        )
        def run(seq):
            st_e = bytearray(16)
            enc = _ArithEncoder()
            for bit, ctx in seq:
                enc.encode(st_e, ctx, bit)
            data = enc.flush() + b"\xff\xd9"
            st_d = bytearray(16)
            dec = _ArithDecoder(data, 0)
            got = [dec.decode(st_d, ctx) for _, ctx in seq]
            assert got == [bit for bit, _ in seq]
            # statistics trajectories converge identically too
            assert st_e == st_d

        run()

    def test_image_roundtrip_fuzz(self):
        """Hypothesis fuzz over the full codec: random small images
        decode pixel-exact equal through SOF0 and SOF9 (shared DCT +
        all-ones quant: the entropy layer is the only moving part)."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(1, 20),
            st.integers(1, 20),
            st.integers(0, 2**32 - 1),
        )
        def run(h, w, seed):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
            a = decode_jpeg_pixels(encode_jpeg(img))
            b = decode_jpeg_pixels(encode_jpeg_arith(img))
            assert b is not None
            assert np.array_equal(a, b)

        run()

    def test_rejected_set_and_residual_boundary(self):
        """After the round's boundary closures (sequential + 12-bit +
        progressive arithmetic) the rejected residue is: 12-bit on
        8-bit-only decode paths, and the lossless/differential
        family."""
        from map_reduce_framework_spark.operators import multimodal as mm
        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        assert mm.CODEC_REJECTED_CLASSES == ("twelve_bit", "other")
        img = [[(x + y) % 256 for x in range(16)] for y in range(16)]
        # 12-bit on SOF0 (baseline is 8-bit-only by spec): rejected
        p = bytearray(encode_jpeg(img))
        i = bytes(p).find(b"\xff\xc0")
        p[i + 4] = 12
        assert mm.jpeg_codec_class(bytes(p)) == "twelve_bit"
        assert decode_jpeg_pixels(bytes(p)) is None
        # arithmetic lossless (SOF11) stays 'other'
        q = bytearray(encode_jpeg_arith(img))
        j = bytes(q).find(b"\xff\xc9")
        q[j + 1] = 0xCB
        assert mm.jpeg_codec_class(bytes(q)) == "other"
        assert decode_jpeg_pixels(bytes(q)) is None

    def test_registered_roundtrip_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        q = REGISTRY["jpeg_arith_roundtrip"]
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)


# ---------------------------------------------------------------------------
# VERDICT r10 ask #4: FLAC decode -- constant/verbatim/fixed + Rice,
# LPC as the counted boundary
# ---------------------------------------------------------------------------


class TestFlac:
    def test_roundtrip_families(self):
        import numpy as np

        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        import random

        rng = random.Random(11)
        cases = [
            [0] * 50,
            [7] * 16,
            [rng.randint(-32768, 32767) for _ in range(300)],
            [int(2000 * np.sin(i / 7)) for i in range(5000)],
            [rng.randint(-50, 50) for _ in range(4097)],
            [5],
            [-32768, 32767] * 33,
        ]
        for s in cases:
            got = decode_flac(encode_flac(s))
            assert got is not None
            dec, rate, ch = got
            assert rate == 8000 and ch == 1
            assert np.array_equal(dec, np.asarray(s, dtype="<i2"))

    def test_fuzz_roundtrip_and_total_decode(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        @settings(max_examples=60, deadline=None)
        @given(
            st.lists(
                st.integers(-32768, 32767), min_size=1, max_size=400
            )
        )
        def roundtrip(s):
            dec, rate, ch = decode_flac(encode_flac(s))
            assert np.array_equal(dec, np.asarray(s, dtype="<i2"))

        roundtrip()

        @settings(max_examples=80, deadline=None)
        @given(st.binary(max_size=200))
        def total(junk):
            decode_flac(b"fLaC" + junk)  # must never raise

        total()

    def test_crc_and_md5_guards(self):
        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        p = bytearray(encode_flac(list(range(-100, 100))))
        p[-3] ^= 0x10  # flip a bit inside the last frame
        assert decode_flac(bytes(p)) is None
        q = bytearray(encode_flac(list(range(-100, 100))))
        q[20] ^= 0x01  # corrupt the STREAMINFO md5 itself
        assert decode_flac(bytes(q)) is None

    def test_lpc_decodes_and_reserved_is_the_boundary(self):
        """LPC joined the decodable set (order, precision, shift,
        signed coefficients, arithmetic-shift prediction round-trip);
        RESERVED subframe types are the remaining counted boundary."""
        import numpy as np

        from map_reduce_framework_spark.operators.flac import (
            _first_subframe_offset,
            decode_flac,
            encode_flac,
            flac_subframe_class,
        )
        from map_reduce_framework_spark.operators.multimodal import (
            media_codec_class,
        )

        s = [int(900 * np.sin(i / 6)) for i in range(200)]
        p = encode_flac(s, mode="lpc")
        assert flac_subframe_class(p) == "lpc"
        assert media_codec_class(p) == ("flac", "lpc", True)
        dec, _, _ = decode_flac(p)
        assert np.array_equal(dec, np.asarray(s, dtype="<i2"))
        # a reserved subframe type is the honest boundary
        q = bytearray(encode_flac([100] * 32))
        assert media_codec_class(bytes(q)) == ("flac", "constant", True)
        q[_first_subframe_offset(q)] = 0x04  # type 2: reserved
        assert flac_subframe_class(bytes(q)) == "reserved"
        assert media_codec_class(bytes(q)) == ("flac", "reserved", False)
        assert decode_flac(bytes(q)) is None

    def test_registered_flac_lpc_features_oracle_parity(
        self, spark, sf_smoke
    ):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        q = REGISTRY["audio_features_flac_lpc"]
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)

    def test_flac_wav_duplicate_caught_by_fingerprint_pairs(self, spark):
        """A FLAC re-encoding of a WAV clip is a payload-level
        duplicate: the shared decode_audio dispatcher lands both in
        the same fingerprint space and the pair join catches them."""
        from pyspark.sql import functions as F

        from map_reduce_framework_spark.operators.audio import (
            AUDIO_FP_MIN,
            _doc_samples,
            audio_fingerprints_from_payloads,
            encode_wav,
        )
        from map_reduce_framework_spark.operators.flac import encode_flac

        toks = [f"tok{i}" for i in range(12)]
        clip = _doc_samples(toks)
        other = _doc_samples([f"else{i}" for i in range(12)])
        rows = [
            (1, bytearray(encode_wav(clip))),
            (2, bytearray(encode_flac(clip))),  # cross-codec duplicate
            (3, bytearray(encode_flac(other))),
            (4, bytearray(b"not audio at all")),  # skipped, not crashed
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fps = audio_fingerprints_from_payloads(df)
        a, b = fps.alias("a"), fps.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                "a.fp",
            )
            .distinct()
            .groupBy("doc_a", "doc_b")
            .count()
            .where(F.col("count") >= AUDIO_FP_MIN)
            .collect()
        )
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}

    def test_registered_flac_features_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        q = REGISTRY["audio_features_flac"]
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)


# ---------------------------------------------------------------------------
# VERDICT r10 ask #6: fastText-regime union features (char + word
# n-grams) over the sparse pipeline at DIM=65536
# ---------------------------------------------------------------------------


def _independent_union_trace(rows, dim, iters, lr, char_ngram, word_ngrams):
    """Pure-Python twin of langid_union.union_train_trace: dicts and
    CPython floats only -- no Spark, no numpy. Bit-for-bit equality
    pins the distributed trainer's quantized trajectory."""
    import hashlib as _h
    import math as _m

    from map_reduce_framework_spark.operators.langid import (
        LID_LANGS,
        LID_SEED,
        _S,
    )

    def bucket(f):
        return int(
            _h.md5(f"{LID_SEED}:{f}".encode()).hexdigest()[:15], 16
        ) % dim

    feats = []
    for _doc_id, lang, text in rows:
        t = text or ""
        counts: dict = {}
        total = 0
        for i in range(max(len(t) - (char_ngram - 1), 0)):
            b = bucket(t[i : i + char_ngram])
            counts[b] = counts.get(b, 0) + 1
            total += 1
        toks = t.split()
        for n in word_ngrams:
            for i in range(max(len(toks) - (n - 1), 0)):
                b = bucket(f"w{n}:" + " ".join(toks[i : i + n]))
                counts[b] = counts.get(b, 0) + 1
                total += 1
        x = {dim: _S}
        if total:
            for b in sorted(counts):
                q = _m.floor((counts[b] / total) * 1.0e6 + 0.5)
                if q:
                    x[b] = q
        feats.append((lang, x))
    w = {l: {} for l in LID_LANGS}
    trace = []
    for t_i in range(1, iters + 1):
        for l in LID_LANGS:
            g: dict = {}
            nll = 0
            for lang, x in feats:
                dot = sum(v * w[l].get(j, 0) for j, v in x.items())
                z = float(dot) / 1.0e12
                pq = _m.floor(float(_S) / (1.0 + _m.exp(-z)) + 0.5)
                y = _S if lang == l else 0
                for j, v in x.items():
                    g[j] = g.get(j, 0) + (pq - y) * v
                pc = float(min(max(pq, 1), _S - 1)) / 1.0e6
                nll += _m.floor(
                    -_m.log(pc if lang == l else 1.0 - pc) * 1.0e6 + 0.5
                )
            n = len(feats)
            for j, gv in g.items():
                upd = _m.floor(float(gv) * lr / (float(n) * 1e6) + 0.5)
                if upd:
                    w[l][j] = w[l].get(j, 0) - upd
            trace.append((t_i, l, float(nll) / (float(n) * 1e6)))
    return trace, w


class TestUnionLangid:
    @pytest.mark.parametrize(
        "dim,word_ngrams",
        [(1024, (1, 2)), (32, ())],
        ids=["union_dim1024", "char_only_dim32"],
    )
    def test_bit_for_bit_vs_independent_python_twin(
        self, spark, sf_smoke, dim, word_ngrams
    ):
        import map_reduce_framework_spark.operators.langid_union as LU
        from map_reduce_framework_spark.sources.io import load_table

        docs = load_table(spark, sf_smoke, "documents").limit(30)
        rows = [
            (r["doc_id"], r["lang"], r["text"])
            for r in docs.select("doc_id", "lang", "text").collect()
        ]
        got_rows, got_w = LU.union_train_trace(
            docs, iters=2, dim=dim, word_ngrams=word_ngrams
        )
        exp_rows, exp_w = _independent_union_trace(
            rows, dim, 2, 4.0, 3, word_ngrams
        )
        assert got_rows == exp_rows
        for l in exp_w:
            dense = got_w[l]
            sparse = {j: v for j, v in enumerate(dense) if v}
            assert sparse == {j: v for j, v in exp_w[l].items() if v}

    def test_registered_contract_at_65536(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        out = REGISTRY["langid_scores_wide_union"].fn(spark, sf_smoke)
        rows = out.collect()
        assert len(rows) == 500
        assert set(out.columns) == {
            "doc_id",
            "labeled_lang",
            "pred_lang",
            "confidence",
            "margin_q6",
        }
        assert all(r["margin_q6"] >= 0 for r in rows)

    def test_word_bigrams_separate_confusable_pair(self, spark):
        """The corpus char-3-grams cannot separate: two 'languages'
        built from the SAME word multiset in language-specific ORDER,
        with every word shaped x...x so all junction trigrams are
        identical. Word bigrams separate perfectly."""
        import map_reduce_framework_spark.operators.langid_union as LU

        words = [f"x{w}x" for w in ("aa", "bb", "cc", "dd", "ee", "ff")]
        rows = []
        doc_id = 0
        for k in range(24):
            rot = k % 6
            seq = words[rot:] + words[:rot]
            rows.append((doc_id, " ".join(seq), "en"))
            doc_id += 1
            rows.append((doc_id, " ".join(seq[::-1]), "de"))
            doc_id += 1
        docs = spark.createDataFrame(
            [(i, t, l, "src", len(t)) for i, t, l in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        char_only = LU.langid_scores_wide_union(
            docs, iters=8, dim=4096, word_ngrams=()
        ).collect()
        union = LU.langid_scores_wide_union(
            docs, iters=8, dim=4096, word_ngrams=(1, 2)
        ).collect()

        def acc(rs):
            return sum(
                1 for r in rs if r["pred_lang"] == r["labeled_lang"]
            ) / len(rs)

        assert acc(union) == 1.0
        assert acc(char_only) <= 0.6  # chance-level by construction


# ---------------------------------------------------------------------------
# VERDICT r10 ask #5: the raw-HTML EPOCH leg's registered twin already
# ships (r10's shard_epoch_ledger feeds synth_pages through
# stream_ingest_epoch and its oracle re-derives extraction); what was
# missing is the kill-resume proof AT THE EXTRACT BOUNDARY -- crash
# after the ingest sink committed the extracted wave but before any
# epoch work. Re-entry must converge to the identical epoch.
# ---------------------------------------------------------------------------


class TestHtmlEpochKillResume:
    def _pages(self, spark, rows):
        from map_reduce_framework_spark.operators.html_extract import (
            synth_pages,
        )

        return synth_pages(_docs_df(spark, rows))

    def _epoch_fingerprint(self, spark, d):
        rows = spark.read.parquet(os.path.join(d, "input")).collect()
        return sorted(
            (r["doc_id"], r["text"], r["n_chars"]) for r in rows
        )

    def test_crash_after_extract_drain_converges(self, spark, tmp_path):
        from map_reduce_framework_spark.operators.text_analysis import (
            quality_keep_expr,
        )
        from map_reduce_framework_spark.streaming.ops import (
            _arriving_stream,
            stream_ingest_epoch,
        )

        wave1 = [(1, _wave_text(40)), (2, _wave_text(41))]
        wave2 = [(11, _wave_text(42)), (12, _wave_text(43))]

        # run A: uninterrupted two-wave HTML ingest
        src_a = str(tmp_path / "a" / "source")
        work_a = str(tmp_path / "a" / "work")
        self._pages(spark, wave1).coalesce(1).write.mode("append").parquet(
            src_a
        )
        stream_ingest_epoch(spark, src_a, work_a)
        self._pages(spark, wave2).coalesce(1).write.mode("append").parquet(
            src_a
        )
        ea1 = stream_ingest_epoch(spark, src_a, work_a)

        # run B: wave 1 normal; wave 2 CRASHES at the extract boundary
        # -- the ingest stream (extraction is stage 0 inside it) has
        # drained and committed to the sink's _spark_metadata, but no
        # epoch work has run
        src_b = str(tmp_path / "b" / "source")
        work_b = str(tmp_path / "b" / "work")
        self._pages(spark, wave1).coalesce(1).write.mode("append").parquet(
            src_b
        )
        stream_ingest_epoch(spark, src_b, work_b)
        self._pages(spark, wave2).coalesce(1).write.mode("append").parquet(
            src_b
        )
        # the drain leg alone (verbatim from stream_ingest_epoch),
        # then "crash"
        kept = _arriving_stream(spark, src_b).filter(quality_keep_expr())
        q = (
            kept.writeStream.format("parquet")
            .option("path", os.path.join(work_b, "ingest"))
            .option(
                "checkpointLocation", os.path.join(work_b, "ingest-ckpt")
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # re-entry finishes exactly one epoch with the same content
        eb1 = stream_ingest_epoch(spark, src_b, work_b)
        assert eb1 and eb1.endswith("epoch-00001")
        assert self._epoch_fingerprint(
            spark, eb1
        ) == self._epoch_fingerprint(spark, ea1)
        # extraction really ran in-stream: the committed text is the
        # extracted body, not HTML
        row = spark.read.parquet(os.path.join(eb1, "input")).collect()[0]
        assert "<" not in row["text"]
        # and nothing is left to ingest: a third call is a no-op
        assert stream_ingest_epoch(spark, src_b, work_b) is None


# ---------------------------------------------------------------------------
# Round-11 review findings (self-review of the round's diff)
# ---------------------------------------------------------------------------


def test_codec_class_total_on_truncated_sof():
    """Review finding 1: a SOF segment whose body ends exactly at the
    stream end (seg_len == 2) must classify None, not IndexError."""
    from map_reduce_framework_spark.operators.multimodal import (
        jpeg_codec_class,
    )

    for marker in (0xC0, 0xC9, 0xC2):
        payload = b"\xff\xd8" + bytes([0xFF, marker]) + (2).to_bytes(2, "big")
        assert jpeg_codec_class(payload) is None


def test_flac_encoder_covers_all_decoder_rates():
    """Review finding 2: every rate the decoder accepts must encode --
    dedicated 4-bit codes, 16-bit Hz, and 16-bit Hz*10 fallbacks."""
    import numpy as np

    from map_reduce_framework_spark.operators.flac import (
        _RATE_CODES,
        decode_flac,
        encode_flac,
    )

    s = list(range(-50, 50))
    for rate in sorted(_RATE_CODES.values()) + [11025, 44100, 96000, 655350]:
        dec, got_rate, _ = decode_flac(encode_flac(s, rate))
        assert got_rate == rate, rate
        assert np.array_equal(dec, np.asarray(s, dtype="<i2"))
    with pytest.raises(ValueError):
        encode_flac(s, 655351)  # not 4-bit-coded, >16-bit, not /10


@pytest.mark.soak
def test_probe_respects_prev_dirs_bound_after_compaction(spark, tmp_path):
    """Review finding 3: a caller probing a SUBSET of committed epochs
    must not see later epochs folded in via compacted generations."""
    import map_reduce_framework_spark.streaming.ops as ops

    scratch = str(tmp_path / "run")
    _run_waves(spark, scratch, _planted_waves(5), fanout=2)
    work = os.path.join(scratch, "work")
    all_dirs = ops._committed_epoch_dirs(work)
    assert len(all_dirs) == 5
    # full bound: generations accepted, covers partition all epochs
    full = ops._live_index_units(work, all_dirs)
    assert any(u[3] for u in full)
    covered_full = set().union(*[u[2] for u in full])
    assert covered_full == {os.path.basename(d) for d in all_dirs}
    # subset bound: only the first epoch -- no generation covers a
    # subset of it, so the unit set must be exactly its own index dir
    sub = ops._live_index_units(work, all_dirs[:1])
    assert len(sub) == 1 and not sub[0][3]
    assert sub[0][2] == {os.path.basename(all_dirs[0])}
    # empty bound: nothing
    assert ops._live_index_units(work, []) == []


# ---------------------------------------------------------------------------
# 12-bit JPEG on its legal sequential carriers (round-11 closing
# addition: the r10 "what's missing" #2 tail beyond the asked-for
# arithmetic decode)
# ---------------------------------------------------------------------------


class TestTwelveBitJpeg:
    def test_sof1_and_sof9_twelve_bit_roundtrip(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        img12 = np.array(
            [[(x * 131 + y * 257) % 4096 for x in range(24)]
             for y in range(18)],
            dtype=np.int32,
        )
        huff = decode_jpeg_pixels(encode_jpeg(img12, precision=12))
        arith = decode_jpeg_pixels(encode_jpeg_arith(img12, precision=12))
        assert huff is not None and arith is not None
        # entropy layers agree bit-for-bit on the decoded pixels, and
        # track the source within DCT rounding at 8-bit scale
        assert np.array_equal(huff, arith)
        assert (
            np.abs(huff[:, :, 0].astype(int) - (img12 >> 4)).max() <= 1
        )

    def test_quadrant_constant_content_exact(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )

        img12 = np.empty((16, 16), dtype=np.int32)
        for qi, (ys, xs) in enumerate(
            ((slice(0, 8), slice(0, 8)), (slice(0, 8), slice(8, 16)),
             (slice(8, 16), slice(0, 8)), (slice(8, 16), slice(8, 16)))
        ):
            img12[ys, xs] = (37 + qi * 53) * 16
        px = decode_jpeg_pixels(
            encode_jpeg(img12, precision=12, restart_interval=1)
        )
        assert (px[:, :, 0] == (img12 >> 4).astype(np.uint8)).all()

    def test_boundary_semantics(self):
        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm
        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )

        img12 = np.full((8, 8), 1234, dtype=np.int32)
        p = encode_jpeg(img12, precision=12)
        assert mm.jpeg_codec_class(p) == "extended"
        assert "extended" not in mm.CODEC_REJECTED_CLASSES
        # 12-bit on an 8-bit-only process stays rejected
        f = bytearray(encode_jpeg(np.full((8, 8), 99, dtype=np.uint8)))
        i = bytes(f).find(b"\xff\xc0")
        f[i + 4] = 12
        assert mm.jpeg_codec_class(bytes(f)) == "twelve_bit"
        assert decode_jpeg_pixels(bytes(f)) is None
        # color at 12-bit is an encoder-side guard
        rgb = np.zeros((8, 8, 3), dtype=np.int32)
        rgb[:, :, 1] = 9
        with pytest.raises(ValueError):
            encode_jpeg(rgb, precision=12)

    def test_twelve_bit_image_fuzz(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        @settings(max_examples=15, deadline=None)
        @given(
            st.integers(1, 16), st.integers(1, 16),
            st.integers(0, 2**32 - 1),
        )
        def run(h, w, seed):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 4096, size=(h, w)).astype(np.int32)
            a = decode_jpeg_pixels(encode_jpeg(img, precision=12))
            b = decode_jpeg_pixels(encode_jpeg_arith(img, precision=12))
            assert a is not None and b is not None
            assert np.array_equal(a, b)

        run()

    def test_registered_roundtrip_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        q = REGISTRY["jpeg_12bit_roundtrip"]
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)


# ---------------------------------------------------------------------------
# Stereo FLAC + IEEE-float WAV (round-11 closing additions)
# ---------------------------------------------------------------------------


class TestStereoFlacAndFloatWav:
    def test_all_four_stereo_modes_lossless(self):
        import random

        import numpy as np

        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac_stereo,
        )

        rng = random.Random(21)
        L = [rng.randint(-32768, 32767) for _ in range(900)]
        R = [
            max(-32768, min(32767, int(0.6 * l) + rng.randint(-90, 90)))
            for l in L
        ]
        for mode in ("independent", "left_side", "right_side", "mid_side"):
            ch0, rate, nch = decode_flac(
                encode_flac_stereo(L, R, mode=mode)
            )
            assert nch == 2 and rate == 8000
            # channel 0 exact; the STREAMINFO MD5 over the INTERLEAVED
            # bytes (verified inside decode) proves channel 1 too
            assert np.array_equal(ch0, np.asarray(L, dtype="<i2")), mode

    def test_extreme_side_values_17_bits(self):
        import numpy as np

        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac_stereo,
        )

        L, R = [32767, -32768] * 40, [-32768, 32767] * 40
        for mode in ("left_side", "right_side", "mid_side"):
            ch0, _, _ = decode_flac(encode_flac_stereo(L, R, mode=mode))
            assert np.array_equal(ch0, np.asarray(L, dtype="<i2")), mode

    def test_stereo_fuzz(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.flac import (
            decode_flac,
            encode_flac_stereo,
        )

        @settings(max_examples=40, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(-32768, 32767),
                    st.integers(-32768, 32767),
                ),
                min_size=1,
                max_size=300,
            ),
            st.sampled_from(
                ["independent", "left_side", "right_side", "mid_side"]
            ),
        )
        def run(pairs, mode):
            L = [a for a, _ in pairs]
            R = [b for _, b in pairs]
            ch0, _, nch = decode_flac(encode_flac_stereo(L, R, mode=mode))
            assert nch == 2
            assert np.array_equal(ch0, np.asarray(L, dtype="<i2"))

        run()

    def test_float_wav_exact_and_classified(self):
        import random

        import numpy as np

        from map_reduce_framework_spark.operators.audio import (
            decode_audio,
            encode_wav,
            encode_wav_float,
        )
        from map_reduce_framework_spark.operators.multimodal import (
            media_codec_class,
        )

        rng = random.Random(31)
        s = [rng.randint(-32768, 32767) for _ in range(500)]
        a = decode_audio(encode_wav(s))[0]
        b = decode_audio(encode_wav_float(s))[0]
        assert np.array_equal(a, b)  # float re-encode is lossless
        assert media_codec_class(encode_wav_float(s)) == (
            "wav",
            "float",
            True,
        )

    def test_stereo_flac_copy_of_mono_clip_fingerprint_match(self, spark):
        """A stereo FLAC whose left channel is a known mono clip is a
        duplicate the fingerprint pair join must catch -- the 100 TB
        dedup story across container/channel re-encodings."""
        from pyspark.sql import functions as F

        from map_reduce_framework_spark.operators.audio import (
            AUDIO_FP_MIN,
            _doc_samples,
            audio_fingerprints_from_payloads,
            encode_wav,
        )
        from map_reduce_framework_spark.operators.flac import (
            encode_flac_stereo,
        )

        clip = _doc_samples([f"tok{i}" for i in range(12)])
        rows = [
            (1, bytearray(encode_wav(clip))),
            (
                2,
                bytearray(
                    encode_flac_stereo(
                        clip, list(clip)[::-1], mode="mid_side"
                    )
                ),
            ),
            (3, bytearray(encode_wav(_doc_samples(["other"] * 10)))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fps = audio_fingerprints_from_payloads(df)
        a, b = fps.alias("a"), fps.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id", "a.fp")
            .distinct()
            .groupBy("a.doc_id", "b.doc_id")
            .count()
            .where(F.col("count") >= AUDIO_FP_MIN)
            .collect()
        )
        assert {(r[0], r[1]) for r in pairs} == {(1, 2)}

    def test_registered_twins_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        for name in ("audio_features_flac_ms", "audio_features_wav_float"):
            q = REGISTRY[name]
            with duckdb_conn(sf_smoke) as con:
                compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)


# ---------------------------------------------------------------------------
# PNG completion (round-11 closing addition): every legal bit depth
# (1/2/4/8/16) and Adam7 interlace
# ---------------------------------------------------------------------------


def _make_png(samples, color_type, depth, interlace=0, plte=None, up=False):
    """Spec-conformant PNG writer for tests: packs samples at the
    given depth (MSB-first sub-byte, big-endian 16-bit), optional
    Adam7 pass split, filter 0 rows (or alternating Up filters with
    ``up=True`` to exercise the unfilter path per pass)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = samples.shape

    def chunk(t, d):
        return (
            len(d).to_bytes(4, "big")
            + t
            + d
            + zlib.crc32(t + d).to_bytes(4, "big")
        )

    def pack_rows(sub):
        out = bytearray()
        ph = sub.shape[0]
        prev = None
        for y in range(ph):
            vals = [int(v) for v in sub[y].reshape(-1)]
            if depth == 8:
                row = bytes(v & 0xFF for v in vals)
            elif depth == 16:
                row = b"".join(v.to_bytes(2, "big") for v in vals)
            else:
                bits = []
                for v in vals:
                    bits.extend(
                        (v >> (depth - 1 - j)) & 1 for j in range(depth)
                    )
                while len(bits) % 8:
                    bits.append(0)
                row = bytes(
                    sum(b << (7 - k) for k, b in enumerate(bits[i : i + 8]))
                    for i in range(0, len(bits), 8)
                )
            if up and y % 2:
                filt = bytes(
                    (row[i] - prev[i]) & 0xFF for i in range(len(row))
                )
                out += b"\x02" + filt
            else:
                out += b"\x00" + row
            prev = row
        return bytes(out)

    from map_reduce_framework_spark.operators.multimodal import _ADAM7

    if interlace == 0:
        raw = pack_rows(samples)
    else:
        raw = b"".join(
            pack_rows(samples[y0::ys, x0::xs])
            for x0, y0, xs, ys in _ADAM7
            if samples[y0::ys, x0::xs].shape[0]
            and samples[y0::ys, x0::xs].shape[1]
        )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


class TestPngCompletion:
    _PAL = [10, 20, 30, 200, 100, 50, 0, 255, 0, 5, 5, 5]

    def test_sub_byte_gray_depths(self):
        import numpy as np

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        rng = np.random.RandomState(1)
        for depth in (1, 2, 4):
            g = rng.randint(0, 1 << depth, size=(9, 13, 1))
            px = decode_png_pixels(_make_png(g, 0, depth, up=True))
            scale = 255 // ((1 << depth) - 1)
            assert px is not None
            assert (px[:, :, 0] == g[:, :, 0] * scale).all(), depth

    def test_sub_byte_palette(self):
        import numpy as np

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        rng = np.random.RandomState(2)
        pal_rgb = np.array(self._PAL, dtype=np.uint8).reshape(-1, 3)
        for depth in (1, 2, 4):
            idx = rng.randint(0, min(4, 1 << depth), size=(6, 11, 1))
            px = decode_png_pixels(
                _make_png(idx, 3, depth, plte=self._PAL)
            )
            assert px is not None
            assert np.array_equal(px, pal_rgb[idx[:, :, 0]]), depth

    def test_sixteen_bit(self):
        import numpy as np

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        rng = np.random.RandomState(3)
        r16 = rng.randint(0, 65536, size=(5, 8, 3))
        px = decode_png_pixels(_make_png(r16, 2, 16))
        assert np.array_equal(px, (r16 >> 8).astype(np.uint8))
        g16 = rng.randint(0, 65536, size=(7, 4, 1))
        px = decode_png_pixels(_make_png(g16, 0, 16, up=True))
        assert (px[:, :, 0] == (g16[:, :, 0] >> 8)).all()

    def test_adam7_all_color_types(self):
        import numpy as np

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        rng = np.random.RandomState(4)
        pal_rgb = np.array(self._PAL, dtype=np.uint8).reshape(-1, 3)
        # dims chosen to exercise empty and partial Adam7 passes
        for h, w in ((13, 17), (1, 1), (3, 2), (8, 8)):
            rgba = rng.randint(0, 256, size=(h, w, 4))
            px = decode_png_pixels(_make_png(rgba, 6, 8, interlace=1))
            assert np.array_equal(px, rgba[:, :, :3].astype(np.uint8))
            idx = rng.randint(0, 4, size=(h, w, 1))
            px = decode_png_pixels(
                _make_png(idx, 3, 4, interlace=1, plte=self._PAL, up=True)
            )
            assert np.array_equal(px, pal_rgb[idx[:, :, 0]]), (h, w)

    def test_decode_fuzz_total(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        @settings(max_examples=80, deadline=None)
        @given(st.binary(max_size=300))
        def run(junk):
            decode_png_pixels(b"\x89PNG\r\n\x1a\n" + junk)  # never raises

        run()

    def test_roundtrip_fuzz_random_configs(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.multimodal import (
            decode_png_pixels,
        )

        @settings(max_examples=40, deadline=None)
        @given(
            st.integers(1, 12),
            st.integers(1, 12),
            st.sampled_from([(0, 1), (0, 2), (0, 4), (0, 8), (0, 16),
                             (2, 8), (2, 16), (6, 8)]),
            st.booleans(),
            st.integers(0, 2**32 - 1),
        )
        def run(h, w, ct_depth, interlace, seed):
            ct, depth = ct_depth
            rng = np.random.RandomState(seed)
            ch = {0: 1, 2: 3, 6: 4}[ct]
            s = rng.randint(0, 1 << depth, size=(h, w, ch))
            px = decode_png_pixels(
                _make_png(s, ct, depth, interlace=int(interlace))
            )
            assert px is not None
            if depth == 16:
                exp = (s >> 8).astype(np.uint8)
            elif depth < 8:
                exp = (s * (255 // ((1 << depth) - 1))).astype(np.uint8)
            else:
                exp = s.astype(np.uint8)
            if ct == 0:
                assert (px[:, :, 0] == exp[:, :, 0]).all()
            else:
                assert np.array_equal(px, exp[:, :, :3])

        run()


# ---------------------------------------------------------------------------
# Progressive-arithmetic JPEG (SOF10, round-11 closing addition):
# every DCT-based JPEG process now decodes
# ---------------------------------------------------------------------------


class TestProgressiveArithmeticJpeg:
    def test_pixel_exact_vs_baseline_and_sof2(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
            encode_jpeg_progressive,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith_progressive,
        )

        img = np.array(
            [[(x * 7 + y * 13) % 256 for x in range(37)] for y in range(29)],
            dtype=np.uint8,
        )
        base = decode_jpeg_pixels(encode_jpeg(img))
        sof2 = decode_jpeg_pixels(encode_jpeg_progressive(img))
        sof10 = decode_jpeg_pixels(encode_jpeg_arith_progressive(img))
        assert sof10 is not None
        assert np.array_equal(base, sof2)
        assert np.array_equal(base, sof10)

    def test_color_subsampling_restarts(self):
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg_progressive,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith_progressive,
        )

        g = np.array(
            [[(x * 3 + y * 11) % 256 for x in range(24)] for y in range(18)],
            dtype=np.uint8,
        )
        rgb = np.stack(
            [(g * 3) % 256, (g * 5) % 256, (g * 7) % 256], axis=-1
        ).astype(np.uint8)
        for kwargs in (
            {},
            {"subsample_420": True},
            {"restart_interval": 1},
            {"subsample_420": True, "restart_interval": 3},
        ):
            a = decode_jpeg_pixels(encode_jpeg_progressive(rgb, **kwargs))
            b = decode_jpeg_pixels(
                encode_jpeg_arith_progressive(rgb, **kwargs)
            )
            assert b is not None, kwargs
            assert np.array_equal(a, b), kwargs

    def test_scan_script_fuzz(self):
        """Random images through the default script AND random custom
        scripts decode pixel-exact equal to SOF2 under the identical
        script -- both multi-scan stacks accumulate the same
        coefficients."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg_progressive,
        )
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith_progressive,
        )

        @settings(max_examples=20, deadline=None)
        @given(
            st.integers(1, 20), st.integers(1, 20),
            st.integers(0, 2**32 - 1), st.integers(0, 3),
        )
        def run(h, w, seed, split):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
            mid = (5, 20, 35, 50)[split]
            scans = [
                ([0], 0, 0, 0, 1),
                ([0], 1, mid, 0, 2), ([0], mid + 1, 63, 0, 2),
                ([0], 1, mid, 2, 1), ([0], mid + 1, 63, 2, 1),
                ([0], 0, 0, 1, 0),
                ([0], 1, mid, 1, 0), ([0], mid + 1, 63, 1, 0),
            ]
            a = decode_jpeg_pixels(
                encode_jpeg_progressive(img, scans=scans)
            )
            b = decode_jpeg_pixels(
                encode_jpeg_arith_progressive(img, scans=scans)
            )
            assert b is not None
            assert np.array_equal(a, b)

        run()

    def test_classifier_and_boundary(self):
        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith_progressive,
        )

        img = np.full((8, 8), 55, dtype=np.uint8)
        p = encode_jpeg_arith_progressive(img)
        assert mm.jpeg_codec_class(p) == "arithmetic"
        assert mm.decode_image(p) is not None
        # SOF10 at 12-bit precision stays the boundary
        b = bytearray(p)
        i = bytes(b).find(b"\xff\xca")
        b[i + 4] = 12
        assert mm.jpeg_codec_class(bytes(b)) == "twelve_bit"

    def test_registered_roundtrip_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        from .oracle_util import compare_to_oracle, duckdb_conn

        q = REGISTRY["jpeg_prog_arith_roundtrip"]
        with duckdb_conn(sf_smoke) as con:
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)
