"""Round-10 additions: the four ADVICE r9 fixes (AVI 'rec ' LISTs,
mixture-plan weights through the shared libm, fingerprinted scratch
caches, SinkFileStatus action parsing) plus the round's new operators
(mp4/ISO-BMFF container, codec-boundary data card, raw-HTML curation
stage 0, cross-epoch dedup, wide-DIM langid).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from map_reduce_framework_spark.operators import multimodal as mm
from map_reduce_framework_spark.sources.io import load_table

from .oracle_util import compare_to_oracle, duckdb_conn


# ---------------------------------------------------------------------------
# ADVICE r9 #1: frame chunks nested in LIST('rec ') groups decode.
# ---------------------------------------------------------------------------


def _rec_wrap(payload: bytes) -> bytes:
    """Re-mux a flat AVI so every movi frame chunk sits inside one
    LIST('rec ') group -- the interleave layout real muxers emit."""
    end = 8 + int.from_bytes(payload[4:8], "little")
    pos = 12
    out = []
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        csz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"LIST" and body[:4] == b"movi":
            body = b"movi" + mm._fourcc_chunk(b"LIST", b"rec " + body[4:])
        out.append(mm._fourcc_chunk(cid, body))
        pos += 8 + csz + (csz & 1)
    inner = b"AVI " + b"".join(out)
    return b"RIFF" + len(inner).to_bytes(4, "little") + inner


def _test_frames(n=3, side=16):
    rng = np.random.RandomState(7)
    return [
        (rng.randint(0, 256, (side, side, 3))).astype(np.uint8)
        for _ in range(n)
    ]


def test_avi_rec_list_frames_decode():
    frames = _test_frames()
    for codec in ("DIB", "MJPG"):
        flat = mm.encode_avi(frames, codec=codec)
        rec = _rec_wrap(flat)
        got_flat = mm.decode_avi_frames(flat)
        got_rec = mm.decode_avi_frames(rec)
        assert got_flat is not None and got_rec is not None
        assert len(got_flat) == len(got_rec) == len(frames)
        for a, b in zip(got_flat, got_rec):
            assert np.array_equal(a, b)


def test_avi_rec_list_still_enforces_declared_count():
    # a rec-wrapped AVI whose avih lies about the frame count is
    # corruption, exactly as in the flat layout
    flat = mm.encode_avi(_test_frames(2), codec="DIB")
    rec = bytearray(_rec_wrap(flat))
    i = rec.find(b"avih")
    assert i > 0
    rec[i + 24 : i + 28] = (9).to_bytes(4, "little")  # dwTotalFrames lie
    assert mm.decode_avi_frames(bytes(rec)) is None


def test_avi_double_nested_rec_not_recursed():
    # one level of 'rec ' is the spec; a rec-inside-rec hides its
    # frames, so the declared count no longer matches -> rejected
    flat = mm.encode_avi(_test_frames(2), codec="DIB")
    assert mm.decode_avi_frames(_rec_wrap(_rec_wrap(flat))) is None


# ---------------------------------------------------------------------------
# ADVICE r9 #2: mixture-plan weight_q computed by the shared CPython
# libm (_lang_weights), never JVM F.pow.
# ---------------------------------------------------------------------------


def test_langid_mixture_plan_weights_shared_libm(spark, sf_smoke):
    from map_reduce_framework_spark.operators import langid
    from map_reduce_framework_spark.operators.pipeline import MIX_TEMP_ALPHA
    from map_reduce_framework_spark.sources.shard_writer import _lang_weights

    plan = langid.langid_mixture_plan(
        load_table(spark, sf_smoke, "documents"),
        _trace=langid._trace_for_table(spark, sf_smoke),
    ).collect()
    assert plan
    avail = {r["pred_lang"]: r["avail_tokens"] for r in plan}
    expect = _lang_weights(avail, MIX_TEMP_ALPHA)
    grand = sum(avail.values())
    sum_wq = sum(expect.values())
    for r in plan:
        assert r["weight_q"] == expect[r["pred_lang"]]
        alloc = (grand // 2) * r["weight_q"] // sum_wq
        assert r["alloc_tokens"] == alloc
        assert r["full_epochs"] == alloc // r["avail_tokens"]
        assert r["remainder_tokens"] == alloc % r["avail_tokens"]


# ---------------------------------------------------------------------------
# ADVICE r9 #3: per-table artifacts keyed on the parquet fingerprint.
# ---------------------------------------------------------------------------


def test_scratch_caches_invalidate_on_regenerated_table(spark, tmp_path, sf_smoke):
    """sources.io.table_memo serves one value per (sf_dir, documents
    fingerprint, key): the same table gives the same value without a
    rebuild, a table regenerated under the same path gets a rebuilt
    one. Checked on the helper itself, the curation scratch dir and the
    trained langid trace."""
    from map_reduce_framework_spark import curation
    from map_reduce_framework_spark.operators import langid
    from map_reduce_framework_spark.sources.io import table_memo

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_smoke, "documents.parquet")
    dst = os.path.join(sf_dir, "documents.parquet")
    shutil.copy(src, dst)

    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    def failing_build():
        raise RuntimeError("half-built")

    first = table_memo(sf_dir, "probe", build)
    first_cur = curation.scratch_for(sf_dir)
    first_trace = langid._trace_for_table(spark, sf_dir)
    assert table_memo(sf_dir, "probe", build) is first
    assert len(builds) == 1
    assert curation.scratch_for(sf_dir) == first_cur
    assert langid._trace_for_table(spark, sf_dir) is first_trace
    # a build that raises stores nothing
    with pytest.raises(RuntimeError):
        table_memo(sf_dir, "failing", failing_build)
    assert table_memo(sf_dir, "failing", build) is builds[-1]

    # regenerate the table under the SAME path: new bytes, new mtime
    os.utime(dst, ns=(1, 1))
    assert table_memo(sf_dir, "probe", build) is not first
    assert curation.scratch_for(sf_dir) != first_cur
    rebuilt = langid._trace_for_table(spark, sf_dir)
    assert rebuilt is not first_trace
    assert rebuilt == first_trace  # same bytes train the same model


# ---------------------------------------------------------------------------
# ADVICE r9 #4: SinkFileStatus action parsing in the sink log replay.
# ---------------------------------------------------------------------------


def _write_meta(meta: str, name: str, entries: list[dict]) -> None:
    with open(os.path.join(meta, name), "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def test_committed_ingest_files_honors_actions(tmp_path):
    from map_reduce_framework_spark.streaming.ops import (
        _committed_ingest_files,
    )

    ingest = str(tmp_path / "ingest")
    meta = os.path.join(ingest, "_spark_metadata")
    os.makedirs(meta)

    def add(p):
        return {"path": f"file:{ingest}/{p}", "size": 1, "action": "add"}

    def delete(p):
        return {"path": f"file:{ingest}/{p}", "size": 1, "action": "delete"}

    # pre-compact deltas: a.parquet (later retired), b.parquet
    _write_meta(meta, "0", [add("a.parquet")])
    _write_meta(meta, "1", [add("b.parquet")])
    # the compact snapshots the live set and RETIRES a.parquet
    _write_meta(
        meta, "2.compact", [add("b.parquet"), delete("a.parquet")]
    )
    # post-compact delta adds c.parquet
    _write_meta(meta, "3", [add("c.parquet")])
    assert _committed_ingest_files(ingest) == ["b.parquet", "c.parquet"]

    # without any compact, a delete in a later delta still retires
    shutil.rmtree(meta)
    os.makedirs(meta)
    _write_meta(meta, "0", [add("a.parquet"), add("b.parquet")])
    _write_meta(meta, "1", [delete("a.parquet")])
    assert _committed_ingest_files(ingest) == ["b.parquet"]

# ---------------------------------------------------------------------------
# mp4 / ISO-BMFF container (VERDICT r9 ask #3)
# ---------------------------------------------------------------------------


class TestMp4Container:
    def _quad_frames(self, seed: bytes):
        import hashlib

        dig = hashlib.md5(seed).digest()
        frames = []
        for f in range(mm.VIDEO_N_FRAMES):
            img = np.empty((mm.IMG_SIDE, mm.IMG_SIDE), dtype=np.uint8)
            q = dig[4 * f : 4 * f + 4]
            img[:8, :8] = q[0]
            img[:8, 8:] = q[1]
            img[8:, :8] = q[2]
            img[8:, 8:] = q[3]
            frames.append(img)
        return frames

    def test_raw_roundtrip_matches_other_containers(self):
        rng = np.random.RandomState(11)
        frames = [
            rng.randint(0, 256, (16, 16)).astype(np.uint8) for _ in range(5)
        ]
        payload = mm.encode_mp4(frames, codec="raw ")
        assert mm.detect_container(payload) == "mp4"
        dec = mm.sample_frames(payload)
        assert len(dec) == 5
        a = mm.sample_frames(mm.encode_avi(frames, codec="DIB"))
        for fm, fa, want in zip(dec, a, frames):
            assert np.array_equal(fm, fa)
            assert np.array_equal(fm[:, :, 0], want)

    def test_mjpeg_roundtrip_pixel_exact(self):
        frames = self._quad_frames(b"mp4clip")
        payload = mm.encode_mp4(frames, codec="jpeg")
        dec = mm.sample_frames(payload)
        assert len(dec) == len(frames)
        for want, got in zip(frames, dec):
            assert np.array_equal(got[:, :, 0], want)

    def test_cross_container_duplicate_avi_vs_mp4(self):
        frames = self._quad_frames(b"dup2")
        h_mp4 = [
            mm._dhash_from_pixels(px)
            for px in mm.sample_frames(mm.encode_mp4(frames, codec="jpeg"))
        ]
        h_avi = [
            mm._dhash_from_pixels(px)
            for px in mm.sample_frames(mm.encode_avi(frames, codec="MJPG"))
        ]
        assert h_mp4 == h_avi

    def test_bomb_guards_on_mp4(self):
        frames = self._quad_frames(b"bomb")
        good = mm.encode_mp4(frames, codec="jpeg")

        def patched(field: bytes, value: int, width=4) -> bytes:
            buf = bytearray(good)
            i = buf.find(field)
            assert i > 0
            # stsz layout: type, verflags(4), uniform(4), count(4)
            buf[i + 12 : i + 16] = value.to_bytes(width, "big")
            return bytes(buf)

        # declared-count bomb refused before any decode
        assert (
            mm.decode_mp4_frames(
                patched(b"stsz", mm.MAX_DECODE_FRAMES + 1)
            )
            is None
        )
        # a lying (small) count no longer matches the stsc expansion
        assert mm.decode_mp4_frames(patched(b"stsz", 1)) is None
        # truncation, junk, missing tables
        assert mm.decode_mp4_frames(good[: len(good) // 2]) is None
        assert mm.decode_mp4_frames(b"\x00" * 40) is None
        no_stco = bytearray(good)
        j = no_stco.find(b"stco")
        no_stco[j : j + 4] = b"xxxx"
        assert mm.decode_mp4_frames(bytes(no_stco)) is None
        # unknown sample-entry format = the codec boundary, not a guess
        foreign = bytearray(good)
        k = foreign.find(b"stsd")
        assert foreign[k + 16 : k + 20] == b"jpeg"
        foreign[k + 16 : k + 20] = b"avc1"
        assert mm.decode_mp4_frames(bytes(foreign)) is None

    def test_mixed_four_container_corpus_oracle_parity(
        self, spark, sf_smoke
    ):
        """video_frame_dhash now routes doc_id % 4 across
        GIF/BMPSEQ/AVI/mp4; the container-blind pixel-math oracle stays
        green, certifying the mp4 'raw ' round trip in the same sweep."""
        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        con = duckdb_conn(sf_smoke)
        compare_to_oracle(
            mm.video_frame_dhash(docs),
            con,
            mm.ORACLE_SQL["video_frame_dhash"],
        )

    def test_registered_mjpeg_mp4_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        q = REGISTRY["mjpeg_mp4_frame_dhash"]
        compare_to_oracle(q.fn(spark, sf_smoke), duckdb_conn(sf_smoke), q.oracle)

# ---------------------------------------------------------------------------
# Codec-boundary data card (VERDICT r9 ask #6)
# ---------------------------------------------------------------------------


class TestCodecBoundary:
    def test_header_classifier_and_decode_boundary_agree(self):
        """The classifier's 'rejected' verdict is exactly the decode
        path's NotImplementedError boundary on the planted payloads."""
        from map_reduce_framework_spark.operators.jpeg import encode_jpeg

        img = np.full((16, 16), 77, dtype=np.uint8)
        base = bytearray(encode_jpeg(img, restart_interval=1))
        sof = base.find(b"\xff\xc0")

        assert mm.jpeg_codec_class(bytes(base)) == "baseline"
        assert mm.decode_image(bytes(base)) is not None

        # round 11: sequential arithmetic LEFT the rejected set -- a
        # real SOF9 stream decodes (QM-coder, jpeg_arith.py)
        from map_reduce_framework_spark.operators.jpeg_arith import (
            encode_jpeg_arith,
        )

        arith = encode_jpeg_arith(img, restart_interval=1)
        assert mm.jpeg_codec_class(bytes(arith)) == "arithmetic"
        assert "arithmetic" not in mm.CODEC_REJECTED_CLASSES
        px = mm.decode_image(bytes(arith))
        assert px is not None and (px[:, :, 0] == img).all()

        twelve = bytearray(base)
        twelve[sof + 4] = 12
        assert mm.jpeg_codec_class(bytes(twelve)) == "twelve_bit"
        with pytest.raises(NotImplementedError):
            mm.decode_image(bytes(twelve))

        # round 12: lossless (SOF3) LEFT the rejected set -- a real
        # SOF3 stream decodes (jpeg_lossless.py)
        from map_reduce_framework_spark.operators.jpeg_lossless import (
            encode_jpeg_lossless,
        )

        lossless = encode_jpeg_lossless(img.astype(np.uint16))
        assert mm.jpeg_codec_class(bytes(lossless)) == "lossless"
        assert "lossless" not in mm.CODEC_REJECTED_CLASSES
        px = mm.decode_image(bytes(lossless))
        assert px is not None and (px[:, :, 0] == img).all()

        # the residue: differential processes stay 'other' + rejected
        diff = bytearray(base)
        diff[sof + 1] = 0xC5  # differential sequential DCT
        assert mm.jpeg_codec_class(bytes(diff)) == "other"
        with pytest.raises(NotImplementedError):
            mm.decode_image(bytes(diff))

        assert mm.jpeg_codec_class(b"not a jpeg") is None
        assert mm.jpeg_codec_class(bytes(base[:10])) is None

    def test_progressive_class(self):
        from map_reduce_framework_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        img = np.full((16, 16), 40, dtype=np.uint8)
        assert mm.jpeg_codec_class(encode_jpeg_progressive(img)) == (
            "progressive"
        )

    def test_registered_report_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        q = REGISTRY["codec_boundary_report"]
        compare_to_oracle(
            q.fn(spark, sf_smoke), duckdb_conn(sf_smoke), q.oracle
        )

# ---------------------------------------------------------------------------
# Raw-HTML curation run (VERDICT r9 ask #1): extract is stage 0.
# ---------------------------------------------------------------------------


class TestRawHtmlCuration:
    def test_extract_is_stage_zero_with_ledger_rows(
        self, spark, sf_smoke, tmp_path
    ):
        from map_reduce_framework_spark import curation as C
        from map_reduce_framework_spark.operators.html_extract import (
            synth_pages,
        )

        assert C.CURATION_STAGES[0] == "extract"
        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        res = C.run_curation(spark, synth_pages(docs), str(tmp_path / "run"))
        ledger = {r[1]: r for r in res["ledger"]}
        assert ledger["raw_pages"][0] == 0
        assert ledger["extracted"][0] == 1
        # extraction strips boilerplate: raw HTML token mass strictly
        # exceeds the extracted mass, doc count is preserved
        assert ledger["raw_pages"][2] == ledger["extracted"][2]
        assert ledger["raw_pages"][3] > ledger["extracted"][3]
        # the committed extract stage parquet IS the documents relation
        ext = spark.read.parquet(C._stage_dir(str(tmp_path / "run"), "extract"))
        assert set(ext.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
        assert ext.count() == docs.count()

    def test_extract_boundary_kill_and_resume_byte_identical(
        self, spark, sf_smoke, tmp_path
    ):
        """The new boundary specifically: kill right after extract,
        resume, and the final shard bytes equal the uninterrupted
        run's (the full all-boundary loop lives in test_round8_ops)."""
        from map_reduce_framework_spark import curation as C
        from map_reduce_framework_spark.operators.html_extract import (
            synth_pages,
        )

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        ref_dir = str(tmp_path / "ref")
        ref = C.run_curation(spark, synth_pages(docs), ref_dir)
        out = str(tmp_path / "killed")
        with pytest.raises(C.CurationInterrupted):
            C.run_curation(
                spark, synth_pages(docs), out, fail_after="extract"
            )
        res = C.run_curation(spark, synth_pages(docs), out)
        assert res["executed"]["extract"] == "skipped"
        assert res["ledger"] == ref["ledger"]

        def shard_bytes(d):
            # file NAMES embed task UUIDs: identity is per-partition-
            # directory content (the test_round8_ops convention)
            import hashlib

            out_b = {}
            root = os.path.join(d, "shards", "data")
            for dirpath, _dirs, files in os.walk(root):
                for fn in sorted(files):
                    if fn.endswith(".parquet"):
                        p = os.path.join(dirpath, fn)
                        rel = os.path.relpath(dirpath, root)
                        assert rel not in out_b
                        out_b[rel] = hashlib.md5(
                            open(p, "rb").read()
                        ).hexdigest()
            return out_b

        assert shard_bytes(out) == shard_bytes(ref_dir)


# ---------------------------------------------------------------------------
# Cross-epoch incremental dedup (VERDICT r9 ask #2)
# ---------------------------------------------------------------------------


def _synthetic_docs(spark, rows):
    return spark.createDataFrame(
        [
            (i, t, "en", "crawl", len(t))
            for i, t in rows
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


_BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while many other "
    "animals watch the field from a distance and wonder about the "
    "strange daily routine of the energetic fox"
)


class TestCrossEpochDedup:
    def test_planted_wave2_near_duplicate_dropped(self, spark, tmp_path):
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        wave1 = _synthetic_docs(
            spark,
            [
                (1, _BASE_TEXT),
                (2, "completely different prose about distributed "
                    "query engines and their shuffle strategies under "
                    "heavy skew with adaptive execution enabled today"),
            ],
        )
        wave1.coalesce(1).write.mode("append").parquet(source)
        d0 = stream_ingest_epoch(spark, source, work)
        assert d0 and d0.endswith("epoch-00000")
        assert os.path.isdir(os.path.join(d0, "index", "bands"))

        near_dup = _BASE_TEXT.replace("lazy dog", "lazy cat")
        wave2 = _synthetic_docs(
            spark,
            [
                (11, near_dup),  # planted near-duplicate of doc 1
                (12, "fresh unrelated document describing columnar "
                     "storage layouts and predicate pushdown behavior "
                     "across parquet row groups in modern warehouses"),
            ],
        )
        wave2.coalesce(1).write.mode("append").parquet(source)
        d1 = stream_ingest_epoch(spark, source, work)
        assert d1 and d1.endswith("epoch-00001")
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(d1, "input")
            ).collect()
        }
        assert kept == {12}, kept  # 11 dropped as a wave-1 near-dup
        # the survivor (and only the survivor) joined the index
        idx = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(d1, "index", "toks")
            ).collect()
        }
        assert idx == {12}

    def test_index_file_counts(self, spark, tmp_path):
        """A wave shingles at its scan layout, which sets how many files
        its index commits. A round-robin spread before the shingle pass
        would fan epoch 0's six survivors out into six ``index/toks``
        files. The counts were recorded before the wave's bands and its
        verify shared one shingle pass."""
        import glob

        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        words = _BASE_TEXT.split()

        def doc(doc_id, suffix, swap=None):
            ws = [w + suffix for w in words]
            if swap is not None:
                ws[swap] = "swapped"
            return doc_id, " ".join(ws)

        waves = [
            # doc 7 near-duplicates doc 1 within the wave
            [doc(i, chr(96 + i)) for i in range(1, 7)] + [doc(7, "a", 5)],
            # doc 11 near-duplicates epoch 0's doc 2
            [doc(11, "b", 9)] + [doc(i, chr(96 + i)) for i in range(12, 16)],
        ]
        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        kept, counts = [], []
        # the bands files are the non-empty hash partitions of the cached
        # signature aggregate, so their count follows the session's
        # shuffle partitions, which an earlier test module may have changed
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, "8")
        try:
            for rows in waves:
                _synthetic_docs(spark, rows).coalesce(1).write.mode(
                    "append"
                ).parquet(source)
                d = stream_ingest_epoch(spark, source, work)
                kept.append(
                    sorted(
                        r["doc_id"]
                        for r in spark.read.parquet(
                            os.path.join(d, "input")
                        ).collect()
                    )
                )
                counts.append(
                    tuple(
                        len(glob.glob(os.path.join(d, "index", sub, "*.parquet")))
                        for sub in ("toks", "bands")
                    )
                )
        finally:
            spark.conf.set(key, old)
        assert kept == [[1, 2, 3, 4, 5, 6], [12, 13, 14, 15]]
        assert counts == [(1, 4), (1, 4)]

    def test_torn_epoch_reentry_still_converges(self, spark, tmp_path):
        import shutil

        from map_reduce_framework_spark.sources.shard_writer import (
            is_committed,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        _synthetic_docs(spark, [(1, _BASE_TEXT)]).coalesce(1).write.mode(
            "append"
        ).parquet(source)
        d0 = stream_ingest_epoch(spark, source, work)
        # tear the epoch: input + index committed, shards lost
        shutil.rmtree(os.path.join(d0, "shards"))
        assert not is_committed(os.path.join(d0, "shards"))
        redo = stream_ingest_epoch(spark, source, work)
        assert redo == d0
        assert is_committed(os.path.join(d0, "shards"))
        # index survived the tear untouched
        assert os.path.isdir(os.path.join(d0, "index", "bands"))

    def test_html_drop_directory_is_extracted_in_stream(
        self, spark, tmp_path
    ):
        from map_reduce_framework_spark.operators.html_extract import (
            _SUMMARY_LINE,
            synth_pages,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        docs = _synthetic_docs(spark, [(1, _BASE_TEXT)])
        synth_pages(docs).coalesce(1).write.mode("append").parquet(source)
        d0 = stream_ingest_epoch(spark, source, work)
        row = spark.read.parquet(os.path.join(d0, "input")).collect()[0]
        assert row["text"] == _BASE_TEXT + "\n" + _SUMMARY_LINE
        assert row["n_chars"] == len(row["text"])
        assert row["lang"] == "en" and row["source"] == "crawl"

# ---------------------------------------------------------------------------
# Wide-DIM langid (VERDICT r9 ask #4): the sparse vector trainer at
# char-3-only DIM=256
# ---------------------------------------------------------------------------


class TestWideLangid:
    def test_dim16_equals_jvm_trainer_trace(self, spark, sf_smoke):
        """At DIM=16 with char grams only, the sparse vector trainer
        reproduces the hash-exact JVM trainer's committed trace --
        quantization, sigmoid, NLL, and update rule are the same math in
        two runtimes. Losses are equal bit-for-bit; the weights are equal
        under the layout map (JVM: bias at 0, bucket b at b+1; sparse:
        bucket b at b, bias at dim)."""
        from map_reduce_framework_spark.operators import langid
        from map_reduce_framework_spark.operators import langid_union as LU

        docs = load_table(spark, sf_smoke, "documents")
        rows, w = LU.union_train_trace(
            docs, langid.LID_ITERS, langid.LID_LR, dim=16, word_ngrams=()
        )
        jvm_rows, jvm_w = langid._trace_for_table(spark, sf_smoke)
        assert rows == [r[:3] for r in jvm_rows]
        assert w.keys() == jvm_w.keys()
        for l, jw in jvm_w.items():
            assert w[l] == jw[1:] + jw[:1], l

    def test_registered_scores_contract(self, spark, sf_smoke):
        import hashlib

        from map_reduce_framework_spark.registry import REGISTRY

        df = REGISTRY["langid_scores_wide"].fn(spark, sf_smoke)
        rows = df.collect()
        n_docs = spark.read.parquet(
            f"{sf_smoke}/documents.parquet"
        ).count()
        assert len(rows) == n_docs
        assert set(df.columns) == {
            "doc_id", "labeled_lang", "pred_lang", "confidence", "margin_q6",
        }
        for r in rows[:50]:
            assert 0.0 <= r["confidence"] <= 1.0
            assert r["margin_q6"] >= 0
        # the sf0.001 rows of the earlier dense DIM=256 trainer
        assert hashlib.md5(
            repr(sorted(tuple(r) for r in rows)).encode()
        ).hexdigest() == "68fd87feff8adddcfbc8f288e1033ce2"


def test_plain_ingest_leg_accepts_html_drop(spark, tmp_path):
    """The non-epoch streaming leg also takes a raw-HTML drop
    directory: extraction runs in the stream, and the committed
    shards pack the quality-pass EXTRACTED documents."""
    from map_reduce_framework_spark.operators.html_extract import (
        synth_pages,
    )
    from map_reduce_framework_spark.sources.shard_writer import (
        read_manifest,
    )
    from map_reduce_framework_spark.streaming.ops import (
        stream_ingest_training_shards,
    )

    docs = _synthetic_docs(
        spark, [(1, _BASE_TEXT), (2, "tiny")]  # doc 2 fails quality
    )
    source = str(tmp_path / "drop")
    synth_pages(docs).coalesce(1).write.mode("append").parquet(source)
    shards = stream_ingest_training_shards(
        spark, "unused-sf-dir", str(tmp_path / "work"),
        source_dir=source,
    )
    m = read_manifest(shards)
    assert m["total_docs"] == 1  # doc 1 extracted + quality-pass


def test_zero_survivor_wave_tombstones_no_epoch(spark, tmp_path):
    """A wave whose every doc near-duplicates earlier epochs
    commits NO epoch dir (the ledger matches the oracle's
    nonempty-wave numbering) but records its files as consumed in
    an atomic tombstone -- the next genuinely-new wave takes the
    next epoch number and the dropped files are never re-read."""
    from map_reduce_framework_spark.streaming.ops import (
        stream_ingest_epoch,
    )

    source = str(tmp_path / "source")
    work = str(tmp_path / "work")
    _synthetic_docs(spark, [(1, _BASE_TEXT)]).coalesce(1).write.mode(
        "append"
    ).parquet(source)
    assert stream_ingest_epoch(spark, source, work).endswith(
        "epoch-00000"
    )
    # wave 2: ONLY a near-duplicate -> zero survivors
    _synthetic_docs(
        spark, [(11, _BASE_TEXT.replace("lazy dog", "lazy cat"))]
    ).coalesce(1).write.mode("append").parquet(source)
    assert stream_ingest_epoch(spark, source, work) is None
    names = os.listdir(work)
    assert not any(n == "epoch-00001" for n in names)
    assert any(n.startswith("consumed-") for n in names)
    # re-entry: nothing new, no reprocessing loop
    assert stream_ingest_epoch(spark, source, work) is None
    # wave 3: fresh content takes the NEXT number
    _synthetic_docs(
        spark,
        [(21, "entirely new prose about vectorized execution and "
              "columnar readers that shares nothing with wave one "
              "except the english language itself today")],
    ).coalesce(1).write.mode("append").parquet(source)
    d = stream_ingest_epoch(spark, source, work)
    assert d and d.endswith("epoch-00001")


def _mp4_quad_frames(seed: bytes):
    from map_reduce_framework_spark.operators.multimodal import (
        _md5_quad_frames,
    )

    return _md5_quad_frames(seed.decode())


class TestMp4Hardening:

    def test_co64_offsets_decode_identically(self):
        frames = _mp4_quad_frames(b"co64")
        a = mm.sample_frames(mm.encode_mp4(frames, codec="jpeg"))
        b = mm.decode_mp4_frames(
            mm.encode_mp4(frames, codec="jpeg", use_co64=True)
        )
        assert b is not None and len(a) == len(b)
        for fa, fb in zip(a, b):
            assert np.array_equal(fa, fb)

    def test_second_sample_description_is_the_boundary(self):
        """stsc runs binding samples to a second sample description
        must be REJECTED, not decoded with entry 1's codec."""
        good = mm.encode_mp4(_mp4_quad_frames(b"sdi"), codec="jpeg")
        buf = bytearray(good)
        i = buf.find(b"stsc")
        # first run's sample_description_index lives at +20 from the
        # box type (type 4 + verflags 4 + entry_count 4 + fc 4 + spc 4)
        assert int.from_bytes(buf[i + 20 : i + 24], "big") == 1
        buf[i + 20 : i + 24] = (2).to_bytes(4, "big")
        assert mm.decode_mp4_frames(bytes(buf)) is None

    def test_truncated_stsz_header_rejected(self):
        """A stsz box too short for its fixed header must not read the
        next box's bytes as its own fields."""
        good = mm.encode_mp4(_mp4_quad_frames(b"trunc"), codec="jpeg")
        buf = bytearray(good)
        i = buf.find(b"stsz")
        # shrink the stsz box to header+verflags only (size 12) --
        # remaining bytes become an unknown sibling box the walk skips
        old_size = int.from_bytes(buf[i - 4 : i], "big")
        buf[i - 4 : i] = (12).to_bytes(4, "big")
        # give the leftover span a valid box header so the stbl walk
        # itself stays well-formed
        rest = old_size - 12
        buf[i + 8 : i + 12] = rest.to_bytes(4, "big")
        buf[i + 12 : i + 16] = b"free"
        assert mm.decode_mp4_frames(bytes(buf)) is None


class TestIntraWaveDedup:
    def test_within_wave_duplicate_dropped_keeper_kept(self, spark, tmp_path):
        """A wave containing its own near-duplicate pair keeps the
        lower doc_id (the dedup keeper convention) and drops the
        higher -- BEFORE anything enters the epoch's committed index."""
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        wave = _synthetic_docs(
            spark,
            [
                (5, _BASE_TEXT),
                (9, _BASE_TEXT.replace("lazy dog", "lazy cat")),  # near-dup
                (7, "distinct commentary on broadcast joins and the "
                    "adaptive query execution planner choosing between "
                    "shuffle strategies under observed skew statistics"),
            ],
        )
        wave.coalesce(1).write.mode("append").parquet(source)
        d0 = stream_ingest_epoch(spark, source, work)
        kept = {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(d0, "input")).collect()
        }
        assert kept == {5, 7}, kept
        idx = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(d0, "index", "toks")
            ).collect()
        }
        assert idx == {5, 7}


def test_mp4_skips_non_video_traks():
    """A real-world mp4 carries an audio trak (hdlr 'soun') before the
    video trak; the walk must skip it and decode the video samples."""
    frames = _mp4_quad_frames(b"multitrak")
    good = mm.encode_mp4(frames, codec="jpeg")
    want = mm.decode_mp4_frames(good)
    assert want is not None

    # splice a minimal audio trak (tkhd + mdia with a 'soun' hdlr)
    # in FRONT of the video trak inside moov
    soun_hdlr = mm._mp4_full_box(
        b"hdlr", 0, 0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"\x00"
    )
    audio_mdia = mm._mp4_box(b"mdia", soun_hdlr)
    audio_trak = mm._mp4_box(b"trak", audio_mdia)
    # rfind: moov follows mdat in the writer's layout, and a spurious
    # 'moov' byte sequence could occur inside compressed sample data
    i = good.rfind(b"moov")
    moov_size = int.from_bytes(good[i - 4 : i], "big")
    body = good[i + 4 : i - 4 + moov_size]
    # moov body = mvhd + trak; rebuild as mvhd + audio_trak + trak
    mvhd_size = int.from_bytes(body[:4], "big")
    new_moov = mm._mp4_box(
        b"moov", body[:mvhd_size] + audio_trak + body[mvhd_size:]
    )
    # moov sits at the END of the writer's layout, so sample offsets
    # into the preceding mdat are unchanged by the splice
    patched = good[: i - 4] + new_moov
    got = mm.decode_mp4_frames(patched)
    assert got is not None and len(got) == len(want)
    for a, b in zip(want, got):
        assert np.array_equal(a, b)


def test_shard_ingest_stream_html_oracle_parity(spark, sf_smoke):
    from map_reduce_framework_spark.registry import REGISTRY

    q = REGISTRY["shard_ingest_stream_html"]
    compare_to_oracle(q.fn(spark, sf_smoke), duckdb_conn(sf_smoke), q.oracle)
