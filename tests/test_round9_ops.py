"""Round-9 operators: HTML/markup -> text extraction (intake edge),
langid wired through mixture + the composed curation run, MJPEG-in-AVI
frame sampling, langid capacity ladder, streaming shard ingest.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_util import compare_to_oracle, duckdb_conn



def _pages(docs):
    """run_curation consumes raw crawl pages since round 10."""
    from map_reduce_framework_spark.operators.html_extract import synth_pages

    return synth_pages(docs)

def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction (VERDICT r8 ask #1)
# ---------------------------------------------------------------------------


class TestHtmlExtraction:
    def test_oracle_parity_smoke(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        con = duckdb_conn(sf_smoke)
        for name in (
            "extract_text",
            "extraction_report",
            "extracted_quality_score",
            "extract_text_stream",
        ):
            q = REGISTRY[name]
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)

    def test_main_content_preserved_byte_exactly(self, spark, sf_smoke):
        """The done-criterion: on the crafted corpus, extraction removes
        every planted boilerplate line (nav/ad/footer/title/script/
        style/comment) and returns the document text BYTE-EXACTLY,
        followed by the entity-decoded summary line."""
        from map_reduce_framework_spark.operators import html_extract as H

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        got = {
            r["doc_id"]: r["extracted_text"]
            for r in H.extract_text(docs).collect()
        }
        for r in docs.select("doc_id", "text").collect():
            want = r["text"] + "\n" + H._SUMMARY_LINE
            assert got[r["doc_id"]] == want, r["doc_id"]

    def test_planted_boilerplate_accounting(self, spark, sf_smoke):
        """extraction_report exposes the boilerplate mass: every crafted
        page has the same line skeleton (2 kept content lines), nonzero
        link chars from nav/ad/footer anchors, and extracted text
        strictly smaller than the page."""
        from map_reduce_framework_spark.operators import html_extract as H

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        rows = H.extraction_report(docs).collect()
        assert len(rows) == docs.count()
        for r in rows:
            assert r["n_kept"] == 2, r
            assert r["n_lines"] > r["n_kept"], r
            # nav(3) + ad(1) + footer(2) anchors: home page|about us
            # page|contact|buy the thing now|terms of service|privacy
            # policy = 9+13+7+17+16+14
            assert r["n_link_chars"] == 76, r
            assert 0 < r["n_chars_text"] < r["n_chars_html"], r

    def test_extraction_is_shuffle_free(self, spark, sf_smoke):
        """Step 0 of a 100 TB crawl pipeline must be scan-bound map
        work: no hash/range exchange anywhere (the only exchange is the
        round-robin spread of the single-file test scan)."""
        from map_reduce_framework_spark.operators import html_extract as H

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        for df in (H.extract_text(docs), H.extraction_report(docs)):
            plan = _formatted_plan(spark, df)
            assert "hashpartitioning" not in plan, plan
            assert "rangepartitioning" not in plan, plan
            assert plan.count("Exchange (") <= 1, plan

    def test_composes_with_rule_funnel(self, spark, sf_smoke):
        """The composition a real crawl pipeline runs: extraction output
        feeds the existing gopher rule funnel, and the measures come
        out equal to running the funnel on the original clean text
        modulo the one constant summary line -- while the RAW pages'
        measures are visibly markup-polluted (the '#' in the planted
        stylesheet drives symbol_word_ratio > 0 on every page;
        extraction restores it to the clean corpus's exact 0)."""
        from map_reduce_framework_spark.operators import html_extract as H
        from map_reduce_framework_spark.operators.text_analysis import (
            gopher_quality_filter,
        )

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        pages = H.html_corpus(docs)

        def measures(df, col):
            g = gopher_quality_filter(
                df.select("doc_id", F.col(col).alias("text"))
            )
            return {
                r["doc_id"]: r
                for r in g.select(
                    "doc_id", "n_words", "symbol_word_ratio"
                ).collect()
            }

        raw = measures(pages, "html")
        ext = measures(H.extract_text_from(pages), "extracted_text")
        clean = measures(docs, "text")
        # the summary line's ws-word count (4 since round 10: kept one
        # short of CONTAM_N so shared boilerplate contributes no
        # n-grams to decontamination)
        n_summary = len(H._SUMMARY_LINE.split())
        for doc_id, c in clean.items():
            assert ext[doc_id]["n_words"] == c["n_words"] + n_summary
            assert ext[doc_id]["symbol_word_ratio"] == 0.0
            assert raw[doc_id]["symbol_word_ratio"] > 0.0  # style #333
            assert raw[doc_id]["n_words"] != c["n_words"]

    def test_malformed_html_never_raises(self, spark):
        """Crawl data is hostile: unclosed tags, bare ampersands, stray
        sentinel-free anchors, nested anchors, empty pages -- the
        extractor is total (returns SOME string for every input)."""
        from map_reduce_framework_spark.operators import html_extract as H

        cases = [
            (1, ""),
            (2, "<"),
            (3, "no markup at all just a plain long sentence of text"),
            (4, "<div><p>unclosed everywhere <a href=x>link"),
            (5, "<a><a>nested anchors here</a></a> trailing & bare amp"),
            (6, "<script>while(1){}"),
            (7, "<p>" + "x" * 50000 + "</p>"),
        ]
        pages = spark.createDataFrame(cases, "doc_id long, html string")
        rows = H.extract_text_from(pages).collect()
        assert len(rows) == len(cases)
        by_id = {r["doc_id"]: r["extracted_text"] for r in rows}
        assert by_id[3].startswith("no markup")
        assert by_id[7] == "x" * 50000


# ---------------------------------------------------------------------------
# Langid wired through mixture + the composed curation run (r8 ask #2)
# ---------------------------------------------------------------------------


class TestLangidMixtureWiring:
    def test_mixture_oracle_parity_smoke(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        con = duckdb_conn(sf_smoke)
        for name in ("langid_mixture_plan", "langid_mixture_sample"):
            q = REGISTRY[name]
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)

    def test_mixture_keys_on_trained_language(self, spark, sf_smoke):
        """The plan's strata are the model's predictions: on the
        synthetic corpus the model predicts the majority class
        everywhere, so the plan has exactly ONE stratum covering every
        document -- the data-card fact langid_accuracy exposes, now
        visible in the mixture itself (a trusted-lang plan would show 5
        strata)."""
        from map_reduce_framework_spark.operators import langid as L

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        plan = L.langid_mixture_plan(docs).collect()
        assert len(plan) == 1
        assert plan[0]["n_docs"] == docs.count()
        # budget invariant: alloc = (grand div 2) * w div sum_w == half
        # the corpus when there is one stratum
        total = plan[0]["avail_tokens"]
        assert plan[0]["alloc_tokens"] == total // 2

    def test_curation_ledger_has_langid_stage(self, spark, sf_smoke, tmp_path):
        """The composed run now computes language and applies the
        pred-lang quota between train_split and the shard writer: the
        ledger gains the langid_sampled row, monotone within the
        funnel, and the quota genuinely drops documents (threshold c0
        keeps ~3/4 of the majority-class docs)."""
        from map_reduce_framework_spark import curation as C

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        res = C.run_curation(spark, _pages(docs), str(tmp_path / "run"))
        ledger = {r[1]: r for r in res["ledger"]}
        assert "langid_sampled" in ledger
        train = ledger["train_split"]
        samp = ledger["langid_sampled"]
        assert samp[0] == train[0] + 1  # stage_idx ordering
        assert 0 < samp[2] < train[2]  # quota drops docs
        assert samp[3] < train[3]
        # the shard writer consumed the post-quota subset
        packed = ledger["packed_shards"]
        assert packed[2] == samp[2]

    def test_langid_stage_parquet_is_the_data_card(
        self, spark, sf_smoke, tmp_path
    ):
        """The materialized langid stage is the full scores relation --
        a new session (driver-death survivor) reads pred_lang/confidence
        for every document from plain parquet."""
        from map_reduce_framework_spark import curation as C

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        out = str(tmp_path / "run")
        C.run_curation(spark, _pages(docs), out)
        lid = spark.read.parquet(C._stage_dir(out, "langid"))
        assert lid.count() == docs.count()
        assert set(lid.columns) == {
            "doc_id", "labeled_lang", "pred_lang", "confidence", "margin_q6",
        }
        mix = spark.read.parquet(C._stage_dir(out, "mixture"))
        assert 0 < mix.count() < docs.count()


# ---------------------------------------------------------------------------
# MJPEG-in-AVI frame sampler (r8 ask #3)
# ---------------------------------------------------------------------------


class TestAviSampler:
    def _quad_frames(self, seed: bytes):
        import hashlib

        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm

        dig = hashlib.md5(seed).digest()
        frames = []
        for f in range(mm.VIDEO_N_FRAMES):
            img = np.empty((16, 16), dtype=np.uint8)
            q = dig[4 * f : 4 * f + 4]
            img[:8, :8] = q[0]
            img[:8, 8:] = q[1]
            img[8:, :8] = q[2]
            img[8:, 8:] = q[3]
            frames.append(img)
        return frames

    def test_mjpeg_roundtrip_pixel_exact(self):
        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm

        frames = self._quad_frames(b"clip")
        avi = mm.encode_avi(frames, codec="MJPG")
        assert mm.detect_container(avi) == "avi"
        dec = mm.sample_frames(avi)
        assert len(dec) == len(frames)
        for want, got in zip(frames, dec):
            assert np.array_equal(got[:, :, 0], want)

    def test_dib_roundtrip_matches_gif_and_bmpseq(self):
        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm

        rng = np.random.default_rng(11)
        frames = [
            rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
            for _ in range(4)
        ]
        a = mm.sample_frames(mm.encode_avi(frames, codec="DIB"))
        g = mm.sample_frames(mm.encode_gif(frames))
        b = mm.sample_frames(mm.encode_bmpseq(frames))
        for fa, fg, fb in zip(a, g, b):
            assert np.array_equal(fa, fg) and np.array_equal(fa, fb)

    def test_bomb_guards_on_avi(self):
        from map_reduce_framework_spark.operators import multimodal as mm

        frames = self._quad_frames(b"x")
        avi = bytearray(mm.encode_avi(frames, codec="MJPG"))
        i = bytes(avi).find(b"avih")
        # declared-frame-count bomb refused before any decode
        avi[i + 24 : i + 28] = (mm.MAX_DECODE_FRAMES + 1).to_bytes(
            4, "little"
        )
        assert mm.decode_avi_frames(bytes(avi)) is None
        # a lying (but small) header is corruption, not advice
        avi[i + 24 : i + 28] = (2).to_bytes(4, "little")
        assert mm.decode_avi_frames(bytes(avi)) is None
        # truncated / junk payloads
        good = mm.encode_avi(frames, codec="MJPG")
        assert mm.decode_avi_frames(good[: len(good) // 2]) is None
        assert mm.decode_avi_frames(b"RIFF\x04\x00\x00\x00AVI ") is None
        assert mm.detect_container(b"RIFF\x00\x00\x00\x00WAVE") is None

    def test_cross_container_duplicate_gif_vs_mjpeg_avi(self, spark):
        """A planted duplicate whose pixels ride MJPEG-in-AVI on one
        side and GIF on the other: identical quadrant frames -> every
        frame's dHash matches bit-for-bit, so container AND codec are
        invisible to dedup."""
        import numpy as np

        from map_reduce_framework_spark.operators import multimodal as mm

        frames = self._quad_frames(b"dup")
        h_avi = [
            mm._dhash_from_pixels(px)
            for px in mm.sample_frames(mm.encode_avi(frames, codec="MJPG"))
        ]
        h_gif = [
            mm._dhash_from_pixels(px)
            for px in mm.sample_frames(
                mm.encode_gif([np.asarray(f) for f in frames])
            )
        ]
        assert h_avi == h_gif

    def test_registered_query_oracle_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        con = duckdb_conn(sf_smoke)
        for name in ("mjpeg_avi_frame_dhash", "video_frame_dhash"):
            q = REGISTRY[name]
            compare_to_oracle(q.fn(spark, sf_smoke), con, q.oracle)


# ---------------------------------------------------------------------------
# Langid capacity ladder (r8 ask #4)
# ---------------------------------------------------------------------------


class TestLangidCapacity:
    def test_accuracy_monotone_in_dim_on_planted_corpus(self, spark):
        """The experiments/langid_capacity.json claim, pinned: on the
        planted multilingual corpus, accuracy is monotone
        (non-decreasing) in the hashed-feature dimension, and strictly
        better out of the collision-starved regime (DIM=2 cannot
        separate 5 languages through 2 buckets no matter how long it
        trains)."""
        import os
        import sys

        sys.path.insert(
            0,
            os.path.join(os.path.dirname(__file__), "..", "experiments"),
        )
        from langid_capacity import signal_corpus

        from map_reduce_framework_spark.operators import langid as L

        docs = signal_corpus(spark).cache()
        n = docs.count()
        acc = {}
        for dim in (2, 4, 16):
            scores = L.langid_scores(docs, iters=6, dim=dim).collect()
            acc[dim] = (
                sum(1 for r in scores if r.pred_lang == r.labeled_lang) / n
            )
        docs.unpersist()
        assert acc[2] <= acc[4] <= acc[16], acc
        assert acc[2] < acc[16], acc
        assert acc[16] >= 0.9, acc

    def test_dim16_default_is_the_oracle_twin(self, spark, sf_smoke):
        """Parameterizing DIM/ngram must not perturb the registered
        DIM=16 trajectory the unrolled-CTE oracle re-derives: the
        default-path trace equals the explicit dim=16/ngram=3 trace
        row for row."""
        from map_reduce_framework_spark.operators import langid as L

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        a, wa = L.langid_train_trace(docs, iters=2)
        b, wb = L.langid_train_trace(docs, iters=2, dim=16, ngram=3)
        assert a == b and wa == wb


# ---------------------------------------------------------------------------
# Streaming shard ingest (r8 ask #5)
# ---------------------------------------------------------------------------


class TestStreamingShardIngest:
    def test_stream_manifest_equals_batch_manifest(
        self, spark, sf_smoke, tmp_path
    ):
        """The stream==batch proof on the COMMITTED manifest: the
        availableNow ingest -> shard pipeline and the batch writer over
        the same quality-filtered corpus produce identical manifests
        (every shard file's counts, the mixture weights, the totals)."""
        from map_reduce_framework_spark.operators.pipeline import (
            _quality_pass_ids,
        )
        from map_reduce_framework_spark.sources.shard_writer import (
            read_manifest,
            write_training_shards,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_training_shards,
        )

        shards = stream_ingest_training_shards(
            spark, sf_smoke, str(tmp_path / "stream")
        )
        stream_m = read_manifest(shards)

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        batch_dir = str(tmp_path / "batch" / "shards")
        (tmp_path / "batch").mkdir()
        write_training_shards(
            spark, docs.join(_quality_pass_ids(docs), "doc_id"), batch_dir
        )
        batch_m = read_manifest(batch_dir)
        assert stream_m == batch_m

    def test_reentry_after_shard_leg_loss_converges(
        self, spark, sf_smoke, tmp_path
    ):
        """Crash between the two legs: the drained ingest (file-sink
        transaction log) survives, the shard commit is lost. Re-entry
        re-runs the stream as a checkpointed no-op (no file read twice)
        and redoes only the shard commit -- byte-identical manifest."""
        import shutil

        from map_reduce_framework_spark.sources.shard_writer import (
            read_manifest,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_training_shards,
        )

        work = str(tmp_path / "w")
        shards = stream_ingest_training_shards(spark, sf_smoke, work)
        want = read_manifest(shards)
        shutil.rmtree(shards)  # the crash window
        shards2 = stream_ingest_training_shards(spark, sf_smoke, work)
        assert read_manifest(shards2) == want

    def test_empty_source_commits_empty_manifest(self, spark, tmp_path):
        """Zero committed micro-batches (empty crawl directory, or a
        crash before batch 0) still converges to a COMMITTED run with
        an empty manifest -- the degenerate-corpus convention, not an
        AnalysisException."""
        import os

        from map_reduce_framework_spark.sources.shard_writer import (
            read_manifest,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_training_shards,
        )

        # an sf_dir whose documents table exists but whose stream
        # source directory yields no quality-pass rows: craft a tiny
        # table of all-failing docs (n_tokens < 10)
        sf = str(tmp_path / "sf")
        os.makedirs(sf)
        spark.createDataFrame(
            [(1, "tiny", "en", "src0", 4)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(os.path.join(sf, "documents.parquet"))
        shards = stream_ingest_training_shards(
            spark, sf, str(tmp_path / "w")
        )
        m = read_manifest(shards)
        assert m["total_docs"] == 0 and m["shards"] == []


class TestCurationStageListGuard:
    def test_pipeline_definition_change_forces_recompute(
        self, spark, sf_smoke, tmp_path
    ):
        """A run directory built under a DIFFERENT stage list (a
        pre-round-9 run resumed under the langid+mixture pipeline) is
        wiped and recomputed from stage 0 -- committed stages whose
        composed semantics changed are never silently reused."""
        import json
        import os

        from map_reduce_framework_spark import curation as C

        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        out = str(tmp_path / "run")
        ref = C.run_curation(spark, _pages(docs), out)
        # same definition -> pure resume
        again = C.run_curation(spark, _pages(docs), out)
        assert all(v == "skipped" for v in again["executed"].values())
        # rewrite stages.json as an older (shorter) pipeline
        json.dump(
            C.CURATION_STAGES[:-2],
            open(os.path.join(out, "stages.json"), "w"),
        )
        redo = C.run_curation(spark, _pages(docs), out)
        assert all(v == "computed" for v in redo["executed"].values())
        assert redo["ledger"] == ref["ledger"]


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): the codec's last format boundary closes to
# arithmetic-coded/12-bit only
# ---------------------------------------------------------------------------


class TestProgressiveJpeg:
    def test_progressive_equals_baseline_pixels(self):
        """The equality oracle: a progressive and a baseline encoding
        of the SAME image (same all-ones quant) decode to IDENTICAL
        pixels -- across sizes, gray/color, 4:2:0, restart intervals,
        and the default successive-approximation scan script."""
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(77)
        for trial in range(8):
            hh, ww = int(rng.integers(8, 40)), int(rng.integers(8, 40))
            dri = int(rng.integers(0, 3))
            gray = rng.integers(0, 256, size=(hh, ww), dtype=np.uint8)
            base = decode_jpeg_pixels(encode_jpeg(gray))
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(gray, restart_interval=dri)
            )
            assert prog is not None and np.array_equal(base, prog), (
                trial, hh, ww, dri,
            )
            col = rng.integers(0, 256, size=(hh, ww, 3), dtype=np.uint8)
            base = decode_jpeg_pixels(encode_jpeg(col))
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(col, restart_interval=dri)
            )
            assert prog is not None and np.array_equal(base, prog)
        col = rng.integers(0, 256, size=(17, 19, 3), dtype=np.uint8)
        base = decode_jpeg_pixels(encode_jpeg(col, subsample_420=True))
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive(col, subsample_420=True)
        )
        assert prog is not None and np.array_equal(base, prog)

    def test_scan_script_variants(self):
        """Spectral-selection-only, single-level SA, and two-level SA
        scripts all reconstruct the exact coefficient store."""
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(9)
        gray = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
        base = decode_jpeg_pixels(encode_jpeg(gray))
        scripts = [
            [([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)],
            [([0], 0, 0, 0, 1), ([0], 0, 0, 1, 0), ([0], 1, 63, 0, 0)],
            [
                ([0], 0, 0, 0, 0),
                ([0], 1, 63, 0, 1),
                ([0], 1, 63, 1, 0),
            ],
            [
                ([0], 0, 0, 0, 0),
                ([0], 1, 63, 0, 2),
                ([0], 1, 63, 2, 1),
                ([0], 1, 63, 1, 0),
            ],
        ]
        for scans in scripts:
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(gray, scans=scans)
            )
            assert prog is not None and np.array_equal(base, prog), scans

    def test_ac_refinement_coefficient_exactness(self):
        """Coefficient-level multi-block harness for the trickiest
        path (AC successive approximation with EOB runs and buffered
        correction bits): encode first pass Al=1 + refinement Al=0 over
        random block sequences, decode with the scan units, require
        bit-exact coefficient recovery."""
        import numpy as np

        from map_reduce_framework_spark.operators import jpeg as J

        ac_tab = J._HuffTable(J._AC_PROG_COUNTS, J._AC_PROG_SYMBOLS)
        rng = np.random.default_rng(5)
        for _trial in range(200):
            nb = int(rng.integers(2, 8))
            blocks = []
            for _ in range(nb):
                b = np.zeros(64, dtype=np.int64)
                k = int(rng.integers(0, 10))
                if k:
                    idx = rng.choice(range(1, 64), size=k, replace=False)
                    b[idx] = rng.integers(-40, 41, size=k)
                blocks.append(b)
            w = J._ProgWriter(ac_tab)
            for b in blocks:
                J._enc_ac_first(w, b, 1, 63, 1, ac_tab)
            w.emit_eobrun()
            first = w.flush()
            w2 = J._ProgWriter(ac_tab)
            for b in blocks:
                J._enc_ac_refine(w2, b, 1, 63, 0, ac_tab)
            w2.emit_eobrun()
            refine = w2.flush()
            got = np.zeros((1, nb, 64), dtype=np.int64)
            r1 = J._BitReader(first + b"\xff\xd9", 0)
            st = {"eobrun": 0}
            for c in range(nb):
                assert J._ac_unit(r1, got, 0, c, ac_tab, 1, 63, 0, 1, st)
            r2 = J._BitReader(refine + b"\xff\xd9", 0)
            st = {"eobrun": 0}
            for c in range(nb):
                assert J._ac_unit(r2, got, 0, c, ac_tab, 1, 63, 1, 0, st)
            assert np.array_equal(got[0, :, 1:], np.stack(blocks)[:, 1:])

    def test_corrupt_progressive_rejected(self):
        """Truncation, scanless frames, and bomb headers return None."""
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            decode_jpeg_pixels,
            encode_jpeg_progressive,
        )

        gray = np.full((16, 16), 90, dtype=np.uint8)
        payload = encode_jpeg_progressive(gray)
        assert decode_jpeg_pixels(payload[: len(payload) // 2]) is None
        # scanless SOF2
        prog = b"\xff\xd8\xff\xc2" + (11).to_bytes(2, "big") + bytes(
            [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
        )
        assert decode_jpeg_pixels(prog) is None
        # dims bomb: 65500x65500 SOF2 refuses before allocating
        bomb = b"\xff\xd8\xff\xc2" + (11).to_bytes(2, "big") + bytes(
            [8, 0xFF, 0xDC, 0xFF, 0xDC, 1, 1, 0x11, 0]
        )
        assert decode_jpeg_pixels(bomb) is None

    def test_decode_image_covers_progressive(self, spark):
        """The multimodal boundary narrowed: decode_image now decodes
        progressive payloads instead of raising."""
        import numpy as np

        from map_reduce_framework_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )
        from map_reduce_framework_spark.operators.multimodal import (
            decode_image,
        )

        img = np.full((12, 9), 200, dtype=np.uint8)
        out = decode_image(encode_jpeg_progressive(img))
        assert out.shape == (12, 9, 3) and (out[:, :, 0] == 200).all()

    def test_registered_query_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        q = REGISTRY["jpeg_progressive_roundtrip"]
        compare_to_oracle(q.fn(spark, sf_smoke), duckdb_conn(sf_smoke), q.oracle)


# ---------------------------------------------------------------------------
# Epochal streaming ingest: the continuously-growing corpus
# ---------------------------------------------------------------------------


class TestEpochIngest:
    def _wave(self, spark, sf_smoke, source, parity):
        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        docs.filter(f"doc_id % 2 = {parity}").coalesce(1).write.mode(
            "append"
        ).parquet(source)

    def test_two_waves_commit_two_epochs(self, spark, sf_smoke, tmp_path):
        """Each drain commits exactly the NEW arrivals as its own
        epoch; a drain with nothing new commits nothing; the union of
        epoch manifests equals the single-run manifest totals on the
        full corpus."""
        from map_reduce_framework_spark.operators.pipeline import (
            _quality_pass_ids,
        )
        from map_reduce_framework_spark.sources.shard_writer import (
            read_manifest,
            write_training_shards,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        self._wave(spark, sf_smoke, source, 0)
        e0 = stream_ingest_epoch(spark, source, work)
        assert e0 and e0.endswith("epoch-00000")
        # nothing new -> no epoch
        assert stream_ingest_epoch(spark, source, work) is None
        self._wave(spark, sf_smoke, source, 1)
        e1 = stream_ingest_epoch(spark, source, work)
        assert e1 and e1.endswith("epoch-00001")

        import os

        m0 = read_manifest(os.path.join(e0, "shards"))
        m1 = read_manifest(os.path.join(e1, "shards"))
        docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
        kept = docs.join(_quality_pass_ids(docs), "doc_id")
        # round 10: each wave dedups WITHIN itself (greedy keeper-is-
        # min), and wave 1 is additionally checked against wave 0's
        # committed band index -- each epoch packs the SURVIVORS
        from map_reduce_framework_spark.operators.dedup import (
            _shingle_sets,
            lsh_bands,
        )
        from map_reduce_framework_spark.streaming.ops import (
            _epoch_near_dup_drops,
            _intra_wave_drops,
        )

        def wave_survivors(parity, prev):
            wave = kept.filter(f"doc_id % 2 = {parity}")
            t = _shingle_sets(wave)
            b = lsh_bands(t)
            surv = wave.join(_intra_wave_drops(b, t), "doc_id", "left_anti")
            cross = _epoch_near_dup_drops(spark, work, prev, b, t)
            if cross is not None:
                surv = surv.join(cross, "doc_id", "left_anti")
            return surv

        surv0 = wave_survivors(0, [])
        surv1 = wave_survivors(1, [e0])
        assert m0["total_docs"] == surv0.count()
        assert m1["total_docs"] == surv1.count()
        batch_dir = str(tmp_path / "batch")
        write_training_shards(
            spark, surv0.unionByName(surv1), batch_dir
        )
        mb = read_manifest(batch_dir)
        assert m0["total_docs"] + m1["total_docs"] == mb["total_docs"]
        assert m0["total_tokens"] + m1["total_tokens"] == mb["total_tokens"]

    def test_torn_epoch_reentry_completes(self, spark, sf_smoke, tmp_path):
        """Crash between the epoch-input commit and the shard commit:
        re-entry finishes THAT epoch (no duplicate epoch, identical
        manifest to an untorn run)."""
        import os
        import shutil

        from map_reduce_framework_spark.sources.shard_writer import (
            read_manifest,
        )
        from map_reduce_framework_spark.streaming.ops import (
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        self._wave(spark, sf_smoke, source, 0)
        e0 = stream_ingest_epoch(spark, source, work)
        want = read_manifest(os.path.join(e0, "shards"))
        shutil.rmtree(os.path.join(e0, "shards"))  # the crash window
        e0b = stream_ingest_epoch(spark, source, work)
        assert e0b == e0
        assert read_manifest(os.path.join(e0, "shards")) == want
        assert (
            len([n for n in os.listdir(work) if n.startswith("epoch-")]) == 1
        )

    def test_loader_iterates_epochs_in_order(self, spark, sf_smoke, tmp_path):
        from map_reduce_framework_spark.streaming.ops import (
            iter_epoch_shards,
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        self._wave(spark, sf_smoke, source, 0)
        stream_ingest_epoch(spark, source, work)
        self._wave(spark, sf_smoke, source, 1)
        stream_ingest_epoch(spark, source, work)
        seen_epochs = []
        parities = set()
        for epoch_dir, _entry, df in iter_epoch_shards(spark, work):
            if epoch_dir not in seen_epochs:
                seen_epochs.append(epoch_dir)
            parities |= {
                r["doc_id"] % 2
                for r in df.select("doc_id").limit(5).collect()
            }
        assert [d[-1] for d in seen_epochs] == ["0", "1"]  # arrival order
        assert parities == {0, 1}

    def test_registered_ledger_parity(self, spark, sf_smoke):
        from map_reduce_framework_spark.registry import REGISTRY

        q = REGISTRY["shard_epoch_ledger"]
        compare_to_oracle(q.fn(spark, sf_smoke), duckdb_conn(sf_smoke), q.oracle)

    def test_loader_stops_at_torn_frontier(self, spark, sf_smoke, tmp_path):
        """A torn epoch (input committed, shards not) STOPS the loader
        at the committed prefix -- no crash, no jumping the gap."""
        import os
        import shutil

        from map_reduce_framework_spark.streaming.ops import (
            iter_epoch_shards,
            stream_ingest_epoch,
        )

        source = str(tmp_path / "source")
        work = str(tmp_path / "work")
        self._wave(spark, sf_smoke, source, 0)
        stream_ingest_epoch(spark, source, work)
        self._wave(spark, sf_smoke, source, 1)
        e1 = stream_ingest_epoch(spark, source, work)
        shutil.rmtree(os.path.join(e1, "shards"))  # tear epoch 1
        dirs = {d for d, _e, _df in iter_epoch_shards(spark, work)}
        assert len(dirs) == 1 and next(iter(dirs)).endswith("epoch-00000")
