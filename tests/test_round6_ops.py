"""Round-6 additions, part 1: the torn-upsert hardening the round-5
advisor asked for.

Three hazards closed in ``operators/incremental.py``:

1. A Spark JOB EXCEPTION after the intent marker is published (not a
   process death) used to let the finally-block delete the staged redo
   copy; recovery then saw intent-present/staging-missing, assumed the
   commit had finished, and silently dropped the intent -- so the
   foreachBatch replay re-merged the delta onto the torn state.  Now
   the staging dir is only deleted on success or on failure BEFORE the
   intent exists.
2. Intent-present/staging-missing is treated as "finished commit" only
   when the batch id is already in the applied ledger; otherwise
   recovery fails loudly instead of hiding a destroyed redo log.
3. Pending intents replay in numeric batch order ('10' used to sort
   before '9' lexicographically), so when several pending intents touch
   the same day partitions the newest staged content wins.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_spark.operators import incremental as inc
from map_reduce_framework_spark.operators.incremental import (
    CUTOFF,
    _staged_dynamic_overwrite,
    applied_batch_ids,
    exactly_once_upsert,
    incremental_daily_agg,
    materialize_daily_state,
    recover_torn_upserts,
)
from map_reduce_framework_spark.sources.io import load_table


def _read_state_final(spark, state_dir):
    return spark.read.parquet(state_dir).select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_value",
    )


def test_job_exception_after_intent_keeps_redo_log(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A job ABORT mid-overwrite (exception, not process death) must
    leave the staged copy + intent on disk so recovery can redo; the
    old finally-rmtree destroyed the redo log in exactly this case."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    late = ev.filter(F.col("ts") >= cut)
    _, merged_rows = inc._merge_parts(spark, state_dir, late)
    out = merged_rows.withColumn("day_key", F.date_format("day", "yyyy-MM-dd"))

    real_overwrite = inc._overwrite_from_staging

    def _boom(spark_, staging, state_dir_):
        raise RuntimeError("simulated job abort mid partition-commit")

    monkeypatch.setattr(inc, "_overwrite_from_staging", _boom)
    with pytest.raises(RuntimeError, match="simulated job abort"):
        _staged_dynamic_overwrite(spark, out, state_dir, batch_id=4)
    monkeypatch.setattr(inc, "_overwrite_from_staging", real_overwrite)

    # redo log survived the exception
    intents = os.path.join(state_dir, "_upsert_intents")
    (intent_name,) = os.listdir(intents)
    assert intent_name == "4"
    with open(os.path.join(intents, intent_name)) as fh:
        staging = json.load(fh)["staging"]
    assert os.path.isdir(staging)

    # recovery redoes from it and the state equals the one-shot recompute
    assert recover_torn_upserts(spark, state_dir) == [4]
    full = {tuple(r) for r in incremental_daily_agg(ev).collect()}
    healed = {tuple(r) for r in _read_state_final(spark, state_dir).collect()}
    assert healed == full
    assert applied_batch_ids(state_dir) == {4}
    assert not os.path.isdir(staging)
    # and the replayed batch is a ledger no-op
    assert exactly_once_upsert(spark, state_dir, late, batch_id=4) is False


def test_failure_before_intent_cleans_staging(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """With no batch_id (no intent), a failed overwrite must still clean
    the orphaned staging dir -- it is garbage, not a redo log."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    cut = F.lit(CUTOFF).cast("timestamp_ntz")
    _, merged_rows = inc._merge_parts(
        spark, state_dir, ev.filter(F.col("ts") >= cut)
    )
    out = merged_rows.withColumn("day_key", F.date_format("day", "yyyy-MM-dd"))

    def _boom(spark_, staging, state_dir_):
        raise RuntimeError("boom")

    monkeypatch.setattr(inc, "_overwrite_from_staging", _boom)
    with pytest.raises(RuntimeError):
        _staged_dynamic_overwrite(spark, out, state_dir, batch_id=None)
    parent = os.path.dirname(state_dir)
    assert not [d for d in os.listdir(parent) if ".staging-" in d]


def test_recovery_fails_loudly_on_lost_redo_log(spark, sf_smoke, tmp_path):
    """Intent present + staging missing + batch NOT in the applied
    ledger means the redo log was destroyed before the commit was known
    good; recovery must raise, not silently drop the intent."""
    ev = load_table(spark, sf_smoke, "events")
    state_dir = str(tmp_path / "state")
    materialize_daily_state(ev, state_dir)
    intents = os.path.join(state_dir, "_upsert_intents")
    os.makedirs(intents, exist_ok=True)
    with open(os.path.join(intents, "11"), "w") as fh:
        json.dump(
            {"staging": str(tmp_path / "gone-staging"), "batch_id": 11}, fh
        )
    with pytest.raises(RuntimeError, match="torn upsert for batch 11"):
        recover_torn_upserts(spark, state_dir)
    # the intent is NOT consumed -- the operator refuses to hide the tear
    assert os.listdir(intents) == ["11"]

    # but once the ledger says the batch applied, the intent is residue
    # from a death between ledger write and intent removal: clearable.
    inc._record_applied(state_dir, 11)
    assert recover_torn_upserts(spark, state_dir) == []
    assert os.listdir(intents) == []


def test_recovery_replays_intents_in_numeric_batch_order(spark, tmp_path):
    """Two pending intents (batches 9 and 10) staging DIFFERENT content
    for the SAME day partition: after recovery the newer batch's rows
    must be the final state. Lexicographic order ('10' < '9') would
    leave batch 9's stale content."""
    state_dir = str(tmp_path / "state")
    schema = "day date, event_type string, n_events bigint, sum_value decimal(38,6), max_value double"

    def _stage(batch_id, sum_value):
        df = spark.createDataFrame(
            [("2024-01-01", "click", 1, sum_value, 1.0)],
            "day string, event_type string, n_events bigint, sum_value string, max_value double",
        ).select(
            F.col("day").cast("date").alias("day"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("decimal(38,6)").alias("sum_value"),
            "max_value",
            F.lit("2024-01-01").alias("day_key"),
        )
        staging = str(tmp_path / f"staging-{batch_id}")
        df.write.mode("overwrite").parquet(staging)
        intents = os.path.join(state_dir, "_upsert_intents")
        os.makedirs(intents, exist_ok=True)
        with open(os.path.join(intents, str(batch_id)), "w") as fh:
            json.dump({"staging": staging, "batch_id": batch_id}, fh)

    # seed the table so the partitioned layout exists
    spark.createDataFrame([], schema).withColumn(
        "day_key", F.lit("2024-01-01")
    ).write.partitionBy("day_key").mode("overwrite").parquet(state_dir)

    _stage(9, "9.000000")
    _stage(10, "10.000000")
    assert recover_torn_upserts(spark, state_dir) == [9, 10]
    final = spark.read.parquet(state_dir).collect()
    assert len(final) == 1
    assert float(final[0].sum_value) == 10.0


def test_recovery_sweeps_orphaned_staging_dirs(spark, tmp_path):
    """A crash BETWEEN intent-file removal and the staging rmtree (the
    commit path's last two steps) leaves an intent-less .staging-* dir
    that no code path used to garbage-collect (round-6 ADVICE).
    Recovery now sweeps orphans -- but only dirs matching THIS state
    table's staging prefix, and never one referenced by a pending
    intent (exercised via the loud-failure path, which returns before
    the sweep)."""
    state_dir = str(tmp_path / "state")
    spark.createDataFrame(
        [("2024-01-01", 1)], "day_key string, n bigint"
    ).write.partitionBy("day_key").mode("overwrite").parquet(state_dir)

    orphan = state_dir + ".staging-deadbeef"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as fh:
        fh.write("x")
    bystander = str(tmp_path / "other-table.staging-cafe")
    os.makedirs(bystander)

    assert recover_torn_upserts(spark, state_dir) == []
    assert not os.path.isdir(orphan)  # orphan swept
    assert os.path.isdir(bystander)  # other tables' staging untouched

    # a staging dir referenced by a pending intent survives: the loud
    # RuntimeError on a LOST redo log fires before any sweep, and a
    # REPLAYABLE intent consumes its staging via the redo itself
    live = state_dir + ".staging-feedface"
    os.makedirs(live)
    intents = os.path.join(state_dir, "_upsert_intents")
    os.makedirs(intents, exist_ok=True)
    with open(os.path.join(intents, "7"), "w") as fh:
        json.dump({"staging": str(tmp_path / "gone"), "batch_id": 7}, fh)
    with pytest.raises(RuntimeError, match="torn upsert for batch 7"):
        recover_torn_upserts(spark, state_dir)
    assert os.path.isdir(live)  # no sweep happened on the error path
    os.remove(os.path.join(intents, "7"))
    assert recover_torn_upserts(spark, state_dir) == []
    assert not os.path.isdir(live)


def test_tokenless_docs_never_kept_by_classifier(spark):
    """The GPT-3-style classifier's docstring promise, now enforced: an
    empty doc scores z = bias = -2 (p ~ 0.119), and before the explicit
    n_chars > 0 / n_tok > 0 conjuncts the luckiest ~0.3% of md5-derived
    Pareto draws cleared 1 - p -- 2000 doc_ids make at least a few such
    draws overwhelmingly likely, so keep-count 0 proves the guard.
    Whitespace-only docs (n_chars > 0 but zero tokens, the round-6
    ADVICE gap) are covered by the n_tok conjunct."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.text_analysis import (
        quality_classifier_scores,
    )

    docs = spark.createDataFrame(
        [(i, "", "en", "s", 0) for i in range(2000)]
        + [(i, "   \t  ", "en", "s", 6) for i in range(2000, 4000)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    scores = quality_classifier_scores(docs)
    assert scores.filter(F.col("keep")).count() == 0
    # sanity: the guards (not an accident of the draws) are what block
    # them -- without them the Pareto side DOES clear 1-p sometimes
    lucky = scores.filter(F.col("pareto_x") > 1 - F.col("p")).count()
    assert lucky > 0


def test_exact_substr_dedup_planted_duplicates(spark):
    """Lee et al. 2022 keep-first semantics on planted duplicates: a
    verbatim copy of an earlier doc collapses to '' while the original
    survives byte-identical; an embedded copy loses exactly the copied
    span (the bridging n-grams through the splice points are unique, so
    the surrounding text survives); unique text and empty docs are
    untouched."""
    from map_reduce_framework_spark.operators.text_analysis import (
        exact_substr_dedup,
    )

    orig = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (0, orig, "en", "s", len(orig)),
            (1, orig, "en", "s", len(orig)),
            (2, "unique words only here never repeated anywhere", "en", "s", 47),
            (3, "prefix tokens " + orig + " suffix tokens", "en", "s", 90),
            (4, "", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = {r.doc_id: r for r in exact_substr_dedup(docs).collect()}
    assert rows[0].cleaned_text == orig and rows[0].n_removed == 0
    assert rows[1].cleaned_text == "" and rows[1].n_kept == 0
    assert rows[2].cleaned_text.startswith("unique words")
    assert rows[3].cleaned_text == "prefix tokens suffix tokens"
    assert rows[3].n_removed == 10  # exactly the copied span
    assert rows[4].cleaned_text == "" and rows[4].n_tokens == 0


def test_exact_substr_dedup_consistent_with_coverage(spark, sf_smoke):
    """The span remover and the metric share the duplication criterion:
    every removed position is (by definition) a covered position, so
    per doc n_removed <= n_dup_positions, with equality exactly when
    none of the doc's duplicated windows is a global first
    occurrence."""
    from map_reduce_framework_spark.operators.text_analysis import (
        duplicated_ngram_coverage,
        exact_substr_dedup,
    )

    docs = load_table(spark, sf_smoke, "documents")
    cov = {
        r.doc_id: r.n_dup_positions
        for r in duplicated_ngram_coverage(docs).collect()
    }
    cleaned = {r.doc_id: r for r in exact_substr_dedup(docs).collect()}
    assert set(cov) == set(cleaned)
    for doc_id, row in cleaned.items():
        assert row.n_removed <= cov[doc_id], doc_id
        assert row.n_kept == row.n_tokens - row.n_removed


def test_decontamination_accepts_external_eval_relation(spark, sf_smoke, tmp_path):
    """Round-5 ask: decontamination must screen against a REAL eval
    table (its own parquet), not only the doc_id % 50 stand-in. Feeding
    the external API the very split the stand-in carves out must
    reproduce the registered results row-for-row -- proving the two
    forms share one implementation."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.text_analysis import (
        EVAL_MOD,
        eval_neardup_contamination,
        ngram_contamination,
    )

    docs = load_table(spark, sf_smoke, "documents")
    eval_path = str(tmp_path / "evalset")
    docs.filter(F.col("doc_id") % EVAL_MOD == 0).write.parquet(eval_path)
    eval_df = spark.read.parquet(eval_path)
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)

    want = {tuple(r) for r in ngram_contamination(docs).collect()}
    got = {
        tuple(r)
        for r in ngram_contamination(train, eval_docs=eval_df).collect()
    }
    assert got == want and len(want) > 0

    want_nd = {
        tuple(r) for r in eval_neardup_contamination(docs).collect()
    }
    got_nd = {
        tuple(r)
        for r in eval_neardup_contamination(
            train, eval_docs=eval_df
        ).collect()
    }
    assert got_nd == want_nd and len(want_nd) > 0


def test_kv_fold_segmented_peak_batch_is_segment_bounded(spark):
    """The round-4/5 memory-bound claim, finally MEASURED: on a single
    hot key whose history is 8x the segment size, no _fold_segment
    cogroup batch may ever hold more than segment_size op rows (+1
    carried state row on the state side) -- the monolithic fold would
    hold all 512. A max-accumulator inside a probe wrapper records the
    true per-task peak across executors; the fold must still match
    kv_fold exactly."""
    import pandas as pd
    from pyspark.accumulators import AccumulatorParam

    from map_reduce_framework_spark.operators import kv

    class _MaxParam(AccumulatorParam):
        def zero(self, v):
            return 0

        def addInPlace(self, a, b):
            return max(a, b)

    acc = spark.sparkContext.accumulator(0, _MaxParam())
    real = kv._fold_segment

    def probe(state_pdf, ops_pdf):
        acc.add(len(ops_pdf))
        return real(state_pdf, ops_pdf)

    n_ops, seg = 512, 64
    pdf = pd.DataFrame(
        {
            "op_id": range(n_ops),
            "key": ["hot"] * n_ops,
            "op": ["put"] * n_ops,
            "value": [f"v{i}" for i in range(n_ops)],
            "version_arg": list(range(n_ops)),  # every CAS succeeds
        }
    )
    df = spark.createDataFrame(
        pdf.astype(
            {
                "op_id": "int64",
                "key": "string",
                "op": "string",
                "value": "object",
                "version_arg": "object",
            }
        )
    )
    orig = kv._fold_segment
    kv._fold_segment = probe
    try:
        got = sorted(
            tuple(r)
            for r in kv.kv_fold_segmented(df, segment_size=seg).collect()
        )
    finally:
        kv._fold_segment = orig
    want = sorted(tuple(r) for r in kv.kv_fold(df).collect())
    assert got == want and len(got) == n_ops
    assert 0 < acc.value <= seg, acc.value


def _crafted_bmp():
    """A 4x2 24-bit BMP with distinct known pixels, built by hand so the
    decoder is tested against the spec, not against the encoder."""
    import numpy as np

    # top-down RGB rows as the DECODER must return them
    px = np.array(
        [
            [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 0]],
            [[10, 20, 30], [40, 50, 60], [70, 80, 90], [100, 110, 120]],
        ],
        dtype=np.uint8,
    )
    w, h, stride = 4, 2, 12  # 4*3 = 12, already 4-byte aligned
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up storage
        for x in range(w):
            r, g, b = px[y, x]
            rows += bytes([b, g, r])  # BGR
    header = (
        b"BM"
        + (54 + stride * h).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + (stride * h).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + rows, px


def test_bmp_pixel_decode_known_values():
    """decode_bmp_pixels against a hand-built BMP: exact pixel values,
    BGR->RGB and bottom-up->top-down handled; encode_bmp round-trips;
    decode_image returns pixels for BMP and still raises (env-gated)
    for compressed formats only."""
    import numpy as np
    import pytest as _pytest

    from map_reduce_framework_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_image,
        encode_bmp,
        nearest_neighbor_resize,
    )

    payload, px = _crafted_bmp()
    got = decode_bmp_pixels(payload)
    assert got is not None and np.array_equal(got, px)
    assert np.array_equal(decode_image(payload), px)
    # encoder round-trip: decode(encode(px)) == px
    assert np.array_equal(decode_bmp_pixels(encode_bmp(px)), px)
    # nearest-neighbor: 4x2 -> 2x1 picks src cols {0,2}, src row 0
    small = nearest_neighbor_resize(px, 2, 1)
    assert small.tolist() == [[[255, 0, 0], [0, 0, 255]]]
    # stub now narrowed to JPEG (BMP/PNG/GIF all decode for real);
    # a structurally broken PNG also falls through to the env gate
    jpeg_ish = b"\xff\xd8\xff\xe0" + b"\x00" * 20
    with _pytest.raises(NotImplementedError):
        decode_image(jpeg_ish)
    broken_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    with _pytest.raises(NotImplementedError):
        decode_image(broken_png)


def test_resize_images_real_pixels_end_to_end(spark):
    """The resize operator on a REAL BMP payload: header dims come from
    the pixels, the resized payload is a decodable BMP whose pixel
    values are the exact nearest-neighbor picks -- not a passthrough."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        decode_bmp_pixels,
        resize_images,
    )

    payload, px = _crafted_bmp()
    media = spark.createDataFrame(
        [(1, bytearray(payload), "s")],
        "doc_id long, payload binary, source string",
    )
    (row,) = resize_images(media, max_dim=2).collect()
    assert (row.width, row.height) == (4, 2)
    assert (row.new_width, row.new_height) == (2, 1)
    out = decode_bmp_pixels(bytes(row.resized))
    assert out.tolist() == [[[255, 0, 0], [0, 0, 255]]]
    # no-op path: already within max_dim -> re-encoded, pixel-identical
    (row2,) = resize_images(media, max_dim=8).collect()
    assert (row2.new_width, row2.new_height) == (4, 2)
    assert np.array_equal(decode_bmp_pixels(bytes(row2.resized)), px)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + _z.crc32(ctype + data).to_bytes(4, "big")
    )


def _crafted_png(px, color_type, filters, plte=None):
    """Hand-build a PNG: px is the RAW (pre-filter) sample array
    (h, w, channels); each row is encoded with the given filter type so
    the DECODER's unfiltering is what the test exercises."""
    import zlib as _z

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, ch = px.shape
    raw = b""
    prev = bytes(w * ch)
    for y, ftype in zip(range(h), filters):
        line = bytes(px[y].reshape(-1))
        if ftype == 0:
            enc = line
        elif ftype == 1:  # Sub
            enc = bytes(
                (line[i] - (line[i - ch] if i >= ch else 0)) & 0xFF
                for i in range(len(line))
            )
        elif ftype == 2:  # Up
            enc = bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
        elif ftype == 3:  # Average
            enc = bytes(
                (line[i] - (((line[i - ch] if i >= ch else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(len(line))
            )
        else:  # Paeth
            def paeth(a, b, c):
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

            enc = bytes(
                (
                    line[i]
                    - paeth(
                        line[i - ch] if i >= ch else 0,
                        prev[i],
                        prev[i - ch] if i >= ch else 0,
                    )
                )
                & 0xFF
                for i in range(len(line))
            )
        raw += bytes([ftype]) + enc
        prev = line
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", bytes(plte))
    out += _png_chunk(b"IDAT", _z.compress(raw)) + _png_chunk(b"IEND", b"")
    return out


def test_png_pixel_decode_all_filters_and_color_types():
    """decode_png_pixels against hand-filtered scanlines: one row per
    spec filter type (None/Sub/Up/Average/Paeth) must unfilter back to
    the exact source pixels; RGBA drops alpha, grayscale replicates,
    palette resolves through PLTE; a truncated stream returns None."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        decode_image,
        decode_png_pixels,
    )

    rng = [
        [10, 20, 30, 40, 250, 60, 7, 80, 90, 200, 110, 120],
        [13, 24, 35, 46, 57, 68, 79, 90, 101, 112, 123, 134],
        [255, 0, 128, 1, 2, 3, 254, 5, 6, 7, 8, 9],
        [11, 22, 33, 44, 55, 66, 77, 88, 99, 111, 222, 133],
        [99, 98, 97, 96, 95, 94, 93, 92, 91, 90, 89, 88],
    ]
    px = np.array(rng, dtype=np.uint8).reshape(5, 4, 3)
    payload = _crafted_png(px, color_type=2, filters=[0, 1, 2, 3, 4])
    got = decode_png_pixels(payload)
    assert got is not None and np.array_equal(got, px)
    assert np.array_equal(decode_image(payload), px)

    rgba = np.dstack([px, np.full((5, 4), 200, np.uint8)])
    got4 = decode_png_pixels(_crafted_png(rgba, 6, [4, 3, 2, 1, 0]))
    assert np.array_equal(got4, px)

    gray = px[:, :, :1]
    gotg = decode_png_pixels(_crafted_png(gray, 0, [0, 1, 2, 3, 4]))
    assert np.array_equal(gotg, np.repeat(gray, 3, axis=2))

    idxs = np.array([[0, 1], [2, 1]], dtype=np.uint8).reshape(2, 2, 1)
    plte = [255, 0, 0, 0, 255, 0, 0, 0, 255]
    gotp = decode_png_pixels(_crafted_png(idxs, 3, [0, 0], plte=plte))
    assert gotp.tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [0, 255, 0]],
    ]

    # a truncated IDAT must fail cleanly (None, not an exception)
    assert decode_png_pixels(payload[:60]) is None


def test_resize_images_real_pixels_png_end_to_end(spark):
    """resize_images on a PNG payload: real decode, nearest-neighbor
    pick, BMP re-encode with the exact expected pixel values."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        decode_bmp_pixels,
        resize_images,
    )

    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    payload = _crafted_png(px, color_type=2, filters=[0, 4])
    media = spark.createDataFrame(
        [(7, bytearray(payload), "s")],
        "doc_id long, payload binary, source string",
    )
    (row,) = resize_images(media, max_dim=2).collect()
    assert (row.width, row.height) == (4, 2)
    assert (row.new_width, row.new_height) == (2, 1)
    out = decode_bmp_pixels(bytes(row.resized))
    assert np.array_equal(out, px[[0]][:, [0, 2]])


def _crafted_gif(idx_rows, palette, interlaced=False):
    """Hand-build a GIF89a: global color table + one image whose LZW
    stream emits a CLEAR code before every literal pixel code (a valid
    degenerate encoding -- the table never grows, so the bit width
    stays fixed and the encoder is trivial while the DECODER still
    walks real clear/literal logic)."""
    import numpy as np

    idx = np.asarray(idx_rows, dtype=np.uint8)
    h, w = idx.shape
    ncol = len(palette) // 3
    depth = max(2, (ncol - 1).bit_length())  # min_code_size >= 2
    table = bytes(palette) + bytes(3 * ((1 << depth) - ncol))
    clear, width = 1 << depth, depth + 1
    bits = []
    flat = idx.reshape(-1)
    if interlaced:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        flat = idx[order].reshape(-1)
    for p in flat:
        bits += [clear, int(p)]
    bits.append(clear + 1)  # EOI
    acc = nacc = 0
    data = bytearray()
    for code in bits:
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        data.append(acc & 0xFF)
    out = (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | (depth - 1), 0, 0])  # GCT present, 2^depth entries
        + table
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext (skipped)
        + b"\x2c"
        + b"\x00\x00\x00\x00"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x40 if interlaced else 0x00])
        + bytes([depth])
    )
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3b"


def test_gif_pixel_decode_known_values():
    """decode_gif_pixels on a hand-built GIF: palette resolution,
    extension skipping, sub-block reassembly, and the interlace row
    reorder; the LZW fast path (table growth, code-width bump, the
    code==next_code case) is pinned separately on a hand-packed
    stream."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        _gif_lzw_decode,
        decode_gif_pixels,
        decode_image,
    )

    pal = [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]
    idx = [[0, 1, 2, 3], [3, 2, 1, 0]]
    want = np.array(
        [
            [[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]],
            [[10, 20, 30], [0, 0, 255], [0, 255, 0], [255, 0, 0]],
        ],
        dtype=np.uint8,
    )
    payload = _crafted_gif(idx, pal)
    got = decode_gif_pixels(payload)
    assert got is not None and np.array_equal(got, want)
    assert np.array_equal(decode_image(payload), want)

    # interlaced 4-row image: rows stored 0,2,1,3-pass order must come
    # back in display order
    idx4 = [[0, 1], [1, 2], [2, 3], [3, 0]]
    goti = decode_gif_pixels(_crafted_gif(idx4, pal, interlaced=True))
    pal_np = np.array(pal, dtype=np.uint8).reshape(-1, 3)
    assert np.array_equal(goti, pal_np[np.array(idx4)])

    # real LZW path: codes CLEAR,1,6,6,EOI hand-packed little-endian
    # (widths 3,3,3,3 then 4 after the decoder's table hits 2^3)
    # decode to [1,1,1,1,1] -- exercises code==next_code and width bump
    assert _gif_lzw_decode(bytes([0x8C, 0x5D]), 2, 5) == bytearray([1] * 5)

    # corrupt stream: out-of-range code fails cleanly
    assert decode_gif_pixels(payload[:30]) is None


# ---------------------------------------------------------------------------
# In-engine trained quality classifier (round 6)
# ---------------------------------------------------------------------------


def test_quality_classifier_training_matches_independent_python(
    spark, sf_smoke
):
    """Independent from-scratch Python reimplementation of the
    distributed logistic-regression trainer (pure math module, exact
    ints for every cross-doc sum) must agree with the Spark operator
    BIT-FOR-BIT on the whole training trajectory -- the same
    independent-axis discipline as the DSIR / BPE / MinHash pins.
    Also asserts the visible training signal: avg log-loss never
    increases (beyond quantization jitter) and ends at or below the
    class-prior entropy -- on this synthetic corpus lang is independent
    of the text, so the best achievable model IS the prior, and landing
    exactly there is the correct MLE, not a defect (the planted-signal
    test below proves the trainer learns when signal exists)."""
    import math

    from map_reduce_framework_spark.operators import text_analysis as ta

    docs = load_table(spark, sf_smoke, "documents")
    rows = docs.select("doc_id", "lang", "n_chars", "text").collect()
    S = ta.DSIR_SCALE
    stop = set(ta.LANG_PROFILES["en"])

    feats = []
    for r in rows:
        w = [t for t in r.text.split() if t]
        digits = sum(c.isdigit() and c.isascii() for c in r.text)
        punct = sum(
            not (c.isascii() and (c.isalnum() or c in " \t\n"))
            for c in r.text
        )
        yq = S if r.lang == ta.QCT_POS_LANG else 0
        x = [
            S,
            0
            if not w
            else math.floor(sum(t in stop for t in w) / len(w) * S + 0.5),
            0
            if not w
            else math.floor(
                min(sum(len(t) for t in w) / len(w) / ta.QCT_MTL_CAP, 1.0)
                * S
                + 0.5
            ),
            0
            if r.n_chars == 0
            else math.floor(digits / r.n_chars * S + 0.5),
            0
            if r.n_chars == 0
            else math.floor(punct / r.n_chars * S + 0.5),
            0
            if r.n_chars == 0
            else math.floor(
                min(
                    math.floor(math.log2(float(r.n_chars)))
                    / ta.QCT_LOG_CAP,
                    1.0,
                )
                * S
                + 0.5
            ),
        ]
        feats.append((r.doc_id, yq, x))

    n = len(feats)
    wq = [0] * 6
    want_trace = []
    for t in range(1, ta.QCT_ITERS + 1):
        g = [0] * 6
        nll = 0
        for _d, yq, x in feats:
            z = float(sum(a * b for a, b in zip(wq, x))) / 1e12
            pq = math.floor(S / (1.0 + math.exp(-z)) + 0.5)
            pc = min(max(pq, 1), S - 1) / S
            nll += math.floor(
                -math.log(pc if yq == S else 1.0 - pc) * S + 0.5
            )
            for j in range(6):
                g[j] += (pq - yq) * x[j]
        avg_loss = float(nll) / (float(n) * 1e6)
        wq = [
            w - math.floor(float(gj) * ta.QCT_LR / (float(n) * 1e6) + 0.5)
            for w, gj in zip(wq, g)
        ]
        want_trace.append((t, avg_loss, *[w / 1e6 for w in wq]))

    trace = ta.quality_classifier_train_trace(docs)
    got_trace = [
        tuple(r)
        for r in ta.quality_classifier_train(docs, _trace=trace)
        .orderBy("iter")
        .collect()
    ]
    assert got_trace == want_trace

    losses = [r[1] for r in got_trace]
    assert all(b <= a + 1e-6 for a, b in zip(losses, losses[1:]))
    assert losses[-1] < losses[0]
    pos = sum(yq == S for _d, yq, _x in feats) / n
    prior_entropy = -(
        pos * math.log(pos) + (1 - pos) * math.log(1 - pos)
    )
    assert losses[-1] <= prior_entropy + 1e-3

    want_scores = {}
    for d, yq, x in feats:
        z = float(sum(a * b for a, b in zip(wq, x))) / 1e12
        pq = math.floor(S / (1.0 + math.exp(-z)) + 0.5)
        want_scores[d] = (yq == S, pq > S // 2)
    got_scores = {
        r.doc_id: (r.label_ref, r.keep)
        for r in ta.quality_classifier_trained_scores(
            docs, _trace=trace
        ).collect()
    }
    assert got_scores == want_scores


def test_quality_classifier_trainer_learns_planted_signal(spark):
    """Planted-signal axis: on a corpus where the reference class IS
    separable in the feature space (reference docs are stopword-dense,
    crawl docs stopword-free), the same distributed trainer must
    actually learn -- loss drops well below the class-prior entropy and
    the trained scores recover the labels almost perfectly. Together
    with the prior-convergence test above this brackets the trainer:
    no signal -> prior, real signal -> learned separator."""
    import math

    from map_reduce_framework_spark.operators import text_analysis as ta

    filler = ["alpha", "bravo", "container", "delta", "syntax"]
    rows = []
    for i in range(240):
        ref = i % 3 == 0
        base = [filler[(i + j) % 5] for j in range(30 + i % 7)]
        if ref:
            base = [
                w
                for j, w in enumerate(base)
                for w in ([w, "the", "of"] if j % 2 == 0 else [w])
            ]
        text = " ".join(base)
        rows.append(
            (i, text, "en" if ref else "zz", "src0", len(text))
        )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    trace, wq = ta.quality_classifier_train_trace(docs, iters=30, lr=8.0)
    losses = [r[1] for r in trace]
    pos = 1.0 / 3.0
    prior_entropy = -(
        pos * math.log(pos) + (1 - pos) * math.log(1 - pos)
    )
    assert losses[-1] < prior_entropy - 0.05

    scored = ta.quality_classifier_trained_scores(docs, _trace=(trace, wq))
    got = {r.doc_id: (r.label_ref, r.keep) for r in scored.collect()}
    hits = sum(lab == keep for lab, keep in got.values())
    assert hits / len(got) > 0.9
    assert got[0][0] and got[1][0] is False


def test_quality_classifier_gradient_sum_does_not_overflow(spark, monkeypatch):
    """Two rows whose gradient terms (pq - yq) * xq0 are 5e18 each: the
    sum, 1e19, is past 2^63. The trainer must return the weights that
    exact Python integers give, not raise ARITHMETIC_OVERFLOW (ANSI) or
    wrap."""
    import math

    from map_reduce_framework_spark.operators import text_analysis as ta

    S = ta.DSIR_SCALE
    x = [[10**13, 7, 0, 0, 0, 0], [10**13, 3, 0, 0, 0, 0]]
    feats = spark.createDataFrame(
        [(d, "zz", *xs) for d, xs in enumerate(x)],
        "doc_id long, lang string, "
        + ", ".join(f"xq{j} long" for j in range(6)),
    )
    monkeypatch.setattr(ta, "_qct_features", lambda documents: feats)

    pq = math.floor(S / 2.0 + 0.5)  # w = 0 gives z = 0
    g = [sum(pq * xs[j] for xs in x) for j in range(6)]
    assert g[0] > 2**63
    want = [-math.floor(float(gj) * ta.QCT_LR / (2 * 1e6) + 0.5) for gj in g]
    _rows, w_q = ta.quality_classifier_train_trace(feats, iters=1)
    assert w_q == want


def test_quality_classifier_queries_train_once_per_table(spark, tmp_path, sf_smoke):
    """The registered quality_classifier_train and
    quality_classifier_trained_scores share one trace per documents
    table (sources.io.table_memo): once the first has trained, building
    the second runs no SQL execution at all, where training alone is
    one collect per iteration."""
    import shutil

    from map_reduce_framework_spark.operators import text_analysis as ta
    from map_reduce_framework_spark.registry import REGISTRY

    sf_dir = str(tmp_path)
    shutil.copy(
        os.path.join(sf_smoke, "documents.parquet"),
        os.path.join(sf_dir, "documents.parquet"),
    )

    def last_execution() -> int:
        # the newest execution id, not executionsCount(): the store keeps
        # only the last spark.sql.ui.retainedExecutions (1000), so in a
        # long session the count stops growing
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ids = spark._jsparkSession.sharedState().statusStore().executionsList()
        return ids.last().executionId() if ids.nonEmpty() else -1

    start = last_execution()
    trained = REGISTRY["quality_classifier_train"].fn(spark, sf_dir)
    assert last_execution() > start  # the first query trained
    assert trained.count() == ta.QCT_ITERS
    before = last_execution()
    REGISTRY["quality_classifier_trained_scores"].fn(spark, sf_dir)
    assert last_execution() == before


# ---------------------------------------------------------------------------
# Data-mixture materialization (round 6)
# ---------------------------------------------------------------------------


def test_data_mixture_scalable_twin_is_bit_identical(spark, sf_smoke):
    """The two-level-prefix-sum form (bucket offsets + per-(source,
    bucket) windows) must produce EXACTLY the plain per-source-window
    sample -- the sort key starts with the bucket id, so splitting the
    cumulative sum at bucket boundaries is algebra, not approximation."""
    from map_reduce_framework_spark.operators import pipeline as pl

    docs = load_table(spark, sf_smoke, "documents")
    plain = {
        tuple(r) for r in pl.data_mixture_sample(docs).collect()
    }
    scal = {
        tuple(r)
        for r in pl.data_mixture_sample_scalable(docs).collect()
    }
    assert plain == scal
    assert len(plain) > 0


def test_data_mixture_budget_invariants(spark, sf_smoke):
    """Recipe-level guarantees a consumer relies on: (a) allocations
    are proportional-with-floor to weights under the T = total//2
    budget; (b) curated sources actually exercise the epoch-repeat
    path (full_epochs >= 1) while base sources prefix-sample;
    (c) realized = full_epochs * avail + greedy prefix, so
    0 <= shortfall and the remainder is filled as far as the next
    unselected doc allows: shortfall - (remainder - prefix) == 0."""
    from map_reduce_framework_spark.operators import pipeline as pl

    docs = load_table(spark, sf_smoke, "documents")
    plan = {r.source: r for r in pl.data_mixture_plan(docs).collect()}
    total = sum(r.avail_tokens for r in plan.values())
    sum_w = sum(r.weight for r in plan.values())
    for src, r in plan.items():
        assert r.alloc_tokens == (total // 2) * r.weight // sum_w
        assert (
            r.full_epochs * r.avail_tokens + r.remainder_tokens
            == r.alloc_tokens
        )
        n = int(src[3:])
        if n < pl.MIX_CURATED_BELOW:
            assert r.weight == pl.MIX_W_CURATED
            assert r.full_epochs >= 1
        else:
            assert r.weight == pl.MIX_W_BASE
            assert r.full_epochs == 0

    realized = {
        r.source: r for r in pl.data_mixture_realized(docs).collect()
    }
    sample = pl.data_mixture_sample(docs).collect()
    by_src: dict[str, int] = {}
    for r in sample:
        assert r.n_repeats >= 1
        by_src[r.source] = by_src.get(r.source, 0) + (
            r.n_repeats * r.n_tokens
        )
    for src, r in realized.items():
        assert r.shortfall_tokens >= 0
        assert r.realized_tokens == by_src.get(src, 0)
        assert (
            r.realized_tokens + r.shortfall_tokens
            == plan[src].alloc_tokens
        )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (round 6)
# ---------------------------------------------------------------------------


def test_image_dhash_pairs_planted_neardups(spark):
    """Planted multimodal near-dups: a doc and its one-token-edited
    twin render to images differing in a handful of pixels, so their
    dHashes sit within the <= 8 Hamming threshold and the banded join
    must surface the pair; unrelated docs (random token streams) sit
    ~30 bits apart and must not pair. Also proves band completeness by
    brute force: every pair within threshold appears in the banded
    result."""
    from map_reduce_framework_spark.operators import multimodal as mm

    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(12):
        toks = [vocab[(7 * d + 3 * j) % 40] for j in range(64)]
        rows.append((2 * d, " ".join(toks)))
        twin = list(toks)
        twin[5] = "EDITED"
        rows.append((2 * d + 1, " ".join(twin)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hashes = {r.doc_id: r.dhash for r in mm.image_dhash(docs).collect()}
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm.image_dhash_pairs(docs).collect()
    }

    # brute-force ground truth over all pairs
    ids = sorted(hashes)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            if ham <= mm.DHASH_MAX_HAM:
                want[(a, b)] = ham
    assert got == want

    # every planted twin pair is found; at least one twin pair has
    # 0 < hamming (the edit really moved bits, not a trivial equality)
    twin_hams = [got.get((2 * d, 2 * d + 1)) for d in range(12)]
    assert all(h is not None for h in twin_hams)
    assert any(h > 0 for h in twin_hams)


def test_image_dhash_survives_codec_roundtrip_vs_direct_math(spark):
    """The registered hash (through encode_bmp -> decode_image ->
    nearest_neighbor_resize) must equal the hash computed straight from
    the generated pixel array -- i.e. the BMP round trip is lossless
    where the oracle assumes it is."""
    from map_reduce_framework_spark.operators import multimodal as mm

    texts = ["alpha beta gamma delta", "one", "", "x " * 300]
    for t in texts:
        toks = [w for w in t.split() if w]
        px = mm._doc_pixels(toks)
        direct = mm._dhash_from_pixels(px)
        decoded = mm.decode_image(mm.encode_bmp(px))
        assert mm._dhash_from_pixels(decoded) == direct


def test_perplexity_buckets_agree_with_raw_scorer(spark, sf_smoke):
    """The hash-exact tercile relation must tell the same story as the
    rows-only raw-double scorer: within every language, mean perplexity
    rises strictly head -> middle -> tail, buckets partition exactly
    the tokenized docs, and per-lang tercile sizes differ by at most
    one (the ntile contract)."""
    from map_reduce_framework_spark.operators import text_analysis as ta

    docs = load_table(spark, sf_smoke, "documents")
    buckets = {
        r.doc_id: (r.lang, r.ppl_bucket)
        for r in ta.perplexity_buckets(docs).collect()
    }
    raw = {
        r.doc_id: r.ppl
        for r in ta.unigram_logprob_scores(docs).collect()
    }
    assert set(buckets) == set(raw)

    per_lang: dict[str, dict[str, list[float]]] = {}
    for d, (lang, b) in buckets.items():
        per_lang.setdefault(lang, {}).setdefault(b, []).append(raw[d])
    for lang, by_bucket in per_lang.items():
        assert set(by_bucket) == {"head", "middle", "tail"}
        sizes = sorted(len(v) for v in by_bucket.values())
        assert sizes[-1] - sizes[0] <= 1
        means = {
            b: sum(v) / len(v) for b, v in by_bucket.items()
        }
        assert means["head"] < means["middle"] < means["tail"]


def test_part_kcore_matches_independent_peeling(spark, sf_smoke):
    """Independent driver-side Matula-Beck peel (sets and dicts, no
    Spark) must produce exactly the operator's core: same survivor set,
    same in-core degrees, same adaptive k. Also pins the oracle-round
    contract: the fixpoint must arrive within KCORE_ORACLE_ROUNDS,
    else the unrolled DuckDB oracle would diverge from the to-fixpoint
    Spark loop."""
    import math

    from map_reduce_framework_spark.operators import graph as g

    li = load_table(spark, sf_smoke, "lineitem")
    edges = g.part_copurchase_edges(li).collect()
    adj: dict[int, set] = {}
    for r in edges:
        adj.setdefault(r.src, set()).add(r.dst)

    degs = sorted(len(v) for v in adj.values())
    idx = g.KCORE_PCT * (len(degs) - 1)
    lo, hi = int(math.floor(idx)), int(math.ceil(idx))
    interp = degs[lo] + (degs[hi] - degs[lo]) * (idx - lo)
    k = int(math.floor(interp)) + 1

    live = set(adj)
    rounds = 0
    while True:
        drop = {
            v for v in live if sum(u in live for u in adj[v]) < k
        }
        if not drop:
            break
        live -= drop
        rounds += 1
    assert rounds <= g.KCORE_ORACLE_ROUNDS
    want = {
        v: sum(u in live for u in adj[v]) for v in live
    }

    got = {r.part: (r.core_degree, r.k) for r in g.part_kcore(li).collect()}
    assert {p: d for p, (d, _) in got.items()} == want
    assert all(kk == k for _, kk in got.values())
    assert all(d >= k for d, _ in got.values())
    assert 0 < len(got) < len(adj)


def test_source_overlap_report_accounts_for_every_pair(spark, sf_smoke):
    """The governance report must partition the MinHash pair set
    exactly: summing n_pairs over all source pairs returns the total
    near-dup pair count, and each bucket matches a driver-side
    regroup of the raw pairs by source."""
    from map_reduce_framework_spark.operators import dedup

    docs = load_table(spark, sf_smoke, "documents")
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    pairs = dedup.minhash_lsh_pairs(docs, 0.7).select("doc_a", "doc_b").collect()
    want: dict[tuple, int] = {}
    for r in pairs:
        key = tuple(sorted((src[r.doc_a], src[r.doc_b])))
        want[key] = want.get(key, 0) + 1
    got = {
        (r.source_lo, r.source_hi): r.n_pairs
        for r in dedup.source_overlap_report(docs).collect()
    }
    assert got == want
    assert sum(got.values()) == len(pairs)


def test_temperature_mixture_flattens_allocations(spark, sf_smoke):
    """n^alpha weighting must FLATTEN the mix: every source's share of
    the allocation sits between uniform and proportional-to-size --
    larger sources get less than their token share, smaller sources
    more -- and the weight column is exactly the quantized power
    floor(avail^0.3 * 1e6 + 0.5). Epoch-split identity holds as in the
    curated-weights plan."""
    import math

    from map_reduce_framework_spark.operators import pipeline as pl

    docs = load_table(spark, sf_smoke, "documents")
    plan = {
        r.source: r
        for r in pl.data_mixture_temperature_plan(docs).collect()
    }
    total = sum(r.avail_tokens for r in plan.values())
    sum_wq = sum(r.weight_q for r in plan.values())
    n = len(plan)
    for src, r in plan.items():
        assert r.weight_q == math.floor(
            r.avail_tokens ** pl.MIX_TEMP_ALPHA * 1e6 + 0.5
        )
        assert r.alloc_tokens == (total // 2) * r.weight_q // sum_wq
        assert (
            r.full_epochs * r.avail_tokens + r.remainder_tokens
            == r.alloc_tokens
        )
        # flattening: alloc share sits between uniform and size share
        # (integer-floor slop of a couple of tokens aside)
        share = r.alloc_tokens / (total // 2)
        size_share = r.avail_tokens / total
        lo, hi = sorted((1.0 / n, size_share))
        assert lo - 0.01 <= share <= hi + 0.01, (src, share, lo, hi)

    sample = pl.data_mixture_temperature_sample(docs)
    got = sample.groupBy("source").agg(
        F.sum(F.col("n_repeats") * F.col("n_tokens")).alias("got")
    ).collect()
    for r in got:
        p = plan[r.source]
        assert p.alloc_tokens - r.got >= 0


def test_training_run_manifest_extends_curation_funnel(spark, sf_smoke):
    """The manifest's first four stages must agree doc-for-doc with
    curation_funnel (same gates, same cumulative semantics), stages
    must be monotone non-increasing in both docs and tokens, and the
    decontaminated stage must drop exactly the stand-in eval docs plus
    any doc with a nonzero eval n-gram hit."""
    from map_reduce_framework_spark.operators import pipeline as pl

    docs = load_table(spark, sf_smoke, "documents")
    manifest = {
        r.stage: r for r in pl.training_run_manifest(docs).collect()
    }
    funnel = {
        r.stage: r.n_docs for r in pl.curation_funnel(docs).collect()
    }
    for stage in ("raw", "quality_pass", "exact_keeper", "near_dup_keeper"):
        assert manifest[stage].n_docs == funnel[stage]

    ordered = sorted(manifest.values(), key=lambda r: r.stage_idx)
    for a, b in zip(ordered, ordered[1:]):
        assert b.n_docs <= a.n_docs
        assert b.n_tokens <= a.n_tokens
    assert ordered[-1].stage == "train_split"
    assert 0 < ordered[-1].n_docs < ordered[0].n_docs
