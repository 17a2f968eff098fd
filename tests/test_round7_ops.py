"""Round-7 additions: durable checkpointing for iterative/staged ops,
the video/audio modality completion, the training-shard writer, and the
cross-modal dedup union (VERDICT r6 asks #1-#5).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_spark.sources.io import load_table


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    """Temporarily configure a RELIABLE checkpoint dir on the shared
    session (reset afterward so other tests keep the local path)."""
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    try:
        yield d
    finally:
        spark.sparkContext.setCheckpointDir(None)


def test_stage_checkpoint_is_reliable_when_dir_configured(
    spark, sf_smoke, checkpoint_dir
):
    """VERDICT r6 ask #4: part_kcore and training_run_manifest run their
    iteration/stage boundaries through reliable checkpoint() when the
    session has a checkpoint dir -- identical results to the local-mode
    run, with the checkpointed RDDs materialized in replicated storage
    (here: rdd-* dirs under the configured path), so an executor loss
    mid-loop recomputes nothing on a real cluster."""
    from map_reduce_framework_spark.operators.graph import part_kcore
    from map_reduce_framework_spark.operators.pipeline import (
        training_run_manifest,
    )

    li = load_table(spark, sf_smoke, "lineitem")
    docs = load_table(spark, sf_smoke, "documents")

    reliable_kcore = {tuple(r) for r in part_kcore(li).collect()}
    reliable_manifest = {
        tuple(r) for r in training_run_manifest(docs).collect()
    }
    ckpt_rdds = glob.glob(os.path.join(checkpoint_dir, "*", "rdd-*"))
    assert ckpt_rdds, "no reliable-checkpoint RDDs were written"

    # identical results without the checkpoint dir (local mode)
    spark.sparkContext.setCheckpointDir(None)
    local_kcore = {tuple(r) for r in part_kcore(li).collect()}
    local_manifest = {
        tuple(r) for r in training_run_manifest(docs).collect()
    }
    assert reliable_kcore == local_kcore
    assert reliable_manifest == local_manifest


def test_cross_modal_dedup_clusters_unions_both_detectors(spark):
    """VERDICT r6 ask #5: the union clustering joins an IMAGE-ONLY
    near-dup pair and a TEXT-ONLY near-dup pair each into one cluster
    with their partner -- recall neither detector has alone.

    * docs 0/1: token-wise md5-first-byte collisions (juliet~quebec,
      mike~dew, clay~fire) make their generated 16x16 images IDENTICAL
      (dHash hamming 0) while their shingle sets are disjoint (text
      Jaccard 0) -- only the image detector pairs them;
    * docs 2/3: 24 tokens vs the same 24 plus one (shingle Jaccard
      22/23 ~ 0.96) -- only the text detector pairs them (different
      token counts scramble the i-mod-n pixel layout, so their images
      are unrelated)."""
    from map_reduce_framework_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from map_reduce_framework_spark.operators.multimodal import (
        cross_modal_dedup_clusters,
        image_dhash_pairs,
    )

    w = [
        "stone", "river", "maple", "cloud", "ember", "frost", "grain",
        "haven", "ridge", "slate", "tulip", "vapor", "wheat", "zesty",
        "amber", "birch", "cedar", "dune", "fjord", "glade", "heron",
        "inlet", "jade", "knoll", "lark",
    ]
    a_txt, b_txt = " ".join(w[:24]), " ".join(w[:25])
    docs = spark.createDataFrame(
        [
            (0, "juliet mike clay", "en", "s", 16),
            (1, "quebec dew fire", "en", "s", 15),
            (2, a_txt, "en", "s", len(a_txt)),
            (3, b_txt, "en", "s", len(b_txt)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    # each detector finds exactly its own pair and not the other's
    img = {(r.doc_a, r.doc_b) for r in image_dhash_pairs(docs).collect()}
    txt = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 0.7).collect()
    }
    assert img == {(0, 1)} and txt == {(2, 3)}
    clusters = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_keeper)
        for r in cross_modal_dedup_clusters(docs).collect()
    }
    assert clusters == {
        0: (0, 2, True),
        1: (0, 2, False),
        2: (2, 2, True),
        3: (2, 2, False),
    }


def test_decode_gif_frames_crafted_animation_known_pixels():
    """VERDICT r6 ask #1, codec half: a hand-built 3-frame animated GIF
    (4x4 canvas, 4-color GCT, per-frame GCE) decodes to exactly the
    hand-computed canvases -- exercising full-frame replace, disposal 2
    (restore-to-background), disposal 3 (restore-previous), sub-canvas
    placement offsets, and a transparent index."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        _gif_lzw_encode,
        decode_gif_frames,
    )

    def sub_blocks(indices: bytes) -> bytes:
        data = _gif_lzw_encode(indices, 2)
        out = bytearray([2])  # min code size
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])
        return bytes(out)

    def descriptor(left, top, w, h) -> bytes:
        return (
            bytes([0x2C])
            + left.to_bytes(2, "little")
            + top.to_bytes(2, "little")
            + w.to_bytes(2, "little")
            + h.to_bytes(2, "little")
            + bytes([0])
        )

    def gce(disposal, transparent=None) -> bytes:
        flags = (disposal & 0x07) << 2 | (1 if transparent is not None else 0)
        return bytes([0x21, 0xF9, 4, flags, 0, 0, transparent or 0, 0])

    BLACK, RED, GREEN, BLUE = (
        (0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
    )
    payload = (
        b"GIF89a"
        + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x80 | 0x01])  # GCT, 4 entries
        + bytes([0, 0])  # bg index 0 (black), no aspect
        + bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
        # frame 1: full canvas red, disposal 2 (restore bg after)
        + gce(2) + descriptor(0, 0, 4, 4) + sub_blocks(bytes([1] * 16))
        # frame 2: 2x2 green at (1,1), disposal 3 (restore previous)
        + gce(3) + descriptor(1, 1, 2, 2) + sub_blocks(bytes([2] * 4))
        # frame 3: 2x2 at (0,0), anti-diagonal transparent (index 0)
        + gce(0, transparent=0)
        + descriptor(0, 0, 2, 2) + sub_blocks(bytes([3, 0, 0, 3]))
        + bytes([0x3B])
    )
    frames = decode_gif_frames(payload)
    assert frames is not None and len(frames) == 3

    f1 = np.tile(np.array(RED, np.uint8), (4, 4, 1))
    assert np.array_equal(frames[0], f1)
    # disposal 2 after frame 1 restored the canvas to black background
    f2 = np.tile(np.array(BLACK, np.uint8), (4, 4, 1))
    f2[1:3, 1:3] = GREEN
    assert np.array_equal(frames[1], f2)
    # disposal 3 after frame 2 restored the PRE-frame-2 canvas (black);
    # frame 3 paints only the opaque anti-diagonal of its 2x2 block
    f3 = np.tile(np.array(BLACK, np.uint8), (4, 4, 1))
    f3[0, 0] = BLUE
    f3[1, 1] = BLUE
    assert np.array_equal(frames[2], f3)


def test_decode_gif_frames_interlaced_frame():
    """An INTERLACED frame inside an animation: rows stored in the
    4-pass GIF order (0,8,16.. / 4,12.. / 2,6.. / 1,3,5..) must come
    back in display order. Built by permuting a known image's rows
    into pass order and setting the interlace flag."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        _gif_lzw_encode,
        decode_gif_frames,
    )

    h, w = 16, 4
    rng = np.random.default_rng(3)
    img = rng.integers(0, 4, (h, w), dtype=np.uint8)  # 4-color indices
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    stored = img[order]  # rows as the encoder would store them

    data = _gif_lzw_encode(stored.tobytes(), 2)
    blocks = bytearray()
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        blocks += bytes([len(chunk)]) + chunk
    payload = (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | 0x01, 0, 0])  # GCT 4 entries, bg 0
        + bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
        + bytes([0x2C]) + b"\x00\x00\x00\x00"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x40])  # interlaced, no LCT
        + bytes([2]) + bytes(blocks) + bytes([0])
        + bytes([0x3B])
    )
    frames = decode_gif_frames(payload)
    assert frames is not None and len(frames) == 1
    expect = (img * 85).astype(np.uint8)
    assert np.array_equal(frames[0][:, :, 0], expect)


def test_video_dedup_identical_clips_hot_bands(spark):
    """Hot-band stress for the video pair join: 30 identical docs make
    every (band, key) bucket fully hot across all 4 frames; the pair
    relation must stay exact -- C(30,2) pairs, each with all 4 frames
    matched -- and unrelated docs contribute nothing."""
    from map_reduce_framework_spark.operators.multimodal import (
        video_dedup_pairs,
    )

    t = "stone river maple cloud ember frost grain haven"
    rows = [(i, t, "en", "s", len(t)) for i in range(30)]
    rows += [(100, "onyx basalt shale flint gypsum mica pumice chert",
              "en", "s", 48)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    pairs = video_dedup_pairs(docs).collect()
    assert len(pairs) == 30 * 29 // 2
    assert all(r.n_matched_frames == 4 for r in pairs)
    assert all(r.doc_a < 30 and r.doc_b < 30 for r in pairs)


def test_gif_encoder_decoder_roundtrip_random_frames():
    """The pure-Python animated-GIF encoder and the full animation
    decoder are exact inverses on random grayscale frames, including
    index streams long enough to force LZW code-width growth."""
    import numpy as np

    from map_reduce_framework_spark.operators.multimodal import (
        decode_gif_frames,
        decode_gif_pixels,
        encode_gif,
    )

    rng = np.random.default_rng(42)
    frames = [
        rng.integers(0, 256, (24, 31), dtype=np.uint8) for _ in range(5)
    ]
    out = decode_gif_frames(encode_gif(frames))
    assert out is not None and len(out) == 5
    for a, b in zip(frames, out):
        assert np.array_equal(np.stack([a, a, a], axis=-1), b)
    # the legacy still-image path reads the same first frame
    assert np.array_equal(
        decode_gif_pixels(encode_gif(frames)), out[0]
    )


def test_video_dedup_pairs_planted_rotation(spark):
    """VERDICT r6 ask #1, dedup half: doc B's token sequence is doc A's
    rotated by one, so B's frame f equals A's frame f+1 exactly --
    three of A's four keyframes have an identical partner frame in B
    (>= VIDEO_MATCH_MIN), while an unrelated doc C matches nothing."""
    from map_reduce_framework_spark.operators.multimodal import (
        video_dedup_pairs,
        video_frame_dhash,
    )

    t = ["stone", "river", "maple", "cloud", "ember", "frost", "grain",
         "haven"]
    a_txt = " ".join(t)
    b_txt = " ".join(t[1:] + t[:1])
    c_txt = "quartz onyx basalt shale flint gypsum mica pumice"
    docs = spark.createDataFrame(
        [
            (0, a_txt, "en", "s", len(a_txt)),
            (1, b_txt, "en", "s", len(b_txt)),
            (2, c_txt, "en", "s", len(c_txt)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    hashes = {
        (r.doc_id, r.frame_idx): r.dhash
        for r in video_frame_dhash(docs).collect()
    }
    assert all(hashes[(0, f + 1)] == hashes[(1, f)] for f in range(3))
    pairs = {
        (r.doc_a, r.doc_b): r.n_matched_frames
        for r in video_dedup_pairs(docs).collect()
    }
    assert pairs == {(0, 1): 3}


def test_decode_wav_crafted_known_values():
    """VERDICT r6 ask #2, codec half: a hand-built RIFF/WAVE payload
    (including an interposed LIST chunk and an odd-length chunk pad)
    decodes to exactly the hand-written samples; stereo keeps channel
    0; non-PCM and truncated payloads return None."""
    import numpy as np

    from map_reduce_framework_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 1000, -1000, 32767, -32768, 12345]
    payload = encode_wav(samples, 8000)
    out, rate, ch = decode_wav(payload)
    assert rate == 8000 and ch == 1
    assert np.array_equal(out, np.array(samples, dtype=np.int16))

    # hand-built: LIST chunk with odd length (forces word-align skip)
    # interposed between fmt and data, stereo 16-bit PCM at 44100
    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    fmt = (
        (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (44100).to_bytes(4, "little")
        + (44100 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    # stereo frames: L = [10, -20, 30], R = [99, 98, 97]
    pcm = b"".join(
        v.to_bytes(2, "little", signed=True)
        for v in [10, 99, -20, 98, 30, 97]
    )
    body = (
        b"WAVE"
        + chunk(b"fmt ", fmt)
        + chunk(b"LIST", b"INFOx")  # 5 bytes: odd, needs a pad byte
        + chunk(b"data", pcm)
    )
    payload = b"RIFF" + len(body).to_bytes(4, "little") + body
    out, rate, ch = decode_wav(payload)
    assert rate == 44100 and ch == 2
    assert np.array_equal(out, np.array([10, -20, 30], dtype=np.int16))

    assert decode_wav(b"RIFF\x00\x00\x00\x00AVI ") is None
    assert decode_wav(payload[:30]) is None
    # 8-bit PCM (bits=8) rejected
    bad_fmt = fmt[:14] + (8).to_bytes(2, "little")
    bad = b"RIFF" + b"\x30\x00\x00\x00" + b"WAVE" + chunk(
        b"fmt ", bad_fmt
    ) + chunk(b"data", pcm)
    assert decode_wav(bad) is None


def test_audio_features_known_math(spark):
    """A doc whose single token has a hand-computed md5 byte pattern
    yields hand-computable features through the real codec path."""
    import hashlib
    import math

    from map_reduce_framework_spark.operators.audio import (
        CLIP_THRESH,
        SILENCE_THRESH,
        audio_features,
    )

    tok = "stone"
    docs = spark.createDataFrame(
        [(0, tok, "en", "s", len(tok))],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    row = audio_features(docs).collect()[0]
    s = [(b - 128) * 256 for b in hashlib.md5(tok.encode()).digest()]
    assert row.n_samples == 16 and row.sample_rate == 8000
    assert row.duration_ms == 16 * 1000 // 8000 == 2
    assert row.peak == max(abs(v) for v in s)
    assert row.rms_q6 == math.floor(
        math.sqrt(sum(v * v for v in s) / 16) * 1e6 + 0.5
    )
    assert row.n_clipped == sum(abs(v) >= CLIP_THRESH for v in s)
    assert row.n_silent == sum(abs(v) <= SILENCE_THRESH for v in s)


def test_audio_fingerprint_pairs_planted_edit(spark):
    """VERDICT r6 ask #2, dedup half: doc B is doc A with ONE mid-
    sequence token edited -- the edit invalidates exactly the 4 windows
    covering chunk 5, the other 9 of A's 13 windows survive verbatim
    (>= AUDIO_FP_MIN), while an unrelated doc C shares nothing. Also
    position-independence: doc D embeds A's first 8 tokens at a
    different offset and still matches the windows inside the shared
    run."""
    from map_reduce_framework_spark.operators.audio import (
        audio_fingerprint_pairs,
        audio_fingerprints,
    )

    t = ["stone", "river", "maple", "cloud", "ember", "frost", "grain",
         "haven", "ridge", "slate", "tulip", "vapor", "wheat", "zesty",
         "amber", "birch"]
    a_txt = " ".join(t)  # 16 tokens -> 13 windows
    b = list(t)
    b[5] = "quartz"
    b_txt = " ".join(b)
    c_txt = "onyx basalt shale flint gypsum mica pumice chert"
    d_txt = " ".join(["onyx", "basalt"] + t[:8])  # A[0:8] at offset 2
    docs = spark.createDataFrame(
        [
            (0, a_txt, "en", "s", len(a_txt)),
            (1, b_txt, "en", "s", len(b_txt)),
            (2, c_txt, "en", "s", len(c_txt)),
            (3, d_txt, "en", "s", len(d_txt)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    fps = audio_fingerprints(docs)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, {})[r.window_idx] = r.fp
    # A has 13 windows; B differs in exactly windows 2..5 (those
    # covering chunk 5), matching everywhere else at the SAME index
    assert len(by_doc[0]) == 13
    diff = {i for i in by_doc[0] if by_doc[0][i] != by_doc[1][i]}
    assert diff == {2, 3, 4, 5}
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared_fp
        for r in audio_fingerprint_pairs(docs).collect()
    }
    assert pairs[(0, 1)] == 9
    # D's windows 2..6 equal A's windows 0..4 (offset by the 2-token
    # prefix): 5 shared fingerprints despite the position shift
    assert pairs[(0, 3)] == 5
    assert not any(2 in p for p in pairs)


def test_write_training_shards_commit_and_replay(spark, sf_smoke, tmp_path):
    """VERDICT r6 ask #3: the shard writer materializes the packed
    corpus once (atomic manifest = commit marker), validates against
    its own manifest, bounds every shard file's sequences/tokens, and
    a replay over committed output is a NO-OP that rewrites nothing."""
    from map_reduce_framework_spark.sources import shard_writer as sw

    docs = load_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "shards")
    assert sw.write_training_shards(spark, docs, out) is True
    manifest = sw.validate_shards(spark, out)
    assert manifest["n_shard_files"] == len(manifest["shards"]) > 0
    assert manifest["total_docs"] == docs.count()
    for s in manifest["shards"]:
        assert s["n_seqs"] <= sw.SEQS_PER_SHARD
        assert s["within_budget"]
    # the written rows ARE the packed relation (nothing dropped/dup'd)
    data = spark.read.parquet(out + "/data")
    packed = sw.packed_with_shard_files(docs)
    assert data.count() == packed.count()
    assert (
        data.select("doc_id", "seq_id", "tok_offset")
        .exceptAll(packed.select("doc_id", "seq_id", "tok_offset"))
        .count()
        == 0
    )

    # replay no-op: nothing rewritten (manifest inode untouched)
    marker = os.path.join(out, "_MANIFEST.json")
    before = os.stat(marker).st_mtime_ns
    assert sw.write_training_shards(spark, docs, out) is False
    assert os.stat(marker).st_mtime_ns == before


def test_write_training_shards_torn_write_recovery(
    spark, sf_smoke, tmp_path
):
    """Every crash window converges to exactly one committed copy:

    * crash BEFORE intent publish -> orphan staging swept, clean write;
    * crash BETWEEN intent and rename -> the re-run REDOES the rename
      from the staged copy (no second staging write, no duplicates);
    * crash BETWEEN rename and intent removal -> residue intent
      cleared over the committed output;
    * intent with DESTROYED staging and no committed output -> loud
      RuntimeError, never a silent rewrite."""
    import json

    from map_reduce_framework_spark.sources import shard_writer as sw

    docs = load_table(spark, sf_smoke, "documents").limit(50)
    out = str(tmp_path / "shards")

    # window 1: staging written, no intent (crash before publish)
    orphan = sw._stage_shards(spark, docs, out)
    assert os.path.isdir(orphan)
    assert sw.write_training_shards(spark, docs, out) is True
    assert not os.path.isdir(orphan)  # swept
    manifest = sw.validate_shards(spark, out)

    # window 2: intent + staging survive, rename never ran
    out2 = str(tmp_path / "shards2")
    staging = sw._stage_shards(spark, docs, out2)
    with open(out2 + ".intent", "w") as fh:
        json.dump({"staging": staging}, fh)
    assert sw.write_training_shards(spark, docs, out2) is False
    # recovery renamed the ORIGINAL staged bytes -- not a re-write
    m2 = sw.validate_shards(spark, out2)
    assert m2["shards"] == manifest["shards"]
    assert not os.path.exists(out2 + ".intent")
    assert not os.path.isdir(staging)

    # window 3: committed output + residue intent
    with open(out2 + ".intent", "w") as fh:
        json.dump({"staging": str(tmp_path / "long-gone")}, fh)
    assert sw.recover_shard_writes(out2) == "cleared"
    assert sw.validate_shards(spark, out2)["shards"] == manifest["shards"]

    # lost redo log: intent points nowhere, no committed output
    out3 = str(tmp_path / "shards3")
    with open(out3 + ".intent", "w") as fh:
        json.dump({"staging": str(tmp_path / "gone")}, fh)
    with pytest.raises(RuntimeError, match="torn shard write"):
        sw.write_training_shards(spark, docs, out3)


def test_stage_shards_files_in_sequence_order(spark, sf_smoke, tmp_path):
    """Each staged shard file holds its rows in (seq_id, tok_offset)
    order -- the byte-identical resume of a killed curation run rests
    on it. The shard write's local sort must lead with the partitionBy
    columns, or the writer re-sorts by those alone and the order inside
    a file follows the shuffle's fetch order. A sort-merge join left
    uncoalesced makes every file's rows arrive from several map
    outputs, so that order shows (41 of 42 files out of order before
    the fix)."""
    import glob

    import pyarrow.parquet as pq

    from map_reduce_framework_spark.sources import shard_writer as sw

    docs = load_table(spark, sf_smoke, "documents")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        staging = sw._stage_shards(spark, docs, str(tmp_path / "shards"))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    files = glob.glob(os.path.join(staging, "data", "*", "*", "*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["seq_id", "tok_offset"])
        keys = list(zip(t["seq_id"].to_pylist(), t["tok_offset"].to_pylist()))
        assert keys == sorted(keys), f


def test_jpeg_codec_roundtrips_and_rejections():
    """VERDICT r6 ask #6: the pure-Python baseline-JPEG codec. Constant
    blocks roundtrip EXACTLY for all 256 values (DC-only at quality 1);
    arbitrary grayscale stays within +/-1 (DCT float rounding) and
    4:4:4 color within +/-2 (YCbCr rounding); 4:2:0 and restart
    intervals decode through the generic MCU/RSTn paths; progressive
    markers, 12-bit precision, and plain text are all rejected with
    None (never a wrong image)."""
    import numpy as np

    from map_reduce_framework_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    for v in (0, 1, 77, 128, 254, 255):
        out = decode_jpeg_pixels(encode_jpeg(np.full((8, 8), v, np.uint8)))
        assert (out[:, :, 0] == v).all()

    rng = np.random.default_rng(0)
    g = rng.integers(0, 256, (24, 17), dtype=np.uint8)  # odd width: pad
    out = decode_jpeg_pixels(encode_jpeg(g))
    assert out.shape == (24, 17, 3)
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 1

    c = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(c))
    assert np.abs(out.astype(int) - c.astype(int)).max() <= 2

    # 4:2:0: constant chroma survives box-average subsampling
    solid = np.zeros((20, 28, 3), np.uint8)
    solid[:] = (180, 60, 200)
    out = decode_jpeg_pixels(encode_jpeg(solid, subsample_420=True))
    assert np.abs(out.astype(int) - solid.astype(int)).max() <= 1
    # smooth gradients stay tight under 4:2:0
    yy, xx = np.mgrid[0:33, 0:31]
    sm = np.stack([40 + yy * 3, 40 + xx * 3, 60 + yy + xx], -1)
    sm = sm.astype(np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(sm, subsample_420=True))
    assert np.abs(out.astype(int) - sm.astype(int)).max() <= 3

    # restart intervals across gray / color / 4:2:0
    out = decode_jpeg_pixels(encode_jpeg(g, restart_interval=3))
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 1
    out = decode_jpeg_pixels(
        encode_jpeg(sm, subsample_420=True, restart_interval=1)
    )
    assert np.abs(out.astype(int) - sm.astype(int)).max() <= 3

    # rejections: SCANLESS progressive SOF2 (a real progressive stream
    # decodes since round 9), 12-bit SOF0, not-a-JPEG
    prog = b"\xff\xd8\xff\xc2" + (11).to_bytes(2, "big") + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    assert decode_jpeg_pixels(prog) is None
    twelve = b"\xff\xd8\xff\xc0" + (11).to_bytes(2, "big") + bytes(
        [12, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    assert decode_jpeg_pixels(twelve) is None
    assert decode_jpeg_pixels(b"plain text, not an image") is None


def test_decode_image_covers_jpeg(spark):
    """decode_image now decodes baseline JPEG (the r6 stub is closed);
    the NotImplementedError boundary narrowed to undecodable payloads
    (arithmetic-coded JPEG / unknown formats -- progressive decodes
    since round 9)."""
    import numpy as np

    from map_reduce_framework_spark.operators.jpeg import encode_jpeg
    from map_reduce_framework_spark.operators.multimodal import (
        decode_image,
    )

    img = np.full((12, 9), 200, dtype=np.uint8)
    out = decode_image(encode_jpeg(img))
    assert out.shape == (12, 9, 3) and (out[:, :, 0] == 200).all()
    with pytest.raises(NotImplementedError):
        decode_image(b"not any known image format")


def test_kcore_oracle_fails_loudly_on_insufficient_unroll(sf_smoke):
    """Round-6 ADVICE: the k-core oracle's fixed unroll used to
    silently hash-mismatch on a graph needing more peeling rounds. It
    now asserts convergence (|ke_N| == |ke_{N+1}|) via DuckDB error():
    a 0-round unroll on the real copurchase graph (which needs ~5
    rounds) must raise the diagnostic, and the shipped default must
    pass cleanly on the same data."""
    import duckdb

    from map_reduce_framework_spark.operators.graph import _kcore_sql

    from .oracle_util import duckdb_conn

    con = duckdb_conn(sf_smoke)
    with pytest.raises(duckdb.Error, match="unroll"):
        con.sql(_kcore_sql(rounds=0)).fetchall()
    assert len(con.sql(_kcore_sql()).fetchall()) > 0


def test_audio_fp_hot_key_exact_pairs(spark):
    """Adversarial hot-key evidence for the fingerprint equi-join: 40
    byte-identical clips make every window fingerprint a >90%-hot key
    (each fp bucket holds all 40 docs), the worst case for the join.
    Pair semantics must stay EXACT: all C(40,2) = 780 pairs, each
    sharing exactly its 5 distinct window fingerprints, and the 10
    unrelated docs contribute nothing."""
    from map_reduce_framework_spark.operators.audio import (
        audio_fingerprint_pairs,
    )

    t = "stone river maple cloud ember frost grain haven"  # 8 tokens
    rows = [(i, t, "en", "s", len(t)) for i in range(40)]
    rows += [
        (100 + i, f"uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e", "en",
         "s", 30)
        for i in range(10)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    pairs = audio_fingerprint_pairs(docs).collect()
    assert len(pairs) == 40 * 39 // 2
    assert all(r.n_shared_fp == 5 for r in pairs)  # 8 tokens -> 5 windows
    assert all(r.doc_a < 40 and r.doc_b < 40 for r in pairs)


def test_stage_checkpoint_truncates_lineage_both_modes(spark, tmp_path):
    """Both branches of stage_checkpoint cut the logical plan: the
    result's parsed plan no longer contains the upstream join."""
    from map_reduce_framework_spark.session import stage_checkpoint

    df = spark.range(100).alias("a").join(
        spark.range(100).alias("b"), "id"
    )
    local = stage_checkpoint(df, eager=True)
    assert "Join" not in local._jdf.queryExecution().analyzed().toString()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "c"))
    try:
        durable = stage_checkpoint(df, eager=True)
        assert (
            "Join"
            not in durable._jdf.queryExecution().analyzed().toString()
        )
        assert glob.glob(str(tmp_path / "c" / "*" / "rdd-*"))
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert local.count() == 100 and durable.count() == 100
