"""Microbenchmarks of the pure-Python kernels that run inside the
engine's Python workers, called directly on seeded payloads with no
Spark in the loop (the pattern of ``experiments/codec_cost.py``).
Each figure is the median of several timed repetitions, in ms per call
(``wc_map``: ms per MB of text).
"""

from __future__ import annotations

import statistics
import time


def _median_ms(fn, payload, reps: int) -> float:
    fn(payload)  # first call pays imports and table builds
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(payload)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def run(seed: int, text: str) -> dict[str, float]:
    import numpy as np

    from map_reduce_framework_spark.operators import compat, flac, jpeg, mpeg_audio
    from map_reduce_framework_spark.operators import multimodal, video_meta

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    samples = (
        8000 * np.sin(np.arange(16000) * 0.05) + rng.integers(-500, 500, 16000)
    ).astype(int).tolist()
    frames = [rng.integers(0, 256, size=(16, 16), dtype=np.uint8) for _ in range(4)]
    jpg = jpeg.encode_jpeg(img)
    mb = len(text.encode("utf-8")) / 2**20
    return {
        "kernel.jpeg_encode_ms": _median_ms(jpeg.encode_jpeg, img, 20),
        "kernel.jpeg_decode_ms": _median_ms(jpeg.decode_jpeg_pixels, jpg, 20),
        "kernel.flac_decode_ms": _median_ms(
            flac.decode_flac, flac.encode_flac(samples), 10
        ),
        "kernel.mpeg_decode_ms": _median_ms(
            mpeg_audio.decode_mpeg, mpeg_audio.encode_mp2(samples), 5
        ),
        "kernel.mp4_meta_ms": _median_ms(
            video_meta.mp4_video_meta, multimodal.encode_mp4(frames), 50
        ),
        "kernel.wc_map_ms_per_mb": _median_ms(
            lambda t: compat.wc_map("doc", t), text, 5
        ) / mb,
    }
