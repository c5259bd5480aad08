"""Multimodal codec decode-throughput ladder (judge r6/r7 runbook item).

    python tools/multimodal_ladder.py [--reps 5]

Measures the pure-NumPy codec family's Spark-side throughput (MB/s of
input bytes, warm medians, job floor subtracted via the two-point
ladder) at REALISTIC blob sizes — the committed fixtures are
correctness-sized (8×6 frames, 200-sample clips), so this harness
generates its own:

  * ppm_decode   — concatenated-P6 stream parse + raster reshape
                   (decode_ppm_stream) over mapInPandas, frame sampling
                   included (every 2nd frame), 128×96 × 24 frames/blob;
  * ppm_resize   — decode + bilinear resize of every sampled frame to
                   64×48 (resize_bilinear); the decode cost is the
                   ppm_decode row, so resize marginal = delta;
  * wav_features — RIFF/WAVE header parse + int16 → feature extraction
                   (decode_wav + clip_features), 160k samples/clip.

Two fixture scales per kernel (N and 4N blobs): the marginal rate
between them is the asymptote free of job-floor/session constants —
the same methodology as the r7 exact-cosine kernel ladder.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from aced_etl_pod_spark import ladder  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402
from aced_etl_pod_spark.sources.binary import sample_ppm_frames  # noqa: E402
from aced_etl_pod_spark.tables import session_scratch_dir  # noqa: E402

H, W, FRAMES = 96, 128, 24
WAV_SAMPLES = 160_000


def gen_ppm(n: int, sub: str) -> tuple[str, int]:
    from aced_etl_pod_spark.functions.imagecodec import encode_ppm

    out = session_scratch_dir(sub)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    total = 0
    yy, xx = np.mgrid[0:H, 0:W]
    for i in range(n):
        chunks = []
        for t in range(FRAMES):
            img = np.stack(
                [
                    (xx * 5 + t * 31 + i * 7) % 256,
                    (yy * 9 + t * 13 + i * 3) % 256,
                    (xx + yy + t + i) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            chunks.append(encode_ppm(img))
        data = b"".join(chunks)
        total += len(data)
        with open(os.path.join(out, f"vid_{i:04d}.ppm"), "wb") as f:
            f.write(data)
    return out, total


def gen_wav(n: int, sub: str) -> tuple[str, int]:
    from aced_etl_pod_spark.functions.audiocodec import encode_wav

    out = session_scratch_dir(sub)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    total = 0
    for i in range(n):
        period = 80 + 4 * (i % 32)
        amp = 1000 + 500 * (i % 16)
        idx = np.arange(WAV_SAMPLES)
        phase = idx % period
        tri = np.where(phase < period // 2, phase, period - phase)
        samples = (tri * (4 * amp // period) - amp).astype(np.int16)
        blob = encode_wav(samples, 8000)
        total += len(blob)
        with open(os.path.join(out, f"clip_{i:04d}.wav"), "wb") as f:
            f.write(blob)
    return out, total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--n", type=int, default=16, help="blobs at the small scale")
    args = ap.parse_args()
    spark = get_spark("mm-ladder")

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.functions.imagecodec import resize_bilinear
    from aced_etl_pod_spark.sources.binary import read_binary

    def resize_stage(df):
        import pandas as pd

        from aced_etl_pod_spark.functions.imagecodec import decode_ppm_stream

        def work(batches):
            for pdf in batches:
                rows = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    frames, _ = decode_ppm_stream(bytes(content))
                    for idx in range(0, len(frames), 2):
                        small = resize_bilinear(frames[idx], 48, 64)
                        rows.append((path, idx, float(small.mean())))
                yield pd.DataFrame(rows, columns=["path", "frame_idx", "m"])

        return df.mapInPandas(work, "path string, frame_idx long, m double")

    def wav_stage(df):
        import pandas as pd

        from aced_etl_pod_spark.functions.audiocodec import (
            clip_features,
            decode_wav,
        )

        def work(batches):
            for pdf in batches:
                rows = []
                for path, content in zip(pdf["path"], pdf["content"]):
                    try:
                        sr, samples = decode_wav(bytes(content))
                        feats = clip_features(samples, sr)
                        rows.append((path, float(feats["rms"])))
                    except Exception:
                        rows.append((path, None))
                yield pd.DataFrame(rows, columns=["path", "rms"])

        return df.mapInPandas(work, "path string, rms double")

    print(f"fixture shape: PPM {W}x{H} x {FRAMES} frames/blob; WAV {WAV_SAMPLES} samples/clip")
    results = {}
    for kernel, gen, stage in [
        ("ppm_decode", gen_ppm, lambda df: sample_ppm_frames(df, every_n=2)),
        ("ppm_resize", gen_ppm, resize_stage),
        ("wav_features", gen_wav, wav_stage),
    ]:
        pts = []
        for scale, n in [("1x", args.n), ("4x", 4 * args.n)]:
            src, nbytes = gen(n, f"mmladder_{kernel}_{scale}")
            glob = "*.ppm" if kernel.startswith("ppm") else "*.wav"
            df = read_binary(spark, src, glob=glob).select("path", "content")
            med = ladder.median_s(
                lambda: stage(df).agg(F.count("*")).collect(), args.reps, warm=0
            )
            pts.append((nbytes, med))
            print(f"{kernel} {scale}: {nbytes / 1e6:.1f} MB in {med * 1e3:.0f} ms "
                  f"({nbytes / med / 1e6:.0f} MB/s incl. floor)", flush=True)
        (b1, t1), (b4, t4) = pts
        marginal = (b4 - b1) / max(t4 - t1, 1e-9)
        results[kernel] = marginal
        print(f"{kernel} MARGINAL: {marginal / 1e6:.0f} MB/s (floor-free)", flush=True)
    if "ppm_decode" in results and "ppm_resize" in results:
        print(
            "resize marginal cost on top of decode: "
            f"{results['ppm_decode'] / 1e6:.0f} -> {results['ppm_resize'] / 1e6:.0f} MB/s"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
