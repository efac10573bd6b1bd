"""Measure the decode_backend='auto' route (round 13 — VERDICT r12 item 2).

The fifth cost-seam decision routes entropy-coded image classes to the
production adapter (Pillow/libjpeg) where it imports. This tool records:

1. the decision table 'auto' computes on THIS box (adapter present or
   absent — both are honest states; the sandbox has neither Pillow nor
   ffmpeg, so the expected table here is all-native with the
   'adapter unavailable' flag in the decision record), and
2. an interleaved A/B of decode_image_stats(native) vs
   decode_image_stats(auto) on production-shaped JPEG payloads — when
   the adapter is absent the delta must be ~0 (the route degrades to
   the identical native kernel; 'auto' costs nothing), and when an
   adapter exists the delta IS the libjpeg speedup the seam buys.

Usage: python tools/decode_auto_ab.py --out SCALE_R13_DECODE_AUTO.json
"""
from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from tools.mm_realistic import _raster

W, H = 256, 192
N_RENDER, DUP = 64, 10  # 640 payloads, ~77 MB — same dup trick as mm_realistic


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--reps", type=int, default=3)
    a = ap.parse_args()

    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark import get_session
    from custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark.operators import multimodal as MM

    spark = get_session("decode-auto-ab")

    pillow = importlib.util.find_spec("PIL") is not None
    ffmpeg = shutil.which("ffmpeg") is not None
    image_route = MM._resolve_decode_backend("auto").route
    audio_route = MM._resolve_audio_backend("auto").route
    decisions = {
        fmt: vars(MM.decide_decode_backend(fmt, pillow if fmt in ("jpeg", "png", "ppm", "bmp") else ffmpeg))
        for fmt in ("jpeg", "png", "ppm", "bmp", "flac", "wav")
    }

    print(f"adapter availability: pillow={pillow} ffmpeg={ffmpeg}", flush=True)
    print(f"image route: {image_route}  audio route: {audio_route}", flush=True)

    # stage production-shaped JPEG payloads to parquet once
    print(f"rendering {N_RENDER}x{DUP} JPEG payloads {W}x{H}...", flush=True)
    payloads = [MM.encode_jpeg(W, H, _raster(i, W, H)) for i in range(N_RENDER)]
    rows = [
        (i * DUP + d, bytearray(payloads[i]))
        for i in range(N_RENDER)
        for d in range(DUP)
    ]
    path = os.path.join(".scratch", "decode_auto_ab")
    shutil.rmtree(path, ignore_errors=True)
    df = spark.createDataFrame(rows, "doc_id long, payload binary").repartition(32)
    df.write.parquet(path)
    staged = spark.read.parquet(path)
    payload_mb = sum(len(p) for p in payloads) * DUP / 1e6

    # interleaved A/B (lesson-42 discipline: cold first-touch amortized
    # by a warm pass, then reps alternate backends)
    staged.count()  # warm the page cache / parquet footers
    times = {"native": [], "auto": []}
    for rep in range(a.reps):
        for backend in ("native", "auto"):
            t0 = time.perf_counter()
            out = MM.decode_image_stats(staged, decode_backend=backend)
            agg = out.groupBy().sum("pixel_sum").collect()[0][0]
            dt = time.perf_counter() - t0
            times[backend].append(round(dt, 3))
            print(f"rep {rep} {backend}: {dt:.3f}s (pixel_sum={agg})", flush=True)

    rec = {
        "adapter_available": {"pillow": pillow, "ffmpeg": ffmpeg},
        "image_route": image_route,
        "audio_route": audio_route,
        "decisions": decisions,
        "payload_mb": round(payload_mb, 2),
        "n_payloads": N_RENDER * DUP,
        "reps": times,
        "min_native_sec": min(times["native"]),
        "min_auto_sec": min(times["auto"]),
        "auto_over_native": round(min(times["auto"]) / min(times["native"]), 4),
        "note": (
            "auto==native expected (ratio ~1.0) when no adapter is importable: the "
            "route degrades per decide_decode_backend with the 'adapter unavailable' "
            "flag; where Pillow exists the JPEG/PNG classes route to libjpeg/zlib-C "
            "(published libjpeg-turbo rates 30-100+ MB/s/core vs the pinned native "
            "0.38/0.76 in NATIVE_DECODE_MBPS_PER_CORE from SCALE_R12_MM_REALISTIC)."
        ),
    }
    shutil.rmtree(path, ignore_errors=True)
    with open(a.out, "w") as f:
        json.dump(rec, f, indent=2)
    print(f"wrote {a.out}", flush=True)


if __name__ == "__main__":
    main()
