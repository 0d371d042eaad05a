"""Spark-free kernel scaling: the pass-B task kernel under plain
multiprocessing at 2 vs 8 workers.

The whole-job N->4N number on this single box is bounded by ONE shared
memory bus + Spark fixed costs (see scaling_bench.py). This isolates
the algorithm: build_segment_from_part (read part dir -> Arrow-C++
tokenize -> dictionary-rank -> lexsort -> segment encode) is the
dominant cost of the build, runs one task per part with zero exchange,
and its multiprocessing scaling IS the number that transfers to a real
cluster where every executor brings its own memory bus.

Usage: python scripts/kernel_scaling_bench.py [--pages-path DIR]
Builds (pass A only, reusing any existing docs.parquet) a 32-part docs
table from the 500k-page corpus, then times the kernel sweep at 2 and 8
workers, alternating, median of 3.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NUM_PARTS = 32


def _one_part(args: tuple[str, int]) -> float:
    from refimage_spark.index.build import build_segment_from_part

    idx, pid = args
    t0 = time.perf_counter()
    build_segment_from_part(idx, pid)
    return time.perf_counter() - t0


def sweep(idx: str, workers: int) -> tuple[float, float]:
    args = [(idx, p) for p in range(NUM_PARTS)]
    t0 = time.perf_counter()
    with ProcessPoolExecutor(workers) as ex:
        per_task = list(ex.map(_one_part, args))
    return time.perf_counter() - t0, statistics.median(per_task)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-path", default=None)
    ap.add_argument("--index-dir", default=None,
                    help="reuse an existing index dir's docs.parquet")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    if args.index_dir:
        idx = args.index_dir
    else:
        from refimage_spark.index.build import build_index
        from refimage_spark.session import get_spark
        from refimage_spark.sources.pages import generate_pages

        spark = get_spark("kernel-prep", cores="32")
        spark.sparkContext.setLogLevel("ERROR")
        pages = (
            spark.read.parquet(args.pages_path)
            if args.pages_path
            else generate_pages(spark, 500_000, seed=42, partitions=64)
        )
        idx = tempfile.mkdtemp(prefix="kernel_idx_")
        build_index(spark, pages, idx, num_parts=NUM_PARTS)
        spark.stop()  # the sweep must not share the box with a JVM

    walls: dict[int, list[float]] = {2: [], 8: []}
    tasks: dict[int, list[float]] = {2: [], 8: []}
    for r in range(args.reps):
        for w in (2, 8):
            wall, med_task = sweep(idx, w)
            walls[w].append(wall)
            tasks[w].append(med_task)
            print(f"rep {r} workers={w}: wall={wall:.1f}s "
                  f"median_task={med_task:.2f}s", flush=True)
    w2 = statistics.median(walls[2])
    w8 = statistics.median(walls[8])
    print(json.dumps({
        "wall_2w_sec": round(w2, 2),
        "wall_8w_sec": round(w8, 2),
        "speedup_4x_cores": round(w2 / w8, 2),
        "raw_efficiency": round((w2 / w8) / 4.0, 3),
        "median_task_2w": round(statistics.median(tasks[2]), 2),
        "median_task_8w": round(statistics.median(tasks[8]), 2),
    }))


if __name__ == "__main__":
    main()
