"""Serving latency vs segment count — evidence for the search_local /
Spark dispatch threshold in index/query.py (mode="auto").

A 10^12-doc index has 10^4+ segments sharded across serving nodes; what
one node sees is "how many segments can one process serve per query
before per-segment overhead dominates". This measures search_local p50/
p95 over the FIXTURES.md §3 query set at P in {32,128,256,512} segments
of the SAME corpus, plus the Spark path for the crossover: its dispatch
time, its p50 over the same query set and the peak summed PSS of the
executor Python processes (pyspark.daemon and its forked workers, read
from /proc, so Linux only) while those queries run.

Usage: python scripts/segment_scaling_bench.py [n_pages]
Prints one JSON line per P, then a markdown table for BENCH/BASELINE.md.
Each P's index is built in a temp dir and removed once its row is printed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from refimage_spark.index.build import build_index
from refimage_spark.index.query import (
    search_index,
    search_local,
    warm_serving_pool,
)
from refimage_spark.session import get_spark
from refimage_spark.sources.pages import generate_pages

QUERIES = [
    "red car",
    "fast car #en",
    "red car OR blue house",
    "sports car AND #en",
    "luxury car^0.8",
    "beach sunset NOT person",
    "red car^0.8 OR blue car^0.6",
    'EXCLUDE(TEXT("beach sunset"), TEXT("person"))',
    "car",
    "mountain river train engine",
]
PARTS = [32, 128, 256, 512, 1024, 2048]
REPS = 3


def pctl(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(len(xs) * p) - 1))]


def executor_pss_mb() -> float:
    """Summed PSS (MB) of the running pyspark.daemon processes."""
    kb = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{d}/smaps_rollup") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def spark_queries(spark, d: str) -> tuple[list[float], float]:
    """Spark-path latency of each query, and the peak executor PSS
    (sampled every 20 ms) while they run."""
    peak = [executor_pss_mb()]
    done = threading.Event()

    def sample() -> None:
        while not done.wait(0.02):
            peak[0] = max(peak[0], executor_pss_mb())

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    lat = []
    for q in QUERIES:
        t0 = time.perf_counter()
        search_index(spark, d, q, k=10, mode="spark").collect()
        lat.append(time.perf_counter() - t0)
    done.set()
    t.join()
    return lat, max(peak[0], executor_pss_mb())


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("segment-scaling", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = generate_pages(spark, n_pages, seed=42, partitions=int(cpus)).cache()
    pages.count()
    rows = []
    for P in PARTS:
        d = tempfile.mkdtemp(prefix=f"segscale_{P}_")
        try:
            build_index(spark, pages, d, num_parts=P)
            search_local(d, QUERIES[0], k=10)  # warm readers/dicts/stats
            warm_serving_pool(d)  # tier startup: warm pool-worker caches
            lat = []
            for _ in range(REPS):
                for q in QUERIES:
                    t0 = time.perf_counter()
                    search_local(d, q, k=10)
                    lat.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            search_index(spark, d, QUERIES[0], k=10, mode="spark").collect()
            spark_cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            search_index(spark, d, QUERIES[0], k=10, mode="spark").collect()
            spark_warm = time.perf_counter() - t0
            spark_lat, pss = spark_queries(spark, d)
            row = {
                "segments": P,
                "local_p50_sec": round(pctl(lat, 0.5), 4),
                "local_p95_sec": round(pctl(lat, 0.95), 4),
                "spark_dispatch_sec": round(min(spark_cold, spark_warm), 4),
                "spark_p50_sec": round(pctl(spark_lat, 0.5), 4),
                "executor_pss_mb": round(pss, 1),
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    print(
        "\n| segments | local p50 | local p95 | spark-dispatch "
        "| spark p50 | executor PSS |"
    )
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['segments']} | {r['local_p50_sec']}s | "
            f"{r['local_p95_sec']}s | {r['spark_dispatch_sec']}s | "
            f"{r['spark_p50_sec']}s | {r['executor_pss_mb']} MB |"
        )


if __name__ == "__main__":
    main()
