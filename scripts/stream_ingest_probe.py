"""Streaming-ingest scale probe (VERDICT r5 #6): stream ~500k pages
through the PRODUCTION micro-batch path (stream_ingest_pages ->
foreachBatch append_pages, exactly-once via checkpoint) into a live
index WHILE the size-tiered merge policy churns concurrently under the
maintenance lease lock, then verify serving.

Reports per-micro-batch trigger latency (the number an ingest SLO is
written against), appended docs/sec, lock contention (merge rounds that
ran mid-stream), and a rank-safety check at the end.

Usage:
  SPARK_GRAFT_DRIVER_MEM=16g python scripts/stream_ingest_probe.py
"""
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from refimage_spark.index import query as Q
    from refimage_spark.index.build import build_index
    from refimage_spark.index.merge import run_merge_policy
    from refimage_spark.index.segment import read_manifest
    from refimage_spark.session import get_spark
    from refimage_spark.sources.pages import generate_pages
    from refimage_spark.streaming.ingest import stream_ingest_pages

    spark = get_spark("stream-probe", cores="32")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_probe_")
    idx = os.path.join(work, "idx")
    inbox = os.path.join(work, "in")
    n_base, n_stream = 20_000, 480_000

    # base index the stream appends to
    base = generate_pages(spark, n_base, seed=42, partitions=32)
    build_index(spark, base, idx, num_parts=32)

    # 64 files land in the inbox; maxFilesPerTrigger=4 -> 16 micro-batches
    t0 = time.perf_counter()
    generate_pages(
        spark, n_base + n_stream, seed=42, partitions=64
    ).write.parquet(inbox)
    # NOTE: the staged stream INCLUDES the base corpus's urls (same
    # seed), so ~20k rows are replays — append's url anti-join must drop
    # them, which is part of what the probe exercises.
    print(f"staged {n_base + n_stream} pages in {time.perf_counter()-t0:.0f}s")

    merge_rounds: list[dict] = []
    stop = threading.Event()

    def churn() -> None:
        while not stop.is_set():
            # waits out an append holding the maintenance lock
            merge_rounds.append(run_merge_policy(idx, spark=None, max_rounds=1))
            stop.wait(5.0)

    churner = threading.Thread(target=churn, daemon=True)
    churner.start()

    t0 = time.perf_counter()
    q = stream_ingest_pages(
        spark, inbox, idx, os.path.join(work, "ckpt"), available_now=True
    )
    q.awaitTermination(3600)
    ingest_wall = time.perf_counter() - t0
    stop.set()
    churner.join(timeout=60)

    lat = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress
        if p.get("numInputRows", 0) > 0
    ]
    lat_sorted = sorted(lat)
    import json

    stats = json.load(open(os.path.join(idx, "stats.json")))
    manifest = read_manifest(idx)
    print(
        f"stream ingest: {len(lat)} micro-batches in {ingest_wall:.0f}s, "
        f"batch latency p50={lat_sorted[len(lat)//2]:.1f}s "
        f"max={lat_sorted[-1]:.1f}s; "
        f"docs now {stats['n_docs']} in {len(manifest)} segments; "
        f"merge rounds completed live: "
        f"{sum(1 for m in merge_rounds if m.get('merged_groups'))}"
        f"/{len(merge_rounds)}"
    )
    print(
        "appended docs/sec:",
        round((stats["n_docs"] - n_base) / ingest_wall, 1),
    )

    # serving still rank-safe after concurrent append+merge
    Q.warm_serving_pool(idx)
    rows = Q.search_local(idx, "red car", k=10)
    assert len(rows) == 10 and all(
        rows[i][1] >= rows[i + 1][1] for i in range(9)
    ), rows
    print("post-stream serving query OK:", rows[:3])
    spark.stop()


if __name__ == "__main__":
    main()
