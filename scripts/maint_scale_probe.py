"""Maintenance certification at 10x bench scale: 2M docs / 1280 segments.

Builds the corpus, tombstones ~20k docs, compacts (one rewrite task per
segment), runs the size-tiered merge policy with Spark fan-out, then
deep-fscks every byte and asserts query rank-safety end-to-end.

Usage (needs executor-scale heap — the 2g/core rule):
  SPARK_GRAFT_DRIVER_MEM=64g python scripts/maint_scale_probe.py

Round-5 measured: build 90s, delete 0.02s, compact 34s, policy 54s
(1280 -> 1112 segments), deep fsck 7s clean."""
import sys, time, tempfile
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main():
    from refimage_spark.session import get_spark
    from refimage_spark.sources.pages import generate_pages
    from refimage_spark.index.build import build_index
    from refimage_spark.index.merge import (compact, delete_docs,
                                            run_merge_policy)
    from refimage_spark.index.admin import fsck_index
    from refimage_spark.index import query as Q
    from refimage_spark.index.segment import read_manifest

    spark = get_spark("maint-2m", cores="32")
    spark.sparkContext.setLogLevel("ERROR")
    pdir = tempfile.mkdtemp() + "/pages"
    generate_pages(spark, 2_000_000, seed=42, partitions=64).write.parquet(pdir)
    idx = tempfile.mkdtemp(prefix="m2m_")
    t0 = time.perf_counter()
    build_index(spark, spark.read.parquet(pdir), idx, num_parts=1280)
    print(f"build {time.perf_counter()-t0:.0f}s")
    Q.warm_serving_pool(idx)
    base = Q.search_local(idx, "red car", k=20)
    victims = [d for d, _ in base[:10]]

    t0 = time.perf_counter()
    delete_docs(idx, victims + list(range(100, 20100)))  # ~20k tombstones
    print(f"delete 20k: {time.perf_counter()-t0:.2f}s")
    masked = Q.search_local(idx, "red car", k=20)
    assert not (set(victims) & {d for d, _ in masked})
    print("tombstone masking at 1280 segs OK")

    t0 = time.perf_counter()
    out = compact(spark, idx)
    print(f"compact {out['compacted']} docs / {out['segments']} segs: "
          f"{time.perf_counter()-t0:.0f}s")
    post = Q.search_local(idx, "red car", k=20)
    assert not (set(victims) & {d for d, _ in post})

    t0 = time.perf_counter()
    pol = run_merge_policy(idx, spark=spark)
    n_now = len(read_manifest(idx))
    print(f"merge policy: {len(pol['merged_groups'])} groups, "
          f"{time.perf_counter()-t0:.0f}s -> {n_now} segments")

    t0 = time.perf_counter()
    fs = fsck_index(idx, deep=True)
    print(f"fsck(deep) {time.perf_counter()-t0:.0f}s ok={fs['ok']} "
          f"n_docs={fs['n_docs']} errors={fs['errors'][:3]}")
    assert fs["ok"]
    final = Q.search_local(idx, "red car", k=20)
    assert [d for d, _ in final] == [d for d, _ in post]  # merge rank-safe
    print("CERTIFIED: maintenance cycle at 2M/1280 clean")

if __name__ == "__main__":
    main()
