"""Round-6 optimization harness — NOT the driver bench (bench.py is frozen).

Per-operator isolation per the optimization guide §1:
- each query/operator is timed with the noop sink (computes every column,
  no output cost, shows as a normal query) — guide §1.4;
- jobs are labelled (setJobDescription) — guide §1.5;
- the formatted physical plan of every declared query is captured to
  plans/r06/<name>_<suffix>.txt (suffix "before"/"after" via
  $R06_PLAN_SUFFIX) so plan claims in OPTIMIZATION_r06.md are auditable.

Usage:
    R06_PLAN_SUFFIX=before python bench_extra.py [op ...]
    R06_PLAN_SUFFIX=after  python bench_extra.py dedup_minhash lang_id

With no args runs every op. Prints one JSON line of {op: best_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from refimage_spark.operators import dedup as D
from refimage_spark.operators import events as EV
from refimage_spark.operators import metadata as M
from refimage_spark.operators import similarity as SIM
from refimage_spark.operators import textstats as TS
from refimage_spark.operators.bm25 import Corpus, bm25_topk, corpus_stats, term_df
from refimage_spark.plans.compiler import search
from refimage_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SUFFIX = os.environ.get("R06_PLAN_SUFFIX", "before")
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
REPS = int(os.environ.get("R06_REPS", "3"))


def plan_text(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_one(spark, name: str, make_df, reps: int = REPS) -> float:
    """Capture the plan once, then time `reps` noop-sink executions and
    report the best (steady-state, guide §1)."""
    df = make_df()
    os.makedirs(PLAN_DIR, exist_ok=True)
    with open(os.path.join(PLAN_DIR, f"{name}_{SUFFIX}.txt"), "w") as f:
        f.write(plan_text(df))
    best = float("inf")
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"r06:{name}:{i}")
        t0 = time.perf_counter()
        noop(make_df())
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(best, 4)


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark("refimage-bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the Python worker pool exactly like bench.py
    import pyarrow as _pa  # noqa: F401

    def _null(batches):
        for rb in batches:
            yield rb

    spark.createDataFrame(
        [(i,) for i in range(int(CPUS) * 2)], "i int"
    ).repartition(int(CPUS)).mapInArrow(_null, schema="i int").collect()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    emb.count()
    corpus = Corpus(Corpus.from_documents(docs).docs.localCheckpoint(eager=True))
    qv = [float(x) for x in emb.where("vec_id = 0").head()["embedding"]]

    ops: dict = {}
    # --- the oracle-path DataFrame query set (bench.py QUERY_SET) ---
    ops["q_text"] = lambda: bm25_topk(corpus, "spark join window", k=10)
    ops["q_or"] = lambda: search(corpus, "merge sort^0.8 OR hash join^0.6", limit=10)
    ops["q_and"] = lambda: search(corpus, "spark AND join", limit=10)
    ops["q_not"] = lambda: search(corpus, "table scan NOT slow", limit=10)
    ops["q_tag"] = lambda: search(corpus, "fast query #en", limit=10)
    ops["q_head_term"] = lambda: bm25_topk(corpus, "batch", k=10)
    ops["q_rare_conj"] = lambda: search(corpus, "vector AND line AND dup", limit=10)
    # --- text/dedup/similarity operator family ---
    ops["token_counts"] = lambda: TS.token_counts(docs)
    ops["doc_fingerprint"] = lambda: TS.doc_fingerprint(docs)
    ops["lang_id"] = lambda: TS.lang_id(docs)
    ops["quality_score"] = lambda: TS.quality_score(docs)
    ops["dedup_exact"] = lambda: D.exact_dedup(docs)
    ops["dedup_minhash"] = lambda: D.minhash_neardup_pairs(docs, threshold=0.4)
    ops["dedup_simhash"] = lambda: D.simhash_neardup_pairs(docs, max_hamming=3)
    ops["embedding_cosine_topk"] = lambda: SIM.cosine_topk(emb, qv, k=10)
    # --- metadata / events / corpus-stat entries (oracle families) ---
    ops["point_lookup"] = lambda: M.point_lookup(docs, 42)
    ops["metadata_page"] = lambda: M.list_documents(
        docs, limit=20, offset=10, sort_by="n_chars", sort_order="desc"
    )
    ops["metadata_tag_filter"] = lambda: M.list_documents(
        docs, limit=50, tags_filter=["en", "src3"], sort_by="doc_id"
    )
    ops["corpus_stats"] = lambda: corpus_stats(corpus)
    ops["term_df"] = lambda: term_df(corpus, ["spark", "join", "window", "vector"])
    ops["stats_rollup"] = lambda: M.stats_rollup(docs)

    events_p = f"{SF_DIR}/events.parquet"
    if os.path.exists(events_p):
        events = spark.read.parquet(events_p).cache()
        events.count()
        ops["events_windowed_agg"] = lambda: EV.tumbling_agg(events)
        ops["events_sessionize"] = lambda: EV.sessionize(events)
        ops["events_running_total"] = lambda: EV.running_total(events)
    li_p = f"{SF_DIR}/lineitem.parquet"
    if os.path.exists(li_p):
        li = spark.read.parquet(li_p)
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        ops["tpch_pricing_summary"] = lambda: (
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )
        ops["tpch_shipping_priority"] = lambda: (
            li.where(F.col("l_shipdate") > F.lit("1998-06-17").cast("timestamp"))
            .join(
                orders.where(
                    F.col("o_orderdate") < F.lit("1998-06-17").cast("timestamp")
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .join(
                F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("l_orderkey", "o_orderdate")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue")
            )
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10)
        )

    out: dict[str, float] = {}
    for name, make in ops.items():
        if only and name not in only:
            continue
        out[name] = bench_one(spark, name, make)

    # --- ANN index builds (timed as calls, not plans: they write) ---
    if not only or "ann_build" in only:
        best = float("inf")
        for i in range(REPS):
            ann_dir = tempfile.mkdtemp(prefix="r06_ann_")
            spark.sparkContext.setJobDescription(f"r06:ann_build:{i}")
            t0 = time.perf_counter()
            SIM.build_lsh_index(emb, ann_dir, dim=64)
            SIM.build_ivf_index(emb, ann_dir)
            best = min(best, time.perf_counter() - t0)
        out["ann_build"] = round(best, 4)
        out["ann_lsh"] = bench_one(
            spark, "ann_lsh", lambda: SIM.lsh_topk(spark, ann_dir, qv, k=10)
        )
        out["ann_ivf"] = bench_one(
            spark, "ann_ivf", lambda: SIM.ivf_topk(spark, ann_dir, qv, k=10)
        )

    # --- block-max pruning in the regime it wins (VERDICT r5 #4) -------------
    # The headline corpus is flat-score by construction (uniform tf/dl),
    # where rank-safe pruning cannot skip blocks at k=10 — bench.py records
    # that honestly (wand_block_skip_pct 0.0). This section measures the
    # idf-skewed regime the pytest pins (test_wand_skips_block_decode),
    # at serving size: a 2.56M-posting head term plus a rare high-idf
    # term. Published so the block-max machinery's benefit is a number,
    # not only a test. wand_skew_wand_sec times the block-pruned scorer,
    # wand_skew_vec_sec the full scan.
    if not only or "wand_skew" in only:
        import numpy as np
        import pyarrow as pa

        from refimage_spark import dsl as _dsl
        from refimage_spark.index.query import (
            eval_node,
            topk_arrays,
            wand_topk_segment,
        )
        from refimage_spark.index.segment import SegmentReader, write_segment

        d = tempfile.mkdtemp(prefix="r06_wand_")
        n_docs = 2_560_000
        ids = np.arange(n_docs, dtype=np.int64)
        empty_tags = pa.ListArray.from_arrays(
            np.zeros(n_docs + 1, dtype=np.int32), pa.array([], pa.string())
        )
        # >= k rare-term docs EARLY (the heap must fill with rare-term
        # scores before pruning can engage — with fewer than k of them
        # the kth score ties the head term's flat bound and rank-safe
        # WAND may not skip anything), then a few scattered later to
        # exercise long seeks
        rare_docs = np.unique(
            np.concatenate(
                [
                    np.arange(20, dtype=np.int64) * 64,
                    np.array(
                        [n_docs // 4, n_docs // 2, 3 * n_docs // 4, n_docs - 1],
                        np.int64,
                    ),
                ]
            )
        )
        write_segment(
            d,
            0,
            ids,
            np.full(n_docs, 10, np.int64),
            empty_tags,
            pa.array(["aterm"] * n_docs + ["zrare"] * rare_docs.size, pa.string()),
            np.concatenate([ids, rare_docs]),
            np.concatenate(
                [np.ones(n_docs, np.int64), np.full(rare_docs.size, 8, np.int64)]
            ),
        )
        r = SegmentReader(d, 0)
        idfs = {"aterm": 0.05, "zrare": 8.0}
        ctr: dict = {}
        t0 = time.perf_counter()
        wids, wsc = wand_topk_segment(
            r, ["aterm", "zrare"], idfs, 10.0, 10, counters=ctr
        )
        out["wand_skew_wand_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        vids, vsc = eval_node(
            r, _dsl.TextQuery("aterm zrare", 1.0), idfs, 10.0, 0.0
        )
        vids, vsc = topk_arrays(vids, vsc, 10)
        out["wand_skew_vec_sec"] = round(time.perf_counter() - t0, 4)
        assert wids.tolist() == vids.tolist(), "WAND rank safety violated"
        out["wand_skew_skip_pct"] = round(
            100.0 * (1 - ctr["decoded_blocks"] / max(ctr["total_blocks"], 1)),
            1,
        )
        out["wand_skew_decoded_blocks"] = ctr["decoded_blocks"]
        out["wand_skew_total_blocks"] = ctr["total_blocks"]

    # --- segment index build (laps + pass split from build_metrics) ---
    if not only or "index_build" in only:
        from refimage_spark.index.build import build_index
        from refimage_spark.sources.pages import generate_pages

        pages_dir = tempfile.mkdtemp(prefix="r06_pages_") + "/pages"
        n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "20000"))
        generate_pages(
            spark, n_pages, seed=42, partitions=int(CPUS)
        ).write.parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
        laps = []
        for i in range(3):
            idx_dir = tempfile.mkdtemp(prefix="r06_idx_")
            spark.sparkContext.setJobDescription(f"r06:index_build:{i}")
            t0 = time.perf_counter()
            m = build_index(spark, pages, idx_dir, num_parts=32)
            laps.append(round(time.perf_counter() - t0, 3))
        out["index_build"] = sorted(laps)[1]
        out["index_build_laps"] = laps
        out["index_build_pass_a"] = m["pass_a_sec"]
        out["index_build_pass_b"] = m["pass_b_sec"]

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
