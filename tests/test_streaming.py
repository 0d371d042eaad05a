"""Structured Streaming: micro-batch incremental indexing + windowed aggs."""

import json
import os

from pyspark.sql import functions as F

from refimage_spark.index.build import build_index
from refimage_spark.index.query import search_index
from refimage_spark.sources.pages import generate_pages
from refimage_spark.streaming.ingest import (
    stream_ingest_pages,
    windowed_event_counts,
)


def test_stream_ingest_grows_index(spark, tmp_path):
    idx = str(tmp_path / "idx")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    # seed index with an initial batch
    build_index(spark, generate_pages(spark, 200, seed=42, partitions=2), idx,
                num_parts=4)
    n0 = json.load(open(f"{idx}/stats.json"))["n_docs"]
    # two new page files land in the inbox (different seeds -> new urls)
    generate_pages(spark, 80, seed=7, partitions=1).write.mode("append").parquet(inbox)
    generate_pages(spark, 80, seed=8, partitions=1).write.mode("append").parquet(inbox)

    q = stream_ingest_pages(spark, inbox, idx, ckpt, available_now=True)
    q.awaitTermination(300)
    n1 = json.load(open(f"{idx}/stats.json"))["n_docs"]
    assert n1 > n0
    # the index is queryable and covers the new docs
    res = search_index(spark, idx, "car", k=5).collect()
    assert len(res) == 5

    # replay safety: running the same stream again adds nothing
    q2 = stream_ingest_pages(spark, inbox, idx, str(tmp_path / "ckpt"), True)
    q2.awaitTermination(300)
    n2 = json.load(open(f"{idx}/stats.json"))["n_docs"]
    assert n2 == n1  # urls already indexed -> anti-join drops them


def test_windowed_event_counts_matches_batch(spark, tmp_path, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from wincounts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_streaming_sessionize_matches_batch(spark, tmp_path, sf_dir):
    """Custom stateful op (applyInPandasWithState): gap-closed sessions
    emitted by the streaming operator must equal the batch sessionize's
    sessions, excluding each user's LAST session (still open in state
    at end-of-stream)."""
    from refimage_spark.operators.events import sessionize
    from refimage_spark.streaming.ingest import streaming_sessionize

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id") < 40)
        .select("event_id", "ts", "user_id", "value")
    )
    inbox = str(tmp_path / "ev_in")
    events.coalesce(1).write.parquet(inbox)
    batch = sessionize(events).collect()
    last_idx = {}
    for r in batch:
        last_idx[r.user_id] = max(last_idx.get(r.user_id, 0), r.session_idx)
    want = {
        (
            r.user_id,
            r.n_events,
            r.total_value,
            r.started.replace(tzinfo=None),
            r.ended.replace(tzinfo=None),
        )
        for r in batch
        if r.session_idx < last_idx[r.user_id]
    }
    assert want, "fixture must actually contain multi-session users"
    stream = spark.readStream.schema(events.schema).parquet(inbox)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # a ProcessingTimeTimeout query keeps scheduling micro-batches for
    # future timers (open sessions) — poll the sink for the gap-closed
    # sessions, then stop() (the open sessions stay in state, correctly)
    import time as _time

    deadline = _time.time() + 240
    while _time.time() < deadline:
        n = spark.sql(
            "SELECT count(*) FROM sess_out WHERE closed_by = 'gap'"
        ).head()[0]
        if n >= len(want):
            break
        _time.sleep(2)
    got = {
        (r.user_id, r.n_events, r.total_value, r.started, r.ended)
        for r in spark.sql("SELECT * FROM sess_out WHERE closed_by = 'gap'").collect()
    }
    q.stop()
    assert got == want


def test_stream_ingest_during_maintenance_equals_batch_twin(spark, tmp_path):
    """The remaining lifecycle composition: stream_ingest_pages APPENDING
    (micro-batches taking the maintenance lock in blocking mode) while
    the size-tiered merge policy runs and search_local hammers. Asserts
    (a) the streaming query survives lock contention (no failure, drains
    fully), (b) the hammer never errors and never sees a stale read, and
    (c) the final incremental index is query-identical (same n_docs /
    avgdl / per-term df / full per-url score sets) to a batch-built twin
    over the same logical corpus.

    The corpus is ONE seed's rows 0..1399 split base=[0,800) +
    stream=[800,1400) so url-dup (i%199==7) and content-dup (i%97==3)
    pairs never straddle the base/stream or micro-batch boundaries —
    both paths then dedup identically by construction."""
    import glob
    import json
    import shutil
    import threading

    from pyspark.sql import functions as SF

    from refimage_spark.index.merge import run_merge_policy
    from refimage_spark.index.query import search_local
    from refimage_spark.sources.pages import _EPOCH_S

    allp = generate_pages(spark, 1400, seed=31, partitions=4).withColumn(
        "i", ((SF.col("warc_ts").cast("long") - SF.lit(_EPOCH_S)) / 17).cast("long")
    )
    allp.cache().count()
    idx = str(tmp_path / "idx")
    build_index(spark, allp.where("i < 800").drop("i"), idx, num_parts=8)

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    # 8 stream files of 75 docs; maxFilesPerTrigger=4 -> 2 micro-batches
    for k in range(8):
        lo, hi = 800 + 75 * k, 875 + 75 * k
        slice_dir = str(tmp_path / f"slice{k}")
        allp.where(f"i >= {lo} AND i < {hi}").drop("i").coalesce(1).write.parquet(
            slice_dir
        )
        (part,) = glob.glob(f"{slice_dir}/part-*.parquet")
        shutil.move(part, os.path.join(inbox, f"batch-{k:02d}.parquet"))

    errors: list[Exception] = []
    stop = threading.Event()

    def hammer():
        while not stop.is_set():
            try:
                res = search_local(idx, "car", k=5)
                assert len(res) == 5
            except Exception as e:  # noqa: BLE001
                errors.append(e)
                return

    h = threading.Thread(target=hammer)
    h.start()
    q = stream_ingest_pages(spark, inbox, idx, str(tmp_path / "ckpt"), True)
    # merge policy runs CONCURRENTLY with the streaming appends — each
    # contends for the maintenance lock, and both take it blocking: the
    # append waits out a policy run and a policy run waits out an append
    for _ in range(3):
        run_merge_policy(idx, spark=None)
    assert q.awaitTermination(600), "streaming ingest did not drain"
    run_merge_policy(idx, spark=None)  # settle remaining tiers
    stop.set()
    h.join(30.0)
    assert not errors, errors

    # batch twin over the same logical corpus
    twin = str(tmp_path / "twin")
    build_index(spark, allp.drop("i"), twin, num_parts=8)
    st_i = json.load(open(f"{idx}/stats.json"))
    st_t = json.load(open(f"{twin}/stats.json"))
    assert st_i["n_docs"] == st_t["n_docs"]
    assert abs(st_i["avgdl"] - st_t["avgdl"]) < 1e-9

    def dfs(d):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{d}/term_stats.parquet")
        return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))

    assert dfs(idx) == dfs(twin)

    def url_scores(d, query):
        umap = {
            r.doc_id: r.url
            for r in spark.read.parquet(f"{d}/docs.parquet")
            .select("doc_id", "url")
            .collect()
        }
        return {
            (umap[doc], round(s, 6))
            for doc, s in search_local(d, query, k=10_000)
        }

    for query in ("car", "red car", "beach sunset NOT person"):
        assert url_scores(idx, query) == url_scores(twin, query), query
    allp.unpersist()
