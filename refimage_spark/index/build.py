"""Distributed, resumable inverted-index build.

Pipeline (rebuild of the reference's batch index build,
/root/reference/src/refimage/search/__init__.py:147-200, re-architected
for Spark):

  pass A (docs):   pages -> url-dedup (keep latest recrawl) -> optional
                   content-hash dedup -> deterministic dense doc_id ->
                   docs.parquet (partitioned by part) + stats.json +
                   term_stats.parquet (global df for idf)
  pass B (index):  ONE TASK PER PART, zero shuffle: each task reads its
                   already-co-located part directory, tokenizes in
                   Arrow C++ (split_pattern_regex — bit-identical to
                   spark_tokens, golden-tested), sorts (term, doc_id)
                   locally in numpy, and ``segment.write_segment``
                   encodes, writes and commits it (the manifest row per
                   partition is the commit point)

Design notes for 100 TB:
- doc ids are deterministic WITHOUT a global window: part =
  pmod(xxhash64(url), P); per-part counts give offsets; row_number
  within part (per-part sort only). Reproducible at any parallelism.
- document-partitioned segments: every part holds its doc range's
  postings for ALL terms, so Zipf head terms are split across all P
  segments structurally — no hot shuffle key, no custom salting needed
  (the skew knob is P itself). Compare SURVEY.md §7.4(2).
- THE shuffle is pass A's hash-partitioned WRITE of the slim docs
  table. Pass B never exchanges: tokens are derived, sorted and
  segment-encoded inside the task that owns the part — measured ~2-3x
  faster than the previous explode->exchange->sortWithinPartitions form
  at local[8] (45.7s -> ~16s median pass B on the 500k-page corpus),
  and its scaling tracks the machine's memory-bandwidth ceiling instead
  of the strictly-worse JVM exchange path (BENCH/BASELINE.md).
- resume: partitions whose manifest row exists are skipped entirely —
  re-running the same build command after a crash completes the index
  (idempotent: segment content is a pure function of (corpus, P)). Once
  a merge or compact has committed (a live row carries ``merged_from``)
  a re-run builds nothing: the rewritten parts are served already.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from refimage_spark.index.segment import (
    BUILD_METRICS_FILE,
    DOCS_DIR,
    FORMAT_VERSION,
    STATS_FILE,
    TERM_STATS_FILE,
    commit_file,
    docs_part_dir,
    docs_parts,
    DICT_SCHEMA,
    read_manifest,
    read_stats,
    row_path,
    seg_paths,
    write_segment,
    write_stats,
)
from refimage_spark.tokenizer import spark_tokens

# term_stats rollup: total dict-parquet bytes under this bound run as a
# driver-side Arrow group_by
_TERM_STATS_LOCAL_BYTES = 256 << 20


def _part_col(num_parts: int):
    return F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int")


def _corpus_totals(slim: DataFrame) -> tuple[int, float]:
    """ONE-ROW aggregate over the deduped table: (n_docs, avgdl) for
    stats.json. ``dl`` was computed in the slim projection, so this pass
    never re-tokenizes; avgdl is derived from the exact integer totals
    in Python (bit-identical to the previous per-part-sums form)."""
    row = slim.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    n = int(row["n"] or 0)
    # exact-int division (not float(sum)/n): identical to the previous
    # per-part-sums form at any magnitude, incl. dl totals beyond 2^53
    return n, (int(row["dl_sum"]) / n if n else 0.0)


def _read_docs(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The docs table, or None when it holds no part: a compact that
    drops every doc leaves a directory without data files, from which
    Spark cannot infer a schema."""
    if not docs_parts(index_dir):
        return None
    return spark.read.parquet(os.path.join(index_dir, DOCS_DIR))


def _offsets_df(with_part: DataFrame) -> DataFrame:
    """(part, _off) — exclusive running sum of per-part row counts, as a
    tiny P-row DataFrame (a single-partition window over the counts).
    Replaces the former driver-side counts collect + 2P-entry
    ``create_map`` literal, which bloated the plan and made the driver
    do O(P) work — at 100-TB scale P is 10^5-10^6 (the cache-sized-part
    rule), where a broadcast join is the right shape. Absent parts
    contribute zero rows, so the cumulative offsets are unchanged."""
    w = Window.orderBy("part").rowsBetween(Window.unboundedPreceding, -1)
    return (
        with_part.groupBy("part")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "part",
            F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_off"),
        )
    )


def _with_doc_ids(with_part: DataFrame, offsets: DataFrame) -> DataFrame:
    """doc_id = part offset + rank within part (by url). The offsets side
    is P rows — broadcast, so the corpus side is not re-exchanged by the
    join; the id window's hash(part) exchange is the only corpus move."""
    w = Window.partitionBy("part").orderBy("url")
    return (
        with_part.join(F.broadcast(offsets), "part")
        .withColumn(
            "doc_id",
            (F.col("_off") + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_off")
    )


def _tags_col(tag_cols: tuple[str, ...]):
    """The doc's tag set = its tag-column values (raw; matching lowers),
    mirroring the DataFrame compiler's tags := {lang, source, ...}."""
    return F.array(*[F.col(c) for c in tag_cols])


def _dedup_slim_build(
    pages: DataFrame,
    content_dedup: bool = True,
    tag_cols: tuple[str, ...] = ("lang",),
):
    """The one keep-one projection, shared by build and append: per url
    the latest ``warc_ts`` wins — the recrawl, matching the reference's
    UNIQUE-hash ingest, src/refimage/storage.py:278-281 — then the
    largest content_hash; with ``content_dedup``, per content_hash the
    smallest url wins.

    html is reduced to its sha2 in the very first projection (the raw
    bytes are ~10x the text and never cross an exchange), and ``dl`` is
    computed here, so the corpus is tokenized exactly once.

    Keep-one is a struct-max/min AGGREGATION, not a window: partial
    aggregation combines duplicates map-side and a hash aggregate needs
    no sort. Struct comparison is lexicographic by field order, so the
    survivor is a deterministic total-order choice.

    Corpus text crosses the wire exactly ONCE: the url keep-one
    aggregation (texts of one url must meet) lands in a persisted
    intermediate; the content-dedup decision needs only (content_hash,
    url) — a key-only aggregation over the CACHED rows — and applies as
    a left-semi join whose big side reads the cache already hash(url)-
    partitioned (only survivor urls move). Measured at 500k pages
    local[8] against a second full-row aggregation: 886 MB shuffled ->
    676 MB (-24%), wall within the VM's noise band.

    Returns (deduped_df, persisted_handles); the caller unpersists the
    handles once its consumers are done."""
    from pyspark import StorageLevel

    slim = pages.select(
        "url",
        "warc_ts",
        *tag_cols,
        "text",
        F.sha2("html", 256).alias("content_hash"),
        F.size(spark_tokens("text")).alias("dl"),
    )
    carry = [*tag_cols, "dl", "text"]
    d1 = (
        slim.groupBy("url")
        .agg(F.max(F.struct("warc_ts", "content_hash", *carry)).alias("p"))
        .select("url", "p.*")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if not content_dedup:
        return d1, [d1]
    surv_urls = (
        d1.select("content_hash", "url")
        .groupBy("content_hash")
        .agg(F.min("url").alias("url"))
        .select("url")
    )
    # persist the JOINED result too: pass A has two consumers (profile +
    # partitioned write) and the semi-join is only cheap when the
    # survivor side broadcasts — at corpus scale it merges sorted runs,
    # which must not run once per consumer. d1 is dropped by the caller
    # as soon as this cache fills (the profile pass materializes it).
    joined = d1.join(surv_urls, "url", "left_semi").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return joined, [joined, d1]


def _assign_and_project(
    deduped: DataFrame, num_parts: int, tag_cols: tuple[str, ...] = ("lang",)
) -> DataFrame:
    """Deterministic dense doc_id (SURVEY.md §2.7 F7) scalable to 10^12
    rows — hash-part by url, sort within part, add per-part offsets
    (broadcast-joined, never a driver-side literal) — plus the
    docs.parquet column set. Build and append both write through here."""
    with_part = deduped.withColumn("part", _part_col(num_parts))
    return _with_doc_ids(with_part, _offsets_df(with_part)).select(
        "doc_id",
        "part",
        "url",
        *tag_cols,
        _tags_col(tag_cols).alias("tags"),
        "text",
        "dl",
        "content_hash",
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    num_parts: int = 16,
    content_dedup: bool = True,
    tag_cols: tuple[str, ...] = ("lang",),
) -> dict:
    """Build (or resume) the index. Returns build metrics."""
    t0 = time.perf_counter()
    os.makedirs(index_dir, exist_ok=True)

    # ---- pass A: docs + global stats (skipped on resume) --------------------
    t_pass_a = 0.0
    if not os.path.exists(os.path.join(index_dir, STATS_FILE)):
        # the persisted url-dedup intermediate feeds the content-dedup
        # prepass AND both downstream consumers (per-part counts for id
        # offsets + the partitioned write) — the corpus text is exchanged
        # once and cached, spilling to disk if it outgrows memory
        slim, handles = _dedup_slim_build(pages, content_dedup, tag_cols)
        try:
            n_total, avgdl_total = _corpus_totals(slim)
            # the totals pass filled the final cache — drop intermediate
            # caches now (halves peak cache before the write pass)
            for h in handles[1:]:
                h.unpersist()
            handles = handles[:1]
            docs = _assign_and_project(slim, num_parts, tag_cols)
            # the id-assignment window already exchanged rows hash(part),
            # so every part lives wholly in one task: the partitioned
            # write yields one file per part dir with NO extra shuffle
            docs.write.mode("overwrite").partitionBy("part").parquet(
                os.path.join(index_dir, DOCS_DIR)
            )
        finally:
            for h in handles:
                h.unpersist()
        write_stats(
            index_dir,
            {
                "n_docs": n_total,
                "avgdl": avgdl_total,
                "num_parts": num_parts,
                "tag_cols": list(tag_cols),
                "tokenizer": "lower-split-[^a-z0-9]+",
                "format_version": FORMAT_VERSION,
            },
        )
        t_pass_a = time.perf_counter() - t0
    stats = read_stats(index_dir)

    # ---- pass B: postings shuffle + segment write ---------------------------
    # after a merge or compact, superseded parts have no live row but
    # their docs are served: nothing to resume (append builds its own)
    t_b0 = time.perf_counter()
    rewritten = any(r.get("merged_from") for r in read_manifest(index_dir))
    n_written = 0 if rewritten else _write_segments_for(spark, index_dir)
    t_pass_b = time.perf_counter() - t_b0

    # ---- term_stats: global df = sum of per-segment dict dfs ----------------
    # (docs live in exactly one segment, so the sum is exact). Reading the
    # dictionaries is ~1000x cheaper than re-tokenizing the corpus.
    ts_path = os.path.join(index_dir, TERM_STATS_FILE)
    if n_written or not os.path.exists(ts_path):
        write_term_stats(spark, index_dir)

    elapsed = time.perf_counter() - t0
    manifest = read_manifest(index_dir)
    n_docs = stats["n_docs"]
    n_postings = sum(r["n_postings"] for r in manifest)
    total_bytes = sum(r["bytes"] for r in manifest)
    metrics = {
        "n_docs": n_docs,
        "n_postings": n_postings,
        "post_bytes": total_bytes,
        "n_segments": len(manifest),
        "build_sec": round(elapsed, 3),
        "pass_a_sec": round(t_pass_a, 3),
        "pass_b_sec": round(t_pass_b, 3),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "postings_per_sec": round(n_postings / elapsed, 1),
        "segments_written_this_run": n_written,
    }
    commit_file(
        os.path.join(index_dir, BUILD_METRICS_FILE),
        lambda f: f.write(json.dumps(metrics).encode()),
    )
    return metrics


def write_term_stats(spark: SparkSession, index_dir: str) -> None:
    """Global df = sum of per-segment dict dfs, over the MANIFEST's dict
    paths, not a directory glob: superseded-but-not-yet-cleaned segment
    files (merge/compact crash window) must not double-count df.

    SIZE-ADAPTIVE (guide §1.2): while the dict files together are
    driver-sized (<= _TERM_STATS_LOCAL_BYTES of parquet) the rollup is
    ONE driver-side Arrow group_by landed by ``commit_file`` — a Spark
    job costs ~0.4-0.6s per build (measured). A larger vocabulary runs
    the distributed aggregation into a scratch dir whose single sorted
    part file is os.replace'd over term_stats.parquet: spark's
    mode("overwrite") deletes the target first, and a serving query
    mid-refresh would see a partial or schema-less table."""
    import glob as _glob
    import shutil

    dicts = [
        seg_paths(index_dir, r["partition_id"])[1]
        for r in read_manifest(index_dir)
    ]
    dst = os.path.join(index_dir, TERM_STATS_FILE)
    if sum(os.path.getsize(p) for p in dicts) <= _TERM_STATS_LOCAL_BYTES:
        tables = [pq.read_table(p, columns=["term", "df"]) for p in dicts]
        empty = DICT_SCHEMA.empty_table().select(["term", "df"])
        agg = (
            pa.concat_tables(tables or [empty])
            .group_by("term")
            .aggregate([("df", "sum")])
            .rename_columns(["term", "df"])
            .sort_by("term")
        )
        commit_file(dst, lambda f: pq.write_table(agg, f))
        return
    scratch = dst + ".build"
    (
        spark.read.parquet(*dicts)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .repartition(1)
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(scratch)
    )
    part = _glob.glob(os.path.join(scratch, "part-*.parquet"))[0]
    os.replace(part, dst)
    shutil.rmtree(scratch)


def build_segment_from_part(index_dir: str, pid: int) -> dict:
    """Build and commit one segment from its (already co-located) docs
    part dir; returns its manifest row.

    Everything is vectorized: Arrow C++ tokenization (utf8_lower +
    split_pattern_regex + empty-filter = exactly ``spark_tokens``,
    golden-tested 3-way in tests/test_tokenizer.py), dictionary-encoded
    term ranks, one numpy lexsort by (term, doc_id). No per-posting
    Python objects, no JVM exchange. Deterministic: a pure function of
    the part's rows, identical at any cluster size."""
    import numpy as np

    from refimage_spark.tokenizer import arrow_flat_tokens

    t = pq.read_table(
        docs_part_dir(index_dir, pid), columns=["doc_id", "dl", "tags", "text"]
    ).sort_by("doc_id")
    ids = t["doc_id"].to_numpy()
    flat, row_of = arrow_flat_tokens(t["text"].combine_chunks())
    doc_rep = ids[row_of]
    # sort by (lexicographic term, doc_id): rank the unique terms once,
    # lexsort the (rank, doc) pairs — never the strings themselves
    de = flat.dictionary_encode()
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = de.dictionary
    order = pc.sort_indices(vocab).to_numpy(zero_copy_only=False)
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[order] = np.arange(len(vocab))
    o = np.lexsort((doc_rep, rank[codes]))
    return write_segment(
        index_dir,
        pid,
        ids,
        t["dl"].to_numpy(),
        t["tags"].combine_chunks(),
        flat.take(pa.array(o)),
        doc_rep[o],
    )


def _write_segments_for(
    spark: SparkSession, index_dir: str, part_filter=None
) -> int:
    """Pass B: one task per part — the docs table is ALREADY partitioned
    by part on disk, so segment building is embarrassingly parallel with
    zero exchange. Skips committed partitions (resume); ``part_filter``
    restricts to a subset (used by incremental append)."""
    done = {r["partition_id"] for r in read_manifest(index_dir)}
    pending = [
        p
        for p in docs_parts(index_dir)
        if p not in done and (part_filter is None or part_filter(p))
    ]
    if not pending:
        return 0

    def write_part(pid: int) -> pa.RecordBatch | None:
        # re-check THIS pid's commit row only (a retried/speculative task
        # racing another attempt is harmless — segment writes are
        # idempotent). A full manifest scan in every task would
        # re-read the whole manifest dir: O(P^2) file opens per build.
        if os.path.exists(row_path(index_dir, pid)):
            return None
        build_segment_from_part(index_dir, pid)
        return pa.record_batch([pa.array([pid], pa.int32())], names=["pid"])

    return len(
        _per_segment_job(
            spark, [(p,) for p in pending], write_part, "pid int"
        ).collect()
    )


def _per_segment_job(
    spark: SparkSession, rows: list[tuple], fn, schema: str
) -> DataFrame:
    """The one per-segment Spark job: the driver-side ``rows`` (tuples
    of ints or int lists, shipped in the task closure) become
    ``fn(*row)`` in the tasks, each a RecordBatch of ``schema`` or None
    for no output. Returns the ``mapInArrow`` DataFrame; callers that
    need the results collect it.

    A few rows per task, not one: per-task Spark overhead is ~5ms and
    segment builds are ~50ms, so one task per pid spent ~25% of pass B
    on scheduling at P=320. 4 waves per core keeps the tail short
    (segments are near-equal by the hash partitioner). ``spark.range``
    hands each task an even, contiguous slice of row indexes with no
    shuffle and no Python-side DataFrame conversion."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for i in rb.column(0).to_pylist():
                out = fn(*rows[i])
                if out is not None:
                    yield out

    n_tasks = max(spark_tasks(spark, len(rows)), 1)
    return spark.range(0, len(rows), 1, n_tasks).mapInArrow(run, schema)


def spark_tasks(spark: SparkSession, n_rows: int) -> int:
    """Tasks of a ``_per_segment_job`` over ``n_rows`` rows."""
    return min(n_rows, spark.sparkContext.defaultParallelism * 4)
