"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2
plus the training-data pipeline ops; ``oracle_sql()`` gives the DuckDB
equivalent for every entry (same column names, floats rounded identically
on both sides — including MinHash/SimHash via an md5-derived hash family
both engines compute bit-identically, sign-LSH ANN via hyperplanes inlined
as SQL literals, the k-means IVF path and the ann_recall quality gate via
the persisted deterministic centroids inlined the same way, and the real
segment engine via the index_* entries).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from refimage_spark.index.build import build_index
from refimage_spark.index.query import search_index
from refimage_spark.operators import dedup as D
from refimage_spark.operators import events as EV
from refimage_spark.operators import metadata as M
from refimage_spark.operators import multimodal as MM
from refimage_spark.operators import similarity as SIM
from refimage_spark.operators import textstats as TS
from refimage_spark.operators.bm25 import Corpus, bm25_topk, corpus_stats, term_df
from refimage_spark.plans.compiler import search
from refimage_spark.tokenizer import duckdb_tokens_sql

# ----------------------------------------------------------------- helpers --


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _corpus(spark: SparkSession, sf_dir: str) -> Corpus:
    return Corpus.from_documents(_docs(spark, sf_dir))


def _r4(df: DataFrame, col: str = "score") -> DataFrame:
    return df.withColumn(col, F.round(F.col(col), 4))


# shared oracle CTE prefix: tokenized docs + corpus stats
_PREFIX = f"""WITH tokd AS (
  SELECT doc_id, {duckdb_tokens_sql('text')} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM tokd),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
terms AS (SELECT doc_id, unnest(toks) AS term FROM tokd)"""


def _clause_sql(terms: list[str], weight: float = 1.0, threshold: float = 0.0) -> str:
    """One BM25 text clause -> (doc_id, score) subquery (DuckDB)."""
    tl = ",".join(f"'{t}'" for t in terms)
    thr = f" HAVING sum(s.part) >= {threshold}" if threshold > 0 else ""
    return f"""SELECT s.doc_id, sum(s.part) AS score FROM (
      SELECT tf.doc_id,
        {weight} * ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
          * tf.tf * (1.2 + 1.0)
          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS part
      FROM (SELECT doc_id, term, count(*) AS tf FROM terms
            WHERE term IN ({tl}) GROUP BY 1, 2) tf
      JOIN (SELECT term, count(DISTINCT doc_id) AS df FROM terms
            WHERE term IN ({tl}) GROUP BY 1) dfs USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
    ) s GROUP BY s.doc_id{thr}"""


def _topk_sql(body: str, k: int = 10) -> str:
    return (
        f"{_PREFIX} SELECT doc_id, round(score, 4) AS score FROM ({body}) "
        f"ORDER BY score DESC, doc_id ASC LIMIT {k}"
    )


_SHINGLE_SQL = """sh AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
    for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles FROM tokd)"""


def _md5i60(e: str) -> str:
    return D.md5int60_sql(e)


# --- segment-engine adapter: index the documents table as a pages corpus ---

_INDEX_CACHE: dict[str, str] = {}


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir/process) a real segment index over the
    documents table; urls encode the original doc_id for mapping back.
    tag_cols=(lang, source) so segment-engine tag queries carry the SAME
    tag vocabulary as the DataFrame compiler (tags := {lang, source})."""
    if sf_dir in _INDEX_CACHE:
        return _INDEX_CACHE[sf_dir]
    import tempfile

    d = tempfile.mkdtemp(prefix="refimage_idx_")
    pages = _docs(spark, sf_dir).select(
        F.format_string("doc://%08d", "doc_id").alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        "text",
        "lang",
        "source",
    )
    build_index(
        spark, pages, d, num_parts=8, content_dedup=False,
        tag_cols=("lang", "source"),
    )
    _INDEX_CACHE[sf_dir] = d
    return d


_STREAM_CACHE: dict[str, DataFrame] = {}


def _sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the STATEFUL STREAMING sessionizer (applyInPandasWithState,
    streaming/ingest.py) through a real file-stream replay of the events
    table and return the gap-closed sessions — the driver's oracle then
    checks the custom streaming operator itself, not just its batch twin.
    Each user's LAST session is still open in state at end-of-stream (it
    would close by processing-time timeout on a live stream), so the
    result — and the oracle — excludes it."""
    if sf_dir in _STREAM_CACHE:
        return _STREAM_CACHE[sf_dir]
    import tempfile

    from refimage_spark.streaming.ingest import streaming_sessionize

    events = (
        _events(spark, sf_dir)
        .where(F.col("user_id") < 40)
        .select("event_id", "ts", "user_id", "value")
    )
    work = tempfile.mkdtemp(prefix="refimage_stream_")
    inbox = os.path.join(work, "in")
    events.coalesce(1).write.parquet(inbox)
    stream = spark.readStream.schema(events.schema).parquet(inbox)
    # memory-sink name derived from sf_dir: a fixed name would let a
    # second run (different sf_dir) replace the table under the first
    # run's cached lazy DataFrame
    import hashlib

    sink = "refimage_sess_stream_" + hashlib.md5(
        os.path.realpath(sf_dir).encode()
    ).hexdigest()[:8]
    # bounded drain: state_timeout_ms=None registers no processing-time
    # timers, so the availableNow run self-terminates after the data
    # batches — no sink polling, no mid-batch stop() aborts
    q = (
        streaming_sessionize(stream, state_timeout_ms=None)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "streaming sessionize drain did not finish within 300s; "
            "refusing to read a partial sink table"
        )
    out = spark.sql(
        f"SELECT user_id, n_events, round(total_value, 4) AS total_value, "
        f"cast(started AS timestamp_ntz) AS started, "
        f"cast(ended AS timestamp_ntz) AS ended "
        f"FROM {sink} WHERE closed_by = 'gap'"
    )
    _STREAM_CACHE[sf_dir] = out
    return out


_ANN_CACHE: dict[str, str] = {}


def _ensure_ann(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir/process) the PERSISTED ANN indexes: LSH
    bucket table partitionBy(bucket) + IVF cell table partitionBy(cell)
    with its one-time-trained quantizer — queries prune partitions."""
    if sf_dir in _ANN_CACHE:
        return _ANN_CACHE[sf_dir]
    import tempfile

    d = tempfile.mkdtemp(prefix="refimage_ann_")
    emb = _emb(spark, sf_dir)
    SIM.build_lsh_index(emb, d, dim=64)
    SIM.build_ivf_index(emb, d)
    _ANN_CACHE[sf_dir] = d
    return d


def _ivf_centroid_literals() -> str | None:
    """Replicate build_ivf_index's quantizer training WITHOUT Spark —
    same deterministic inputs (lowest-id sample of the sf0.01 embeddings,
    the table the driver's DuckDB views read) through the same seed-pinned
    _kmeans — and render the centroids as SQL VALUES literals, exactly as
    the LSH hyperplanes are inlined. Returns None (entry stays rows-only)
    if the correctness-gate parquet isn't present."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")
    p = f"{sf}/embeddings.parquet"
    if not os.path.exists(p):
        return None
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(p, columns=["vec_id", "embedding"]).sort_by("vec_id")
    sample = np.asarray(t["embedding"].to_pylist()[:4096], dtype=np.float64)
    cent = SIM._kmeans(sample, 16, seed=42)
    return ", ".join(
        f"({c}, [{','.join(repr(float(x)) for x in cent[c])}])"
        for c in range(cent.shape[0])
    )


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    qv = _emb(spark, sf_dir).where(F.col("vec_id") == 0).select("embedding").head()[0]
    return [float(x) for x in qv]


_TS_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def _ts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic warc_ts (epoch + doc_id seconds) —
    the derivation the DuckDB oracle mirrors exactly."""
    return _docs(spark, sf_dir).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(_TS_EPOCH) + F.col("doc_id"))
    )


def _index_search(
    spark: SparkSession,
    sf_dir: str,
    q: str,
    k: int = 10,
    threshold: float = 0.0,
    mode: str = "auto",
) -> DataFrame:
    d = _ensure_index(spark, sf_dir)
    res = search_index(
        spark, d, q, k=k, threshold=threshold, mode=mode
    ).withColumnRenamed(
        "doc_id", "internal_id"
    )
    id_map = spark.read.parquet(f"{d}/docs.parquet").select(
        F.col("doc_id").alias("internal_id"),
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("long").alias("doc_id"),
    )
    return res.join(id_map, "internal_id").select(
        "doc_id", F.round("score", 4).alias("score")
    )


# ----------------------------------------------------------------- entry  --


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: DSL search (weighted OR) + metadata hydrate on sf0.001."""
    sf = "/root/testdata/sf0.001"
    docs = _docs(spark, sf)
    corpus = Corpus.from_documents(docs)
    top = _r4(search(corpus, "spark join OR window agg^0.8", limit=10))
    return M.hydrate(top, docs, keep=["lang", "source", "n_chars"])


# ----------------------------------------------------------------- queries --


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- retrieval core (SURVEY §2.3/§2.5: K1, W1-W6) ---
    q["bm25_topk"] = lambda s, d: _r4(bm25_topk(_corpus(s, d), "spark join window", k=10))
    q["bm25_weighted_threshold"] = lambda s, d: _r4(
        search(_corpus(s, d), "vector stream^0.5", limit=10, threshold=0.3)
    )
    # --- DSL algebra (SURVEY §2.4: B1-B4) ---
    q["dsl_and"] = lambda s, d: _r4(search(_corpus(s, d), "spark AND join", limit=10))
    q["dsl_or_weighted"] = lambda s, d: _r4(
        search(_corpus(s, d), "merge sort^0.8 OR hash join^0.6", limit=10)
    )
    q["dsl_not"] = lambda s, d: _r4(search(_corpus(s, d), "table scan NOT slow", limit=10))
    q["dsl_tag_any"] = lambda s, d: search(_corpus(s, d), "#en #fr", limit=1000)
    q["dsl_text_tag"] = lambda s, d: _r4(search(_corpus(s, d), "fast query #en", limit=10))
    q["dsl_functional_exclude"] = lambda s, d: _r4(
        search(_corpus(s, d), 'EXCLUDE(TEXT("stream window"), TEXT("batch"))', limit=10)
    )
    # --- the real segment engine (index build + WAND / boolean eval) ---
    q["index_bm25_topk"] = lambda s, d: _index_search(s, d, "spark join window")
    q["index_dsl_not"] = lambda s, d: _index_search(s, d, "table scan NOT slow")
    q["index_dsl_or"] = lambda s, d: _index_search(
        s, d, "merge sort^0.8 OR hash join^0.6"
    )
    q["index_dsl_tag"] = lambda s, d: _index_search(s, d, "#en #fr", k=1000)
    q["index_text_tag"] = lambda s, d: _index_search(s, d, "fast query #en")
    # the same block-pruned scorer forced through the Spark path
    # (mode="auto" serves this corpus locally, so without this entry the
    # gate would never run search_index's per-segment Spark job)
    q["index_bm25_wand"] = lambda s, d: _index_search(
        s, d, "spark join window", mode="spark"
    )
    # --- metadata table ops (SURVEY §2.1/§2.2: S2, S3, P1-P5, W4, W5) ---
    q["point_lookup"] = lambda s, d: M.point_lookup(_docs(s, d), 42)
    q["doc_terms"] = lambda s, d: M.doc_terms(_docs(s, d), 42)
    q["metadata_page"] = lambda s, d: M.list_documents(
        _docs(s, d), limit=20, offset=10, sort_by="n_chars", sort_order="desc"
    )
    q["metadata_tag_filter"] = lambda s, d: M.list_documents(
        _docs(s, d), limit=50, tags_filter=["en", "src3"], sort_by="doc_id"
    )
    q["metadata_page_by_ts"] = lambda s, d: M.list_documents(
        _ts_docs(s, d), limit=15, offset=5, sort_by="warc_ts", sort_order="desc"
    )
    # UPDATE by id: NULL keeps existing (reference None semantics); the
    # 999999 row targets a missing doc and must be a no-op
    q["metadata_update"] = lambda s, d: M.update_metadata(
        _docs(s, d),
        s.createDataFrame(
            [(7, "xx", "manual"), (13, None, "manual2"),
             (21, "yy", None), (999999, "zz", "zz")],
            "doc_id long, lang string, source string",
        ),
        set_cols=["lang", "source"],
    ).where(F.col("doc_id") < 40)
    q["hydrate_topk"] = lambda s, d: M.hydrate(
        _r4(bm25_topk(_corpus(s, d), "spark join window", k=10)),
        _docs(s, d),
        keep=["lang", "source", "n_chars"],
    )
    # --- aggregations / stats (SURVEY §2.6: A1-A4) ---
    q["stats_rollup"] = lambda s, d: M.stats_rollup(_docs(s, d)).select(
        "n_docs",
        F.col("total_chars").cast("long").alias("total_chars"),
        "n_langs",
        "n_sources",
        F.round("avg_chars", 6).alias("avg_chars"),
    )
    q["corpus_stats"] = lambda s, d: corpus_stats(_corpus(s, d)).select(
        "n_docs", F.round("avgdl", 6).alias("avgdl")
    )
    q["term_df"] = lambda s, d: term_df(
        _corpus(s, d), ["spark", "join", "window", "vector"]
    )
    # --- text analysis (training-data ops) ---
    q["token_counts"] = lambda s, d: TS.token_counts(_docs(s, d)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_uniq").cast("long").alias("n_uniq"),
    )
    q["doc_fingerprint"] = lambda s, d: TS.doc_fingerprint(_docs(s, d))
    q["lang_id"] = lambda s, d: TS.lang_id(_docs(s, d))
    q["quality_score"] = lambda s, d: TS.quality_score(_docs(s, d))
    # --- dedup family (SURVEY §2.1 S10 + training-data ops) ---
    q["dedup_exact"] = lambda s, d: D.exact_dedup(_docs(s, d))
    q["dedup_minhash"] = lambda s, d: D.minhash_neardup_pairs(_docs(s, d), threshold=0.4)
    q["dedup_ngram_jaccard"] = lambda s, d: D.ngram_jaccard_pairs(
        _docs(s, d), threshold=0.4
    )
    q["dedup_simhash"] = lambda s, d: D.simhash_neardup_pairs(
        _docs(s, d), max_hamming=3
    ).select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    # the production bucket-width bound: W=16 DOES engage at sf0.01 (the
    # widest block bucket holds 27 docs) and must drop those wide
    # buckets without losing any true pair
    q["dedup_simhash_bounded"] = lambda s, d: D.simhash_neardup_pairs(
        _docs(s, d), max_hamming=3, max_bucket_width=16
    ).select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    # threshold 0.35 (not the 0.9 production default): the synthetic
    # sf0.01 embeddings' tightest within-label pair is cos≈0.475, so 0.9
    # made the oracle trivially green on 0 rows — 0.35 yields a stable
    # ~21-pair set and the oracle actually exercises the blocked join
    q["embedding_neardup"] = lambda s, d: D.embedding_neardup_pairs(
        _emb(s, d), threshold=0.35, block_col="label"
    )
    # grouping-sets coverage (SURVEY §2.9): ROLLUP over the tag columns
    q["stats_rollup_by_tag"] = lambda s, d: (
        _docs(s, d)
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )
    # --- similarity search ---
    def _cos_topk(s: SparkSession, d: str) -> DataFrame:
        emb = _emb(s, d)
        qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
        return SIM.cosine_topk(emb, [float(x) for x in qv], k=10).select(
            "vec_id", F.round("cos", 4).alias("cos")
        )

    q["embedding_cosine_topk"] = _cos_topk

    def _ann(s: SparkSession, d: str) -> DataFrame:
        idx = _ensure_ann(s, d)
        return SIM.lsh_topk(s, idx, _query_vec(s, d), k=10).select(
            "vec_id", F.round("cos", 4).alias("cos")
        )

    # persisted partition-pruned LSH index; oracle recomputes the bucket
    # from the same seed-pinned hyperplanes inlined as SQL literals
    q["ann_lsh_topk"] = _ann

    def _assert_ivf_oracle_dir(d: str) -> None:
        """The IVF oracle's centroid literals are trained from
        $SPARK_GRAFT_SF_DIR_CORRECTNESS while the Spark-side index trains
        on this query's sf_dir — if the gate ever runs on a different
        scale factor, fail HERE with a clear message instead of a
        hash-mismatch that looks like an engine bug."""
        env = os.environ.get(
            "SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01"
        )
        if os.path.realpath(d) != os.path.realpath(env):
            raise RuntimeError(
                f"IVF oracle centroids train on {env} but the query runs "
                f"on {d}; set SPARK_GRAFT_SF_DIR_CORRECTNESS={d} so both "
                "sides train the quantizer on the same sample"
            )

    def _ann_ivf(s: SparkSession, d: str) -> DataFrame:
        _assert_ivf_oracle_dir(d)
        idx = _ensure_ann(s, d)
        return SIM.ivf_topk(s, idx, _query_vec(s, d), k=10).select(
            "vec_id", F.round("cos", 4).alias("cos")
        )

    # persisted partition-pruned IVF index; oracle replicates the
    # deterministic quantizer training and inlines the centroids
    q["ann_ivf_topk"] = _ann_ivf

    def _ann_recall(s: SparkSession, d: str) -> DataFrame:
        _assert_ivf_oracle_dir(d)
        idx = _ensure_ann(s, d)
        return SIM.ann_recall(s, _emb(s, d), idx, _query_vec(s, d), k=10)

    q["ann_recall"] = _ann_recall  # quality gate vs exact topk, full oracle
    # --- multimodal plumbing (binary column -> Arrow feature extraction) ---
    q["multimodal_features"] = lambda s, d: MM.extract_features(
        _docs(s, d).select("doc_id", F.encode("text", "utf-8").alias("raw")), "raw"
    ).select("doc_id", "content_md5", "feature_norm")
    # --- events: windowed / sessionized / running aggregations ---
    q["events_windowed_agg"] = lambda s, d: EV.tumbling_agg(_events(s, d))
    q["events_sessionize"] = lambda s, d: EV.sessionize(_events(s, d))
    q["events_running_total"] = lambda s, d: EV.running_total(_events(s, d))
    # stateful STREAMING sessionize, driven end-to-end (file-stream
    # replay -> applyInPandasWithState -> memory sink); oracle = the
    # batch gaps-and-islands SQL minus each user's still-open last session
    q["events_sessionize_stream"] = _sessionize_stream
    # --- relational coverage over the star schema (join/agg/window) ---
    q["tpch_pricing_summary"] = lambda s, d: (
        s.read.parquet(f"{d}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    # TPC-H Q3 shape: selective dim filter -> broadcast -> fact join ->
    # agg -> top-k (the canonical pushdown/broadcast/TakeOrdered plan)
    q["tpch_shipping_priority"] = lambda s, d: (
        s.read.parquet(f"{d}/lineitem.parquet")
        .where(F.col("l_shipdate") > F.lit("1998-06-17").cast("timestamp"))
        .join(
            s.read.parquet(f"{d}/orders.parquet").where(
                F.col("o_orderdate") < F.lit("1998-06-17").cast("timestamp")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                s.read.parquet(f"{d}/customer.parquet").where(
                    F.col("c_mktsegment") == "BUILDING"
                )
            ),
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
    q["tpch_top_customers"] = lambda s, d: (
        s.read.parquet(f"{d}/orders.parquet")
        .join(
            F.broadcast(s.read.parquet(f"{d}/customer.parquet")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )
    return q


# ----------------------------------------------------------------- oracles --


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["bm25_topk"] = _topk_sql(_clause_sql(["spark", "join", "window"]))
    o["bm25_weighted_threshold"] = _topk_sql(
        _clause_sql(["vector", "stream"], weight=0.5, threshold=0.3)
    )
    c_spark = _clause_sql(["spark"])
    c_join = _clause_sql(["join"])
    o["dsl_and"] = _topk_sql(
        f"SELECT a.doc_id, a.score + b.score AS score FROM ({c_spark}) a "
        f"JOIN ({c_join}) b USING (doc_id)"
    )
    o["dsl_or_weighted"] = _topk_sql(
        "SELECT doc_id, sum(score) AS score FROM "
        f"(({_clause_sql(['merge', 'sort'], 0.8)}) UNION ALL "
        f"({_clause_sql(['hash', 'join'], 0.6)})) u GROUP BY doc_id"
    )
    o["dsl_not"] = _topk_sql(
        f"SELECT * FROM ({_clause_sql(['table', 'scan'])}) a WHERE a.doc_id NOT IN "
        f"(SELECT doc_id FROM ({_clause_sql(['slow'])}) b)"
    )
    o["dsl_tag_any"] = (
        "SELECT doc_id, cast(0.0 AS double) AS score FROM documents "
        "WHERE lower(lang) IN ('en','fr') OR lower(source) IN ('en','fr')"
    )
    o["dsl_text_tag"] = _topk_sql(
        f"SELECT a.doc_id, a.score FROM ({_clause_sql(['fast', 'query'])}) a "
        "JOIN documents dd ON a.doc_id = dd.doc_id "
        "WHERE lower(dd.lang) = 'en' OR lower(dd.source) = 'en'"
    )
    o["dsl_functional_exclude"] = _topk_sql(
        f"SELECT * FROM ({_clause_sql(['stream', 'window'])}) a WHERE a.doc_id NOT IN "
        f"(SELECT doc_id FROM ({_clause_sql(['batch'])}) b)"
    )
    o["index_bm25_topk"] = o["bm25_topk"]  # same semantics, real index engine
    o["index_bm25_wand"] = o["bm25_topk"]  # WAND is rank-identical by spec
    o["index_dsl_not"] = o["dsl_not"]
    o["index_dsl_or"] = o["dsl_or_weighted"]
    o["index_dsl_tag"] = o["dsl_tag_any"]
    o["index_text_tag"] = o["dsl_text_tag"]
    o["point_lookup"] = "SELECT * FROM documents WHERE doc_id = 42"
    o["doc_terms"] = (
        f"{_PREFIX} SELECT term, cast(count(*) AS bigint) AS tf "
        "FROM terms WHERE doc_id = 42 GROUP BY term"
    )
    o["metadata_page"] = (
        "SELECT * FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20 OFFSET 10"
    )
    o["metadata_tag_filter"] = (
        "SELECT * FROM documents WHERE lower(lang) IN ('en','src3') "
        "OR lower(source) IN ('en','src3') ORDER BY doc_id ASC LIMIT 50"
    )
    o["metadata_page_by_ts"] = (
        "SELECT *, cast(to_timestamp(1704067200 + doc_id) AS timestamp) "
        "AS warc_ts FROM documents "
        "ORDER BY warc_ts DESC, doc_id ASC LIMIT 15 OFFSET 5"
    )
    o["metadata_update"] = """WITH u AS (SELECT * FROM (VALUES
      (7, 'xx', 'manual'), (13, CAST(NULL AS VARCHAR), 'manual2'),
      (21, 'yy', CAST(NULL AS VARCHAR)), (999999, 'zz', 'zz'))
      t(doc_id, u_lang, u_source))
    SELECT d.doc_id, d.text, coalesce(u.u_lang, d.lang) AS lang,
      coalesce(u.u_source, d.source) AS source, d.n_chars
    FROM documents d LEFT JOIN u ON d.doc_id = u.doc_id
    WHERE d.doc_id < 40"""
    o["hydrate_topk"] = (
        f"{_PREFIX}, tk AS (SELECT doc_id, round(score,4) AS score FROM "
        f"({_clause_sql(['spark', 'join', 'window'])}) z "
        "ORDER BY score DESC, doc_id ASC LIMIT 10) "
        "SELECT d.doc_id, d.lang, d.source, d.n_chars, tk.score "
        "FROM documents d JOIN tk ON d.doc_id = tk.doc_id"
    )
    o["stats_rollup"] = (
        "SELECT cast(count(*) AS bigint) AS n_docs, "
        "cast(sum(n_chars) AS bigint) AS total_chars, "
        "cast(count(DISTINCT lang) AS bigint) AS n_langs, "
        "cast(count(DISTINCT source) AS bigint) AS n_sources, "
        "round(avg(n_chars), 6) AS avg_chars FROM documents"
    )
    o["corpus_stats"] = (
        f"{_PREFIX} SELECT cast(n AS bigint) AS n_docs, round(avgdl, 6) AS avgdl "
        "FROM stats"
    )
    o["term_df"] = (
        f"{_PREFIX} SELECT term, cast(count(DISTINCT doc_id) AS bigint) AS df "
        "FROM terms WHERE term IN ('spark','join','window','vector') GROUP BY term"
    )
    o["token_counts"] = (
        f"{_PREFIX} SELECT doc_id, cast(len(toks) AS bigint) AS n_tokens, "
        "cast(len(list_distinct(toks)) AS bigint) AS n_uniq FROM tokd"
    )
    o["doc_fingerprint"] = (
        f"{_PREFIX} SELECT doc_id, md5(array_to_string(toks, ' ')) AS fingerprint "
        "FROM tokd"
    )
    # lang_id: ratios per pinned stopword sets, argmax with priority tiebreak
    ratios = {
        lg: (
            f"(len(list_filter(toks, t -> list_contains("
            f"[{','.join(repr(w) for w in ws)}], t))) "
            f"/ greatest(len(toks), 1))"
        )
        for lg, ws in TS.STOPWORDS.items()
    }
    best = f"greatest({ratios['en']}, {ratios['de']}, {ratios['fr']}, {ratios['es']})"
    case = " ".join(
        f"WHEN {ratios[lg]} = best AND best >= {TS.MIN_LANG_RATIO} THEN '{lg}'"
        for lg in TS.LANG_PRIORITY
    )
    o["lang_id"] = (
        f"{_PREFIX} SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang, "
        f"round(best, 6) AS pred_ratio FROM "
        f"(SELECT doc_id, toks, {best} AS best FROM tokd) z"
    )
    en = ",".join(repr(w) for w in TS.STOPWORDS["en"])
    o["quality_score"] = f"""{_PREFIX} SELECT doc_id, round(
        0.3 * least(len(toks) / 200.0, 1.0)
      + 0.3 * (len(list_distinct(toks)) / greatest(len(toks), 1))
      + 0.2 * (len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
               / greatest(len(toks), 1))
      + 0.2 * least((len(list_filter(toks, t -> list_contains([{en}], t)))
               / greatest(len(toks), 1)) * 10.0, 1.0), 6) AS quality FROM tokd"""
    o["dedup_exact"] = (
        "SELECT md5(text) AS digest, min(doc_id) AS doc_id, "
        "cast(count(*) AS bigint) AS n_copies FROM documents GROUP BY md5(text)"
    )
    # minhash: 16 universal hashes over one md5 base — same constants as
    # operators/dedup.py (A/B generated from the same seeded stream)
    mh_a, mh_b = D._hash_constants(16)
    sig_comp = ", ".join(
        f"list_min([(h * {mh_a[i]} + {mh_b[i]}) % {D.MINHASH_P61} for h in hs])"
        for i in range(16)
    )
    o["dedup_minhash"] = f"""{_PREFIX}, {_SHINGLE_SQL},
    hsd AS (SELECT doc_id, shingles,
      [{D.md5int32_sql('s')} for s in shingles] AS hs
      FROM sh WHERE len(shingles) > 0),
    sig AS (SELECT doc_id, shingles, [{sig_comp}] AS sig FROM hsd),
    bands AS (SELECT doc_id, unnest(range(0, 4)) AS band,
      unnest([md5(array_to_string(sig[b*4+1:b*4+4], '-')) for b in range(0, 4)]) AS bkey
      FROM sig),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
      round(len(list_intersect(sa.shingles, sb.shingles))
        / (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
    JOIN sh sb ON cand.doc_b = sb.doc_id
    WHERE round(len(list_intersect(sa.shingles, sb.shingles))
        / (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.4"""
    o["dedup_ngram_jaccard"] = f"""{_PREFIX}, {_SHINGLE_SQL}
    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
      round(len(list_intersect(sa.shingles, sb.shingles))
        / (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE round(len(list_intersect(sa.shingles, sb.shingles))
        / (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.4"""
    bit_sums = ", ".join(
        f"sum(tf * (((h >> {j}) & 1) * 2 - 1)) AS b{j}" for j in range(D.SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN cast({2**j} AS bigint) ELSE cast(0 AS bigint) END)"
        for j in range(D.SIMHASH_BITS)
    )
    _simhash_cte = f"""{_PREFIX},
    tf AS (SELECT doc_id, term, count(*) AS tf, {_md5i60('term')} AS h
           FROM terms GROUP BY doc_id, term),
    bits AS (SELECT doc_id, {bit_sums} FROM tf GROUP BY doc_id),
    fp AS (SELECT doc_id, {fp_expr} AS fp FROM bits),
    blk AS (SELECT doc_id, fp, unnest(range(0, 4)) AS b,
            unnest([(fp >> (q * 15)) & 32767 for q in range(0, 4)]) AS bval FROM fp)"""
    o["dedup_simhash"] = f"""{_simhash_cte}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      cast(bit_count(xor(a.fp, b.fp)) AS int) AS hamming
    FROM blk a JOIN blk b ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3"""
    o["dedup_simhash_bounded"] = f"""{_simhash_cte},
    keep AS (SELECT b, bval FROM blk GROUP BY b, bval HAVING count(*) <= 16),
    blk2 AS (SELECT blk.* FROM blk JOIN keep USING (b, bval))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      cast(bit_count(xor(a.fp, b.fp)) AS int) AS hamming
    FROM blk2 a JOIN blk2 b ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3"""
    o["stats_rollup_by_tag"] = (
        "SELECT coalesce(lang, '(all)') AS lang, "
        "coalesce(source, '(all)') AS source, "
        "cast(count(*) AS bigint) AS n_docs, "
        "cast(sum(n_chars) AS bigint) AS total_chars "
        "FROM documents GROUP BY ROLLUP(lang, source)"
    )
    o["embedding_neardup"] = """WITH e AS (
      SELECT vec_id, label, [cast(x AS double) for x in embedding] AS emb
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      round(list_sum([a.emb[i] * b.emb[i] for i in range(1, len(a.emb) + 1)])
        / (sqrt(list_sum([x * x for x in a.emb]))
           * sqrt(list_sum([x * x for x in b.emb]))), 6) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_sum([a.emb[i] * b.emb[i] for i in range(1, len(a.emb) + 1)])
        / (sqrt(list_sum([x * x for x in a.emb]))
           * sqrt(list_sum([x * x for x in b.emb]))), 6) >= 0.35"""
    # ANN oracles: every trained-parameter set the Spark side persists is
    # DETERMINISTIC (seed-pinned hyperplanes; k-means on the lowest-id
    # sample), so both inline as SQL literals and DuckDB re-executes the
    # full plan — bucket/cell assignment, probe pruning, exact cosine
    # top-k — on the same parquet. Shared CTE fragments:
    from refimage_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, 42)
    plane_rows = ", ".join(
        f"({j}, [{','.join(repr(float(x)) for x in planes[j])}])"
        for j in range(8)
    )
    ann_e = """e AS (
      SELECT vec_id, [cast(x AS double) for x in embedding] AS emb
      FROM embeddings),
    qv AS (SELECT emb AS qe FROM e WHERE vec_id = 0)"""
    # sign-LSH: per-row bucket, query bucket, hamming<=2 candidate prune
    ann_lsh_cand = f"""planes AS (SELECT * FROM (VALUES {plane_rows}) t(j, p)),
    b AS (SELECT vec_id, emb,
      sum(CASE WHEN list_sum([emb[i] * p[i] for i in range(1, len(p) + 1)]) > 0
          THEN cast(1 AS bigint) << j ELSE 0 END) AS bucket
      FROM e CROSS JOIN planes GROUP BY vec_id, emb),
    qb AS (SELECT bucket AS q FROM b WHERE vec_id = 0),
    lsh_cand AS (SELECT b.vec_id, b.emb FROM b CROSS JOIN qb
      WHERE bit_count(xor(cast(b.bucket AS bigint), cast(qb.q AS bigint))) <= 2)"""

    def _cos_rank(src: str, alias: str) -> str:
        """Exact cosine of ``src`` rows vs the query vector, the same
        (round 6, score desc, id asc) total order as cosine_topk."""
        return f"""{alias} AS (SELECT vec_id,
      round(list_sum([emb[i] * qv.qe[i] for i in range(1, len(emb) + 1)])
        / (sqrt(list_sum([x * x for x in emb]))
           * sqrt(list_sum([x * x for x in qv.qe]))), 6) AS cos6
      FROM {src} CROSS JOIN qv)"""

    o["ann_lsh_topk"] = f"""WITH {ann_e},
    {ann_lsh_cand},
    {_cos_rank('lsh_cand', 's')}
    SELECT vec_id, round(cos6, 4) AS cos FROM s
    ORDER BY cos6 DESC, vec_id ASC LIMIT 10"""

    # IVF: replicate the quantizer training (operators/similarity.py
    # build_ivf_index — lowest-id sample, seed-pinned k-means) from the
    # same parquet DuckDB reads; centroids become VALUES literals. Cell
    # assignment = argmax dot (normalizing the row is a positive scale —
    # argmax is unchanged), ties to the lowest cell like np.argmax.
    cent_rows = _ivf_centroid_literals()
    if cent_rows is not None:
        ann_ivf_cand = f"""cent AS (SELECT * FROM (VALUES {cent_rows}) t(c, cv)),
    cdots AS (SELECT e.vec_id, e.emb, cent.c,
      list_sum([e.emb[i] * cent.cv[i] for i in range(1, len(cent.cv) + 1)]) AS dot
      FROM e CROSS JOIN cent),
    assign AS (SELECT vec_id, emb, c AS cell FROM (
      SELECT vec_id, emb, c, row_number() OVER (
        PARTITION BY vec_id ORDER BY dot DESC, c ASC) AS rn FROM cdots) z
      WHERE rn = 1),
    probe AS (SELECT c FROM (
      SELECT cent.c, list_sum([cent.cv[i] * qv.qe[i]
        for i in range(1, len(cent.cv) + 1)]) AS dot
      FROM cent CROSS JOIN qv) z ORDER BY dot DESC, c ASC LIMIT 4),
    ivf_cand AS (SELECT a.vec_id, a.emb FROM assign a
      WHERE a.cell IN (SELECT c FROM probe))"""
        o["ann_ivf_topk"] = f"""WITH {ann_e},
    {ann_ivf_cand},
    {_cos_rank('ivf_cand', 's')}
    SELECT vec_id, round(cos6, 4) AS cos FROM s
    ORDER BY cos6 DESC, vec_id ASC LIMIT 10"""
        # recall@10 of each ANN method vs the exact scan — the full
        # quality-gate computation re-derived in SQL
        o["ann_recall"] = f"""WITH {ann_e},
    {ann_lsh_cand},
    {ann_ivf_cand},
    {_cos_rank('lsh_cand', 'lsh_s')},
    {_cos_rank('ivf_cand', 'ivf_s')},
    {_cos_rank('e', 'ex_s')},
    lsh_top AS (SELECT vec_id FROM lsh_s ORDER BY cos6 DESC, vec_id ASC LIMIT 10),
    ivf_top AS (SELECT vec_id FROM ivf_s ORDER BY cos6 DESC, vec_id ASC LIMIT 10),
    ex_top AS (SELECT vec_id FROM ex_s ORDER BY cos6 DESC, vec_id ASC LIMIT 10)
    SELECT 'lsh' AS method, round((SELECT count(*) FROM lsh_top
      WHERE vec_id IN (SELECT vec_id FROM ex_top)) / 10.0, 4) AS recall
    UNION ALL
    SELECT 'ivf' AS method, round((SELECT count(*) FROM ivf_top
      WHERE vec_id IN (SELECT vec_id FROM ex_top)) / 10.0, 4) AS recall"""
    o["multimodal_features"] = (
        "SELECT doc_id, md5(text) AS content_md5, "
        "cast(1.0 AS double) AS feature_norm FROM documents"
    )
    o["embedding_cosine_topk"] = """WITH q AS (
      SELECT [cast(x AS double) for x in embedding] AS qe
      FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, [cast(x AS double) for x in embedding] AS emb
          FROM embeddings),
    s AS (SELECT vec_id,
      round(list_sum([emb[i] * q.qe[i] for i in range(1, len(emb) + 1)])
        / (sqrt(list_sum([x * x for x in emb]))
           * sqrt(list_sum([x * x for x in q.qe]))), 6) AS cos6
      FROM e CROSS JOIN q)
    SELECT vec_id, round(cos6, 4) AS cos FROM s
    ORDER BY cos6 DESC, vec_id ASC LIMIT 10"""
    o["events_windowed_agg"] = (
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "cast(count(*) AS bigint) AS n_events, "
        "round(sum(value), 4) AS total_value FROM events GROUP BY 1, 2"
    )
    o["events_sessionize"] = """WITH g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN epoch(ts) - epoch(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
             OR lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, ts, value,
        cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS bigint) AS session_idx
      FROM g)
    SELECT user_id, session_idx, cast(count(*) AS bigint) AS n_events,
      round(sum(value), 4) AS total_value,
      min(ts) AS started, max(ts) AS ended
    FROM s GROUP BY user_id, session_idx"""
    o["events_sessionize_stream"] = """WITH f AS (
      SELECT * FROM events WHERE user_id < 40),
    g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN epoch(ts) - epoch(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
             OR lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_s
      FROM f),
    s AS (SELECT user_id, ts, value,
        cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS bigint) AS session_idx
      FROM g),
    agg AS (SELECT user_id, session_idx,
        cast(count(*) AS bigint) AS n_events,
        round(sum(value), 4) AS total_value,
        min(ts) AS started, max(ts) AS ended
      FROM s GROUP BY user_id, session_idx)
    SELECT user_id, n_events, total_value, started, ended
    FROM agg
    WHERE session_idx < (SELECT max(session_idx) FROM agg a2
                         WHERE a2.user_id = agg.user_id)"""
    o["events_running_total"] = (
        "SELECT user_id, event_id, round(sum(value) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING), 4) AS running_value FROM events"
    )
    o["tpch_pricing_summary"] = (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(avg(l_discount), 6) AS avg_disc, "
        "cast(count(*) AS bigint) AS count_order "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    o["tpch_shipping_priority"] = (
        "SELECT l_orderkey, o_orderdate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-06-17' "
        "AND l_shipdate > TIMESTAMP '1998-06-17' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
    )
    o["tpch_top_customers"] = (
        "SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_custkey, c_name "
        "ORDER BY revenue DESC, c_custkey ASC LIMIT 10"
    )
    return o
