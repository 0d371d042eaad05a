"""The shared dedup steps: the keep-one projection build and append both
write through, the n-gram verify on docs too short to shingle, and the
guarded plan-size read behind the verify broadcast."""

import datetime as dt
import hashlib
import os

import pyarrow.parquet as pq

from refimage_spark.index.build import build_index
from refimage_spark.index.merge import append_pages
from refimage_spark.index.segment import read_manifest
from refimage_spark.operators import dedup as D
from refimage_spark.sources.pages import PAGES_SCHEMA, generate_pages


def _keep_one(rows) -> set[tuple[str, str]]:
    """Python reference of the keep-one rule over (url, warc_ts, html):
    per url the latest warc_ts wins, then the largest content hash; per
    content hash the smallest url wins. Returns {(url, content_hash)}."""
    best: dict[str, tuple] = {}
    for url, ts, html in rows:
        key = (ts, hashlib.sha256(bytes(html)).hexdigest())
        if url not in best or key > best[url]:
            best[url] = key
    by_hash: dict[str, str] = {}
    for url, (_, h) in best.items():
        if h not in by_hash or url < by_hash[h]:
            by_hash[h] = url
    return {(u, h) for h, u in by_hash.items()}


def _docs(index_dir: str, min_part: int = 0) -> set[tuple[str, str]]:
    t = pq.read_table(
        os.path.join(index_dir, "docs.parquet"),
        columns=["url", "content_hash", "part"],
    ).to_pylist()
    return {(r["url"], r["content_hash"]) for r in t if r["part"] >= min_part}


def _page(url: str, ts: dt.datetime, body: str):
    html = f"<html><body><article>{body}</article></body></html>".encode()
    return (url, ts, html, body, "en")


def test_build_and_append_keep_one(spark, tmp_path):
    pages = generate_pages(spark, 800, seed=42, partitions=4)
    rows = [(r.url, r.warc_ts, r.html) for r in pages.collect()]
    urls = [u for u, _, _ in rows]
    hashes = [hashlib.sha256(bytes(h)).hexdigest() for _, _, h in rows]
    # the corpus plants both kinds of duplicate the rule resolves
    assert len(set(urls)) < len(urls) and len(set(hashes)) < len(set(urls))
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, num_parts=4)
    built = _docs(d)
    assert built == _keep_one(rows)

    t0 = dt.datetime(2024, 1, 1)
    later = t0 + dt.timedelta(days=3)
    increment = [
        # recrawl of a new url: the later crawl's content wins
        _page("https://new.example/r", t0, "first crawl of r alpha"),
        _page("https://new.example/r", later, "second crawl of r beta"),
        # one html under two new urls: the smaller url wins
        _page("https://new.example/c2", t0, "copied page gamma delta"),
        _page("https://new.example/c1", later, "copied page gamma delta"),
        # a url the index already holds: the existing doc is kept
        _page(urls[0], later, "a recrawl of an indexed url"),
        _page("https://new.example/solo", t0, "unique page epsilon"),
    ]
    base_pid = 1 + max(r["partition_id"] for r in read_manifest(d))
    out = append_pages(spark, spark.createDataFrame(increment, PAGES_SCHEMA), d)
    want = _keep_one(
        [(u, ts, h) for u, ts, h, _, _ in increment if u != urls[0]]
    )
    assert out["appended_docs"] == len(want) == 3
    assert _docs(d, min_part=base_pid) == want
    assert _docs(d) == built | want


def test_ngram_jaccard_docs_without_shingles(spark):
    """Docs shorter than n have empty shingle sets; a pair of them has a
    zero union, which must drop out instead of raising DIVIDE_BY_ZERO
    under ANSI mode."""
    docs = spark.createDataFrame(
        [(1, "hi"), (2, "yo"), (3, "a b c d e"), (4, "a b c d e f")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in D.ngram_jaccard_pairs(docs).collect()]
    assert got == [(3, 4, 0.75)]


class _NoPlanStats:
    """A DataFrame's Java handle whose plan statistics cannot be read."""

    def __init__(self, jdf):
        self._jdf = jdf

    def queryExecution(self):
        raise RuntimeError("plan statistics unavailable")

    def __getattr__(self, name):
        return getattr(self._jdf, name)


def test_plan_bytes_fallback_skips_broadcast(spark, documents):
    shingled = D._shingle_table(documents, 3, D.DEFAULT_NUM_HASHES)
    ids = sorted(r.doc_id for r in shingled.select("doc_id").limit(3).collect())
    pairs = spark.createDataFrame(
        [(ids[0], ids[1]), (ids[0], ids[2]), (ids[1], ids[2])],
        "doc_a long, doc_b long",
    )

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")  # only the explicit hint may broadcast
    try:
        assert D._plan_bytes(shingled) <= D._VERIFY_BROADCAST_BYTES
        hinted = D.jaccard(pairs, shingled)
        assert "BroadcastHashJoin" in plan(hinted)
        shingled._jdf = _NoPlanStats(shingled._jdf)
        assert D._plan_bytes(shingled) == D._UNKNOWN_BYTES
        out = D.jaccard(pairs, shingled)
        assert "Broadcast" not in plan(out)
        assert sorted(out.collect()) == sorted(hinted.collect())
    finally:
        spark.conf.set(key, prev)
