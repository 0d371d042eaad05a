"""Segment engine: build -> query, rank+score identity vs the DataFrame
oracle, WAND vs vectorized identity, resume-from-checkpoint."""

import glob
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from refimage_spark.index.build import build_index
from refimage_spark.index.query import (
    eval_node,
    make_idfs,
    search_index,
    wand_topk_segment,
)
from refimage_spark.index.segment import SegmentReader, read_manifest
from refimage_spark import dsl
from refimage_spark.operators.bm25 import Corpus
from refimage_spark.plans.compiler import search
from refimage_spark.sources.pages import generate_pages
from refimage_spark.tokenizer import py_tokens

N_DOCS = 1200
N_PARTS = 8

QUERY_SET = [  # FIXTURES.md §3
    "red car",
    "fast car #en",
    "red car OR blue house",
    "sports car AND #en",
    "luxury car^0.8",
    "beach sunset NOT person",
    "red car^0.8 OR blue car^0.6",
    'EXCLUDE(TEXT("beach sunset"), TEXT("person"))',
    "car",  # head term
    "mountain river train engine",  # rare conjunction-ish bag
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    pages = generate_pages(spark, N_DOCS, seed=42, partitions=6)
    metrics = build_index(spark, pages, d, num_parts=N_PARTS)
    assert metrics["n_segments"] == N_PARTS
    return d


@pytest.fixture(scope="module")
def oracle_corpus(spark, index_dir):
    """Corpus over the SAME docs table the build produced (same doc_ids,
    same post-dedup doc set)."""
    docs = spark.read.parquet(f"{index_dir}/docs.parquet")
    from refimage_spark.tokenizer import spark_tokens

    toks = spark_tokens("text")
    return Corpus(
        docs.select(
            "doc_id",
            toks.alias("tokens"),
            F.size(toks).alias("dl"),
            F.array("lang").alias("tags"),
            "lang",
        )
    )


def test_manifest_complete(spark, index_dir):
    rows = read_manifest(index_dir)
    stats = json.load(open(f"{index_dir}/stats.json"))
    assert sum(r["n_docs"] for r in rows) == stats["n_docs"]
    assert all(r["checksum"] for r in rows)
    # dedup happened: planted url+content dups removed
    assert stats["n_docs"] < N_DOCS


@pytest.mark.parametrize("q", QUERY_SET)
def test_rank_identity_vs_oracle(spark, index_dir, oracle_corpus, q):
    got = search_index(spark, index_dir, q, k=10).collect()
    want = search(oracle_corpus, q, limit=10).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want], q
    for g, w in zip(got, want):
        assert g.score == pytest.approx(w.score, rel=1e-9), (q, g, w)


def test_threshold(spark, index_dir, oracle_corpus):
    got = search_index(spark, index_dir, "red car", k=50, threshold=1.0).collect()
    want = search(oracle_corpus, "red car", limit=50, threshold=1.0).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    assert all(r.score >= 1.0 for r in got)


def test_wand_equals_vectorized(spark, index_dir):
    stats = json.load(open(f"{index_dir}/stats.json"))
    terms = ["red", "car", "house"]
    idfs = make_idfs(index_dir, terms)
    for pid in range(N_PARTS):
        r = SegmentReader(index_dir, pid)
        node = dsl.TextQuery("red car house", 1.0)
        vids, vsc = eval_node(r, node, idfs, stats["avgdl"], 0.0)
        from refimage_spark.index.query import topk_arrays

        vids, vsc = topk_arrays(vids, vsc, 10)
        wids, wsc = wand_topk_segment(r, terms, idfs, stats["avgdl"], 10)
        assert vids.tolist() == wids.tolist(), pid
        np.testing.assert_allclose(vsc, wsc, rtol=1e-9)


def _raw_segment(tmp_path, postings: dict, n_docs: int, dl: int = 10):
    """Hand-built single segment: postings = {term: [(doc, tf), ...]}."""
    import pyarrow as pa

    from refimage_spark.index.segment import write_segment

    d = str(tmp_path / "rawseg")
    ids = np.arange(n_docs, dtype=np.int64)
    rows = [(t, *p) for t in sorted(postings) for p in postings[t]]
    write_segment(
        d, 0, ids, np.full(n_docs, dl, np.int64), [["en"]] * n_docs,
        pa.array([r[0] for r in rows], pa.string()),
        np.array([r[1] for r in rows], dtype=np.int64),
        np.array([r[2] for r in rows], dtype=np.int64),
    )
    return d


def test_wand_pivot_extension_rank_safe(spark, tmp_path):
    """Regression (ADVICE r1, high): a cursor BEYOND the pivot sitting on
    pivot_doc contributes real score; without BMW pivot extension the
    block bound understates the doc and a true top-1 hit is pruned.

    Setup: term x tf=10 at doc 0, tf=1 on docs 1..199 (2 blocks); term y
    tf=10 at doc 150 only; k=1. True top-1 is doc 150 (x's tf=1 part +
    y's tf=10 part); the buggy prune returned doc 0."""
    from refimage_spark.index.query import topk_arrays
    from refimage_spark.index.segment import SegmentReader

    post_x = [(0, 10)] + [(i, 1) for i in range(1, 200)]
    post_y = [(150, 10)]
    d = _raw_segment(tmp_path, {"x": post_x, "y": post_y}, n_docs=200)
    r = SegmentReader(d, 0)
    idfs = {"x": 1.0, "y": 1.0}
    wids, wsc = wand_topk_segment(r, ["x", "y"], idfs, 10.0, 1)
    vids, vsc = eval_node(r, dsl.TextQuery("x y", 1.0), idfs, 10.0, 0.0)
    vids, vsc = topk_arrays(vids, vsc, 1)
    assert wids.tolist() == vids.tolist() == [150]
    np.testing.assert_allclose(wsc, vsc, rtol=1e-12)
    assert wsc[0] == pytest.approx(1.0 + 10 * 2.2 / 11.2, rel=1e-9)


def test_wand_skips_block_decode(spark, tmp_path):
    """Block-lazy IO: a block that cannot hold a top-k doc is never
    DECODED (gap resets at block boundaries make each block
    self-contained). Rank identity with the vectorized scorer still
    holds."""
    from refimage_spark.index.query import topk_arrays
    from refimage_spark.index.segment import SegmentReader

    # term a: 10 blocks of tf=1 postings; term b: rare, high idf, at the
    # two ends — a's bound cannot reach b's kth score, so a rank-safe
    # prune decodes only a's blocks holding b's docs (0 and 9): blocks
    # 1..8 stay undecoded
    post_a = [(i, 1) for i in range(1280)]
    post_b = [(0, 10), (1200, 10)]
    d = _raw_segment(tmp_path, {"a": post_a, "b": post_b}, n_docs=1280)
    r = SegmentReader(d, 0)
    read = r.read_postings
    decoded: dict = {}

    def spy(entry, blocks=None):
        got = range(entry["n_blocks"]) if blocks is None else blocks.tolist()
        decoded.setdefault(entry["term"], set()).update(got)
        return read(entry, blocks)

    r.read_postings = spy
    idfs = {"a": 0.05, "b": 5.0}
    counters: dict = {}
    wids, wsc = wand_topk_segment(
        r, ["a", "b"], idfs, 10.0, 1, counters=counters
    )
    assert decoded["a"].isdisjoint(range(1, 9)), decoded
    assert counters == {"decoded_blocks": 3, "total_blocks": 11}, counters
    vids, vsc = eval_node(r, dsl.TextQuery("a b", 1.0), idfs, 10.0, 0.0)
    vids, vsc = topk_arrays(vids, vsc, 1)
    assert wids.tolist() == vids.tolist()
    np.testing.assert_allclose(wsc, vsc, rtol=1e-12)


def test_prune_skips_term_without_candidates(spark, tmp_path):
    """A non-essential term none of whose blocks holds an essential doc
    is not decoded at all, and the top-k stays identical."""
    from refimage_spark.index.query import topk_arrays
    from refimage_spark.index.segment import SegmentReader

    post_a = [(i, 1) for i in range(1000)]  # 8 blocks, all before b
    post_b = [(i, 5) for i in range(1900, 1905)]
    d = _raw_segment(tmp_path, {"a": post_a, "b": post_b}, n_docs=2000)
    r = SegmentReader(d, 0)
    idfs = {"a": 0.05, "b": 6.0}
    counters: dict = {}
    wids, wsc = wand_topk_segment(
        r, ["a", "b"], idfs, 10.0, 3, counters=counters
    )
    assert counters == {"decoded_blocks": 1, "total_blocks": 9}, counters
    vids, vsc = eval_node(r, dsl.TextQuery("a b", 1.0), idfs, 10.0, 0.0)
    vids, vsc = topk_arrays(vids, vsc, 3)
    assert wids.tolist() == vids.tolist() == [1900, 1901, 1902]
    np.testing.assert_array_equal(wsc, vsc)


def test_index_tag_queries_match_compiler(spark, index_dir, oracle_corpus):
    """Segment docs store the FULL tag array, so #tag queries agree
    between the segment engine and the DataFrame compiler (r1 gap: the
    engine matched lang only)."""
    for q in ["#en", "#en #de", "fast car #en"]:
        got = search_index(spark, index_dir, q, k=500).collect()
        want = search(oracle_corpus, q, limit=500).collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want], q


def test_resume_after_partial_build(spark, tmp_path):
    d = str(tmp_path / "idx2")
    pages = generate_pages(spark, 400, seed=42, partitions=4)
    build_index(spark, pages, d, num_parts=6)
    full_manifest = {r["segment_id"]: r["checksum"] for r in read_manifest(d)}
    res_full = search_index(spark, d, "red car", k=10).collect()

    # simulate a crash: wipe 3 partitions' segments + manifest rows
    d2 = str(tmp_path / "idx3")
    shutil.copytree(d, d2)
    for pid in [1, 3, 4]:
        for f in glob.glob(f"{d2}/segments/seg-{pid:05d}*"):
            os.remove(f)
        os.remove(f"{d2}/manifest/part-{pid:05d}.json")
    assert len(read_manifest(d2)) == 3

    metrics = build_index(spark, pages, d2, num_parts=6)  # resume
    assert metrics["segments_written_this_run"] == 3
    resumed = {r["segment_id"]: r["checksum"] for r in read_manifest(d2)}
    assert resumed == full_manifest  # byte-identical segments
    res_resumed = search_index(spark, d2, "red car", k=10).collect()
    assert [tuple(r) for r in res_resumed] == [tuple(r) for r in res_full]


def test_build_deterministic_across_parallelism(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_index(spark, generate_pages(spark, 300, seed=42, partitions=2), a, num_parts=4)
    build_index(spark, generate_pages(spark, 300, seed=42, partitions=7), b, num_parts=4)
    ma = {r["segment_id"]: r["checksum"] for r in read_manifest(a)}
    mb = {r["segment_id"]: r["checksum"] for r in read_manifest(b)}
    assert ma == mb


def test_local_mode_equals_spark_mode(spark, index_dir):
    for q in ["red car", "beach sunset NOT person", "#en", "car"]:
        loc = search_index(spark, index_dir, q, k=10, mode="local").collect()
        dist = search_index(spark, index_dir, q, k=10, mode="spark").collect()
        assert [r.doc_id for r in loc] == [r.doc_id for r in dist], q
        for a, b in zip(loc, dist):  # scorers associate floats differently
            assert a.score == pytest.approx(b.score, rel=1e-12), q


def test_index_stats(spark, index_dir):
    from refimage_spark.index.query import index_stats

    st = index_stats(index_dir)
    assert st["n_segments"] == N_PARTS
    assert st["n_docs"] > 0 and st["n_postings"] > 0 and st["post_bytes"] > 0
    assert st["tokenizer"] == "lower-split-[^a-z0-9]+"


def test_index_stats_serving_observability(spark, index_dir, monkeypatch):
    """Serving keys: no in-flight queries at rest; an in-flight query is
    visible in active_queries/pool_saturation while it runs (observed
    mid-query via a plan-side hook); the pool keys describe the pool the
    index's bytes select (shared pool in replicate mode, shards
    otherwise)."""
    from refimage_spark.index import query as Q

    st = Q.index_stats(index_dir)
    s = st["serving"]
    assert s["active_queries"] == 0
    assert set(s) == {"active_queries", "pool_started", "pool_workers",
                      "pool_saturation"}
    seen: list[int] = []
    orig = Q._query_plan

    def spying_plan(*a, **kw):
        seen.append(Q.index_stats(index_dir)["serving"]["active_queries"])
        return orig(*a, **kw)

    Q._query_plan = spying_plan
    try:
        Q.search_local(index_dir, "red car", k=5)
    finally:
        Q._query_plan = orig
    assert seen and seen[0] == 1  # the query counted itself while running
    assert Q.index_stats(index_dir)["serving"]["active_queries"] == 0

    def pool_keys():
        s = Q.index_stats(index_dir)["serving"]
        return s["pool_started"], s["pool_workers"]

    Q._serve_pool(), Q._serve_shards()  # start both pool kinds
    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 1 << 60)  # replicate
    assert pool_keys() == (True, Q._WORKERS)
    monkeypatch.setattr(Q, "_SERVE_POOL", None)  # shards alone don't serve
    assert pool_keys() == (False, 0)
    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 0)  # shard
    assert pool_keys() == (True, len(Q._SERVE_SHARDS))
    monkeypatch.setattr(Q, "_SERVE_SHARDS", None)
    assert pool_keys() == (False, 0)


def test_search_local_malformed_query_fails_fast(index_dir, monkeypatch):
    """A malformed query is a user error, not a maintenance race: it
    raises DSLParseError from its first parse, with no re-plan and no
    retry back-off."""
    import time

    from refimage_spark.index import query as Q

    parses: list[str] = []
    sleeps: list[float] = []
    parse = dsl.parse

    def counting_parse(q):
        parses.append(q)
        return parse(q)

    monkeypatch.setattr(dsl, "parse", counting_parse)
    monkeypatch.setattr(time, "sleep", sleeps.append)
    with pytest.raises(dsl.DSLParseError):
        Q.search_local(index_dir, "red car^9", k=10)
    assert parses == ["red car^9"]
    assert sleeps == []


def test_search_local_concurrent_clients(spark, index_dir):
    """Concurrency regression: many clients sharing the serving pool and
    the mtime-keyed caches must neither crash (the cache sweep used to
    race concurrent inserts) nor diverge from the sequential result."""
    from concurrent.futures import ThreadPoolExecutor

    from refimage_spark.index.query import _CACHE, search_local

    queries = ["red car", "blue house", "beach sunset NOT person",
               "sports car AND #en", "car"]
    _CACHE.clear()  # force every client through cold loads
    expected = {q: search_local(index_dir, q, k=10) for q in queries}
    _CACHE.clear()

    def client(i: int):
        out = {}
        for q in queries:
            out[q] = search_local(index_dir, q, k=10)
        return out

    with ThreadPoolExecutor(16) as ex:
        results = list(ex.map(client, range(16)))
    for r in results:
        assert r == expected


def test_search_local_process_path_identity(spark, index_dir, monkeypatch):
    """The load-adaptive serving path has two executions: inline
    sequential (lone query) and chunked process-pool fan-out (under
    load / huge indexes). Force the pool path for every query and
    assert it is result-identical to inline — and that the chunking
    covers all segments (a dropped pid chunk would silently lose
    docs, not error)."""
    from refimage_spark.index import query as Q

    queries = ["red car", "fast car #en", "beach sunset NOT person", "car"]
    inline = {q: Q.search_local(index_dir, q, k=10) for q in queries}
    Q.warm_serving_pool(index_dir)
    # force the sharded path: pretend every index is too big to inline,
    # and shrink the affinity block so the 8-segment index spans 3 shards
    monkeypatch.setattr(Q, "_INLINE_MAX_SEGMENTS", 0)
    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 0)
    monkeypatch.setattr(Q, "_SHARD_BLOCK", 3)
    pooled = {q: Q.search_local(index_dir, q, k=10) for q in queries}
    assert pooled == inline
    # concurrent queries through the per-shard batcher stay identical
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(8) as ex:
        outs = list(
            ex.map(lambda q: Q.search_local(index_dir, q, k=10), queries * 4)
        )
    for q, o in zip(queries * 4, outs):
        assert o == inline[q], q


def test_replicate_and_shard_modes_identical(spark, index_dir, monkeypatch):
    """The replicate-vs-shard serving switch (keyed on index bytes) must
    be invisible to results: force each mode on the same index and
    compare against the inline sweep."""
    from refimage_spark.index import query as Q

    queries = ["red car", "car", "beach sunset NOT person"]
    inline = {q: Q.search_local(index_dir, q, k=10) for q in queries}
    monkeypatch.setattr(Q, "_INLINE_MAX_SEGMENTS", 0)
    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 1 << 60)  # force replicate
    Q.warm_serving_pool(index_dir)
    assert {q: Q.search_local(index_dir, q, k=10) for q in queries} == inline
    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 0)  # force shard
    Q.warm_serving_pool(index_dir)
    assert {q: Q.search_local(index_dir, q, k=10) for q in queries} == inline


def test_cached_none_is_a_hit(spark, tmp_path):
    """A loader that legitimately returns None (global_df's
    too-big-to-pin vocabulary) must be cached as None, not re-loaded on
    every call (regression: the full term_stats parquet was re-read per
    query)."""
    from refimage_spark.index import query as Q

    p = str(tmp_path / "probe")
    open(p, "w").write("x")
    calls = []

    def loader():
        calls.append(1)
        return None

    assert Q._cached("none-probe", p, loader) is None
    assert Q._cached("none-probe", p, loader) is None
    assert len(calls) == 1


def test_search_local_retry_classes(index_dir, monkeypatch):
    """The retry loop's classes and back-off: a maintenance race
    (OSError) re-plans with 0.02/0.04/0.06 s back-offs and at most 4
    attempts; any other error (TypeError) raises on the first attempt."""
    import time

    from refimage_spark.index import query as Q

    expected = Q.search_local(index_dir, "red car", k=10)
    sleeps: list[float] = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    plan = Q._query_plan
    calls: list[int] = []

    def flaky_plan(*a):
        calls.append(1)
        if len(calls) <= 2:
            raise FileNotFoundError("segment cleaned up mid-query")
        return plan(*a)

    monkeypatch.setattr(Q, "_query_plan", flaky_plan)
    assert Q.search_local(index_dir, "red car", k=10) == expected
    assert len(calls) == 3 and sleeps == [0.02, 0.04]

    def broken_plan(*a):
        calls.append(1)
        raise OSError("persistent")

    calls.clear()
    sleeps.clear()
    monkeypatch.setattr(Q, "_query_plan", broken_plan)
    with pytest.raises(OSError, match="persistent"):
        Q.search_local(index_dir, "red car", k=10)
    assert len(calls) == 4 and sleeps == [0.02, 0.04, 0.06]

    def buggy_topk(*a, **kw):
        calls.append(1)
        raise TypeError("a programming error")

    calls.clear()
    sleeps.clear()
    monkeypatch.setattr(Q, "_query_plan", plan)
    monkeypatch.setattr(Q, "_segment_topk", buggy_topk)
    with pytest.raises(TypeError):
        Q.search_local(index_dir, "red car", k=10)
    assert len(calls) == 1 and sleeps == []
    assert Q._ACTIVE_QUERIES == 0


class _FakeFuture:
    def result(self):
        return np.empty(0, np.int64), np.empty(0, np.float64)


class _FakeExecutor:
    """Records what a serving pool or shard would run, runs nothing."""

    def __init__(self, log: list, shard: int | None = None):
        self.log, self.shard = log, shard

    def submit(self, *args):
        self.log.append((self.shard, args))
        return _FakeFuture()


def test_search_local_routing(index_dir, monkeypatch):
    """Routing without processes, on the serve_wide shape (160 segments,
    4 workers): the inline choice, the replicate pid chunks per in-flight
    query count — each query's share of the workers, at most one chunk
    per pid, with no shard executors built — and shard mode's by-shard
    pid sets."""
    from refimage_spark.index import query as Q

    log: list = []
    pool = _FakeExecutor(log)
    shards = [_FakeExecutor(log, s) for s in range(4)]
    monkeypatch.setattr(Q, "_WORKERS", 4)
    monkeypatch.setattr(Q, "_serve_pool", lambda: pool)
    built: list[int] = []
    monkeypatch.setattr(Q, "_serve_shards", lambda: built.append(1) or shards)
    swept: list[int] = []

    def fake_topk(index_dir, pid, *a, **kw):
        swept.append(pid)
        return np.empty(0, np.int64), np.empty(0, np.float64)

    monkeypatch.setattr(Q, "_segment_topk", fake_topk)
    plan = Q._query_plan(index_dir, "red car")

    def route(n_pids, active=1):
        monkeypatch.setattr(
            Q, "_query_plan", lambda *a: (*plan[:3], list(range(n_pids)), None)
        )
        monkeypatch.setattr(Q, "_ACTIVE_QUERIES", active - 1)
        log.clear()
        swept.clear()
        assert Q.search_local(index_dir, "red car", k=10) == []
        assert Q._ACTIVE_QUERIES == active - 1
        return list(log)

    # inline: a lone query over <= 128 segments sweeps them in-process
    assert route(128) == [] and swept == list(range(128))
    assert route(128, active=2) != [] and swept == []

    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 1 << 60)
    pids = list(range(160))
    for active, n in {1: 4, 2: 2, 4: 1, 8: 1}.items():
        got = route(160, active)
        assert got == [
            (None, (Q._serve_chunk, index_dir, "red car", 10, 0.0, pids[i::n]))
            for i in range(n)
        ], active
        assert len(got) <= Q._WORKERS
    # fewer pids than the query's share: one chunk per pid
    monkeypatch.setattr(Q, "_WORKERS", 8)
    assert route(3, active=2) == [
        (None, (Q._serve_chunk, index_dir, "red car", 10, 0.0, [p]))
        for p in range(3)
    ]
    assert not built

    monkeypatch.setattr(Q, "_REPLICATE_MAX_BYTES", 0)
    owned = {
        s: [p for p in pids if (p // 16) % 4 == s] for s in range(4)
    }
    assert sorted(route(160, 2)) == [
        (s, (index_dir, "red car", 10, 0.0, owned[s])) for s in range(4)
    ]


def test_broken_flag_fallback():
    """``_broken`` is the one read of ProcessPoolExecutor's private flag:
    an executor without it counts as healthy, and the flag set to True
    or to the reason string the stdlib stores counts as broken."""
    from types import SimpleNamespace

    from refimage_spark.index import query as Q

    assert Q._broken(object()) is False
    assert Q._broken(SimpleNamespace(_broken=True)) is True
    assert Q._broken(
        SimpleNamespace(_broken="A child process terminated abruptly")
    ) is True


def test_reader_cache_lru_and_generations(tmp_path, monkeypatch):
    """The cache rules: the reader LRU evicts the least recently used
    reader at the cap, and a load that finishes after a newer generation
    was cached returns its own value without replacing the entry."""
    from refimage_spark.index import query as Q

    monkeypatch.setattr(Q, "_CACHE", {})
    monkeypatch.setattr(Q, "_READER_LRU", type(Q._READER_LRU)())
    monkeypatch.setattr(Q, "_READER_CACHE_CAP", 2)
    loads: list[str] = []

    def load(name):
        p = str(tmp_path / name)
        open(p, "w").write(name)
        return p, lambda: loads.append(name) or name

    (a, la), (b, lb), (c, lc) = load("a"), load("b"), load("c")
    assert [Q._cached("reader", p, f) for p, f in [(a, la), (b, lb), (a, la)]] == [
        "a", "b", "a"
    ]
    assert Q._cached("reader", c, lc) == "c"  # evicts b, the least recent
    assert Q._cached("reader", a, la) == "a"
    assert loads == ["a", "b", "c"]
    assert Q._cached("reader", b, lb) == "b"
    assert loads == ["a", "b", "c", "b"]

    p = str(tmp_path / "gen")
    open(p, "w").write("x")
    os.utime(p, (1_000, 1_000))

    def slow_old_load():
        # a newer generation lands and is cached while this load runs
        os.utime(p, (2_000, 2_000))
        assert Q._cached("reader", p, lambda: "new") == "new"
        return "old"

    assert Q._cached("reader", p, slow_old_load) == "old"
    assert Q._cached("reader", p, lambda: "reloaded") == "new"


def test_size_switched_forks_match_default_path(
    spark, index_dir, tmp_path, monkeypatch
):
    """The three forks that only a large index selects — the Spark
    term_stats rollup, the filtered dictionary read and the filtered df
    read — give the default path's term_stats table and answers."""
    import pyarrow.parquet as pq

    from refimage_spark.index import build as B
    from refimage_spark.index import query as Q

    want = {q: Q.search_local(index_dir, q, k=10) for q in QUERY_SET}
    d = str(tmp_path / "forked")
    shutil.copytree(index_dir, d)
    monkeypatch.setattr(B, "_TERM_STATS_LOCAL_BYTES", 0)
    monkeypatch.setattr(SegmentReader, "DICT_PIN_LIMIT", 0)
    monkeypatch.setattr(Q, "_DF_PIN_LIMIT", 0)
    B.write_term_stats(spark, d)
    assert not glob.glob(os.path.join(d, "term_stats.parquet.*"))
    assert pq.read_table(os.path.join(d, "term_stats.parquet")).equals(
        pq.read_table(os.path.join(index_dir, "term_stats.parquet"))
    )
    assert {q: Q.search_local(d, q, k=10) for q in QUERY_SET} == want
    # the forks were taken: no pinned dictionary, no pinned df table
    assert Q._reader(d, read_manifest(d)[0]["partition_id"])._dict == ()
    assert Q._CACHE[("term_stats", os.path.join(d, "term_stats.parquet"))][1] is None
