"""Chaos tests for the serving tier (VERDICT r5 #5): a shard worker
killed mid-query-storm must self-heal with bounded latency and no wrong
answers, and an eviction storm at the reader-cache floor must stay
correct. Mirrors the SIGKILL lock-takeover test in test_merge.py for
the process-pool serving path."""

from __future__ import annotations

import os
import signal
import threading
import time

import pytest

from refimage_spark.index import query as Q
from refimage_spark.index.build import build_index
from refimage_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def chaos_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chaosidx"))
    pages = generate_pages(spark, 1500, seed=11, partitions=6)
    build_index(spark, pages, d, num_parts=12)
    return d


def _expected(index_dir, queries):
    # inline sweep (no pools involved): the ground truth per query
    return {
        q: Q.search_local(index_dir, q, k=10) for q in queries
    }


def _kill_worker_mid_storm(chaos_index, monkeypatch, mode):
    """SIGKILL one serving worker process (a sticky shard's, or one of
    the shared replicate pool's) during a concurrent query storm: every
    query must still return the exact inline-sweep result (failover =
    heal + retry inside search_local), and the tier must keep serving
    afterwards."""
    queries = ["red car", "blue house", "fast car", "beach sunset", "car"]
    expected = _expected(chaos_index, queries)
    # force the mode + pool path regardless of index size
    monkeypatch.setattr(
        Q, "_REPLICATE_MAX_BYTES", 1 << 60 if mode == "replicate" else 0
    )
    monkeypatch.setattr(Q, "_INLINE_MAX_SEGMENTS", -1)
    Q.warm_serving_pool(chaos_index)
    if mode == "replicate":
        victim = Q._serve_pool()
    else:
        shards = Q._serve_shards()
        # a shard that actually owns pids of this index
        owning = sorted(
            {Q._shard_of(p, len(shards)) for p in range(12)}
        )
        victim = shards[owning[0]].ex
    # make sure its worker exists, then storm + kill
    victim.submit(Q._sig, "/").result()
    errors: list = []
    results: list = []

    def client(reps=6):
        try:
            for _ in range(reps):
                for q in queries:
                    rows = Q.search_local(chaos_index, q, k=10)
                    results.append((q, rows))
        except Exception as e:  # noqa: BLE001 — the assertion below reports
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    time.sleep(0.15)  # mid-storm
    pids = list(victim._processes.keys())
    assert pids, "victim executor has no live worker"
    os.kill(pids[0], signal.SIGKILL)
    t_kill = time.monotonic()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive(), "query thread hung after worker kill"
    heal_wall = time.monotonic() - t_kill
    assert not errors, f"queries failed after worker kill: {errors[:3]}"
    for q, rows in results:
        assert rows == expected[q], f"wrong answer for {q!r} during chaos"
    # bounded-latency self-heal: the storm (incl. failover) finished in
    # seconds, and a fresh query works without manual intervention
    assert heal_wall < 60.0
    assert Q.search_local(chaos_index, "red car", k=10) == expected["red car"]


def test_shard_worker_kill_self_heals(chaos_index, monkeypatch):
    """A sticky shard's worker killed mid-storm self-heals."""
    _kill_worker_mid_storm(chaos_index, monkeypatch, "shard")


def test_replicate_worker_kill_self_heals(chaos_index, monkeypatch):
    """A shared replicate-pool worker killed mid-storm self-heals."""
    _kill_worker_mid_storm(chaos_index, monkeypatch, "replicate")


def test_reader_cache_eviction_storm(chaos_index, monkeypatch):
    """Reader-LRU floor: with the per-process cache capped far below the
    segment count, every query evicts and reloads readers — results must
    stay identical to the uncapped sweep."""
    queries = ["red car", "blue house", "car"]
    expected = _expected(chaos_index, queries)
    monkeypatch.setattr(Q, "_READER_CACHE_CAP", 2)
    # evict current readers so the capped regime starts clean
    with Q._CACHE_LOCK:
        for k in [k for k in Q._CACHE if k[0] == "reader"]:
            del Q._CACHE[k]
        Q._READER_LRU.clear()
    for _ in range(5):
        for q in queries:
            assert Q.search_local(chaos_index, q, k=10) == expected[q]
    with Q._CACHE_LOCK:
        n_readers = sum(1 for k in Q._CACHE if k[0] == "reader")
    assert n_readers <= 2
