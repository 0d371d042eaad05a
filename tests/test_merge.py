"""Log-structured maintenance: delete (tombstones), compaction, append."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from refimage_spark.index.build import build_index
from refimage_spark.index.merge import append_pages, compact, delete_docs
from refimage_spark.index.query import search_index
from refimage_spark.index.segment import SegmentReader, read_manifest, read_stats
from refimage_spark.sources.pages import generate_pages


@pytest.fixture()
def small_index(spark, tmp_path):
    d = str(tmp_path / "idx")
    pages = generate_pages(spark, 300, seed=42, partitions=3)
    build_index(spark, pages, d, num_parts=4)
    return d


def test_delete_masks_immediately(spark, small_index):
    before = search_index(spark, small_index, "red car", k=5).collect()
    victim = before[0].doc_id
    delete_docs(small_index, [victim])
    after = search_index(spark, small_index, "red car", k=5).collect()
    assert victim not in [r.doc_id for r in after]
    # the doc that was rank 2 is now rank 1 with an UNCHANGED score
    assert after[0].doc_id == before[1].doc_id
    assert after[0].score == pytest.approx(before[1].score, rel=1e-12)


def test_tombstones_cached_until_the_file_changes(spark, small_index, monkeypatch):
    """The serving plan reads the tombstone file once per generation
    (keyed by mtime and inode, as stats and the manifest are): two
    queries with deletes pending read it once, a later delete is masked
    on the next query even when its file carries the same mtime, and
    after compact queries see no tombstones and nothing stays cached."""
    from refimage_spark.index import query as Q
    from refimage_spark.index.segment import TOMBSTONES_FILE

    tomb_path = os.path.join(small_index, TOMBSTONES_FILE)

    reads: list = []
    real = Q.read_tombstones

    def spy(index_dir):
        reads.append(index_dir)
        return real(index_dir)

    monkeypatch.setattr(Q, "read_tombstones", spy)
    top = Q.search_local(small_index, "red car", k=5)
    delete_docs(small_index, [top[0][0]])
    n0 = len(reads)
    first = Q.search_local(small_index, "red car", k=5)
    assert Q.search_local(small_index, "red car", k=5) == first
    assert len(reads) == n0 + 1
    assert first[0] == top[1]

    mtime_ns = os.stat(tomb_path).st_mtime_ns
    delete_docs(small_index, [first[0][0]])
    os.utime(tomb_path, ns=(mtime_ns, mtime_ns))  # one timestamp tick
    after = Q.search_local(small_index, "red car", k=5)
    assert len(reads) == n0 + 2
    assert after[0] == top[2]
    assert not {top[0][0], first[0][0]} & {d for d, _ in after}

    compact(spark, small_index)  # refreshes stats, so scores shift
    assert Q._query_plan(small_index, "red car")[4] is None
    assert ("tombstones", tomb_path) not in Q._CACHE
    got = Q.search_local(small_index, "red car", k=5)
    assert len(got) == 5
    assert not {top[0][0], first[0][0]} & {d for d, _ in got}


def test_spark_query_refuses_a_changed_index(spark, small_index):
    """Spark-mode tasks re-plan on the executors; a delete that lands
    between planning and collect fails the query instead of mixing
    tombstone generations in one answer, and a new call sees it."""
    df = search_index(spark, small_index, "red car", k=5, mode="spark")
    want = df.collect()
    delete_docs(small_index, [want[0].doc_id])
    with pytest.raises(Exception, match="changed during a spark-mode query"):
        df.collect()
    got = search_index(spark, small_index, "red car", k=5, mode="spark")
    assert got.collect()[0] == want[1]


def test_compact_drops_docs_physically(spark, small_index):
    top = search_index(spark, small_index, "red car", k=3).collect()
    victims = [r.doc_id for r in top[:2]]
    delete_docs(small_index, victims)
    stats_before = json.load(open(f"{small_index}/stats.json"))
    out = compact(spark, small_index)
    assert out["compacted"] == 2
    stats_after = json.load(open(f"{small_index}/stats.json"))
    assert stats_after["n_docs"] == stats_before["n_docs"] - 2
    docs = spark.read.parquet(f"{small_index}/docs.parquet")
    assert docs.where(F.col("doc_id").isin(victims)).count() == 0
    # index still queries fine, victims gone
    res = search_index(spark, small_index, "red car", k=5).collect()
    assert not (set(victims) & {r.doc_id for r in res})
    assert len(res) == 5


def test_compact_rewrites_only_segments_with_tombstones(spark, small_index):
    """Compact supersedes only the segment holding the deleted docs; the
    others keep their pid and bytes."""
    from refimage_spark.index.admin import fsck_index
    from refimage_spark.index.query import search_local

    rows0 = {r["partition_id"]: r["checksum"] for r in read_manifest(small_index)}
    ids1 = SegmentReader(small_index, 1).doc_lengths()[0]
    victims = ids1[:2].tolist()
    n0 = read_stats(small_index)["n_docs"]
    delete_docs(small_index, victims)
    out = compact(spark, small_index)
    assert out == {"compacted": 2, "segments": 1}
    rows1 = {r["partition_id"]: r for r in read_manifest(small_index)}
    kept = {p: c for p, c in rows0.items() if p != 1}
    assert {p: rows1[p]["checksum"] for p in rows1 if p in kept} == kept
    (new,) = set(rows1) - set(kept)
    assert rows1[new]["merged_from"] == [1]
    new_ids = SegmentReader(small_index, new).doc_lengths()[0]
    assert new_ids.tolist() == ids1[2:].tolist()
    assert read_stats(small_index)["n_docs"] == n0 - 2
    for q in ["red car", "car", "beach sunset NOT person"]:
        assert not set(victims) & {d for d, _ in search_local(small_index, q, k=50)}
    fsck = fsck_index(small_index, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_append_grows_index(spark, small_index):
    stats0 = json.load(open(f"{small_index}/stats.json"))
    segs0 = len(read_manifest(small_index))
    # new pages under a different seed -> different hosts -> new urls
    new_pages = generate_pages(spark, 150, seed=43, partitions=2)
    out = append_pages(spark, new_pages, small_index)
    stats1 = json.load(open(f"{small_index}/stats.json"))
    assert out["appended_docs"] > 0
    assert stats1["n_docs"] == stats0["n_docs"] + out["appended_docs"]
    assert len(read_manifest(small_index)) > segs0
    # old and new docs both retrievable
    res = search_index(spark, small_index, "red car", k=20).collect()
    assert len(res) == 20


def _unpruned_topk(index_dir: str, query: str, k: int):
    """The reference top-k with no block pruning: ``eval_node`` decodes
    every block of every live segment, tombstones are masked, and
    ``topk_arrays`` merges the segments' scores."""
    from refimage_spark import dsl
    from refimage_spark.index.query import (
        collect_terms,
        eval_node,
        make_idfs,
        topk_arrays,
    )

    node = dsl.parse(query)
    idfs = make_idfs(index_dir, collect_terms(node))
    avgdl = float(read_stats(index_dir)["avgdl"])
    parts = [
        eval_node(SegmentReader(index_dir, r["partition_id"]), node, idfs,
                  avgdl, 0.0)
        for r in read_manifest(index_dir)
    ]
    ids = np.concatenate([p[0] for p in parts])
    sc = np.concatenate([p[1] for p in parts])
    tomb = os.path.join(index_dir, "tombstones.parquet")
    if os.path.exists(tomb):
        m = ~np.isin(ids, pq.read_table(tomb)["doc_id"].to_numpy())
        ids, sc = ids[m], sc[m]
    return topk_arrays(ids, sc, k)


def test_wand_rank_safe_after_stats_drift(spark, small_index):
    """Appends shift N/avgdl/df; WAND's block bounds must track CURRENT
    stats (regression: stored max_q went stale and could prune true
    top-k docs)."""
    append_pages(spark, generate_pages(spark, 150, seed=43, partitions=2),
                 small_index)
    wand = search_index(spark, small_index, "red car", k=10).collect()
    full_ids, full_sc = _unpruned_topk(small_index, "red car", 10)
    assert [r.doc_id for r in wand] == full_ids.tolist()
    for a, b in zip(wand, full_sc):
        assert a.score == pytest.approx(b, rel=1e-12)


def test_wand_rank_identity_under_tombstones(spark, small_index, monkeypatch):
    """Tombstone-aware WAND: with deletes pending compaction, the WAND
    path must (a) run at all (it used to force the full-eval fallback),
    (b) exclude tombstoned docs, and (c) free their top-k slots — rank-
    and score-identical to the unpruned masked reference, on BOTH the
    spark-mode search and the serving path."""
    from refimage_spark.index import query as Q

    # tombstone half of the current top-10 so slots must be refilled
    base = search_index(spark, small_index, "red car", k=10,
                        mode="spark").collect()
    victims = [r.doc_id for r in base[::2]]
    delete_docs(small_index, victims)
    wand = search_index(spark, small_index, "red car", k=10,
                        mode="spark").collect()
    full_ids, full_sc = _unpruned_topk(small_index, "red car", 10)
    assert len(wand) == 10  # slots freed and refilled
    assert not (set(victims) & {r.doc_id for r in wand})
    assert [r.doc_id for r in wand] == full_ids.tolist()
    for a, b in zip(wand, full_sc):
        assert a.score == pytest.approx(b, rel=1e-12)
    # serving path: a spy proves the block-pruned scorer actually ran
    pruned = Q.wand_topk_segment
    calls: list = []

    def spy(*a, **kw):
        calls.append(kw["tomb"])
        return pruned(*a, **kw)

    monkeypatch.setattr(Q, "wand_topk_segment", spy)
    local = Q.search_local(small_index, "red car", k=10)
    assert calls and all(t is not None for t in calls)
    assert [d for d, _ in local] == full_ids.tolist()


def test_merge_crash_between_commit_and_cleanup_is_safe(spark, small_index):
    """The merged row's manifest write is the COMMIT POINT: if the
    source rows/files survive a crash after it, read_manifest must
    supersede them (else every merged doc is served twice)."""
    import shutil

    append_pages(spark, generate_pages(spark, 120, seed=51, partitions=1),
                 small_index)
    append_pages(spark, generate_pages(spark, 120, seed=52, partitions=1),
                 small_index)
    from refimage_spark.index.merge import merge_segments

    pids = sorted(r["partition_id"] for r in read_manifest(small_index))
    victims = [p for p in pids if p >= 4][:2]
    before = [(r.doc_id, r.score) for r in
              search_index(spark, small_index, "red car", k=20).collect()]
    # snapshot the source rows/files, merge, then RESTORE them —
    # exactly the state a crash between commit and cleanup leaves
    snap = {}
    for p in victims:
        mf = f"{small_index}/manifest/part-{p:05d}.json"
        snap[mf] = open(mf).read()
        for f in __import__("glob").glob(
            f"{small_index}/segments/seg-{p:05d}.*"
        ):
            shutil.copy(f, f + ".snap")
    merge_segments(small_index, victims)
    for mf, content in snap.items():
        open(mf, "w").write(content)
    for f in __import__("glob").glob(f"{small_index}/segments/*.snap"):
        shutil.move(f, f[: -len(".snap")])
    pids_now = {r["partition_id"] for r in read_manifest(small_index)}
    assert not (set(victims) & pids_now)  # superseded rows filtered
    after = [(r.doc_id, r.score) for r in
             search_index(spark, small_index, "red car", k=20).collect()]
    assert after == before  # no doc served twice, scores unchanged


def test_build_rerun_after_chained_merges_builds_nothing(spark, small_index):
    """Re-running build_index after maintenance must not rebuild docs
    parts a merge superseded: once the second merge's cleanup removes
    the row that named parts 0 and 1, they have no row at all, and
    rebuilding them would serve their docs twice."""
    from refimage_spark.index.admin import fsck_index
    from refimage_spark.index.merge import merge_segments
    from refimage_spark.index.query import search_local

    merge_segments(small_index, [0, 1])
    merge_segments(small_index, [2, 3, 4])
    queries = ["red car", "car", "beach sunset NOT person"]
    before = {q: search_local(small_index, q, k=20) for q in queries}
    pages = generate_pages(spark, 300, seed=42, partitions=3)
    metrics = build_index(spark, pages, small_index, num_parts=4)
    assert metrics["segments_written_this_run"] == 0
    fsck = fsck_index(small_index)
    assert fsck["ok"], fsck["errors"]
    assert {q: search_local(small_index, q, k=20) for q in queries} == before


def test_size_tiered_merge_policy(spark, small_index):
    """Many small streaming appends -> the policy folds same-tier
    segments together; queries identical before/after."""
    from refimage_spark.index.merge import plan_merges, run_merge_policy

    for seed in (61, 62, 63, 64):
        append_pages(spark, generate_pages(spark, 60, seed=seed, partitions=1),
                     small_index)
    n_before = len(read_manifest(small_index))
    before = {
        q: [(r.doc_id, r.score) for r in
            search_index(spark, small_index, q, k=20).collect()]
        for q in ["red car", "car", "beach sunset NOT person"]
    }
    assert plan_merges(small_index), "appends must overflow a tier"
    out = run_merge_policy(small_index)
    assert out["merged_groups"]
    assert len(read_manifest(small_index)) < n_before
    assert not plan_merges(small_index)  # converged
    for q, want in before.items():
        got = [(r.doc_id, r.score) for r in
               search_index(spark, small_index, q, k=20).collect()]
        assert got == want, q


def test_merge_policy_waits_out_live_holder(small_index):
    """A policy run that meets a live maintenance holder (a streaming
    append, a compact) waits for its release instead of raising "index
    maintenance already running"."""
    import threading
    import time

    from refimage_spark.index.merge import maintenance_lock, run_merge_policy

    entered = threading.Event()
    released: list[float] = []

    def holder():
        with maintenance_lock(small_index):
            entered.set()
            time.sleep(1.0)
            released.append(time.monotonic())

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert entered.wait(5.0)
        run_merge_policy(small_index)
        assert released and time.monotonic() >= released[0]
    finally:
        t.join(10.0)
    assert not t.is_alive()


def test_merge_segments_preserves_results(spark, small_index):
    # grow the index twice -> many small appended segments
    append_pages(spark, generate_pages(spark, 120, seed=51, partitions=1),
                 small_index)
    append_pages(spark, generate_pages(spark, 120, seed=52, partitions=1),
                 small_index)
    from refimage_spark.index.merge import merge_segments

    manifest = read_manifest(small_index)
    pids = sorted(r["partition_id"] for r in manifest)
    appended = [p for p in pids if p >= 4][:6]  # the small appended ones
    assert len(appended) >= 2
    before = {
        q: [(r.doc_id, r.score) for r in
            search_index(spark, small_index, q, k=20).collect()]
        for q in ["red car", "beach sunset NOT person", "car"]
    }
    out = merge_segments(small_index, appended)
    assert out["merged"] == appended
    after_manifest = read_manifest(small_index)
    assert len(after_manifest) == len(manifest) - len(appended) + 1
    for q, want in before.items():
        got = [(r.doc_id, r.score) for r in
               search_index(spark, small_index, q, k=20).collect()]
        assert got == want, q


def test_merge_segments_idempotent_retry(spark, small_index):
    """A task retry whose prior attempt already committed the merged row
    (sources superseded) must detect its own commit and finish cleanup
    instead of failing on the missing sources."""
    from refimage_spark.index.merge import merge_segments

    before = search_index(spark, small_index, "red car", k=5).collect()
    pids = [r["partition_id"] for r in read_manifest(small_index)][:2]
    r1 = merge_segments(small_index, pids)
    r2 = merge_segments(small_index, pids)  # the "retry"
    assert r2["new_pid"] == r1["new_pid"]
    assert r2["n_docs"] == r1["n_docs"]
    after = search_index(spark, small_index, "red car", k=5).collect()
    assert [(r.doc_id, r.score) for r in before] == [
        (r.doc_id, r.score) for r in after
    ]


def test_format_version_gate(spark, small_index):
    """An index stamped with a foreign format version must fail with a
    clear 'rebuild required' error, not a misparse."""
    import os

    from refimage_spark.index.query import _CACHE, load_stats

    p = os.path.join(small_index, "stats.json")
    st = json.load(open(p))
    assert st["format_version"] == 2
    st["format_version"] = 99
    json.dump(st, open(p, "w"))
    _CACHE.clear()
    with pytest.raises(RuntimeError, match="rebuild required"):
        load_stats(small_index)
    row_path = os.path.join(small_index, "manifest")
    name = sorted(os.listdir(row_path))[0]
    row = json.load(open(os.path.join(row_path, name)))
    row["format_version"] = 1
    json.dump(row, open(os.path.join(row_path, name), "w"))
    with pytest.raises(RuntimeError, match="rebuild required"):
        read_manifest(small_index)


def test_update_doc_tags_lifecycle(spark, small_index):
    """Attribute-only UPDATE: tag queries reflect the new tags on both
    the serving path and the Spark path; scores/postings are untouched."""
    from refimage_spark.index.merge import merge_segments, update_doc_tags
    from refimage_spark.index.query import search_index, search_local

    # merge two segments first so the doc->segment mapping is NOT doc->part
    pids = [r["partition_id"] for r in read_manifest(small_index)][:2]
    merge_segments(small_index, pids)
    before = search_local(small_index, "red car", k=5)
    victim = before[0][0]
    assert search_local(small_index, "#zzznew", k=5) == []
    res = update_doc_tags(spark, small_index, {victim: ["zzznew", "en"]})
    assert res["updated_docs"] == 1 and res["segments_rewritten"] == 1
    got = [d for d, _ in search_local(small_index, "#zzznew", k=5)]
    assert got == [victim]
    got_spark = [
        r.doc_id
        for r in search_index(
            spark, small_index, "#zzznew", k=5, mode="spark"
        ).collect()
    ]
    assert got_spark == [victim]
    # scores unchanged: tags never participate in scoring
    assert search_local(small_index, "red car", k=5) == before
    # docs table agrees
    import pyspark.sql.functions as SF

    row = (
        spark.read.parquet(f"{small_index}/docs.parquet")
        .where(SF.col("doc_id") == victim)
        .select("tags")
        .head()
    )
    assert sorted(row.tags) == ["en", "zzznew"]


def test_maintenance_lock_exclusion_and_stale_steal(spark, small_index):
    """The single-maintenance-writer lock: a held lock makes concurrent
    maintenance raise immediately; a lock whose same-host owner died is
    stolen (pid probe is authoritative on the same host)."""
    import json
    import os
    import socket

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    with maintenance_lock(small_index):
        with pytest.raises(RuntimeError, match="maintenance already"):
            delete_docs(small_index, [1])
    delete_docs(small_index, [1])  # released -> works again
    # stale lock (same host, dead pid) is stolen, not fatal
    lock_path = os.path.join(small_index, MAINT_LOCK)
    with open(lock_path, "w") as f:
        json.dump({"host": socket.gethostname(), "pid": 999999999}, f)
    delete_docs(small_index, [2])
    assert not os.path.exists(lock_path)


def test_maintenance_lock_lease_cross_host(spark, small_index):
    """Cross-host semantics on shared storage, where pid probes are
    meaningless: a REMOTE owner's lock is respected while its lease
    (heartbeat mtime) is fresh — even though the pid doesn't exist here
    — and taken over only once the lease expires."""
    import json
    import os
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    # a live-looking remote holder: unknown host, fresh mtime, dead pid
    with open(lock_path, "w") as f:
        json.dump({"host": "some-other-executor-host", "pid": 999999999}, f)
    with pytest.raises(RuntimeError, match="maintenance already"):
        with maintenance_lock(small_index, lease_sec=30.0):
            pass
    assert os.path.exists(lock_path)  # the live remote lock was NOT stolen
    # expire the lease: heartbeat mtime older than lease_sec -> takeover
    old = time.time() - 120.0
    os.utime(lock_path, (old, old))
    with maintenance_lock(small_index, lease_sec=30.0):
        owner = json.load(open(lock_path))
        assert owner["pid"] == os.getpid()  # we now hold it
    assert not os.path.exists(lock_path)


def test_maintenance_lock_heartbeat_and_blocking(spark, small_index):
    """(a) the holder's heartbeat keeps the lease fresh, so a long op
    never looks stale to a lease-based contender; (b) blocking=True
    waits out a live holder instead of raising (the streaming-ingest
    mode)."""
    import os
    import threading
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    entered = threading.Event()
    release = threading.Event()

    def holder():
        # tiny lease: heartbeat fires every ~0.17s
        with maintenance_lock(small_index, lease_sec=0.5):
            entered.set()
            release.wait(10.0)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(5.0)
    time.sleep(1.5)  # several lease periods pass while held
    # without the heartbeat the mtime would now be ~1.5s old (> lease);
    # with it the file is re-touched every lease/3 — allow VM jitter
    assert time.time() - os.path.getmtime(lock_path) < 1.0
    # blocking contender acquires as soon as the holder releases
    got = threading.Event()

    def contender():
        with maintenance_lock(small_index, blocking=True, timeout=10.0):
            got.set()

    c = threading.Thread(target=contender)
    c.start()
    time.sleep(0.3)
    assert not got.is_set()  # still waiting behind the live holder
    release.set()
    t.join(5.0)
    assert got.wait(5.0)  # acquired after release, no RuntimeError
    c.join(5.0)


def test_maintenance_lock_contender_race(spark, small_index):
    """TOCTOU regression: many threads racing a STALE lock — exactly one
    may hold the lock at a time, and nobody removes a freshly acquired
    lock out from under its winner (the old remove-then-create scheme
    could). The critical-section counter must never see 2."""
    import json
    import os
    import socket
    import threading
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    errors: list[Exception] = []
    inside = [0]
    max_inside = [0]
    guard = threading.Lock()

    def worker():
        try:
            with maintenance_lock(small_index, blocking=True, timeout=30.0):
                with guard:
                    inside[0] += 1
                    max_inside[0] = max(max_inside[0], inside[0])
                time.sleep(0.01)
                with guard:
                    inside[0] -= 1
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    for _ in range(3):  # three rounds, each starting from a stale lock
        with open(lock_path, "w") as f:
            json.dump({"host": socket.gethostname(), "pid": 999999999}, f)
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30.0)
    assert not errors, errors
    assert max_inside[0] == 1
    assert not os.path.exists(lock_path)


def test_sweep_orphans_reclaims_crashed_merge(spark, tmp_path, monkeypatch):
    """A crash between a merge commit and the deferred source cleanup
    leaks superseded rows/files; sweep_orphans (run at compact/policy
    start) reclaims them without changing query results."""
    import glob
    import os

    from refimage_spark.index import merge as M
    from refimage_spark.index.merge import merge_segments, sweep_orphans
    from refimage_spark.index.query import search_local

    d = str(tmp_path / "idx")
    build_index(
        spark, generate_pages(spark, 600, seed=7, partitions=4), d,
        num_parts=8,
    )
    before = search_local(d, "red car", k=10)
    # simulate the crash: a merge whose cleanup never runs leaves the
    # superseded sources on disk exactly like a policy run dying before
    # its final cleanup_merged_sources
    with monkeypatch.context() as m:
        m.setattr(M, "cleanup_merged_sources", lambda *a: None)
        merge_segments(d, [0, 1, 2])
    leaked_rows = [
        p
        for p in glob.glob(os.path.join(d, "manifest", "part-*.json"))
        if os.path.basename(p) in
        {"part-00000.json", "part-00001.json", "part-00002.json"}
    ]
    assert len(leaked_rows) == 3  # rows still on disk (filtered, not gone)
    assert sweep_orphans(d) == 3
    for p in leaked_rows:
        assert not os.path.exists(p)
    assert not glob.glob(os.path.join(d, "segments", "seg-0000[012].*"))
    assert search_local(d, "red car", k=10) == before
    assert sweep_orphans(d) == 0  # idempotent


def test_maintenance_lifecycle_under_concurrent_search(spark, tmp_path):
    """Integration: interleave update_doc_tags / delete_docs / compact /
    run_merge_policy on a 128-segment index while search_local hammers
    concurrently — composes the sidecar-mtime cache invalidation, the
    per-segment supersession flip, and the serving self-heal retry.
    Asserts (a) the hammer never errors, (b) at every quiesce point the
    serving result reflects exactly the committed state (no stale
    reads), (c) merge preserves results bit-identically."""
    import threading

    from refimage_spark.index.merge import run_merge_policy, update_doc_tags
    from refimage_spark.index.query import search_local

    d = str(tmp_path / "idx")
    build_index(
        spark, generate_pages(spark, 1500, seed=11, partitions=4), d,
        num_parts=32,
    )
    for seed in (12, 13, 14):  # appends: +32 tiny segments each -> 128
        append_pages(
            spark, generate_pages(spark, 400, seed=seed, partitions=2), d
        )
    assert len(read_manifest(d)) == 128

    errors: list[Exception] = []
    stop = threading.Event()

    def hammer():
        qs = ["red car", "car", "#en", "beach sunset NOT person"]
        while not stop.is_set():
            try:
                for q in qs:
                    search_local(d, q, k=10)
            except Exception as e:  # noqa: BLE001 - collected for assert
                errors.append(e)
                return

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        base = search_local(d, "red car", k=20)
        victims = [doc for doc, _ in base[:3]]
        tagged = [doc for doc, _ in base[3:8]]

        # 1. delete -> tombstones mask immediately
        delete_docs(d, victims)
        after_del = search_local(d, "red car", k=20)
        assert not (set(victims) & {doc for doc, _ in after_del})

        # 2. tag update -> #zznew serves exactly the updated docs
        update_doc_tags(spark, d, {doc: ["zznew"] for doc in tagged})
        assert [doc for doc, _ in search_local(d, "#zznew", k=10)] == sorted(
            tagged
        )

        # 3. compact -> victims physically gone, tags survive, k rows back
        out = compact(spark, d)
        assert out["compacted"] == 3
        post_compact = search_local(d, "red car", k=20)
        assert not (set(victims) & {doc for doc, _ in post_compact})
        assert len(post_compact) == 20
        assert [doc for doc, _ in search_local(d, "#zznew", k=10)] == sorted(
            tagged
        )

        # 4. merge policy -> fewer segments, results bit-identical
        pre_merge = search_local(d, "beach sunset NOT person", k=10)
        res = run_merge_policy(d, spark=spark)
        assert res["merged_groups"], "128 tiny segments must trigger merges"
        assert len(read_manifest(d)) < 128
        assert search_local(d, "beach sunset NOT person", k=10) == pre_merge
        assert [doc for doc, _ in search_local(d, "#zznew", k=10)] == sorted(
            tagged
        )
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert errors == [], f"concurrent search failed: {errors[:3]}"


def test_maintenance_lock_takeover_after_sigkill(spark, small_index):
    """Real crash, not a simulated lock file: a subprocess acquires the
    lock and is SIGKILLed mid-hold. The same-host pid probe must judge
    it dead and the next contender steals immediately (no lease wait)."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    code = (
        "import sys, time\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})\n"
        "from refimage_spark.index.merge import maintenance_lock\n"
        f"with maintenance_lock({small_index!r}):\n"
        "    print('HELD', flush=True)\n"
        "    time.sleep(60)\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", code], stdout=subprocess.PIPE, text=True
    )
    try:
        assert proc.stdout.readline().strip() == "HELD"
        owner = json.load(open(lock_path))
        assert owner["pid"] == proc.pid
        # lock is live: a contender must be refused
        with pytest.raises(RuntimeError, match="maintenance already"):
            with maintenance_lock(small_index):
                pass
        proc.kill()  # SIGKILL: no cleanup, no finally, lock file remains
        proc.wait(10)
        deadline = time.time() + 5
        while os.path.exists(lock_path) is False and time.time() < deadline:
            time.sleep(0.05)
        assert os.path.exists(lock_path)  # crashed holder left it behind
        t0 = time.time()
        with maintenance_lock(small_index):  # dead pid -> immediate steal
            assert json.load(open(lock_path))["pid"] == os.getpid()
        assert time.time() - t0 < 5.0  # no lease expiry wait on same host
        assert not os.path.exists(lock_path)
    finally:
        if proc.poll() is None:
            proc.kill()


def test_lock_pid_recycling_steal_by_lease(spark, small_index):
    """A crashed holder whose pid was RECYCLED by an unrelated process
    must still lose the lock once the lease expires (regression: any
    existing same-host pid was treated as alive forever)."""
    import json
    import os
    import socket
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    # pid 1 always exists and is never ours: the recycled-pid shape
    with open(lock_path, "w") as f:
        json.dump({"host": socket.gethostname(), "pid": 1}, f)
    # fresh lease -> still respected (can't distinguish from a live holder)
    with pytest.raises(RuntimeError, match="maintenance already"):
        with maintenance_lock(small_index, lease_sec=30.0):
            pass
    # expired lease -> stolen despite the existing pid
    old = time.time() - 120.0
    os.utime(lock_path, (old, old))
    with maintenance_lock(small_index, lease_sec=30.0):
        assert json.load(open(lock_path))["pid"] == os.getpid()


def test_lock_release_never_touches_stolen_lock(spark, small_index):
    """A holder that lost its lock to a legitimate stealer (lease expiry
    during a stall) must neither remove nor heartbeat the stealer's
    lock on exit (regression: release removed unconditionally)."""
    import json
    import os
    import time

    from refimage_spark.index.merge import MAINT_LOCK, maintenance_lock

    lock_path = os.path.join(small_index, MAINT_LOCK)
    with maintenance_lock(small_index, lease_sec=0.6):
        # simulate the steal: our inode renamed away, stealer's lock in
        os.remove(lock_path)
        with open(lock_path, "w") as f:
            json.dump({"host": "stealer-host", "pid": 77}, f)
        stamp = time.time() - 50.0
        os.utime(lock_path, (stamp, stamp))
        time.sleep(0.5)  # two+ heartbeat periods pass
        # our heartbeat must NOT have refreshed the stealer's lease
        assert abs(os.path.getmtime(lock_path) - stamp) < 1.0
    # and our release must NOT have removed the stealer's lock
    assert os.path.exists(lock_path)
    assert json.load(open(lock_path))["host"] == "stealer-host"
    os.remove(lock_path)


def test_lock_fairness_no_starvation(small_index):
    """VERDICT r5 #7: N blocking waiters on one lock with a CHURNING
    holder (acquire/release loop) — every waiter must eventually
    acquire; the backoff loop must not deadlock or permanently starve
    any contender."""
    import threading
    import time as _time

    from refimage_spark.index.merge import maintenance_lock

    acquired = []
    lock_kw = dict(lease_sec=10.0, blocking=True, timeout=90.0)

    def churner(rounds=12):
        for _ in range(rounds):
            with maintenance_lock(small_index, **lock_kw):
                _time.sleep(0.02)
            _time.sleep(0.005)

    def waiter(i):
        with maintenance_lock(small_index, **lock_kw):
            acquired.append(i)
            _time.sleep(0.02)

    ch = threading.Thread(target=churner)
    ws = [threading.Thread(target=waiter, args=(i,)) for i in range(4)]
    ch.start()
    _time.sleep(0.03)  # churner holds the lock when waiters arrive
    for w in ws:
        w.start()
    ch.join(timeout=120)
    for w in ws:
        w.join(timeout=120)
        assert not w.is_alive(), "a lock waiter never acquired (starved)"
    assert sorted(acquired) == [0, 1, 2, 3]
