"""Log-structured maintenance: incremental append, tombstone delete,
segment merge/compaction, size-tiered merge policy.

The reference handles deletes by REBUILDING the whole index
(/root/reference/src/refimage/search/__init__.py:268-320, O(N) per
delete) and growth by in-memory append with a monolithic save. Here:

- ``append_pages``  : new docs become NEW segments (ids continue after
  the current max); global stats/df are updated — O(new docs), the
  existing segments are untouched (log-structured append).
- ``delete_docs``   : tombstone rows only; queries mask them (O(1)).
- ``compact`` / ``merge_segments``: ONE rewriter, ``_rewrite_segments``,
  writes the docs of a group of segments, minus an optional drop set,
  as one new segment: compact is it on each ``[pid]`` that holds a
  tombstoned doc, a merge on a group. Scores depend only on (tf, dl,
  global stats), so exactness holds. ONE COMMIT: the new segment's
  atomic manifest row carries ``merged_from`` and ``read_manifest``
  drops superseded rows, so a concurrent query reads a complete
  generation of every segment and a crash before source cleanup never
  double-serves a doc; a retry that finds its row skips the rewrite.
- ``plan_merges``/``run_merge_policy``: size-tiered policy — streaming
  appends create many small segments; once a size tier accumulates
  ``MERGE_MIN`` of them they merge into the next tier (cascading), so
  segment count stays O(log corpus) under continuous ingest.

Scale notes: compact and each policy round are one ``_rewrite_groups``
call — output pids pre-assigned on the driver, one Spark job over the
OUTPUT segments (doc-partitioned segments never interact). Sources
decode in 3 vectorized passes (``SegmentReader.read_all_postings``) and
``segment.write_segment`` takes pre-aggregated (term, doc, tf) rows — no
per-term Python loop, no np.repeat re-expansion of tf runs. Segments
and their manifest rows carry no corpus statistic, so a rewrite never
reads stats.json: compact refreshes it afterwards from the docs table.
Compact and tag updates share one docs-table rewrite, ``_rewrite_docs``;
every other file lands by ``segment.commit_file``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import threading
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from refimage_spark.index.build import (
    _assign_and_project,
    _corpus_totals,
    _dedup_slim_build,
    _per_segment_job,
    _read_docs,
    _write_segments_for,
    write_term_stats,
)
from refimage_spark.index.segment import (
    DOCS_DIR,
    TAG_UPDATES_FILE,
    TOMBSTONES_FILE,
    SegmentReader,
    cleanup_merged_sources,
    commit_file,
    docs_part_dir,
    manifest_rows,
    read_manifest,
    read_row,
    read_stats,
    read_tombstones,
    retag_segment,
    write_segment,
    write_stats,
)

# plan_merges: segments land in tiers by log_4(bytes), those under 64 KB
# in one tier; a tier of >= 4 segments merges its smallest <= 16
MERGE_FLOOR_BYTES = 1 << 16
MERGE_TIER_FACTOR = 4.0
MERGE_MIN = 4
MERGE_MAX = 16
MAINT_LOCK = ".maintenance.lock"
# 120s, not 30: NFS client attribute caching (acregmax, commonly up to
# 60s) can serve a remote contender an mtime up to a minute stale even
# while the holder heartbeats — a 30s lease let a LIVE lock be judged
# stale and stolen (ADVICE r5). The lease must sit comfortably above
# the attr-cache bound; _owner_alive additionally fstat()s an open fd,
# which forces revalidation on NFS close-to-open-consistent mounts.
LOCK_LEASE_SEC = 120.0


def _lock_owner(path: str) -> dict | None:
    """Owner record {host, pid, acquired} or None if unreadable (the
    file vanished mid-read, or predates the lease format)."""
    try:
        with open(path) as f:
            rec = json.load(f)
        return rec if isinstance(rec, dict) else None
    except (OSError, ValueError):
        return None


def _owner_alive(owner: dict | None, path: str, lease_sec: float) -> bool:
    """Liveness judged safely for SHARED STORAGE:

    - same host + DEAD pid: authoritative — steal immediately, no lease
      wait (the common crashed-holder case);
    - everything else — same-host pid that exists (which may be an
      UNRELATED process after pid recycling, e.g. post-reboot), a
      foreign-uid pid, a remote host, an unreadable record — defers to
      LEASE EXPIRY: a real holder's heartbeat keeps the mtime fresh; a
      recycled pid does not, so the lease ages out and the lock is
      stealable. (An earlier form returned 'alive' on any existing
      same-host pid, which made a crashed holder's lock permanently
      unstealable whenever its pid got recycled.)"""
    if owner is not None and owner.get("host") == socket.gethostname():
        pid = int(owner.get("pid", 0) or 0)
        if pid > 0:
            try:
                os.kill(pid, 0)  # 0 = existence probe, no signal sent
            except ProcessLookupError:
                return False  # owner died mid-maintenance
            except PermissionError:
                pass  # exists under another uid: lease decides below
    try:
        # fstat an OPEN fd, not os.path.getmtime: opening the file forces
        # NFS attribute revalidation (close-to-open consistency), so a
        # live holder's heartbeat mtime is never judged through a stale
        # client attribute cache (ADVICE r5)
        with open(path, "rb") as f:
            mtime = os.fstat(f.fileno()).st_mtime
        return (time.time() - mtime) < lease_sec
    except OSError:
        return False  # vanished under us: nobody holds it


@contextlib.contextmanager
def maintenance_lock(
    index_dir: str,
    lease_sec: float = LOCK_LEASE_SEC,
    blocking: bool = False,
    timeout: float = 600.0,
):
    """SINGLE-MAINTENANCE-WRITER guard shared by delete_docs / compact /
    merge / update_doc_tags / append. Readers are always safe (atomic
    renames + mtime-keyed caches), but maintenance ops are not
    transactional with respect to EACH OTHER: a compact's sidecar
    rewrite racing a tag update's would silently drop one of them.

    LEASE PROTOCOL (correct on shared storage across hosts):
    - ACQUIRE is one atomic ``os.link(tmp, lock)`` with the owner record
      {host, pid, acquired} already written to ``tmp`` — exactly one
      contender's link succeeds, and no contender ever observes an
      empty/partial lock file (the O_EXCL-create-then-write scheme had
      that window).
    - While held, a daemon heartbeat touches the lock every lease/3; the
      mtime IS the lease. A long compaction never looks stale.
    - STALENESS: a same-host owner whose pid is DEAD is stolen
      immediately; everything else (existing pid — possibly recycled —,
      foreign uid, remote host) waits for lease expiry.
    - RELEASE and heartbeat verify the lock still carries OUR owner
      record first: a holder that lost its lease to a legitimate stealer
      must not touch the stealer's lock.
    - STEAL renames the stale lock to a unique name FIRST — only one
      renamer wins (the losers get FileNotFoundError and re-race the
      link), so two contenders can never both "remove then create".

    ``blocking=False`` (default) raises RuntimeError on live contention
    — a serving-tier caller should retry, not block behind a long
    compaction. ``blocking=True`` retries with backoff up to ``timeout``
    seconds (streaming ingest's append and the merge policy use this: a
    micro-batch append must wait out a concurrent merge, not kill the
    stream, and a policy run waits out the append).

    Each judge/steal/link attempt runs under a same-host ``flock`` guard
    (``.maintenance.guard``) — two local contenders can therefore never
    interleave "judge stale → rename" against each other's fresh lock.
    Cross-host stealers can't share the flock; they are protected by the
    INODE CHECK below: a rename that turns out to have grabbed a
    different inode than the one judged stale is undone. The residual
    window (three hosts steal-colliding within the same few µs after a
    ≥lease_sec expiry, defeating the restore) is accepted: maintenance
    ops are themselves crash-safe and idempotent (supersession commits),
    so a duplicated writer degrades to wasted work, not corruption — an
    Iceberg/catalog conditional commit would close even that."""
    import fcntl

    path = os.path.join(index_dir, MAINT_LOCK)
    guard_path = f"{path}.guard"
    me = {
        "host": socket.gethostname(),
        "pid": os.getpid(),
        "acquired": time.time(),
    }
    tmp = f"{path}.acq-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(me, f)
        f.flush()
        os.fsync(f.fileno())
    deadline = time.monotonic() + timeout
    backoff = 0.05

    def attempt_once() -> bool:
        """One guarded judge/steal/link attempt. True = lock acquired;
        False = retry; raises on live contention (non-blocking mode
        decides what to do with it above)."""
        # freshen the owner file's mtime BEFORE linking: link() shares
        # the tmp inode, so after a long blocking wait the new lock
        # would otherwise be born with an already-expired lease and be
        # instantly stealable until the first heartbeat (review finding)
        os.utime(tmp)
        try:
            os.link(tmp, path)  # atomic acquire, owner info in place
            return True
        except FileExistsError:
            pass
        try:
            judged_ino = os.stat(path).st_ino
        except FileNotFoundError:
            return False  # released under us: re-race the link
        owner = _lock_owner(path)
        if _owner_alive(owner, path, lease_sec):
            raise RuntimeError(
                f"index maintenance already running ({owner}, "
                f"{path}); retry after it finishes"
            )
        stale = f"{path}.stale-{uuid.uuid4().hex}"
        try:
            os.rename(path, stale)  # exactly one stealer wins
        except FileNotFoundError:
            return False  # released or stolen under us: re-race
        if os.stat(stale).st_ino != judged_ino:
            # a cross-host contender replaced the stale lock between our
            # judgment and our rename — we just grabbed a FRESH lock.
            # Put the exact inode back (link restores it at the path);
            # if a third party linked meanwhile, drop our copy and
            # re-race — their lock stands.
            with contextlib.suppress(FileExistsError):
                os.link(stale, path)
        with contextlib.suppress(FileNotFoundError):
            os.remove(stale)
        return False

    guard = open(guard_path, "a")  # held open for the lock's lifetime
    try:
        try:
            while True:
                fcntl.flock(guard, fcntl.LOCK_EX)
                try:
                    if attempt_once():
                        break
                except RuntimeError:
                    if not (blocking and time.monotonic() < deadline):
                        raise
                finally:
                    fcntl.flock(guard, fcntl.LOCK_UN)
                time.sleep(backoff)
                backoff = min(backoff * 2, 2.0)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)  # the lock path keeps the inode alive
    except BaseException:
        guard.close()
        raise
    stop = threading.Event()

    def _still_mine() -> bool:
        """Ownership = the lock file still carries OUR owner record
        (host + pid + acquire timestamp — never collides). If our lease
        expired (VM pause, NFS hang) and another contender legitimately
        stole the lock, we must neither refresh nor remove THEIR lock —
        heartbeat and release both check first. (An earlier form removed
        unconditionally, which let a resumed stale holder delete the
        stealer's live lock and re-open the two-writer race; an
        inode-only check was defeated by filesystem inode recycling.)"""
        return _lock_owner(path) == me

    def _heartbeat() -> None:
        # the check+touch runs under the same flock GUARD the judge/steal
        # attempts take, so it can never interleave with a same-host
        # contender's rename of our (stale-judged) lock. Same-OFD flock
        # from our own threads is reentrant-by-sharing — benign, since
        # our threads only ever touch OUR OWN lock.
        while not stop.wait(lease_sec / 3.0):
            fcntl.flock(guard, fcntl.LOCK_EX)
            try:
                if _still_mine():
                    with contextlib.suppress(OSError):
                        os.utime(path)
            finally:
                fcntl.flock(guard, fcntl.LOCK_UN)

    beat = threading.Thread(
        target=_heartbeat, name="maint-lock-heartbeat", daemon=True
    )
    beat.start()
    try:
        yield
    finally:
        stop.set()
        beat.join(timeout=2.0)
        fcntl.flock(guard, fcntl.LOCK_EX)
        try:
            owner = _lock_owner(path)
            if owner is None and os.path.exists(path):
                # transient read failure (NFS hiccup) must not strand our
                # own lock until lease expiry — retry before deciding
                for _ in range(3):
                    time.sleep(0.02)
                    owner = _lock_owner(path)
                    if owner is not None:
                        break
            if owner == me or (owner is None and os.path.exists(path)):
                # ours, or unreadable-after-retries: a stealer's lock is
                # always complete (linked with content in place), so an
                # unreadable file is a corrupt leftover — remove either way
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)
        finally:
            fcntl.flock(guard, fcntl.LOCK_UN)
            guard.close()


def delete_docs(index_dir: str, doc_ids: list[int]) -> None:
    """Tombstone-only delete; takes effect at query time immediately.
    Takes the maintenance lock: the tombstone read-merge-write must not
    race another delete or compact's final tombstone swap."""
    with maintenance_lock(index_dir):
        old = read_tombstones(index_dir)
        ids = np.asarray(doc_ids, np.int64)
        merged = np.unique(ids if old is None else np.concatenate([old, ids]))
        table = pa.table({"doc_id": merged})
        commit_file(
            os.path.join(index_dir, TOMBSTONES_FILE),
            lambda f: pq.write_table(table, f),
        )


def _recompute_global_stats(spark: SparkSession, index_dir: str) -> None:
    """N/avgdl from the docs table (build's exact-integer formula); df by
    re-aggregating segment dicts. Must run AFTER segments reflect the
    new corpus."""
    docs = _read_docs(spark, index_dir)
    n, avgdl = (0, 0.0) if docs is None else _corpus_totals(docs)
    stats = read_stats(index_dir)
    stats.update({"n_docs": n, "avgdl": avgdl})
    write_stats(index_dir, stats)
    write_term_stats(spark, index_dir)


def _rewrite_segments(
    index_dir: str,
    pids: list[int],
    new_pid: int,
    drop_ids: np.ndarray | None = None,
) -> dict | None:
    """Write the docs of segments ``pids``, minus ``drop_ids``, as
    segment ``new_pid``, and commit it with one atomic manifest row
    carrying ``merged_from=pids`` (the supersession commit). Returns
    {"new_pid", "n_docs", "n_postings"}, or None, writing nothing, when
    ``drop_ids`` holds none of their docs.

    IDEMPOTENT: a retry (Spark task re-run, crash-then-rerun) whose row
    for ``new_pid`` already supersedes ``pids`` returns that row and
    leaves the files alone — the sources may already be cleaned up.

    Fully vectorized: norms are concatenated and sorted by doc id
    (ids are disjoint across segments); each source's postings decode
    in 3 passes, map to the sorted union vocabulary, and one lexsort by
    (term, doc_id) orders the combined stream for ``write_segment``.
    Tags are cast to list<string>, so every rewritten sidecar has one
    schema."""
    pids = [int(p) for p in pids]
    row = read_row(index_dir, new_pid)
    if row is not None and sorted(row.get("merged_from") or []) == sorted(pids):
        n_docs, n_postings = row["n_docs"], row["n_postings"]
        return {"new_pid": new_pid, "n_docs": n_docs, "n_postings": n_postings}
    readers = [SegmentReader(index_dir, p) for p in pids]
    norms = [rd.norms() for rd in readers]
    ids = np.concatenate([n[0] for n in norms])
    order = np.argsort(ids)
    keep = order if drop_ids is None else order[~np.isin(ids[order], drop_ids)]
    if drop_ids is not None and keep.size == ids.size:
        return None  # the copy would be identical
    tags = pa.concat_arrays([n[2].cast(pa.list_(pa.string())) for n in norms])
    parts = [rd.read_all_postings() for rd in readers]
    vocab = pc.unique(pa.chunked_array([p[0] for p in parts], pa.string()))
    vocab = vocab.take(pc.array_sort_indices(vocab))
    codes = np.concatenate(
        [
            pc.index_in(terms, value_set=vocab)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)[term_codes]
            for terms, term_codes, _, _ in parts
        ]
    )
    docs = np.concatenate([p[2] for p in parts])
    tfs = np.concatenate([p[3] for p in parts])
    o = np.lexsort((docs, codes))
    if drop_ids is not None:
        o = o[~np.isin(docs[o], drop_ids)]
    row = write_segment(
        index_dir,
        new_pid,
        ids[keep],
        np.concatenate([n[1] for n in norms])[keep],
        tags.take(keep),
        vocab.take(pa.array(codes[o])),
        docs[o],
        tfs[o],
        merged_from=pids,
    )
    return {
        "new_pid": new_pid, "n_docs": row["n_docs"], "n_postings": row["n_postings"]
    }


def _rewrite_groups(
    spark: SparkSession | None,
    index_dir: str,
    groups: list[list[int]],
    drop_tombstones: bool = False,
) -> list[list[int]]:
    """Rewrite each group of segments as one new segment; returns the
    groups rewritten. Output pids are pre-assigned from max+1 on the
    driver (tasks must not race on max(manifest)+1). One
    ``_per_segment_job`` runs the groups; a lone group, or no ``spark``,
    runs on the driver.

    ``drop_tombstones`` drops the tombstoned docs, and skips a group that
    holds none; each rewrite side-reads the tombstones itself (shared
    storage at cluster scale), which costs the same order as the
    rewrite's own membership mask — millions of tombstones would
    otherwise be pickled into every task. Source cleanup stays with the
    caller, deferred to the end of its run so readers face one flip
    window per run."""
    base = max(r["partition_id"] for r in read_manifest(index_dir)) + 1
    jobs = [(g, base + i) for i, g in enumerate(groups)]

    def rewrite(pids: list[int], new_pid: int) -> pa.RecordBatch | None:
        drop = read_tombstones(index_dir) if drop_tombstones else None
        if _rewrite_segments(index_dir, pids, new_pid, drop) is None:
            return None
        return pa.record_batch([pa.array([new_pid], pa.int32())], names=["pid"])

    if spark is None or len(jobs) == 1:
        done = {p for g, p in jobs if rewrite(g, p) is not None}
    else:
        rows = _per_segment_job(spark, jobs, rewrite, "pid int").collect()
        done = {r.pid for r in rows}
    assert drop_tombstones or len(done) == len(jobs)
    return [g for g, p in jobs if p in done]


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Drop tombstoned docs physically; rewrite their segments + stats.

    Holds the maintenance lock end-to-end, which is what makes the
    final unconditional tombstone removal correct: no delete_docs can
    land between the tombstone read at the top and that removal.

    NOTE: removing docs changes N/avgdl/df, hence every BM25 score —
    that's inherent to the scoring model, exactly as the reference's
    delete-rebuild changes its index (SURVEY.md §2.3 K4).
    """
    with maintenance_lock(index_dir):
        sweep_orphans(index_dir)  # reclaim leftovers of any crashed prior run
        tomb = read_tombstones(index_dir)
        tomb_path = os.path.join(index_dir, TOMBSTONES_FILE)
        if tomb is None:
            return {"compacted": 0}
        if tomb.size == 0:
            os.remove(tomb_path)
            return {"compacted": 0}

        # 1. shrink the docs table (source of truth for stats): only the
        # parts holding a tombstoned doc are rewritten — ANTI-JOIN against
        # the tombstone table, never an IN-list literal in the plan
        # (millions of tombstones would otherwise be embedded in the query)
        _rewrite_docs(
            spark,
            index_dir,
            tomb_path,
            lambda rows, tomb_df: rows.join(
                F.broadcast(tomb_df), "doc_id", "left_anti"
            ),
        )

        # 2. rewrite each segment holding a tombstoned doc without those
        # docs under a NEW pid (the supersession commit): a concurrent
        # search always reads a complete generation of every segment, and
        # a crash mid-compact leaves a correct, re-runnable index
        pids = sorted(r["partition_id"] for r in read_manifest(index_dir))
        groups = [[p] for p in pids]
        done = _rewrite_groups(spark, index_dir, groups, drop_tombstones=True)

        # 3. drop superseded sources; tombstones go LAST — they keep
        # masking the deleted docs in any old-generation segment a
        # concurrent query may still be reading during the flip window
        cleanup_merged_sources(index_dir, [p for (p,) in done])
        os.remove(tomb_path)
        _recompute_global_stats(spark, index_dir)  # AFTER segments reflect removal
        return {"compacted": int(tomb.size), "segments": len(done)}


def sweep_orphans(index_dir: str) -> int:
    """Garbage-collect superseded segment rows/files a crash left behind.

    compact and run_merge_policy DEFER source cleanup to the end of the
    run (one reader-visible flip window per run); a crash after the
    per-group commits but before that cleanup therefore leaks the
    superseded rows/files permanently — ``read_manifest`` filters them
    so correctness holds, but no later path would ever delete them.
    This sweep runs at the START of every compact/policy run, under the
    maintenance lock: any pid appearing in a committed row's
    ``merged_from`` is garbage by definition. Returns the number of
    orphaned manifest rows removed."""
    rows = manifest_rows(index_dir)
    superseded: set[int] = set()
    for r in rows:
        superseded.update(int(p) for p in (r.get("merged_from") or []))
    n_orphan_rows = sum(1 for r in rows if r["partition_id"] in superseded)
    if superseded:
        cleanup_merged_sources(index_dir, sorted(superseded))
    return n_orphan_rows


def merge_segments(index_dir: str, pids: list[int]) -> dict:
    """Log-structured merge: combine several (small) segments into one,
    under the maintenance lock.

    Doc sets are disjoint, so per-term posting lists merge by doc-id
    sort; global stats/df are unchanged — queries return identical
    results before and after (asserted in tests).

    The output pid is max(live)+1. The commit is ``_rewrite_segments``'
    manifest row (see there): a retry of a committed merge finds that
    row (its sources are superseded), reuses its pid and goes straight
    to cleanup."""
    assert len(pids) >= 2
    with maintenance_lock(index_dir):
        rows = read_manifest(index_dir)
        live = {r["partition_id"] for r in rows}
        done = [
            r for r in rows if sorted(r.get("merged_from") or []) == sorted(pids)
        ]
        if done:  # a retry: our own committed row supersedes the sources
            new_pid = done[0]["partition_id"]
        else:
            for p in pids:
                assert p in live, f"segment {p} not in manifest"
            new_pid = max(live) + 1
        out = _rewrite_segments(index_dir, pids, new_pid)
        cleanup_merged_sources(index_dir, pids)
    return {"merged": pids, **out}


def plan_merges(index_dir: str) -> list[list[int]]:
    """Size-tiered merge plan: segments land in tiers by
    log_{MERGE_TIER_FACTOR}(bytes); any tier holding >= MERGE_MIN
    segments yields one merge of its smallest <= MERGE_MAX members.
    Disjoint groups — safe to execute in parallel (one task per output
    segment)."""
    rows = read_manifest(index_dir)
    tiers: dict[int, list[dict]] = {}
    for r in rows:
        b = max(r["bytes"], MERGE_FLOOR_BYTES)
        tiers.setdefault(int(np.log(b) / np.log(MERGE_TIER_FACTOR)), []).append(r)
    plans = []
    for t in sorted(tiers):
        group = sorted(tiers[t], key=lambda r: r["bytes"])
        if len(group) >= MERGE_MIN:
            plans.append([r["partition_id"] for r in group[:MERGE_MAX]])
    return plans


def run_merge_policy(
    index_dir: str,
    spark: SparkSession | None = None,
    max_rounds: int = 10,
) -> dict:
    """Apply the size-tiered policy until no tier overflows (merged
    outputs may cascade into a higher tier that then overflows).

    Each round's (disjoint) merge groups are one ``_rewrite_groups``
    call: with ``spark``, one Spark job; without, serially on the
    driver. Query results are identical before/after (stats and df
    never change under merge). Holds the maintenance lock for the whole
    policy run (the groups of a round run as Spark tasks UNDER that one
    driver-held lock), taken blocking as the streaming append takes it:
    a live holder is waited out, up to the lock's timeout."""
    merged_total: list[list[int]] = []
    n_rounds = 0
    with maintenance_lock(index_dir, blocking=True):
        sweep_orphans(index_dir)  # reclaim leftovers of any crashed prior run
        for _ in range(max_rounds):
            plans = plan_merges(index_dir)
            if not plans:
                break
            n_rounds += 1
            _rewrite_groups(spark, index_dir, plans)
            merged_total.extend(plans)
        # DEFERRED source cleanup: superseded rows/files stay on disk
        # while the policy cascades (read_manifest filters them, so
        # queries and later rounds only see live segments) and are
        # removed ONCE here — concurrent searches face a single flip
        # window per policy run instead of one per merge group, and the
        # serving retry covers it.
        if merged_total:
            cleanup_merged_sources(
                index_dir, sorted({p for grp in merged_total for p in grp})
            )
    return {"rounds": n_rounds, "merged_groups": merged_total}


def update_doc_tags(
    spark: SparkSession, index_dir: str, updates: dict[int, list[str]]
) -> dict:
    """Attribute-only UPDATE (reference update_metadata,
    src/refimage/storage.py:439-508, endpoint api.py:738-773): replace the
    tag array of the given docs in the docs table AND the affected
    segments' docs sidecar. Postings, stats and df are untouched (tags
    never participate in scoring), so the cost is O(affected partitions)
    — unlike the reference, whose only mutation path for indexed fields
    is a full rebuild.

    - segments FIRST: one ``_per_segment_job`` over the segments; each
      side-reads the updates parquet and ``segment.retag_segment``
      rewrites ONLY its docs sidecar, if it holds an updated doc. The
      posting file is never opened.
    - docs table second: ``_rewrite_docs`` rewrites only the parts
      holding an updated doc (untouched part dirs keep their files).

    CRASH SAFETY: runs under the maintenance lock (a concurrent compact
    rewriting sidecars would silently drop a just-applied tag update).
    Both phases set tags to their TARGET value, so the whole operation
    is idempotent — a crash between the sidecar rewrites and the docs
    overwrite is repaired by re-running the same update. The scratch
    tag_updates.parquet is removed in a ``finally`` (never leaks), and
    sidecars go first so serving — which reads sidecars — never trails
    a docs table the stats paths already see.
    """
    if not updates:
        return {"updated_docs": 0, "segments_rewritten": 0}
    with maintenance_lock(index_dir):
        up_ids = np.sort(np.fromiter(updates.keys(), np.int64, len(updates)))
        up_tags = pa.array(
            [[str(t) for t in updates[int(i)]] for i in up_ids],
            pa.list_(pa.string()),
        )
        up = pa.table({"doc_id": up_ids, "tags": up_tags})
        up_path = os.path.join(index_dir, TAG_UPDATES_FILE)
        commit_file(up_path, lambda f: pq.write_table(up, f))
        try:
            # 1. segment sidecars: membership-check + rewrite, per segment
            def retag(pid: int) -> pa.RecordBatch:
                n_hit = retag_segment(index_dir, pid, pq.read_table(up_path))
                return pa.record_batch([pa.array([n_hit], pa.int32())], names=["n"])

            segs = [(r["partition_id"],) for r in read_manifest(index_dir)]
            hits = _per_segment_job(spark, segs, retag, "n int").collect()
            rewritten = sum(r["n"] > 0 for r in hits)

            # 2. docs table: rewrite only the parts holding an updated doc
            def retag_rows(rows: DataFrame, listed: DataFrame) -> DataFrame:
                u = F.broadcast(listed.withColumnRenamed("tags", "_u_tags"))
                return (
                    rows.join(u, "doc_id", "left")
                    .withColumn("tags", F.coalesce("_u_tags", "tags"))
                    .drop("_u_tags")
                )

            n_updated = _rewrite_docs(spark, index_dir, up_path, retag_rows)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(up_path)
        return {"updated_docs": n_updated, "segments_rewritten": int(rewritten)}


def _rewrite_docs(
    spark: SparkSession, index_dir: str, listed_path: str, patch
) -> int:
    """Rewrite the docs-table parts holding a doc id listed in the
    parquet at ``listed_path`` as ``patch(rows, listed)``, by dynamic
    partition overwrite (other parts keep their files, the table dir
    never goes away); a part left with no rows is removed. Returns the
    number of listed docs found. localCheckpoint materializes the rows
    first: Spark refuses to overwrite a path its own plan still reads."""
    docs = _read_docs(spark, index_dir)
    if docs is None:  # a compact dropped every doc
        return 0
    listed = spark.read.parquet(listed_path)
    hits = (
        docs.join(F.broadcast(listed.select("doc_id")), "doc_id")
        .groupBy("part")
        .count()
        .collect()
    )
    parts = {r["part"] for r in hits}
    if parts:
        rows = patch(docs.where(F.col("part").isin(sorted(parts))), listed)
        rows = rows.localCheckpoint(eager=True)
        kept = {r["part"] for r in rows.select("part").distinct().collect()}
        if kept:
            (
                rows.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part")
                .parquet(os.path.join(index_dir, DOCS_DIR))
            )
        for p in parts - kept:
            shutil.rmtree(docs_part_dir(index_dir, p))
    return sum(r["count"] for r in hits)


def append_pages(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    lock_blocking: bool = False,
) -> dict:
    """Log-structured append: index new pages as ADDITIONAL segments.

    New doc ids continue after the current corpus; new partition ids
    continue after the current max pid, so existing segments and
    manifest rows are untouched. Global stats/df are refreshed (BM25
    scores legitimately shift — same semantics as reference add).

    Takes the maintenance lock: append allocates ids/pids from current
    maxima and refreshes stats.json/term_stats/docs.parquet, all of
    which a concurrent compact/merge/update also touches.
    ``lock_blocking=True`` waits out a concurrent maintenance op instead
    of raising — streaming ingest passes it so a micro-batch landing
    during a merge retries rather than killing the whole stream.
    """
    with maintenance_lock(index_dir, blocking=lock_blocking):
        stats = read_stats(index_dir)
        num_parts = stats["num_parts"]
        tag_cols = tuple(stats.get("tag_cols", ["lang"]))
        docs_path = os.path.join(index_dir, DOCS_DIR)
        old_docs = _read_docs(spark, index_dir)
        base_id, fresh = 0, new_pages
        if old_docs is not None:
            base_id = old_docs.agg(F.max("doc_id")).head()[0] + 1
            # drop urls we already have (recrawl -> keep existing, matching S10)
            fresh = new_pages.join(old_docs.select("url"), "url", "left_anti")
        base_pid = max(r["partition_id"] for r in read_manifest(index_dir)) + 1

        deduped, handles = _dedup_slim_build(fresh, tag_cols=tag_cols)
        try:
            # count BEFORE the write: it fills the cache the write reads, and
            # the write re-caches every plan over docs_path with a refreshed
            # listing, under which the anti-join would drop the new urls
            n_appended = int(deduped.count())
            new_docs = _assign_and_project(
                deduped, num_parts, tag_cols
            ).withColumn(
                "doc_id", (F.col("doc_id") + F.lit(int(base_id))).cast("long")
            ).withColumn("part", (F.col("part") + F.lit(int(base_pid))).cast("int"))
            new_docs.write.mode("append").partitionBy("part").parquet(docs_path)
        finally:
            for h in handles:
                h.unpersist()

        # build segments for the new parts only (same writer machinery),
        # THEN refresh global stats from the updated dictionaries
        n_new = _write_segments_for(
            spark, index_dir, part_filter=lambda p: p >= base_pid
        )
        _recompute_global_stats(spark, index_dir)
        return {"appended_docs": n_appended, "new_segments": n_new}
