"""Query engine over segment files: BM25 top-k with block-max pruning.

Rebuild of the reference's query path (exact FAISS scan + set algebra,
/root/reference/src/refimage/search/__init__.py:202-266 +
/root/reference/src/refimage/dsl.py) as:

  parse DSL (driver) -> global idf lookup (term_stats.parquet, filter
  pushdown on query terms) -> per-segment top-k of the whole query tree
  (docs live in exactly one segment, so per-segment results are
  disjoint and exact) -> exact top-k merge. ``_serve_chunk`` sweeps a
  chunk of segments to <= k rows: inline, on a pool worker or in a task.

One scorer, exact and rank-identical to the DataFrame oracle: the
vectorized term-at-a-time scan (numpy union-sum). A text query first
runs a MaxScore block selection over the columnar block-max metadata
(last_doc, max_tf, min_dl per 128 postings) and decodes only the blocks
that can hold a top-k doc (``wand_topk_segment``); a boolean tree
evaluates every leaf in full (``eval_node``).

Score spec mirrors operators/bm25.py expression-for-expression so
float64 results agree with the oracle to the last few ulps.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

if TYPE_CHECKING:  # pyspark is imported lazily (inside search_index):
    from pyspark.sql import DataFrame, SparkSession  # serving worker
    # processes import this module and must not pay the pyspark import.

from refimage_spark import dsl
from refimage_spark.index.segment import (
    STATS_FILE,
    TERM_STATS_FILE,
    TOMBSTONES_FILE,
    SegmentReader,
    manifest_dir,
    read_manifest,
    read_stats,
    read_tombstones,
    seg_paths,
)
from refimage_spark.tokenizer import BM25_B, BM25_K1, py_tokens

K1P1 = BM25_K1 + 1.0


# ---- serving caches (generation-keyed: append/compact/delete invalidate) ---

# (kind, path) -> (_sig, value): one entry per file, holding the newest
# generation seen. A loader may legitimately return None (global_df's
# too-big-to-pin vocabulary) and that None is a HIT — treating it as a
# miss re-read the multi-million-row term_stats parquet on every query.
_CACHE: dict = {}
_CACHE_LOCK = threading.Lock()
# Per-process LRU bound on cached SegmentReaders, which pin their term
# dictionary (~1-3 MB for a cache-sized segment) and norms: unbounded,
# 1280 segments x 32 pool workers OOM-killed the pool. An evicted reader
# costs one reload (~ms) on its next touch. The default fits replicate
# mode (any worker may cache the whole, bytes-bounded index); a shard
# touches only its own blocks. Other kinds (stats, manifest,
# term_stats) are one-per-index and stay unbounded.
_READER_CACHE_CAP = 1024
_READER_LRU: OrderedDict = OrderedDict()  # reader keys, least recent first


def _sig(path: str) -> tuple[int, int] | None:
    """A file's generation, (mtime ns, inode), or None if missing: a
    commit renames in a new inode, even within one mtime tick."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_ino


def _touch_reader(key: tuple) -> None:
    """Mark a cached reader most recently used; evict past the cap (never
    the reader just touched). Caller holds _CACHE_LOCK."""
    _READER_LRU.pop(key, None)
    _READER_LRU[key] = None
    while len(_READER_LRU) > max(_READER_CACHE_CAP, 1):
        _CACHE.pop(_READER_LRU.popitem(last=False)[0], None)


def _cached(kind: str, path: str, loader):
    """Thread-safe: the serving pool hits this concurrently. Bookkeeping
    is locked; loaders run OUTSIDE the lock (they do IO), so two threads
    may race the same load — the first insert wins and both use it. A
    slow load of an OLDER generation returns its value but never
    replaces a newer cached one (that would force a pointless reload).
    A missing file drops its entry and is never cached."""
    key = (kind, path)
    sig = _sig(path)
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if sig is None:
            _CACHE.pop(key, None)
            _READER_LRU.pop(key, None)
        elif hit is not None and hit[0] == sig:
            if kind == "reader":
                _touch_reader(key)
            return hit[1]
    value = loader()
    if sig is None:
        return value
    with _CACHE_LOCK:
        hit = _CACHE.get(key)
        if hit is not None and hit[0] == sig:
            return hit[1]
        if hit is not None and hit[0][0] > sig[0]:
            return value  # a newer generation is cached: keep it
        _CACHE[key] = (sig, value)
        if kind == "reader":
            _touch_reader(key)
    return value


def load_stats(index_dir: str) -> dict:
    return _cached(
        "stats", os.path.join(index_dir, STATS_FILE), lambda: read_stats(index_dir)
    )


_DF_PIN_LIMIT = 2_000_000  # global_df pins term_stats up to this size


def global_df(index_dir: str, terms: list[str]) -> dict[str, int]:
    """df lookup for query terms. The whole dictionary is cached while it
    is serving-sized; a 10^12-doc vocabulary would be memory-mapped or
    filter-read per query instead (the cold branch below)."""
    if not terms:
        return {}
    p = os.path.join(index_dir, TERM_STATS_FILE)

    def load():
        t = pq.read_table(p)
        if t.num_rows > _DF_PIN_LIMIT:
            return None  # too big to pin — fall back to filtered reads
        return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))

    full = _cached("term_stats", p, load)
    if full is not None:
        return {t: full[t] for t in terms if t in full}
    t = pq.read_table(p, filters=pc.field("term").isin(terms))
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def collect_terms(node: dsl.Node) -> list[str]:
    if isinstance(node, dsl.TextQuery):
        return py_tokens(node.text)
    if isinstance(node, (dsl.And, dsl.Or)):
        out: list[str] = []
        for c in node.children:
            out += collect_terms(c)
        return out
    if isinstance(node, dsl.Not):
        return collect_terms(node.base) + collect_terms(node.exclude)
    return []


def make_idfs(index_dir: str, terms: list[str]) -> dict[str, float]:
    stats = load_stats(index_dir)
    n = float(stats["n_docs"])
    dfs = global_df(index_dir, terms)
    return {
        t: float(np.log((n - df + 0.5) / (df + 0.5) + 1.0))
        for t, df in dfs.items()
    }


# ---- per-segment evaluation ---------------------------------------------------


def _union_sum(ids_list: list[np.ndarray], sc_list: list[np.ndarray]):
    ids = np.concatenate(ids_list)
    sc = np.concatenate(sc_list)
    uids, inv = np.unique(ids, return_inverse=True)
    return uids, np.bincount(inv, weights=sc, minlength=uids.size)


def _union_scores(
    reader: SegmentReader,
    ids_list: list[np.ndarray],
    sc_list: list[np.ndarray],
):
    """Union-sum of per-clause (sorted unique ids, scores), using the
    segment's dense doc-id range for direct accumulation when available
    (no np.unique sort). Accumulation order per doc is clause order in
    BOTH paths (bincount walks the concatenated weights sequentially;
    the dense loop adds clause by clause), so float sums are
    bit-identical to _union_sum — the oracle hash and the 1e-12
    scorer-identity tests rely on that."""
    if len(ids_list) == 1:
        return ids_list[0], sc_list[0]  # already sorted + unique
    dense, base = reader.dense_ids()
    if not dense:
        return _union_sum(ids_list, sc_list)
    n = reader.doc_lengths()[0].size
    acc = np.zeros(n, dtype=np.float64)
    matched = np.zeros(n, dtype=bool)
    for d, c in zip(ids_list, sc_list):
        di = d - base  # ids unique within one clause -> fancy += is safe
        acc[di] += c
        matched[di] = True  # zero-score matches (weight 0, tag clauses)
    nz = np.flatnonzero(matched)
    return nz + base, acc[nz]


def _bm25(w_idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float):
    """One term's BM25 contribution, elementwise over float64 tf/dl. Term
    bounds evaluate this SAME expression at (max_tf, min_dl): rounding is
    monotone in dl, and consecutive tf values differ by far more than
    rounding, so a bound is never below a posting's COMPUTED value."""
    return (w_idf * (tf * K1P1)) / (
        tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dl) / avgdl)
    )


def _term_contrib(
    reader: SegmentReader,
    entry: dict,
    w_idf: float,
    avgdl: float,
    blocks: np.ndarray | None = None,
):
    docs, tfs = reader.read_postings(entry, blocks)
    dl = reader.dl_for(docs).astype(np.float64)
    return docs, _bm25(w_idf, tfs.astype(np.float64), dl, avgdl)


def eval_node(
    reader: SegmentReader,
    node: dsl.Node,
    idfs: dict[str, float],
    avgdl: float,
    threshold: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate a DSL node within one segment -> (sorted doc_ids, scores)."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if isinstance(node, dsl.TextQuery):
        return _text_scores(
            reader, py_tokens(node.text), idfs, avgdl, node.weight, threshold
        )
    if isinstance(node, dsl.TagFilter):
        # full tag set per doc (lang + source + ...), matching the
        # DataFrame compiler's any=overlap / all=containment semantics
        sets = [reader.tag_ids(t) for t in node.tags]
        if not sets:
            return empty
        if node.mode == "all":
            ids = sets[0]
            for s in sets[1:]:
                ids = np.intersect1d(ids, s, assume_unique=True)
        else:
            ids = np.unique(np.concatenate(sets))
        return ids, np.zeros(ids.size, dtype=np.float64)
    if isinstance(node, dsl.And):
        ids, sc = eval_node(reader, node.children[0], idfs, avgdl, threshold)
        for c in node.children[1:]:
            i2, s2 = eval_node(reader, c, idfs, avgdl, threshold)
            common, ia, ib = np.intersect1d(ids, i2, return_indices=True)
            ids, sc = common, sc[ia] + s2[ib]
        return ids, sc
    if isinstance(node, dsl.Or):
        parts = [eval_node(reader, c, idfs, avgdl, threshold) for c in node.children]
        return _union_scores(
            reader, [p[0] for p in parts], [p[1] for p in parts]
        )
    if isinstance(node, dsl.Not):
        bids, bsc = eval_node(reader, node.base, idfs, avgdl, threshold)
        eids, _ = eval_node(reader, node.exclude, idfs, avgdl, threshold)
        m = ~np.isin(bids, eids)
        return bids[m], bsc[m]
    raise TypeError(node)


def topk_arrays(ids: np.ndarray, sc: np.ndarray, k: int):
    """Exact top-k under total order (score desc, doc_id asc) — keeps ALL
    kth-score ties before the final lexsort cut, so tie-break by doc id is
    never lost to the partition step."""
    if ids.size <= k:
        order = np.lexsort((ids, -sc))
        return ids[order], sc[order]
    kth = np.partition(sc, ids.size - k)[ids.size - k]
    mask = sc >= kth
    sid, ssc = ids[mask], sc[mask]
    order = np.lexsort((sid, -ssc))[:k]
    return sid[order], ssc[order]


# ---- block-max pruning --------------------------------------------------------


def wand_topk_segment(
    reader: SegmentReader,
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    weight: float = 1.0,
    threshold: float = 0.0,
    counters: dict | None = None,
    tomb: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k of a bag-of-terms query within one segment: the
    vectorized scan over only the blocks that can hold a top-k doc
    (``_text_scores`` with ``k``), rank- and score-identical to the full
    scan. ``counters`` accumulates decoded_blocks/total_blocks; ``tomb``
    (doc ids) are masked before the cut, so they free their slots."""
    ids, sc = _text_scores(
        reader, terms, idfs, avgdl, weight, threshold, k, tomb, counters
    )
    if tomb is not None and ids.size:
        m = ~np.isin(ids, tomb)
        ids, sc = ids[m], sc[m]
    return topk_arrays(ids, sc, k)


def _text_scores(
    reader: SegmentReader,
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    weight: float,
    threshold: float,
    k: int | None = None,
    tomb: np.ndarray | None = None,
    counters: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc ids, scores >= threshold) of a bag of terms within one
    segment: per-term contributions union-summed in query-term order.

    Given ``k`` (a top-k of this text alone), MaxScore over the block-max
    metadata skips blocks. The rarest term is decoded first: a live
    doc's contribution from one term is a lower bound on its score, so
    their kth best is a lower bound θ on the kth best score (tombstoned
    docs never set it). Any other term's bound is ``_bm25`` at its
    largest block max_tf and smallest block min_dl under the CURRENT
    avgdl. The lowest-bound terms whose bounds sum STRICTLY below floor
    = max(θ, threshold) are non-essential: a doc found in them alone
    scores below the kth, while a tie with it stays for the doc-id
    tie-break. They decode only the blocks whose doc range (last_doc)
    holds a doc of an essential term, so every doc that can reach the
    top-k scores exactly as in the full scan. This needs a term with
    more blocks than the rarest term has postings (else those alone
    may reach every block), a test on the dict entries that costs a
    segment with nothing to skip nothing."""
    present = reader.lookup_terms([t for t in dict.fromkeys(terms) if t in idfs])
    if not present:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    entries = list(present.values())
    w_idfs = [weight * idfs[t] for t in present]
    nbs = [e["n_blocks"] for e in entries]
    parts: list = [None] * len(entries)
    lazy: list[int] = []  # non-essential terms
    rare = max(range(len(entries)), key=w_idfs.__getitem__)
    if k is not None and max(nbs) > entries[rare]["n"]:
        parts[rare] = _term_contrib(reader, entries[rare], w_idfs[rare], avgdl)
        seed = parts[rare][1]
        if tomb is not None:
            seed = seed[~np.isin(parts[rare][0], tomb)]
        floor = threshold
        if seed.size >= k:
            floor = max(floor, float(np.partition(seed, seed.size - k)[seed.size - k]))
        metas = [reader.read_blockmax(e) for e in entries]
        maxes = [
            _bm25(wi, float(m[1].max()), float(m[2].min()), avgdl)
            for wi, m in zip(w_idfs, metas)
        ]
        rest = sorted(set(range(len(entries))) - {rare}, key=maxes.__getitem__)
        for i in rest:
            bound = 0.0  # in query-term order, as _union_scores adds, so
            for j in sorted(lazy + [i]):  # rounding keeps it >= a score
                bound += maxes[j]  # (sum() may compensate, from 3.12)
            if bound >= floor:
                break
            lazy.append(i)
    for i, e in enumerate(entries):
        if parts[i] is None and i not in lazy:
            parts[i] = _term_contrib(reader, e, w_idfs[i], avgdl)
    essential = [p[0] for p in parts if p is not None]
    skipped = 0
    for j in lazy:
        hit = np.zeros(nbs[j] + 1, bool)  # + 1: docs past the last block
        for d in essential:
            hit[np.searchsorted(metas[j][0], d)] = True
        sel = np.flatnonzero(hit[:-1])
        skipped += nbs[j] - sel.size
        parts[j] = _term_contrib(
            reader, entries[j], w_idfs[j], avgdl, None if sel.size == nbs[j] else sel
        )
    ids, sc = _union_scores(reader, [p[0] for p in parts], [p[1] for p in parts])
    if threshold > 0.0:
        m = sc >= threshold
        ids, sc = ids[m], sc[m]
    if counters is not None:
        total = sum(nbs)
        counters["decoded_blocks"] = counters.get("decoded_blocks", 0) + total - skipped
        counters["total_blocks"] = counters.get("total_blocks", 0) + total
    return ids, sc


# ---- distributed query --------------------------------------------------------

RESULT_SCHEMA = "doc_id long, score double"


def _reader(index_dir: str, pid: int) -> SegmentReader:
    """Serving cache: readers (and their lazily-loaded norms/tag maps)
    keyed by the DOCS SIDECAR's generation — every mutation that can change
    what a cached reader serves (compact, tag update) rewrites the
    sidecar, while the posting file alone never changes without it."""
    docs_path = seg_paths(index_dir, pid)[2]
    return _cached(
        "reader", docs_path, lambda: SegmentReader(index_dir, int(pid))
    )


def _segment_topk(
    index_dir: str,
    pid: int,
    node: dsl.Node,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    threshold: float,
    tomb: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """One segment's exact top-k, the kernel ``_sweep`` runs per segment.
    A root text query takes the block-pruned scan, a boolean tree
    eval_node."""
    reader = _reader(index_dir, int(pid))
    if isinstance(node, dsl.TextQuery):
        return wand_topk_segment(
            reader,
            py_tokens(node.text),
            idfs,
            avgdl,
            k,
            weight=node.weight,
            threshold=threshold,
            tomb=tomb,
        )
    ids, sc = eval_node(reader, node, idfs, avgdl, threshold)
    if tomb is not None and ids.size:
        m = ~np.isin(ids, tomb)  # BEFORE topk: a tombstone
        ids, sc = ids[m], sc[m]  # must free its top-k slot
    return topk_arrays(ids, sc, k)


def _manifest(index_dir: str) -> list[dict]:
    """The index's live manifest rows, cached by the manifest dir's mtime."""
    return _cached(
        "manifest", manifest_dir(index_dir), lambda: read_manifest(index_dir)
    )


def _generation(index_dir: str) -> tuple:
    """The ``_sig`` of the files a plan reads besides the segments."""
    files = (STATS_FILE, TERM_STATS_FILE, TOMBSTONES_FILE)
    return tuple(_sig(os.path.join(index_dir, f)) for f in files)


def _query_plan(index_dir: str, query: str):
    """Shared per-query prep: parse, stats, idf, manifest, tombstones."""
    node = dsl.parse(query)
    stats = load_stats(index_dir)
    avgdl = float(stats["avgdl"])
    terms = list(dict.fromkeys(collect_terms(node)))
    idfs = make_idfs(index_dir, terms)
    pids = sorted(r["partition_id"] for r in _manifest(index_dir))
    tomb_path = os.path.join(index_dir, TOMBSTONES_FILE)
    tomb = _cached("tombstones", tomb_path, lambda: read_tombstones(index_dir))
    return node, avgdl, idfs, pids, tomb


def _sweep(index_dir, plan, pids, k, threshold):
    """Exact top-k over ``pids`` of a ``_query_plan``, one segment after
    another: the inline path and every ``_serve_chunk`` run this loop."""
    node, avgdl, idfs, _, tomb = plan
    return _merge_parts(
        [
            _segment_topk(index_dir, p, node, idfs, avgdl, k, threshold, tomb)
            for p in pids
        ],
        k,
    )


_SERVE_SHARDS: list | None = None
_SERVE_POOL_LOCK = threading.Lock()
_ACTIVE_QUERIES = 0
_ACTIVE_LOCK = threading.Lock()

# Per-segment kernel cost is ~0.2-0.5 ms (mmap + cached readers), so one
# in-process sequential sweep beats any fan-out up to ~128 segments:
# the kernel is small-array numpy that barely releases the GIL, which
# makes THREAD fan-out strictly counterproductive (measured 12x slower
# at 32 segments — futures overhead + GIL convoy), and process fan-out
# only pays off once a query sweeps enough segments to amortize
# ~2 ms/task of IPC (measured crossover: inline p50 0.17s at 256
# segments vs 0.06s pooled at 512 — BENCH/BASELINE.md). Past it, or
# under load, a replicated query takes its share of the pool's workers
# (search_local).
_INLINE_MAX_SEGMENTS = 128
# affinity unit: segment pid p belongs to shard (p // _SHARD_BLOCK) % n.
# Small enough that mid-size indexes spread across many shards (320
# segments -> 20 active shards), large enough that one block is a
# meaningful cache unit; request batching (below) is what amortizes the
# per-task IPC, so the block does not have to.
_SHARD_BLOCK = 16
# REPLICATE vs SHARD: while the whole index's reader state fits any one
# worker comfortably (keyed on posting BYTES, the proxy for pinned dict/
# norm memory — NOT segment count, which says nothing about size), any
# chunk of any query runs on any worker: each worker replicates the full
# cache set and throughput reaches cores/(CPU-per-query) with no cross-
# shard convoy. Past the bound, workers cannot all hold everything —
# queries fan out across STICKY shards that own disjoint slices
# (bounded memory, warm caches), batched per shard. The same switch a
# physical serving tier makes between replicating a small index on
# every node and sharding a big one.
_REPLICATE_MAX_BYTES = 256 << 20
_SERVE_POOL = None  # shared free-scheduling pool (replicate mode)
# shared-pool workers = shard count: the cores this process may run on
_WORKERS = (
    len(os.sched_getaffinity(0))
    if hasattr(os, "sched_getaffinity")
    else os.cpu_count() or 4
)


def _replicated(index_dir: str) -> bool:
    """The replicate-vs-shard switch: the index's posting bytes (from the
    cached manifest) against _REPLICATE_MAX_BYTES."""
    return sum(r["bytes"] for r in _manifest(index_dir)) <= _REPLICATE_MAX_BYTES


def _new_executor(workers: int):
    """A forkserver process pool: workers fork from a clean server
    process (never from this possibly-threaded, possibly-JVM-attached
    one), then import this module WITHOUT pyspark."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    return ProcessPoolExecutor(
        max_workers=workers, mp_context=multiprocessing.get_context("forkserver")
    )


def _broken(ex) -> bool:
    """Whether a worker of ``ex`` died (OOM-kill, SIGKILL). The one read
    of ProcessPoolExecutor's private ``_broken`` flag; without it the
    executor counts as healthy, and a dead worker still fails its
    futures with BrokenExecutor, which search_local retries."""
    return bool(getattr(ex, "_broken", False))


def _serve_pool():
    """Shared multi-worker pool for REPLICATE-mode serving: chunks land
    on any free worker (work stealing a fixed per-worker executor cannot
    do), which is what keeps lone-query fan-out latency low and loaded
    throughput at cores/(CPU-per-query). Workers may cache the whole
    index's readers — safe because replicate mode is bytes-bounded."""
    global _SERVE_POOL
    if _SERVE_POOL is None:
        with _SERVE_POOL_LOCK:
            if _SERVE_POOL is None:
                _SERVE_POOL = _new_executor(_WORKERS)
    return _SERVE_POOL


def _shard_of(pid: int, n_shards: int) -> int:
    return (pid // _SHARD_BLOCK) % n_shards


def _by_shard(pids: list[int], n_shards: int) -> dict[int, list[int]]:
    """pids grouped by the shard that owns them (``_shard_of``)."""
    out: dict[int, list[int]] = {}
    for p in pids:
        out.setdefault(_shard_of(p, n_shards), []).append(p)
    return out


def _serve_shards():
    """STICKY serving shards: one single-process executor per core;
    segment pid p is always served by shard ``_shard_of(p)``.

    Processes, not threads: the kernel is GIL-bound small-array numpy.
    STICKY, not a shared pool: a shared pool routes a segment to a
    different worker every query, so each worker's reader cache tends
    toward the WHOLE index — O(workers x segments) memory (OOM at 1280
    segments) or, LRU-capped, a reload storm (measured 2.6-5.6s/query).
    With affinity each worker's working set is exactly its own slice —
    bounded memory, always-warm caches. This is the shape a distributed
    serving tier has (segments sharded across replicas); one process
    here = one replica there, and _ShardDispatcher is its per-replica
    request batcher."""
    global _SERVE_SHARDS
    if _SERVE_SHARDS is None:
        with _SERVE_POOL_LOCK:
            if _SERVE_SHARDS is None:
                _SERVE_SHARDS = [
                    _ShardDispatcher(_new_executor(1)) for _ in range(_WORKERS)
                ]
    return _SERVE_SHARDS


class _ShardDispatcher:
    """Per-shard REQUEST BATCHER: every query pending for a shard rides
    the next single process round-trip.

    Why: with per-query-per-shard tasks, N concurrent clients x S shards
    mean N*S pickles/submits/result-reads per wave — all serialized on
    the MAIN process's GIL, which measured as the throughput ceiling
    (8 clients dropped from 163 to ~30 qps when the sticky fan-out
    multiplied task count). Batching makes main-process IPC O(shards)
    per wave instead of O(queries x shards) — exactly the request
    batching a real serving replica performs."""

    def __init__(self, executor):
        self.ex = executor
        self.lock = threading.Lock()
        self.pending: list = []  # [(args, Future)]
        self.inflight = False

    def heal_if_broken(self) -> None:
        """Replace a broken single-worker executor (its process was
        OOM-killed / SIGKILLed) with a fresh one so the shard serves
        again — the per-replica restart a real serving tier performs.
        The replacement worker reloads its owned readers lazily on the
        first query (bounded: one shard's slice). Thread-safe; idempotent
        when racing healers (only the thread seeing the broken executor
        swaps it)."""
        with self.lock:
            if not _broken(self.ex):
                return
            old = self.ex
            self.ex = _new_executor(1)
            self.inflight = False
        old.shutdown(wait=False)

    def submit(self, *args):
        from concurrent.futures import Future

        fut: Future = Future()
        with self.lock:
            self.pending.append((args, fut))
            if self.inflight:
                return fut
            self.inflight = True
        self._kick()
        return fut

    def _kick(self) -> None:
        with self.lock:
            batch = self.pending
            self.pending = []
            if not batch:
                self.inflight = False
                return
        try:
            task = self.ex.submit(_serve_batch, [a for a, _ in batch])
        except BaseException as e:  # executor shut down / broken
            # fail the grabbed batch AND anything queued since the grab:
            # entries left in self.pending here would otherwise never be
            # dispatched and their callers would block forever in
            # Future.result() (ADVICE r5)
            with self.lock:
                stranded = self.pending
                self.pending = []
                self.inflight = False
            for _, f in batch + stranded:
                f.set_exception(e)
            return

        def _done(t, batch=batch):
            try:
                results = t.result()
                for (_, f), r in zip(batch, results):
                    f.set_result(r)
            except BaseException as e:  # noqa: BLE001 — propagate to callers
                for _, f in batch:
                    f.set_exception(e)
            self._kick()  # drain anything that queued while we ran

        task.add_done_callback(_done)


def _serve_batch(args_list):
    """Worker side of the batcher: run each queued query's chunk over
    this shard's segments, one plan re-derivation per query (cached,
    ~0.1 ms warm)."""
    return [_serve_chunk(*args) for args in args_list]


def _serve_chunk(
    index_dir: str,
    query: str,
    k: int,
    threshold: float,
    pids: list[int] | None,
):
    """The unit of work of every pool worker and Spark task: ``_sweep``
    over a slice of segments (``pids=None`` = the whole index,
    replicate-mode's one-task query). Re-plans from the query string
    (worker-local generation-keyed caches make that ~0.1 ms warm) so only
    strings and ints cross the process boundary."""
    plan = _query_plan(index_dir, query)
    return _sweep(index_dir, plan, plan[3] if pids is None else pids, k, threshold)


def _merge_parts(parts, k: int):
    ids = (
        np.concatenate([p[0] for p in parts]) if parts else np.empty(0, np.int64)
    )
    sc = np.concatenate([p[1] for p in parts]) if parts else np.empty(0)
    return topk_arrays(ids, sc, k)


def _heal_pools() -> None:
    """Recover broken serving executors (a worker process killed by the
    OS mid-query). Replicate mode: drop the shared pool so the next
    query lazily rebuilds it; shard mode: swap only the dead shard's
    executor. Called from search_local's retry loop on BrokenExecutor —
    in-flight queries on the dead worker fail over via that retry, so a
    worker kill costs one retry + one worker cold start, never a wrong
    or silently-empty result."""
    global _SERVE_POOL
    with _SERVE_POOL_LOCK:
        if _SERVE_POOL is not None and _broken(_SERVE_POOL):
            _SERVE_POOL.shutdown(wait=False)
            _SERVE_POOL = None
    if _SERVE_SHARDS is not None:
        for sh in _SERVE_SHARDS:
            sh.heal_if_broken()


def warm_serving_pool(index_dir: str) -> None:
    """Serving-tier startup warmup: start the pool kind that serves
    ``index_dir`` (``_replicated``), pre-import the kernel modules in its
    workers (one-time ~0.3 s/worker of numpy/pyarrow) and have them load
    the index's caches by scoring one head-term query: every shared-pool
    worker the whole index, each shard EXACTLY the segments it owns
    (block -> shard map) — the replica-loads-its-shard startup a
    distributed serving tier performs. An empty index warms the imports
    of the shared pool only. Optional; the first queries on a cold pool
    pay the same cost lazily otherwise."""
    pids = sorted(r["partition_id"] for r in _manifest(index_dir))
    ts = None
    if pids:
        # the warm query must actually score postings (an absent term
        # would short-circuit before the dict/norms loads) — use the
        # head term
        ts = pq.read_table(
            os.path.join(index_dir, TERM_STATS_FILE), columns=["term", "df"]
        )
    if ts is None or ts.num_rows == 0:
        # an empty index (pc.index over zero rows returns -1 and the
        # head-term lookup would die with an opaque IndexError during
        # tier startup): import-only warmup of the pool it routes to
        list(_serve_pool().map(_sig, ["/"] * (_WORKERS * 4), chunksize=1))
        return
    head = str(ts["term"][int(pc.index(ts["df"], pc.max(ts["df"])).as_py())])
    if _replicated(index_dir):
        # REPLICATE startup: every shared-pool worker loads the FULL
        # reader set (a replicate-mode chunk may land on any of them);
        # oversubmit so idle workers each pick up at least one sweep
        # with high probability.
        pool = _serve_pool()
        futs = [
            pool.submit(_serve_chunk, index_dir, head, 1, 0.0, None)
            for _ in range(_WORKERS * 2)
        ]
    else:
        # SHARD startup: each worker loads exactly its owned blocks —
        # the same block->shard map the serving path uses.
        shards = _serve_shards()
        futs = [
            shards[s].submit(index_dir, head, 1, 0.0, ps)
            for s, ps in _by_shard(pids, len(shards)).items()
        ]
    for f in futs:
        f.result()


def search_local(
    index_dir: str,
    query: str,
    k: int = 10,
    threshold: float = 0.0,
) -> list[tuple[int, float]]:
    """The SERVING path: evaluate the query against the segment files
    directly — no Spark session, no job dispatch, no driver roundtrip.
    Rank-identical to the Spark path (same unit of work, same exact
    merge). Returns [(doc_id, score)] in (score desc, doc_id asc)
    order.

    Load-adaptive execution, each unit of work one ``_sweep`` (the
    kernel is GIL-bound, so all parallelism is process-based):
    - a lone query over <= _INLINE_MAX_SEGMENTS segments sweeps inline:
      lowest latency, zero IPC;
    - otherwise a replicated index (``_replicated``) is swept on the
      shared pool in stride pid chunks (``_serve_chunk``), one per
      worker of the query's share: ``_WORKERS // active`` (floor 1, at
      most one chunk per segment). A lone query spreads over every
      worker; under load each query tends to ONE task and qps scales
      with cores;
    - a bigger index fans out to the sticky shards that own its pids.

    Failures are classified, with at most 4 attempts: DSLParseError (a
    user error) raises at once; BrokenExecutor (a dead worker) heals the
    pools, then backs off; OSError, KeyError, IndexError and ValueError
    (a query racing a compact/merge flip) back off and re-plan. The
    back-offs are 0.02, 0.04 and 0.06 s, and the 4th failure raises.
    Any other error raises at once."""
    from concurrent.futures import BrokenExecutor

    global _ACTIVE_QUERIES
    with _ACTIVE_LOCK:
        _ACTIVE_QUERIES += 1

    def attempt():
        # admission snapshot taken PER ATTEMPT: a self-heal retry during a
        # load spike must see current load, not the share captured at
        # query entry (a stale too-generous fan-out under-admits everyone)
        with _ACTIVE_LOCK:
            active = _ACTIVE_QUERIES
        plan = _query_plan(index_dir, query)
        pids = plan[3]
        if active == 1 and len(pids) <= _INLINE_MAX_SEGMENTS:
            return _sweep(index_dir, plan, pids, k, threshold)
        if _replicated(index_dir):
            n_chunks = max(1, min(len(pids), _WORKERS // active))
            pool = _serve_pool()
            futs = [
                pool.submit(
                    _serve_chunk, index_dir, query, k, threshold, pids[i::n_chunks]
                )
                for i in range(n_chunks)
            ]
        else:
            shards = _serve_shards()
            futs = [
                shards[s].submit(index_dir, query, k, threshold, ps)
                for s, ps in _by_shard(pids, len(shards)).items()
            ]
        return _merge_parts([f.result() for f in futs], k)

    try:
        for retry in range(4):
            try:
                ids, sc = attempt()
                return [(int(d), float(s)) for d, s in zip(ids, sc)]
            except dsl.DSLParseError:
                raise  # a user error: no maintenance race to wait out
            except (BrokenExecutor, OSError, KeyError, IndexError, ValueError) as e:
                # a query planned just before a compact/merge flip can
                # race the cleanup of superseded files; re-planning reads
                # the flipped manifest. Bounded: rounds can flip again.
                if retry == 3:
                    raise
                if isinstance(e, BrokenExecutor):
                    _heal_pools()
                time.sleep(0.02 * (retry + 1))
    finally:
        with _ACTIVE_LOCK:
            _ACTIVE_QUERIES -= 1


def search_index(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    threshold: float = 0.0,
    mode: str = "auto",
) -> DataFrame:
    """Top-k over the segment index, globally ranked; every root text
    query takes the one block-pruned scorer.

    mode:
    - "spark": one ``_serve_chunk`` task per stride chunk of the pids,
      then one TakeOrdered merge — the cluster path (segments on shared
      storage, 10^4+ of them). Tasks re-plan from strings and ints and
      raise if the index changed (``_generation``) since this call, so
      an append, delete or compact before collect fails the query.
    - "local": the SERVING path — search_local's load-adaptive
      execution (inline sweep for a lone serving-sized query, chunked
      process-pool fan-out under load or at huge segment counts).
      Spark job dispatch costs ~0.5-1 s/query; a search serving tier
      reads the segment files directly, exactly like this. Results are
      rank-identical.
    - "auto": local while the segment count is serving-sized (<=2048),
      spark beyond. Threshold from measurement, judged on p95 as well
      as p50 (BENCH/BASELINE.md "Serving latency vs segment count"):
      the adaptive local path — inline <=128 segments, chunked
      process-pool fan-out beyond — holds p95 <= 0.25s at every
      measured count up to 2048, while Spark job dispatch alone costs
      1-3s. 2048 is the largest MEASURED point, not an extrapolation,
      so auto hands off to spark past it (a 10^4+-segment index also
      stops fitting one serving node's page cache, which is what
      actually ends the local regime at scale).
    """
    from pyspark.sql import functions as F

    from refimage_spark.index.build import _per_segment_job, spark_tasks

    pids = _query_plan(index_dir, query)[3]  # parses: user errors fail here
    if mode == "auto":
        mode = "local" if len(pids) <= 2048 else "spark"

    if mode == "local":
        rows = search_local(index_dir, query, k, threshold)
        return spark.createDataFrame(rows, RESULT_SCHEMA)

    gen = _generation(index_dir)

    def run(chunk: list[int]) -> pa.RecordBatch | None:
        ids, sc = _serve_chunk(index_dir, query, k, threshold, chunk)
        if _generation(index_dir) != gen:  # a generation never returns
            raise RuntimeError(f"{index_dir} changed during a spark-mode query")
        if not ids.size:
            return None
        return pa.record_batch(
            [pa.array(ids, pa.int64()), pa.array(sc, pa.float64())],
            names=["doc_id", "score"],
        )

    n = spark_tasks(spark, len(pids))  # one chunk per task
    cand = _per_segment_job(
        spark, [(pids[i::n],) for i in range(n)], run, RESULT_SCHEMA
    )
    return cand.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def index_stats(index_dir: str) -> dict:
    """K5 (reference get_stats, src/refimage/search/__init__.py:398-410):
    corpus + index statistics from the manifest and stats.json, plus
    serving-tier observability (in-flight query count and pool
    saturation — what an operator watches to size the tier)."""
    stats = load_stats(index_dir)
    manifest = read_manifest(index_dir)
    with _ACTIVE_LOCK:
        active = _ACTIVE_QUERIES
    # the pool that serves this index: the index's bytes pick the mode
    if _replicated(index_dir):
        pool_started = _SERVE_POOL is not None
        pool_workers = _WORKERS if pool_started else 0
    else:
        pool_started = _SERVE_SHARDS is not None
        pool_workers = len(_SERVE_SHARDS) if pool_started else 0
    return {
        "n_docs": stats["n_docs"],
        "avgdl": stats["avgdl"],
        "n_segments": len(manifest),
        "n_postings": sum(r["n_postings"] for r in manifest),
        "n_terms_total": sum(r["n_terms"] for r in manifest),
        "post_bytes": sum(r["bytes"] for r in manifest),
        "num_parts": stats["num_parts"],
        "tokenizer": stats.get("tokenizer"),
        "serving": {
            "active_queries": active,
            "pool_started": pool_started,
            "pool_workers": pool_workers,
            # >1.0 means queries are queueing behind the pool
            "pool_saturation": (
                round(active / pool_workers, 3) if pool_workers else 0.0
            ),
        },
    }

