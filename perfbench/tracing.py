"""In-memory span recorder wrapped around the serving layers' functions.

The benchmark does not change ``refimage_spark``: in a traced run it
replaces module attributes (``index.query``, ``index.segment``, ``dsl``)
with wrappers that record a span around each call and then call the
original. A span is ``(id, name, start, end, parent, request, count)``;
``start``/``end`` are ``time.perf_counter()`` readings (CLOCK_MONOTONIC,
so spans from serving-pool workers line up with the caller's), and
``count`` carries a per-call quantity (postings decoded, docs scored).

Worker processes get the same wrappers by preloading
``perfbench.worker_trace`` in the serving pool's forkserver
(``enable_in_workers``). A worker's chunk
returns its spans attached to the chunk result (``TracedResult``); the
caller's merge wrapper adopts them under the request's root span.
"""

from __future__ import annotations

import itertools
import json
import multiprocessing
import os
import threading
import time

from refimage_spark import dsl
from refimage_spark.index import query as Q
from refimage_spark.index.segment import SegmentReader

ROOT = "index.query.search_local"
PLAN = "index.query.plan"
PARSE = "dsl.parse"
SEGMENT = "index.query.segment"
TOPK = "index.query.topk"
MERGE = "index.query.merge"
CHUNK = "index.query.chunk"
LOOKUP = "index.segment.lookup"
DECODE = "index.codec.decode"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.on = True
        self._ids = itertools.count(1)
        self._reqs = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def adopt(self, spans, req: int, parent: int) -> None:
        """Re-number spans recorded in another process and hang their
        top-level spans under ``parent``."""
        new = {s[0]: next(self._ids) for s in spans}
        for sid, name, t0, t1, par, _, n in spans:
            self.spans.append(
                (new[sid], name, t0, t1, new.get(par, parent), req, n)
            )

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span;
        ``count(args, result)`` gives the span's count."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            if name == ROOT:
                req = next(tracer._reqs)
                parent = None
            else:
                parent, req = (stack[-1][0], stack[-1][2]) if stack else (None, 0)
            stack.append((sid, name, req))
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
            n = count(args, out) if count is not None else None
            tracer.spans.append((sid, name, t0, t1, parent, req, n))
            if name == MERGE:
                for part in args[0]:
                    if isinstance(part, TracedResult):
                        tracer.adopt(part.spans, req, parent)
            return out

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "request", "count")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(keys, s))) + "\n")


class TracedResult(tuple):
    """A chunk's (ids, scores) with the worker's spans attached."""

    spans: list = []

    def __reduce__(self):
        return (_rebuild, (tuple(self), self.spans))


def _rebuild(items, spans):
    r = TracedResult(items)
    r.spans = spans
    return r


def _install_common(t: Tracer) -> None:
    t.wrap(Q, "_query_plan", PLAN)
    t.wrap(dsl, "parse", PARSE)
    t.wrap(Q, "_segment_topk", SEGMENT)
    t.wrap(Q, "topk_arrays", TOPK, count=lambda a, out: int(a[0].size))
    t.wrap(Q, "_merge_parts", MERGE)
    t.wrap(SegmentReader, "lookup_terms", LOOKUP)
    t.wrap(SegmentReader, "read_postings", DECODE,
           count=lambda a, out: int(out[0].size))


def install() -> Tracer:
    """Trace the serving path in this process."""
    t = Tracer()
    t.wrap(Q, "search_local", ROOT, count=lambda a, out: len(out))
    _install_common(t)
    return t


def enable_in_workers() -> None:
    """Preload ``perfbench.worker_trace`` in the serving pool's
    forkserver, so every pool worker records spans; call before the
    first pool starts."""
    multiprocessing.get_context("forkserver").set_forkserver_preload(
        ["__main__", "perfbench.worker_trace"]
    )


def install_worker() -> None:
    """Trace this serving-pool worker; chunks return ``TracedResult``."""
    t = Tracer()
    _install_common(t)
    chunk = Q._serve_chunk

    def traced_chunk(*args, **kwargs):
        mark = len(t.spans)
        sid = next(t._ids)
        t0 = time.perf_counter()
        t._stack().append((sid, CHUNK, 0))
        try:
            out = chunk(*args, **kwargs)
        finally:
            t._stack().pop()
        t.spans.append((sid, CHUNK, t0, time.perf_counter(), None, 0, None))
        res = TracedResult(out)
        res.spans = t.spans[mark:]
        del t.spans[mark:]
        return res

    Q._serve_chunk = traced_chunk


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def breakdown(spans: list[tuple]) -> list[dict]:
    """Per traced request: wall time split into plan, kernel (the
    per-segment ``_segment_topk`` spans, summed over segments and
    workers), merge and dispatch (ms), with counts. ``dispatch`` is the
    part of the request outside plan and merge that no segment or
    worker-chunk span covers: pool queueing and IPC, or loop glue on the
    inline path."""
    by_req: dict[int, list[tuple]] = {}
    for s in spans:
        by_req.setdefault(s[5], []).append(s)
    rows = []
    for ss in by_req.values():
        roots = [s for s in ss if s[1] == ROOT]
        if len(roots) != 1:
            continue
        root = roots[0]
        t0, t1 = root[2], root[3]
        wall = t1 - t0
        kids = [s for s in ss if s is not root]
        merges = {s[0] for s in kids if s[1] == MERGE}
        segs = [s for s in kids if s[1] == SEGMENT]

        def total(name: str, direct: bool = False) -> float:
            return sum(
                s[3] - s[2]
                for s in kids
                if s[1] == name and (not direct or s[4] == root[0])
            )

        def clip(sel) -> list[tuple[float, float]]:
            return [(max(s[2], t0), min(s[3], t1)) for s in sel if s[3] > t0 and s[2] < t1]

        plan, merge = total(PLAN, True), total(MERGE, True)
        busy = _union(clip([s for s in kids if s[1] in (SEGMENT, CHUNK)]))
        scored = sum(s[6] for s in kids if s[1] == TOPK and s[4] not in merges)
        rows.append(
            {
                "start": t0,
                "wall_ms": wall * 1e3,
                "plan_ms": plan * 1e3,
                "parse_us": total(PARSE) * 1e6,
                "lookup_ms": total(LOOKUP) * 1e3,
                "decode_ms": total(DECODE) * 1e3,
                "kernel_ms": sum(s[3] - s[2] for s in segs) * 1e3,
                "merge_ms": merge * 1e3,
                "dispatch_ms": max(0.0, wall - plan - merge - busy) * 1e3,
                "unaccounted_frac": 1.0 - _union(clip(kids)) / wall,
                "postings_read": sum(s[6] for s in kids if s[1] == DECODE),
                "docs_scored": scored,
                "topk_yield": root[6] / scored if scored else 0.0,
            }
        )
    return rows
