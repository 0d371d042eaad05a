"""One benchmark run (started by ``perfbench/run.py``).

Every workload runs the same stages on its own index shape and query
mix:

1. set-up (``setup_s``): start Spark, build the index over the seeded
   pages, warm the serving pool and this process's caches;
2. serving: rounds of one closed-loop client, ``nproc`` closed-loop
   clients and an open loop at the workload's fixed rate;
3. answer check against the DuckDB oracle (not timed);
4. maintenance: the merge policy beside a fixed-rate reader, then a
   tombstone delete, each followed by its checks.

A wrong answer or an unexpected exception counts as a failed
operation. With ``--trace 1`` the serving calls are wrapped in spans
(``tracing.py``), the run adds two stages that feed only per-layer
metrics (5. curation operators over the first pages; 6. a warm build,
append, delete and compact on a small side index), and it reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 10
ROUNDS = 6
WARM_QUERIES = 50
BLOCKMAX_SEGMENTS = 32
# Queries are drawn before serving starts, enough for every phase to run
# at this many requests a second: about ten times the fastest rate seen
# (4 clients on serve_small). A phase that still runs dry fails the run.
STREAM_CEILING_QPS = 2000.0
COVERAGE_MIN = 0.9  # share of inline search_local wall the spans must cover
MINHASH_THRESHOLD = 0.4
SIMHASH_MAX_HAMMING = 3
COMMON = {
    "delete_share": 0.02,
    "phase_split": (0.35, 0.2, 0.45),  # 1 client / nproc clients / open loop
    "merge_check_queries": 20,
    # traced runs only: curation over the first pages, and a side index
    # built from the next rows and appended to from the rows after them
    "curate_docs": 2000,
    "ingest_pages": 2000,
    "append_pages": 500,
    "ingest_parts": 32,
    "ingest_check_queries": 10,
}
# open_rate is about half of today's 4-client capacity (qps_4c) on a
# 4-vCPU machine: on serve_small the medians of five sets of runs were
# 174-308 q/s (about 200 in ordinary load), on serve_wide 41.7 and
# 43.7 q/s.
WORKLOADS = {
    "serve_small": {
        "pages": 10000,
        "parts": 32,
        "pool": 50,
        "zipf_s": 0.8,
        "malformed_share": 0.02,
        "open_rate": 100.0,
        "reader_rate": 2.0,
    },
    "serve_wide": {
        "pages": 30000,
        "parts": 160,
        "skew_share": 0.8,
        "df_floor": K * 160,  # k docs per segment on average
        "open_rate": 21.0,
        "reader_rate": 2.0,
        "oracle_sample": 40,
    },
}


def simhash(text: str) -> int:
    """60-bit SimHash of ``text``, written out from the definition in
    ``operators/dedup.py``: bit j is set when the tf-weighted vote of
    bit j of md5int60(term) over the text's terms is positive."""
    import hashlib
    from collections import Counter

    import numpy as np

    from refimage_spark.tokenizer import py_tokens

    tf = Counter(t for t in py_tokens(text) if t)
    h = np.array(
        [int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") >> 4 for t in tf],
        dtype=np.int64,
    )
    n = np.array(list(tf.values()), dtype=np.int64)
    votes = n @ ((h[:, None] >> np.arange(60)) & 1)
    return sum(1 << j for j in np.flatnonzero(2 * votes - n.sum() > 0).tolist())


def percentile(xs: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, -(-p * len(s) // 100) - 1)]


def rss_mb(java_pid: int | None) -> float:
    """Resident MB of this process and its descendants, less the JVM
    and everything under it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    keep, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c != java_pid and c not in keep:
                keep.add(c)
                frontier.append(c)
    kb = 0
    for p in keep:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmRSS:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024.0


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.cfg = {**COMMON, **WORKLOADS[args.workload]}
        self.ncpu = len(os.sched_getaffinity(0))
        self.work = args.work
        self.idx = os.path.join(self.work, "index")
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer = None
        self.n_reader = 0

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(what)

    # ---- inputs (not timed) ----------------------------------------------

    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from perfbench import corpus

        c, seed = self.cfg, self.args.seed
        pages = corpus.make_pages(seed, c["pages"])
        self.text_bytes = pc.sum(pc.binary_length(pages["text"])).as_py()
        self.pages_path = os.path.join(self.work, "pages.parquet")
        pq.write_table(pages, self.pages_path)
        n = int(self.args.seconds * STREAM_CEILING_QPS) + 1000
        if self.args.workload == "serve_small":
            self.pool = corpus.small_pool(seed, c["pool"])
            stream = corpus.small_stream(
                seed, self.pool, n, c["zipf_s"], c["malformed_share"]
            )
        else:
            df = corpus.doc_freqs(seed, c["pages"])
            stream = corpus.wide_stream(seed, df, n, c["skew_share"], c["df_floor"])
        self.stream = stream
        self.malformed = set(corpus.MALFORMED)
        if self.args.trace:
            n_cur, n_ing, n_app = c["curate_docs"], c["ingest_pages"], c["append_pages"]
            self.docs_path = os.path.join(self.work, "docs.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(range(n_cur), pa.int64()),
                        "text": pages["text"][:n_cur],
                        "lang": pages["lang"][:n_cur],
                    }
                ),
                self.docs_path,
            )
            self.ingest_path = os.path.join(self.work, "ingest_pages.parquet")
            self.append_path = os.path.join(self.work, "append_pages.parquet")
            pq.write_table(pages.slice(0, n_ing), self.ingest_path)
            pq.write_table(pages.slice(n_ing, n_app), self.append_path)

    def take(self, n_used: int) -> list[str]:
        """The stream after the queries already issued: queries are
        consumed in order, so serve_wide never repeats one."""
        self.stream = self.stream[n_used:]
        return self.stream

    # ---- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from refimage_spark.index.build import build_index
        from refimage_spark.index.query import warm_serving_pool
        from refimage_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=self.ncpu,
            shuffle_partitions=2 * self.ncpu,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        pages = self.spark.read.parquet(self.pages_path)
        self.build = build_index(self.spark, pages, self.idx, num_parts=self.cfg["parts"])
        t2 = time.perf_counter()
        warm_serving_pool(self.idx)
        self.warm_up()
        t3 = time.perf_counter()
        gc.collect()  # set-up garbage must not be collected mid-measurement
        gc.freeze()
        self.attempted += 1
        self.e2e["setup_s"] = t3 - t0
        self.e2e["index_bytes_per_text_byte"] = self.build["post_bytes"] / self.text_bytes
        b = self.build
        self.layer.update(
            {
                "session.start_s": t1 - t0,
                "index.build.first_lap_s": t2 - t1,
                "index.query.warm_s": t3 - t2,
                "index.build.pass_a_s": b["pass_a_sec"],
                "index.build.pass_b_s": b["pass_b_sec"],
                "index.build.term_stats_s": b["build_sec"] - b["pass_a_sec"] - b["pass_b_sec"],
                "index.build.postings_per_s": b["n_postings"] / (t2 - t1),
            }
        )

    # ---- serving -------------------------------------------------------------

    def warm_up(self) -> None:
        """Fill the caches the pool warm-up does not reach: every distinct
        query of the first ``WARM_QUERIES`` once inline (this process),
        then all of them again over ``nproc`` clients (pool workers)."""
        from perfbench import loadgen

        qs = [q for q in dict.fromkeys(self.stream) if q not in self.malformed]
        qs = self.warm_qs = qs[:WARM_QUERIES]
        for q in qs:
            self.op(q)
        loadgen.closed_loop(self.op, qs, self.ncpu, float("inf"))
        if self.args.workload == "serve_wide":
            used = set(qs)
            self.stream = [q for q in self.stream if q not in used]

    def op(self, q: str) -> list:
        from refimage_spark.index import query as Q

        return Q.search_local(self.idx, q, k=K)

    def serve(self) -> None:
        """``ROUNDS`` rounds of (1 client, nproc clients, open loop). Each
        end-to-end serving metric is the median of its per-round values,
        so a burst of machine noise that hits a minority of the rounds
        does not move it. In a traced run, 1-client queries alternate
        traced / untraced, and each nproc-client phase runs half
        untraced, half traced, in the order off/on, then on/off, so a
        drift cancels."""
        from perfbench import loadgen

        per_round = self.args.seconds / ROUNDS
        f1, f4, fo = self.cfg["phase_split"]
        tracer = self.tracer
        halves = 1 if tracer is None else 2
        flips = iter(range(1 << 30))
        one = self.op
        if tracer is not None:
            def one(q: str) -> list:
                tracer.on = next(flips) % 2 == 0
                return self.op(q)

        s1, s4, so = [], [], []
        p50, p90, opened = [], [], []
        self.windows1 = []  # (start, end) of each 1-client phase
        qps = [[], []]  # nproc-client throughput per phase: untraced, traced
        for r in range(ROUNDS):
            t0 = time.perf_counter()
            got, _ = loadgen.closed_loop(one, self.stream, 1, per_round * f1)
            self.windows1.append((t0, time.perf_counter()))
            s1 += got
            self.take(len(got))
            lat = [s.latency * 1e3 for s in got if s.query not in self.malformed]
            p50.append(statistics.median(lat))
            p90.append(percentile(lat, 90))
            for half in range(halves):
                traced = (half + r) % 2 == 1 and tracer is not None
                if tracer is not None:
                    tracer.on = traced
                got, wall = loadgen.closed_loop(
                    self.op, self.stream, self.ncpu, per_round * f4 / halves
                )
                s4 += got
                qps[traced].append(len(got) / wall)
                self.take(len(got))
            if tracer is not None:
                tracer.on = False
            got = loadgen.open_loop(
                self.op, self.stream, self.ncpu, self.cfg["open_rate"], per_round * fo
            )
            so += got
            opened.append(statistics.fmean(s.latency * 1e3 for s in got))
            self.take(len(got))
        self.e2e["rss_mb"] = rss_mb(self._java_pid())
        self.samples = s1 + s4 + so
        self.attempted += len(self.samples)

        self.e2e["lat_p50_ms"] = statistics.median(p50)
        self.layer["serve.lat_p90_ms"] = statistics.median(p90)
        self.e2e["qps_4c"] = statistics.median(qps[0] + qps[1])
        self.e2e["open_mean_ms"] = statistics.median(opened)
        self.layer["loadgen.late_ms"] = percentile([(s.sent - s.due) * 1e3 for s in so], 95)
        self.n_lat_samples = sum(s.query not in self.malformed for s in s1)
        if tracer is not None:
            self._serve_layers(s1, qps)

    def _serve_layers(self, s1, qps) -> None:
        from perfbench import loadgen, tracing
        from perfbench.corpus import MALFORMED

        ok = [(i, s.latency) for i, s in enumerate(s1) if s.query not in self.malformed]
        traced = [t for i, t in ok if i % 2 == 0]
        plain = [t for i, t in ok if i % 2 == 1]
        rows = [
            r
            for r in tracing.breakdown(self.tracer.spans)
            if any(a <= r["start"] <= b for a, b in self.windows1)
        ]
        med = lambda k: statistics.median(r[k] for r in rows)  # noqa: E731
        self.layer.update(
            {
                "trace.overhead_p50_frac": statistics.median(traced) / statistics.median(plain) - 1.0,
                "trace.overhead_qps_frac": 1.0 - sum(qps[1]) / sum(qps[0]),
                "dsl.parse_us": statistics.median(
                    (s[3] - s[2]) * 1e6 for s in self.tracer.spans if s[1] == tracing.PARSE
                ),
                "index.query.plan_ms": med("plan_ms"),
                "index.segment.lookup_ms": med("lookup_ms"),
                "index.codec.decode_ms": med("decode_ms"),
                "index.query.kernel_ms": med("kernel_ms"),
                "index.query.merge_ms": med("merge_ms"),
                "index.query.dispatch_ms": med("dispatch_ms"),
                "index.query.unaccounted_frac": med("unaccounted_frac"),
                "index.segment.postings_read": med("postings_read"),
                "index.query.docs_scored": med("docs_scored"),
                "index.query.topk_yield": med("topk_yield"),
            }
        )
        if self.args.workload == "serve_small":
            self.fail(
                int(self.layer["index.query.unaccounted_frac"] > 1.0 - COVERAGE_MIN),
                f"spans cover less than {COVERAGE_MIN:.0%} of search_local wall time",
            )
        rejects = [loadgen.call(self.op, q, time.perf_counter()) for q in MALFORMED]
        self.fail(
            sum(s.error != "DSLParseError" for s in rejects), "malformed query not rejected"
        )
        self.attempted += len(rejects)
        self.layer["dsl.reject_ms"] = statistics.median(s.latency * 1e3 for s in rejects)
        self._block_max()

    def _block_max(self) -> None:
        """Block-max WAND counters for up to four pure-text queries of
        the stream already issued, over an evenly spaced sample of about
        ``BLOCKMAX_SEGMENTS`` segments."""
        from refimage_spark import dsl
        from refimage_spark.index import query as Q
        from refimage_spark.index.segment import SegmentReader, read_manifest
        from refimage_spark.tokenizer import py_tokens

        texts = []
        for s in self.samples:
            if s.query in self.malformed or s.query in texts:
                continue
            if isinstance(dsl.parse(s.query), dsl.TextQuery) and len(py_tokens(s.query)) > 1:
                texts.append(s.query)
            if len(texts) == 4:
                break
        avgdl = float(Q.load_stats(self.idx)["avgdl"])
        pids = sorted(r["partition_id"] for r in read_manifest(self.idx))
        pids = pids[:: max(1, len(pids) // BLOCKMAX_SEGMENTS)]
        ctr: dict = {}
        for q in texts:
            node = dsl.parse(q)
            terms = py_tokens(node.text)
            idfs = Q.make_idfs(self.idx, terms)
            for p in pids:
                Q.wand_topk_segment(
                    SegmentReader(self.idx, p), terms, idfs, avgdl, K,
                    weight=node.weight, counters=ctr,
                )
        total = ctr.get("total_blocks", 0)
        self.layer["index.segment.blocks_total"] = total
        self.layer["index.segment.blocks_decoded"] = ctr.get("decoded_blocks", 0)
        self.layer["index.segment.block_skip_frac"] = (
            1.0 - ctr.get("decoded_blocks", 0) / total if total else 0.0
        )

    def _java_pid(self) -> int | None:
        try:
            return self.spark.sparkContext._gateway.proc.pid
        except AttributeError:
            return None

    def check_serving(self) -> None:
        import random

        from perfbench.oracle import Bm25Oracle, same_topk

        answers: dict[str, dict[tuple, int]] = {}
        for s in self.samples:
            if s.query in self.malformed:
                self.fail(s.error != "DSLParseError", f"malformed {s.query!r} -> {s.error}")
            elif s.error is not None:
                self.fail(1, f"{s.query!r} raised {s.error}")
            else:
                got = answers.setdefault(s.query, {})
                key = tuple(s.result)
                got[key] = got.get(key, 0) + 1
        queries = sorted(answers)
        if self.args.workload == "serve_wide":
            queries = random.Random(self.args.seed).sample(
                queries, min(len(queries), self.cfg["oracle_sample"])
            )
        oracle = Bm25Oracle(self.idx, self.ncpu)
        try:
            for q in queries:
                want = oracle.topk(q, K)
                for got, n in answers[q].items():
                    self.fail(0 if same_topk(list(got), want, K) else n, f"wrong answer: {q!r}")
        finally:
            oracle.close()
        self.n_checked = len(queries)

    # ---- maintenance -----------------------------------------------------------

    def maintain(self) -> None:
        """Merge policy beside a fixed-rate reader, then a tombstone delete."""
        import random

        import pyarrow.parquet as pq

        from perfbench import loadgen
        from refimage_spark.index import merge as M
        from refimage_spark.index.admin import fsck_index
        from refimage_spark.index.segment import read_manifest

        checks = [q for q in dict.fromkeys(self.stream) if q not in self.malformed]
        checks = checks[: self.cfg["merge_check_queries"]]
        reader_queries = self.take(len(checks))
        size = lambda: {r["partition_id"]: r["bytes"] for r in read_manifest(self.idx)}  # noqa: E731
        before = [self.op(q) for q in checks]
        m0 = size()
        with loadgen.Reader(self.op, reader_queries, self.cfg["reader_rate"]) as reader:
            t0 = time.perf_counter()
            mr = M.run_merge_policy(self.idx, spark=self.spark)
            merge_s = time.perf_counter() - t0
        m1 = size()
        after = [self.op(q) for q in checks]
        ids = pq.read_table(os.path.join(self.idx, "docs.parquet"), columns=["doc_id"])
        ids = sorted(ids["doc_id"].to_pylist())
        gone = random.Random(self.args.seed).sample(
            ids, int(len(ids) * self.cfg["delete_share"])
        )
        M.delete_docs(self.idx, gone)
        final = [self.op(q) for q in checks]
        self.attempted += 2 + len(reader.samples) + 3 * len(checks)

        rewritten = sum(b for p, b in m1.items() if p not in m0)
        self.layer.update(
            {
                "index.merge.merge_s": merge_s,
                "index.merge.rounds": mr["rounds"],
                "index.merge.groups": len(mr["merged_groups"]),
                "index.merge.segments_before": len(m0),
                "index.merge.segments_after": len(m1),
                "index.merge.bytes_rewritten": rewritten,
                "index.merge.write_amp": rewritten / sum(m0.values()),
                "index.merge.read_p50_ms": statistics.median(
                    [s.latency * 1e3 for s in reader.samples] or [0.0]
                ),
            }
        )
        self.n_reader = len(reader.samples)

        self.fail(
            sum(
                s.error != ("DSLParseError" if s.query in self.malformed else None)
                for s in reader.samples
            ),
            "reader query failed during merge",
        )
        self.fail(sum(b != a for b, a in zip(before, after)), "ranking changed across merge")
        gone_set = set(gone)
        self.fail(
            sum(any(d in gone_set for d, _ in r) for r in final), "deleted doc returned"
        )
        reordered = 0
        for a, f in zip(after, final):
            kept = [d for d, _ in a if d not in gone_set]
            reordered += [d for d, _ in f][: len(kept)] != kept
        self.fail(reordered, "delete changed the ranking of surviving docs")
        fsck = fsck_index(self.idx, deep=True)
        self.fail(0 if fsck["ok"] else 1, f"fsck: {fsck['errors'][:3]}")

    # ---- curation and write path (traced runs only) ------------------------------

    def curate(self) -> None:
        """Each curation operator once over the first ``curate_docs``
        pages, timed to completion; then every reported pair is
        re-verified in Python and every duplicated text must be found."""
        import pyarrow.parquet as pq

        from refimage_spark.operators import dedup, textstats
        from refimage_spark.tokenizer import py_tokens

        docs = self.spark.read.parquet(self.docs_path)
        texts = pq.read_table(self.docs_path, columns=["text"])["text"].to_pylist()
        n = len(texts)
        candidates: list = []
        lsh = dedup.lsh_candidate_pairs

        def keep_candidates(*a, **kw):
            candidates.append(lsh(*a, **kw))
            return candidates[-1]

        def timed(f):
            t0 = time.perf_counter()
            out = f()
            return out, time.perf_counter() - t0

        dedup.lsh_candidate_pairs = keep_candidates
        try:
            quality, t_q = timed(lambda: textstats.quality_score(docs).collect())
            langs, t_l = timed(lambda: textstats.lang_id(docs).collect())
            exact, t_e = timed(lambda: dedup.exact_dedup(docs).collect())
            mh, t_m = timed(
                lambda: dedup.minhash_neardup_pairs(docs, MINHASH_THRESHOLD).collect()
            )
            sh, t_s = timed(
                lambda: dedup.simhash_neardup_pairs(docs, SIMHASH_MAX_HAMMING).collect()
            )
        finally:
            dedup.lsh_candidate_pairs = lsh
        n_cand = candidates[0].count()
        self.attempted += 5

        self.fail(
            int(len(quality) != n or not all(0.0 <= r["quality"] <= 1.0 for r in quality)),
            "quality_score: wrong row count or score outside [0, 1]",
        )
        self.fail(int(len(langs) != n), "lang_id: wrong row count")
        by_text: dict[str, list[int]] = {}
        for i, t in enumerate(texts):
            by_text.setdefault(t, []).append(i)
        self.fail(
            int(sorted((r["doc_id"], r["n_copies"]) for r in exact)
                != sorted((ids[0], len(ids)) for ids in by_text.values())),
            "exact_dedup: survivors differ from the distinct texts",
        )
        dups = {(a, b) for ids in by_text.values() for a in ids for b in ids if a < b}
        shingles = {}

        def shingle_set(i: int) -> set[str]:
            if i not in shingles:
                toks = py_tokens(texts[i])
                shingles[i] = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
            return shingles[i]

        bad = 0
        for r in mh:
            a, b = shingle_set(r["doc_a"]), shingle_set(r["doc_b"])
            j = len(a & b) / len(a | b)
            bad += abs(j - r["jaccard"]) > 1e-6 or round(j, 6) < MINHASH_THRESHOLD
        self.fail(bad, "minhash pair fails exact Jaccard")
        fps: dict[int, int] = {}
        for r in sh:
            for d in (r["doc_a"], r["doc_b"]):
                if d not in fps:
                    fps[d] = simhash(texts[d])
        bad = 0
        for r in sh:
            h = bin(fps[r["doc_a"]] ^ fps[r["doc_b"]]).count("1")
            bad += h != r["hamming"] or h > SIMHASH_MAX_HAMMING
        self.fail(bad, "simhash pair fails exact Hamming distance")
        self.fail(len(dups - {(r["doc_a"], r["doc_b"]) for r in mh}), "minhash missed a duplicate")
        self.fail(len(dups - {(r["doc_a"], r["doc_b"]) for r in sh}), "simhash missed a duplicate")
        self.layer.update(
            {
                "operators.textstats.quality_s": t_q,
                "operators.textstats.lang_id_s": t_l,
                "operators.dedup.exact_s": t_e,
                "operators.dedup.minhash_s": t_m,
                "operators.dedup.simhash_s": t_s,
                "operators.dedup.minhash_candidates": n_cand,
                "operators.dedup.minhash_pairs": len(mh),
                "operators.dedup.minhash_verify_yield": len(mh) / n_cand if n_cand else 0.0,
                "operators.dedup.simhash_pairs": len(sh),
            }
        )
        print(
            f"perfbench: {len(mh)} minhash and {len(sh)} simhash pairs re-verified, "
            f"{len(dups)} identical-text pairs looked up",
            file=sys.stderr,
        )

    def write_path(self) -> None:
        """A second (warm) ``build_index`` lap over ``ingest_pages`` pages
        into a side index, ``append_pages`` of the next ``append_pages``
        rows, then ``delete_docs`` and ``compact``; answers are checked
        against the oracle after the append and after the compact."""
        import random

        import pyarrow.parquet as pq

        from refimage_spark.index import merge as M
        from refimage_spark.index.admin import fsck_index
        from refimage_spark.index.build import build_index

        c = self.cfg
        side = os.path.join(self.work, "ingest")
        checks = self.warm_qs[: c["ingest_check_queries"]]
        t0 = time.perf_counter()
        build_index(
            self.spark, self.spark.read.parquet(self.ingest_path), side,
            num_parts=c["ingest_parts"],
        )
        t1 = time.perf_counter()
        n0 = self._n_docs(side)
        ap = M.append_pages(self.spark, self.spark.read.parquet(self.append_path), side)
        t2 = time.perf_counter()
        n1 = self._n_docs(side)
        self.fail(int(n1 != n0 + ap["appended_docs"] or ap["appended_docs"] == 0),
                  f"append_pages: {n0} + {ap['appended_docs']} docs, {n1} after")
        self.fail(int(ap["new_segments"] != c["ingest_parts"]),
                  f"append_pages wrote {ap['new_segments']} segments")
        self._check_against_oracle(side, checks, "after append_pages")
        ids = pq.read_table(os.path.join(side, "docs.parquet"), columns=["doc_id"])
        ids = sorted(ids["doc_id"].to_pylist())
        gone = set(
            random.Random(self.args.seed).sample(ids, int(len(ids) * c["delete_share"]))
        )
        t3 = time.perf_counter()
        M.delete_docs(side, sorted(gone))
        t4 = time.perf_counter()
        masked = [self.search(side, q) for q in checks]
        t5 = time.perf_counter()
        M.compact(self.spark, side)
        t6 = time.perf_counter()
        compacted = [self.search(side, q) for q in checks]
        self.attempted += 4 + 2 * len(checks)
        self.fail(
            sum(any(d in gone for d, _ in r) for r in masked + compacted),
            "deleted doc returned on the side index",
        )
        self.fail(int(self._n_docs(side) != n1 - len(gone)), "compact kept a deleted doc")
        self._check_against_oracle(side, checks, "after compact")
        fsck = fsck_index(side, deep=True)
        self.fail(0 if fsck["ok"] else 1, f"fsck after compact: {fsck['errors'][:3]}")
        self.layer.update(
            {
                "index.build.warm_lap_s": t1 - t0,
                "index.merge.append_s": t2 - t1,
                "index.merge.append_segments": ap["new_segments"],
                "index.merge.compact_s": (t4 - t3) + (t6 - t5),
            }
        )

    def search(self, index_dir: str, q: str) -> list:
        from refimage_spark.index import query as Q

        return Q.search_local(index_dir, q, k=K)

    @staticmethod
    def _n_docs(index_dir: str) -> int:
        import pyarrow.parquet as pq

        path = os.path.join(index_dir, "docs.parquet")
        return pq.read_table(path, columns=["doc_id"]).num_rows

    def _check_against_oracle(self, index_dir: str, queries: list[str], when: str) -> None:
        from perfbench.oracle import Bm25Oracle, same_topk

        oracle = Bm25Oracle(index_dir, self.ncpu)
        try:
            wrong = [
                q for q in queries
                if not same_topk(self.search(index_dir, q), oracle.topk(q, K), K)
            ]
            self.fail(len(wrong), f"wrong answer on the side index {when}: {wrong[:3]}")
        finally:
            oracle.close()

    # ---- run -------------------------------------------------------------------

    def close(self) -> None:
        from refimage_spark.index import query as Q

        if Q._SERVE_POOL is not None:
            Q._SERVE_POOL.shutdown(wait=True, cancel_futures=True)
        for sh in Q._SERVE_SHARDS or []:
            sh.ex.shutdown(wait=True, cancel_futures=True)
        if getattr(self, "spark", None) is not None:
            self.spark.stop()

    def stage(self, name: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {name} done at {now - self.t_start:.1f}s", file=sys.stderr)

    def execute(self) -> dict:
        self.t_start = time.perf_counter()
        self.make_inputs()
        self.stage("inputs")
        if self.args.trace:
            from perfbench import tracing

            tracing.enable_in_workers()
            self.tracer = tracing.install()
            self.tracer.on = False
        try:
            self.setup()
            self.stage("setup")
            self.serve()
            self.stage("serve")
            if self.tracer is not None:
                self.tracer.on = False
                self.tracer.dump(
                    os.path.join(HERE, ".work", "traces", f"{self.args.workload}-{self.args.seed}.jsonl")
                )
            self.check_serving()
            self.stage("check")
            if self.args.trace:
                self.maintain()
                self.stage("maintain")
                self.curate()
                self.stage("curate")
                self.write_path()
                self.stage("write path")
        finally:
            self.close()
            self.stage("close")
        return self.report()

    def report(self) -> dict:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        kind, values = ("per_layer", self.layer) if self.args.trace else ("end_to_end", self.e2e)
        missing = [m["name"] for m in spec[kind] if m["name"] not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        for p in self.problems:
            print(f"perfbench: FAILED {p}", file=sys.stderr)
        print(
            f"perfbench: {self.args.workload} seed={self.args.seed}: "
            f"{self.n_lat_samples} 1-client samples, {self.n_checked} queries "
            f"oracle-checked, {self.n_reader} reader queries",
            file=sys.stderr,
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in spec[kind]
            },
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    result = Run(args).execute()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
