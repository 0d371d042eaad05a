"""Deduplication operators for large-scale training-data pipelines.

The reference deduplicates only by exact content hash at ingest
(SHA-256 + UNIQUE constraint, src/refimage/storage.py:130-138,278-281).
At web scale a pipeline needs the whole ladder — exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine — each implemented here as
declarative DataFrame algebra.

Engine-parity hashing: every hash used by MinHash/SimHash is
``md5int60(s) = int(md5(s)[:15 hex], 16)`` — 60 bits, representable as
a non-negative BIGINT in both Spark (`conv`) and DuckDB (hex cast), so
every operator has an exact SQL oracle.

Scale notes (100 TB):
- exact dedup: one hash-shuffle on the digest; keep-first via min(doc_id)
  aggregation (no window, no sort).
- Shingling: ONE Arrow-batched pass (``_shingle_sig_udf``) yields each
  doc's distinct n-gram set AND its MinHash signature (a numpy
  universal-hash broadcast-min over one md5 per shingle) — map-side,
  zero shuffle. MinHash and the exhaustive n-gram path read the same
  checkpointed table.
- MinHash/LSH: the only shuffles are the band-bucket self-join (keys
  are band hashes, uniformly distributed — no skew) and the final pair
  dedup. Candidate verification re-joins the (small) candidate set
  against doc shingle sets; at 10^12 docs ``max_bucket_width`` drops
  boilerplate black-hole buckets before the self-join.
- SimHash: fingerprint is a map-side aggregate per doc; near-dup join
  blocks on 15-bit fingerprint quarters (pigeonhole: hamming<=3 pairs
  share >=1 of 4 blocks), then verifies with bit_count(xor).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from refimage_spark.session import spread_small_scan
from refimage_spark.tokenizer import py_tokens

# ---- engine-parity hash ------------------------------------------------------


def md5int60(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT (same in DuckDB via
    cast(concat('0x', substr(md5(s),1,15)) as bigint))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5int60_sql(expr: str) -> str:
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def md5int32_sql(expr: str) -> str:
    """First 32 bits of md5 — the base hash for the MinHash family."""
    return f"cast(concat('0x', substr(md5({expr}), 1, 8)) as bigint)"


# Jaccard-verify broadcast bound: while the shingled table's exact plan
# stats fit this, the verify join broadcasts it (arrays never shuffle);
# beyond, the sort-merge path takes over
_VERIFY_BROADCAST_BYTES = 256 << 20
_UNKNOWN_BYTES = 1 << 62  # plan size when stats are unavailable

# Universal-hash family h_i(x) = (md5int32_sql(x)*A_i + B_i) mod P61: ONE md5
# per shingle instead of NUM_HASHES of them (~16x less hashing work).
# A_i < 2^30 keeps h*A < 2^62 — no int64 overflow in either engine.
MINHASH_P61 = (1 << 61) - 1


def _hash_constants(n: int, seed: int = 42) -> tuple[list[int], list[int]]:
    import numpy as np

    rng = np.random.Generator(np.random.Philox(key=[seed, 1729]))
    a = (rng.integers(1, 1 << 29, size=n) * 2 + 1).tolist()  # odd, < 2^30
    b = rng.integers(0, 1 << 30, size=n).tolist()
    return [int(x) for x in a], [int(x) for x in b]


# ---- exact dedup (S10) -------------------------------------------------------


def exact_dedup(documents: DataFrame, content_col: str = "text") -> DataFrame:
    """Survivors of exact-content dedup: keep the smallest doc_id per
    digest. groupBy-min instead of a window: partial aggregation makes the
    shuffle carry one row per (digest) per map task, not every row."""
    return (
        documents.select(F.md5(F.col(content_col)).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---- shared blocking + verify joins ------------------------------------------


def _plan_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of ``df`` (exact after a checkpoint), or
    ``_UNKNOWN_BYTES`` when plan stats cannot be read — callers then stay
    on the general (non-broadcast) path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return _UNKNOWN_BYTES


def _bucket_pairs(
    keyed: DataFrame, id_col: str, keys: list[str], max_bucket_width: int | None
) -> DataFrame:
    """The blocking self-join every near-dup operator shares: rows of
    ``keyed`` aliased "a"/"b" that agree on ``keys``, with a.id < b.id.

    ``max_bucket_width`` bounds black-hole buckets (boilerplate hashing
    thousands of rows into one bucket → a W² join blow-up): buckets wider
    than W are DROPPED before the self-join. Standard web-dedup practice
    — such buckets are boilerplate, not near-dups; at 10^12 docs this
    bound is what keeps the join quadratic-free. None keeps exact
    blocking semantics (the oracle-checked form)."""
    if max_bucket_width is not None:
        widths = keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_w"))
        keyed = (
            keyed.join(widths, keys)
            .where(F.col("_w") <= max_bucket_width)
            .drop("_w")
        )
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return keyed.alias("a").join(keyed.alias("b"), on)


def _verify_join(
    pairs: DataFrame, ab: tuple[str, str], table: DataFrame, id_col: str, val_col: str
) -> DataFrame:
    """``pairs`` with ``table``'s ``val_col`` attached for both ids of
    each pair (pair columns ``ab``, matched on ``id_col``) as
    ``_va``/``_vb`` — the verify join every near-dup operator shares.

    The pairs side is explicitly repartitioned to the session's shuffle
    width first: the candidate set arrives from a distinct() whose
    output AQE coalesces BY SIZE to a handful of partitions (617k pairs
    ~ 10 MB -> 5 partitions at sf1), but the per-pair verify (an
    array_intersect or a cosine HOF) is CPU-bound — ~15us x 2 per pair —
    so the MinHash verify stage ran on 5 of 32 cores (measured 9.5s of a
    10.3s minhash run). An explicit repartition is not coalesced by AQE;
    the extra exchange moves only skinny id pairs. Guide §2.5: partition
    for the WORK, not the bytes, when a stage is compute-bound. It is on
    the first id ALONE, with an explicit partition count: a repartition
    on both ids is optimizer-removed as redundant (the upstream distinct
    already hash-partitions on exactly those keys) and the surviving
    ENSURE_REQUIREMENTS exchange is then AQE-coalesced by size — the
    single-key explicitly-numbered form survives both.

    The value side is BROADCAST while its (exact, post-checkpoint) plan
    statistics fit _VERIFY_BROADCAST_BYTES: a sort-merge verify
    re-exchanges the pairs on x_a then x_b — the second exchange ships
    every pair's first value (~2 KB/row of shingles), AQE re-coalesces
    the join stages under the pinned width, and at sf1 that left the
    intersect work on 5 cores regardless of the repartition. With the
    broadcast the values never shuffle and the verify runs at the pinned
    width. Beyond the bound (corpus-scale tables) the sort-merge path
    takes over unchanged — the same replicate-vs-shard size switch the
    serving tier makes."""
    a, b = ab
    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    va = table.select(F.col(id_col).alias(a), F.col(val_col).alias("_va"))
    vb = table.select(F.col(id_col).alias(b), F.col(val_col).alias("_vb"))
    if _plan_bytes(table) <= _VERIFY_BROADCAST_BYTES:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return pairs.repartition(n, a).join(va, a).join(vb, b)


# ---- MinHash + LSH -----------------------------------------------------------

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 rows per band


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs sharing >=1 LSH band.
    ``max_bucket_width``: see ``_bucket_pairs``."""
    rows_per_band = num_hashes // bands
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "-",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")
    return (
        _bucket_pairs(banded, "doc_id", ["band", "bkey"], max_bucket_width)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard(pairs: DataFrame, shingled: DataFrame) -> DataFrame:
    """Attach exact shingle-Jaccard to (doc_a, doc_b) pairs, through the
    shared ``_verify_join``."""
    inter = F.size(F.array_intersect("_va", "_vb"))
    union = F.size("_va") + F.size("_vb") - inter
    verified = _verify_join(pairs, ("doc_a", "doc_b"), shingled, "doc_id", "shingles")
    return verified.select(
        "doc_a",
        "doc_b",
        # try_divide: two docs with no shingles have a 0 union (a
        # DIVIDE_BY_ZERO under ANSI); NULL drops the pair, as the DuckDB
        # oracle's 0/0 does
        F.round(F.try_divide(inter, union), 6).alias("jaccard"),
    )


def _shingle_sig_udf(n: int, num_hashes: int):
    """Fused shingle + MinHash-signature pandas UDF: one Arrow-batched
    pass computes both, with the universal-hash family as one numpy
    (S, num_hashes) broadcast-min per doc. Replaces the per-hash
    ``F.transform`` tree, whose higher-order functions run INTERPRETED
    (~8us/element): at 16 hashes x ~100 shingles/doc that tree was the
    dominant cost of the whole dedup (measured 22.5s -> see BASELINE.md).
    Hashes are bit-identical to md5int32_sql/the DuckDB oracle:
    int(md5[:8 hex], 16) == big-endian int of the first 4 digest bytes."""
    import hashlib

    import numpy as np

    a, b = _hash_constants(num_hashes)
    A = np.array(a, dtype=np.int64)
    B = np.array(b, dtype=np.int64)

    @pandas_udf(
        T.StructType(
            [
                T.StructField("shingles", T.ArrayType(T.StringType())),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        )
    )
    def f(texts: pd.Series) -> pd.DataFrame:
        sh_out, sig_out = [], []
        for t in texts:
            toks = py_tokens(t)
            sh = list(
                dict.fromkeys(
                    " ".join(toks[i : i + n])
                    for i in range(max(len(toks) - (n - 1), 0))
                )
            )
            sh_out.append(sh)
            if sh:
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(s.encode()).digest()[:4], "big"
                        )
                        for s in sh
                    ),
                    dtype=np.int64,
                    count=len(sh),
                )
                # h*A < 2^62, +B < 2^63: no int64 overflow (same bound the
                # Spark/DuckDB renderings rely on)
                sig_out.append(
                    ((hs[:, None] * A + B) % MINHASH_P61).min(axis=0).tolist()
                )
            else:
                sig_out.append(None)
        return pd.DataFrame({"shingles": sh_out, "sig": sig_out})

    return f


def _shingle_table(documents: DataFrame, n: int, num_hashes: int) -> DataFrame:
    """(doc_id, shingles, sig) for every doc — the one shingling pass.

    Docs with no n-gram keep an empty ``shingles`` and a NULL ``sig``.
    The table is referenced three times (band explode or pair list, plus
    both join sides of the verify), so localCheckpoint materializes it
    once: lineage is truncated and the blocks are GC'd with the plan
    (unlike cache(), nothing leaks in the CacheManager). eager=True: a
    lazy checkpoint lets the ORIGINAL plan (and its accumulators) be
    GC'd while straggler tasks still report, which surfaces as a mid-run
    "non-existent accumulator" SparkException."""
    return (
        spread_small_scan(documents)
        .select(
            "doc_id", _shingle_sig_udf(n, num_hashes)(F.col("text")).alias("ss")
        )
        .select(
            "doc_id",
            F.col("ss.shingles").alias("shingles"),
            F.col("ss.sig").alias("sig"),
        )
        .localCheckpoint(eager=True)
    )


def minhash_neardup_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard >= threshold, both read
    from one ``_shingle_table``. Set ``max_bucket_width`` at scale to
    drop black-hole band buckets."""
    shsig = _shingle_table(documents, n, num_hashes)
    cand = lsh_candidate_pairs(
        shsig.where(F.col("sig").isNotNull()).select("doc_id", "sig"),
        num_hashes,
        bands,
        max_bucket_width,
    )
    return jaccard(cand, shsig).where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Exhaustive exact-Jaccard pairs (the oracle for MinHash recall).
    O(N^2) — correctness tool at fixture scale; the scale path is
    minhash_neardup_pairs. Shingles come from the same ``_shingle_table``
    (docs without an n-gram stay in and match nothing)."""
    sh = _shingle_table(documents, n, DEFAULT_NUM_HASHES)
    pairs = (
        sh.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(sh.select(F.col("doc_id").alias("doc_b")))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    return jaccard(pairs, sh).where(F.col("jaccard") >= threshold)


# ---- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4  # 15-bit blocks; hamming<=3 pairs share a block


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, fp long) — 60-bit SimHash over token frequencies.

    bit j of fp = sign of sum_t tf(t) * (bit_j(md5int60(t)) ? +1 : -1).

    Fingerprinting is a PURE PER-DOC function, so it runs as one
    Arrow-batched map-only pass. Round 6 vectorized the batch kernel
    (guide §4.2): tokens come from Arrow C++ (arrow_flat_tokens,
    bit-identical to py_tokens), md5 is computed once per batch-UNIQUE
    token (dictionary encode first — the Zipf vocabulary makes this
    ~20x fewer hashes than per-occurrence), and the per-(doc, term)
    bit-sums are np.add.reduceat sweeps instead of a per-doc Python
    loop. Integer arithmetic throughout — fingerprints identical to the
    loop form (bit j set iff 2*sum_t tf*bit_j(h_t) - sum_t tf > 0).
    The UDF is marked nondeterministic so the isNotNull filter is not
    pushed below it, which previously DUPLICATED the ArrowEvalPython
    node (guide §4.4: one eval below the filter + one in the project).
    Docs with zero tokens produce no row (oracle parity)."""
    import hashlib

    import numpy as np

    @pandas_udf(T.LongType())
    def fp_of(texts: pd.Series) -> pd.Series:
        import pyarrow as pa

        from refimage_spark.tokenizer import arrow_flat_tokens

        arr = pa.Array.from_pandas(texts, type=pa.string())
        n_rows = len(arr)
        flat, row_of = arrow_flat_tokens(arr)
        de = flat.dictionary_encode()
        codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        vocab = de.dictionary.to_pylist()
        v = max(len(vocab), 1)
        h = np.fromiter(
            (
                int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
                >> 4
                for s in vocab
            ),
            dtype=np.int64,
            count=len(vocab),
        )
        vals = np.zeros(n_rows, dtype=np.int64)
        got = np.zeros(n_rows, dtype=bool)
        fused = row_of * v + codes
        if fused.size:
            pairs, tf = np.unique(fused, return_counts=True)
            prow = pairs // v
            hp = h[pairs % v]
            tf = tf.astype(np.int64)
            starts = np.flatnonzero(np.r_[True, prow[1:] != prow[:-1]])
            urows = prow[starts]
            total = np.add.reduceat(tf, starts)
            fp_vals = np.zeros(urows.size, dtype=np.int64)
            for j in range(SIMHASH_BITS):
                s_j = np.add.reduceat(tf * ((hp >> j) & 1), starts)
                fp_vals |= ((2 * s_j - total) > 0).astype(np.int64) << j
            vals[urows] = fp_vals
            got[urows] = True
        out = pd.Series(vals, dtype="Int64")
        out[~got] = pd.NA
        return out

    fp_nd = fp_of.asNondeterministic()
    return documents.select(
        "doc_id", fp_nd(F.col("text")).alias("fp")
    ).where(F.col("fp").isNotNull())


def simhash_neardup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming <= max_hamming, via 15-bit
    block LSH (pigeonhole) + bit_count(xor) verification.

    ``max_bucket_width`` is the shared ``_bucket_pairs`` black-hole bound:
    on a distributionally homogeneous corpus, one popular 15-bit
    block value can hold 10^4+ docs and the block join degrades to
    width^2 (measured: a 14.8k-wide bucket at 50k synthetic docs drove
    656M joined rows). Blocks wider than W are dropped before the
    self-join — docs that near-collide THAT broadly are boilerplate, not
    near-dup pairs a pipeline keeps. None preserves exact pigeonhole
    semantics (the oracle-checked form).

    The fingerprints are localCheckpoint-materialized before the
    self-join (same as the MinHash path): without it BOTH join sides
    re-derived the whole UDF subtree, so the corpus was fingerprinted
    twice per run (4x before the nondeterministic fix — the round-6
    before-plan shows four ArrowEvalPython nodes)."""
    fps = simhash_fingerprints(
        spread_small_scan(documents)
    ).localCheckpoint(eager=True)
    block_bits = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << block_bits) - 1
    blocked = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col("fp"), b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.blk", "bk.bval")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        _bucket_pairs(blocked, "doc_id", ["blk", "bval"], max_bucket_width)
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# ---- embedding cosine near-dup ----------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, block_col: str | None = "label"
) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine >= threshold.

    Blocking on ``block_col`` (e.g. a cluster/label id) bounds the
    quadratic join; pass None for the exhaustive form. The SCALE path is
    ``embedding_neardup_lsh`` (sign-LSH banded blocking — no metadata
    column needed, never a cross join)."""
    e = embeddings.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = e.alias("a")
    b = e.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cos = cosine(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_rounds: int = 6,
    seed: int = 42,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Near-dup pairs via sign-LSH banding — the 10^12-vector shape.

    ``n_rounds`` independent hyperplane sets each bucket every vector;
    candidates share a bucket in ANY round (equi-join per round, union,
    distinct), then exact cosine verifies. For cos>=0.9 (angle<=25.8°)
    one 6-plane bucket collides w.p. (1-θ/π)^6≈0.40, so 6 rounds give
    ~95% recall; tune (n_planes, n_rounds) per threshold. Like the
    MinHash path, ``max_bucket_width`` drops degenerate buckets (e.g.
    the all-zeros region) before the self-join."""
    from refimage_spark.operators.similarity import with_lsh_bucket

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    buckets = None
    for r in range(n_rounds):
        br = with_lsh_bucket(
            e, dim, n_planes, seed=seed + 1000 * r, vec_col="emb"
        ).select(
            "vec_id", F.lit(r).alias("round"), F.col("bucket")
        )
        buckets = br if buckets is None else buckets.unionByName(br)
    cand = (
        _bucket_pairs(buckets, "vec_id", ["round", "bucket"], max_bucket_width)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        _verify_join(cand, ("vec_a", "vec_b"), e, "vec_id", "emb")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
