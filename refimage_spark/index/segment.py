"""Segment file format: self-contained per-partition inverted index.

Files per segment (under ``{index_dir}/segments/``):
- ``seg-{pid:05d}.post``         binary: per-term [docs_blob | tfs_blob |
                                 block_last_doc int64[] | block_max_tf u32[] |
                                 block_min_dl u32[] | block_doc_boff u32[] |
                                 block_tf_boff u32[]]
- ``seg-{pid:05d}.dict.parquet`` term dictionary, sorted by term:
                                 (term, df, n, off_docs, len_docs, off_tfs,
                                  len_tfs, off_bmax, n_blocks)
- ``seg-{pid:05d}.docs.parquet`` doc norms: (doc_id, dl, tags), sorted by
                                 doc_id (scoring looks dl up by searchsorted;
                                 tags = the full tag set {lang, source, ...}
                                 so segment-engine tag queries agree with
                                 the DataFrame compiler)

Doc-id gaps RESET at every BLOCK boundary (the first gap of a block is
the absolute doc id) and per-block byte offsets into the docs/tfs blobs
are stored, so the scorer can decode ONLY the blocks that survive
block-max pruning — IO/decode savings, not just scoring savings.

Block-max metadata (BLOCK=128 postings): per block the last doc id (skip
pointer) plus (max_tf, min_dl). The score-factor upper bound
q(max_tf, min_dl) = max_tf/(max_tf + k1*(1-b+b*min_dl/avgdl)) is computed
at QUERY time with the CURRENT global avgdl — q is monotone increasing in
tf and decreasing in dl, so the bound stays valid even after appends or
compactions shift corpus stats (a stored max_q would silently go stale
and break the pruning's rank safety). It also makes segment bytes a pure
function of the corpus partition — stats drift never changes checksums.

The reference persisted its whole index as one monolithic binary+pickle
(/root/reference/src/refimage/search/__init__.py:322-396); segments give
partial load (only query terms' ranges are read), per-partition commit
(resume), and bounded merge units instead.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from refimage_spark.index.codec import blocked_delta_decode, varbyte_decode

BLOCK = 128
# per-block meta: [last_doc i64 | max_tf u32 | min_dl u32 | doc_boff u32 |
#                  tf_boff u32] — boffs are byte offsets RELATIVE to the
# term's docs/tfs region start, so one u32 covers any sane region size
BLOCK_META_BYTES = 24

# On-disk format version, stamped into stats.json and every manifest row.
# v2 = 24B/block meta, doc-id gap reset per block, docs sidecar carries
# the full tag array. Readers refuse mismatched versions with a clear
# "rebuild required" instead of misparsing block metadata silently.
FORMAT_VERSION = 2


def check_format_version(meta: dict, where: str) -> None:
    v = meta.get("format_version")
    if v != FORMAT_VERSION:
        raise RuntimeError(
            f"index format version {v!r} in {where} != supported "
            f"{FORMAT_VERSION}: the index was built by an incompatible "
            "version — rebuild required"
        )

DICT_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("df", pa.int64()),
        ("n", pa.int64()),
        ("off_docs", pa.int64()),
        ("len_docs", pa.int64()),
        ("off_tfs", pa.int64()),
        ("len_tfs", pa.int64()),
        ("off_bmax", pa.int64()),
        ("n_blocks", pa.int64()),
    ]
)

DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("dl", pa.int32()), ("tags", pa.list_(pa.string()))]
)


def seg_paths(index_dir: str, pid: int) -> tuple[str, str, str]:
    base = os.path.join(index_dir, "segments", f"seg-{pid:05d}")
    return base + ".post", base + ".dict.parquet", base + ".docs.parquet"


@dataclass
class SegmentStats:
    pid: int
    n_docs: int
    n_postings: int
    n_terms: int
    post_bytes: int
    checksum: str


class SegmentWriter:
    """Accumulates (part, term, doc_id)-sorted raw token rows, then builds
    the whole segment in vectorized numpy passes at ``finish``.

    tf is run-length over the sorted stream; doc norms (dl, lang) are
    supplied once via ``set_norms`` from the docs table (they never travel
    with the posting shuffle). The per-term work is O(1) python (byte-blit
    of precomputed slices) — a naive term-at-a-time flush costs ~30us of
    Python per term and at 10k-term vocabularies dominates the whole
    build (measured ~3x slower).

    Memory: the partition's raw (term, doc_id) arrays — by construction
    corpus/P sized; P is the build's memory knob. (A streaming flush per
    sorted term-run would bound it further; not needed at sandbox scale.)
    """

    def __init__(self, index_dir: str, pid: int, avgdl: float):
        self.index_dir = index_dir
        self.pid = pid
        self.avgdl = float(avgdl)
        self._norm_ids: np.ndarray | None = None
        self._norm_dls: np.ndarray | None = None
        self._norm_tags: list[list[str]] | pa.Array | None = None
        self._terms: list[np.ndarray] = []
        self._docs: list[np.ndarray] = []
        self._tfs: list[np.ndarray] = []
        self.n_postings = 0
        self.dict_table: pa.Table | None = None

    def set_norms(self, doc_ids: np.ndarray, dls: np.ndarray, tags) -> None:
        """Doc norms for this partition, sorted by doc_id. ``tags`` is the
        per-doc tag list (list of lists or an Arrow list<string> array)."""
        self._norm_ids = np.asarray(doc_ids, dtype=np.int64)
        self._norm_dls = np.asarray(dls, dtype=np.int64)
        self._norm_tags = tags

    def add_raw(self, terms, doc_ids: np.ndarray, tfs: np.ndarray | None = None) -> None:
        """(term, doc_id[, tf]) rows, sorted by (term, doc_id).

        Without ``tfs``, duplicates count as tf (the raw token stream).
        With ``tfs``, rows carry pre-aggregated counts (merge/compact feed
        decoded postings directly — no np.repeat re-expansion); duplicate
        (term, doc) rows SUM their tfs, so both forms mix safely.

        ``terms`` may be a pyarrow string Array (preferred — stays in
        Arrow, no per-row Python objects) or a numpy object array."""
        if len(terms):
            if not isinstance(terms, (pa.Array, pa.ChunkedArray)):
                terms = pa.array(terms, pa.string())
            if isinstance(terms, pa.ChunkedArray):
                terms = terms.combine_chunks()
            self._terms.append(terms)
            self._docs.append(np.asarray(doc_ids, dtype=np.int64))
            self._tfs.append(
                np.ones(len(terms), dtype=np.int64)
                if tfs is None
                else np.asarray(tfs, dtype=np.int64)
            )

    # -- committing ----------------------------------------------------------

    def _build(self) -> tuple[bytes, pa.Table]:
        from refimage_spark.index.codec import varbyte_encode_with_lengths

        import pyarrow.compute as pc

        terms = (
            pa.concat_arrays(self._terms)
            if self._terms
            else pa.array([], pa.string())
        )
        docs = (
            np.concatenate(self._docs) if self._docs else np.empty(0, np.int64)
        )
        tf_stream = (
            np.concatenate(self._tfs) if self._tfs else np.empty(0, np.int64)
        )
        self._terms, self._docs, self._tfs = [], [], []
        n_rows = len(terms)
        if n_rows == 0:
            return b"", pa.table(
                {f.name: pa.array([], f.type) for f in DICT_SCHEMA}
            )
        assert docs.max() < (1 << 42), "doc_id exceeds 42-bit pair-key space"
        # term run boundaries via Arrow C++ string compare — no per-row
        # Python objects ever materialize (that conversion alone dominated
        # pass B at 10^8 postings)
        tchange = np.ones(n_rows, dtype=bool)
        if n_rows > 1:
            tchange[1:] = pc.not_equal(
                terms.slice(1), terms.slice(0, n_rows - 1)
            ).to_numpy(zero_copy_only=False)
        term_code = np.cumsum(tchange) - 1
        assert term_code[-1] < (1 << 21), "vocabulary exceeds 21-bit key space"
        uniq_terms = terms.take(pa.array(np.flatnonzero(tchange)))
        # run-length tf over (term_code, doc) pairs: SUM the per-row tf
        # stream within each run (raw rows carry tf=1, pre-aggregated
        # rows from merge/compact carry their real counts)
        key = (term_code.astype(np.int64) << 42) | docs
        kchange = np.empty(key.size, dtype=bool)
        kchange[0] = True
        kchange[1:] = key[1:] != key[:-1]
        pstart = np.flatnonzero(kchange)
        tfs = np.add.reduceat(tf_stream, pstart).astype(np.int64)
        udocs = docs[pstart]
        utcode = term_code[pstart]
        self.n_postings = int(udocs.size)
        # per-term posting ranges in the unique-pair space
        tstart = np.flatnonzero(np.append(True, utcode[1:] != utcode[:-1]))
        tcount = np.diff(np.append(tstart, udocs.size)).astype(np.int64)
        n_terms = tstart.size
        tend = tstart + tcount
        # block boundaries: per term, blocks of BLOCK postings
        nblk = (tcount + BLOCK - 1) // BLOCK
        blk_term = np.repeat(np.arange(n_terms), nblk)
        blk_idx = np.concatenate([np.arange(k) for k in nblk]) if n_terms else []
        blk_start = tstart[blk_term] + np.asarray(blk_idx) * BLOCK
        blk_end = np.minimum(blk_start + BLOCK, tend[blk_term])
        # delta-encode doc ids with a reset at EVERY block start (not just
        # term start): each block decodes independently, so the scorer
        # reads and decodes only the blocks that survive block-max pruning
        gaps = np.empty_like(udocs)
        gaps[0] = udocs[0]
        np.subtract(udocs[1:], udocs[:-1], out=gaps[1:])
        gaps[blk_start] = udocs[blk_start]
        docs_blob, dlen = varbyte_encode_with_lengths(gaps)
        tfs_blob, tlen = varbyte_encode_with_lengths(tfs)
        dcum = np.concatenate(([0], np.cumsum(dlen)))
        tcum = np.concatenate(([0], np.cumsum(tlen)))
        len_docs = dcum[tend] - dcum[tstart]
        len_tfs = tcum[tend] - tcum[tstart]
        dls = self._norm_dls[np.searchsorted(self._norm_ids, udocs)]
        blk_last = udocs[blk_end - 1]
        blk_maxtf = np.maximum.reduceat(tfs, blk_start).astype(np.uint32)
        blk_mindl = np.minimum.reduceat(dls, blk_start).astype(np.uint32)
        # per-block byte offsets RELATIVE to the term's region start
        blk_dboff = dcum[blk_start] - dcum[tstart][blk_term]
        blk_tboff = tcum[blk_start] - tcum[tstart][blk_term]
        assert blk_dboff.size == 0 or (
            blk_dboff.max() < (1 << 32) and blk_tboff.max() < (1 << 32)
        ), "term posting region exceeds u32 block offsets"
        blk_dboff = blk_dboff.astype(np.uint32)
        blk_tboff = blk_tboff.astype(np.uint32)
        # assemble: [docs region][tfs region][per-term block meta region]
        docs_region = np.frombuffer(docs_blob, dtype=np.uint8)
        tfs_region = np.frombuffer(tfs_blob, dtype=np.uint8)
        base_tfs = docs_region.size
        base_blk = base_tfs + tfs_region.size
        # per-term block meta: [last i64[nb] | max_tf u32[nb] | min_dl
        # u32[nb] | doc_boff u32[nb] | tf_boff u32[nb]]
        blk_bytes_per_term = nblk * BLOCK_META_BYTES
        blk_off = base_blk + np.concatenate(
            ([0], np.cumsum(blk_bytes_per_term)[:-1])
        )
        # assemble the per-term interleaved block-meta region with FIVE
        # vectorized byte scatters (one per field) instead of a Python
        # loop over terms — the loop's 5 frombuffer/tobytes round-trips
        # per term cost ~60ms per 7.5k-term segment and dominated pass B
        # (round-6 profile: 37.5k calls per 10 segments). Byte-identical
        # output: field f of term t starts at term_base(t) + nb(t) *
        # width_prefix(f), block i of the field at +i*w.
        blk_region = np.empty(int(blk_bytes_per_term.sum()), dtype=np.uint8)
        term_base = np.concatenate(([0], np.cumsum(blk_bytes_per_term)[:-1]))
        for arr, w, prefix in (
            (blk_last, 8, 0),
            (blk_maxtf, 4, 8),
            (blk_mindl, 4, 12),
            (blk_dboff, 4, 16),
            (blk_tboff, 4, 20),
        ):
            start = (
                term_base[blk_term]
                + nblk[blk_term] * prefix
                + np.asarray(blk_idx) * w
            )
            src = np.frombuffer(
                np.ascontiguousarray(arr).tobytes(), dtype=np.uint8
            ).reshape(-1, w)
            idx = start[:, None] + np.arange(w, dtype=np.int64)[None, :]
            blk_region[idx.ravel()] = src.ravel()
        blob = b"".join(
            [docs_region.tobytes(), tfs_region.tobytes(), blk_region.tobytes()]
        )
        dict_table = pa.table(
            {
                "term": uniq_terms,
                "df": pa.array(tcount, pa.int64()),
                "n": pa.array(tcount, pa.int64()),
                "off_docs": pa.array(dcum[tstart], pa.int64()),
                "len_docs": pa.array(len_docs, pa.int64()),
                "off_tfs": pa.array(base_tfs + tcum[tstart], pa.int64()),
                "len_tfs": pa.array(len_tfs, pa.int64()),
                "off_bmax": pa.array(blk_off, pa.int64()),
                "n_blocks": pa.array(nblk, pa.int64()),
            }
        )
        return blob, dict_table

    def finish(self) -> SegmentStats:
        blob, dict_table = self._build()
        self.dict_table = dict_table
        post_path, dict_path, docs_path = seg_paths(self.index_dir, self.pid)
        os.makedirs(os.path.dirname(post_path), exist_ok=True)
        with open(post_path + ".tmp", "wb") as f:
            f.write(blob)
            f.flush()
            os.fsync(f.fileno())
        os.replace(post_path + ".tmp", post_path)
        # dict/docs land atomically too: a resumed build rewrites the
        # same pid's files in place, and nothing may ever observe a
        # half-written parquet
        pq.write_table(dict_table, dict_path + ".tmp", compression="zstd")
        os.replace(dict_path + ".tmp", dict_path)
        tags = self._norm_tags
        if not isinstance(tags, (pa.Array, pa.ChunkedArray)):
            tags = pa.array(tags, pa.list_(pa.string()))
        pq.write_table(
            pa.table(
                {
                    "doc_id": self._norm_ids,
                    "dl": self._norm_dls.astype(np.int32),
                    "tags": tags,
                }
            ),
            docs_path + ".tmp",
            compression="zstd",
        )
        os.replace(docs_path + ".tmp", docs_path)
        return SegmentStats(
            pid=self.pid,
            n_docs=int(self._norm_ids.size),
            n_postings=int(self.n_postings),
            n_terms=dict_table.num_rows,
            post_bytes=len(blob),
            checksum=hashlib.sha256(blob).hexdigest(),
        )


# ---- reader ------------------------------------------------------------------


def _block_bytes(mm, off: int, length: int, boff: np.ndarray, blocks):
    """Encoded bytes of ``blocks`` (sorted) of one term region at
    ``off``/``length`` in the posting file, gathered in one vectorized
    pass; ``boff`` holds the per-block byte offsets within the region."""
    ends = np.append(boff[1:].astype(np.int64), length)
    lo, hi = boff[blocks].astype(np.int64), ends[blocks]
    lens = hi - lo
    idx = np.repeat(lo - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())
    return np.frombuffer(mm, np.uint8, count=length, offset=off)[idx]


class SegmentReader:
    # pin the whole term dictionary in memory while it's serving-sized;
    # beyond this, per-query filtered reads (row-group pruned on the
    # sorted term column) keep memory bounded
    DICT_PIN_LIMIT = 500_000

    def __init__(self, index_dir: str, pid: int):
        self.post_path, self.dict_path, self.docs_path = seg_paths(index_dir, pid)
        self._dls: tuple[np.ndarray, np.ndarray] | None = None
        self._tags: pa.Array | None = None
        self._dict: tuple | None = None  # (sorted term array, dict table)
        self._term_memo: dict[str, dict | None] = {}  # resolved lookups
        self._tag_map: dict[str, np.ndarray] | None = None
        self._mm = None
        self._dense: tuple[bool, int] | None = None  # (ids contiguous?, base)

    def _post_map(self):
        """mmap of the posting file, opened lazily and kept for the
        reader's lifetime (readers are mtime-cached by the serving path).
        Term/block reads become page-cache slices instead of
        open+seek+read syscall triples — at hundreds of segments per
        query the open() alone dominated serving latency."""
        if self._mm is None:
            import mmap

            with open(self.post_path, "rb") as f:
                self._mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        return self._mm

    def lookup_terms(self, terms: list[str]) -> dict[str, dict]:
        if not terms:  # e.g. no query term exists in the corpus vocabulary
            return {}
        if self._dict is None:
            full = pq.read_table(self.dict_path)
            if full.num_rows <= self.DICT_PIN_LIMIT:
                # pin COLUMNAR, not as {term: row-dict}: a python dict of
                # row dicts costs ~500-800 B/term (20-30 MB for a 40k-term
                # segment), and a serving worker caching hundreds of
                # readers multiplied that into gigabytes per process
                # (found by the 2M-page / 1280-segment probe). The Arrow
                # table is ~10x smaller; term lookup is a binary search
                # over the sorted term column (the writer emits terms
                # sorted; verified at pin time, sorted here if ever not).
                term_arr = full["term"].combine_chunks()
                tl = term_arr.to_pylist()  # transient, for the sort check
                if any(tl[i] > tl[i + 1] for i in range(len(tl) - 1)):
                    idx = sorted(range(len(tl)), key=tl.__getitem__)
                    full = full.take(pa.array(idx, pa.int64()))
                    term_arr = full["term"].combine_chunks()
                del tl
                self._dict = (term_arr, full)
            else:
                self._dict = ()  # sentinel: too big, use filtered reads
        if self._dict:
            term_arr, full = self._dict
            out = {}
            n = len(term_arr)
            memo = self._term_memo
            for t in terms:
                if t in memo:  # serving queries reuse a small hot vocab;
                    e = memo[t]  # memoized entries restore O(1) lookups
                    if e is not None:
                        out[t] = e
                    continue
                lo, hi = 0, n
                while lo < hi:
                    mid = (lo + hi) // 2
                    if term_arr[mid].as_py() < t:
                        lo = mid + 1
                    else:
                        hi = mid
                if lo < n and term_arr[lo].as_py() == t:
                    entry = {
                        name: full[name][lo].as_py()
                        for name in full.column_names
                    }
                    out[t] = entry
                else:
                    entry = None
                if len(memo) >= 8192:  # bound: queried vocab, not corpus
                    memo.clear()
                memo[t] = entry
            return out
        t = pq.read_table(
            self.dict_path, filters=pc.field("term").isin(terms)
        )
        out = {}
        for row in t.to_pylist():
            out[row["term"]] = row
        return out

    def read_postings(
        self, entry: dict, blocks: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, tfs) of one term. ``blocks`` (sorted block indexes)
        decodes only those 128-posting blocks: gap resets at block
        boundaries make each block self-contained, and only the term's
        LAST block can be short, so the gathered stream decodes with the
        same fixed-stride segmented cumsum as the whole list."""
        mm = self._post_map()
        od, ot, n = entry["off_docs"], entry["off_tfs"], entry["n"]
        if blocks is None:
            docs_blob = mm[od : od + entry["len_docs"]]
            tfs_blob = mm[ot : ot + entry["len_tfs"]]
        else:
            _, _, _, dboff, tboff = self.read_blockmax(entry)
            docs_blob = _block_bytes(mm, od, entry["len_docs"], dboff, blocks)
            tfs_blob = _block_bytes(mm, ot, entry["len_tfs"], tboff, blocks)
            n = int(np.minimum(BLOCK, n - blocks * BLOCK).sum())
        gaps = varbyte_decode(docs_blob, n)
        doc_ids = blocked_delta_decode(gaps, BLOCK)
        tfs = varbyte_decode(tfs_blob, n).astype(np.int64)
        return doc_ids, tfs

    def read_blockmax(
        self, entry: dict
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Per-block (last_doc, max_tf, min_dl, doc_boff, tf_boff)."""
        nb = entry["n_blocks"]
        mm = self._post_map()
        raw = mm[entry["off_bmax"] : entry["off_bmax"] + nb * BLOCK_META_BYTES]
        last_doc = np.frombuffer(raw[: nb * 8], dtype=np.int64)
        u32 = np.frombuffer(raw[nb * 8 :], dtype=np.uint32)
        return last_doc, u32[:nb], u32[nb : 2 * nb], u32[2 * nb : 3 * nb], u32[3 * nb :]

    def read_all_postings(
        self,
    ) -> tuple[pa.Array, np.ndarray, np.ndarray, np.ndarray]:
        """Decode the ENTIRE segment in three vectorized passes:
        (terms string array, per-posting term_code, doc_ids, tfs).

        The docs/tfs regions are contiguous across terms (dict write
        order), so one read + one varbyte_decode each covers the whole
        segment — merge/compact rebuild postings with NO per-term Python
        loop and NO np.repeat re-expansion of tf runs."""
        t = pq.read_table(self.dict_path)
        n_arr = t["n"].to_numpy()
        n_terms = n_arr.size
        empty = (
            pa.array([], pa.string()),
            np.empty(0, np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.int64),
        )
        if n_terms == 0:
            return empty
        total = int(n_arr.sum())
        base_tfs = int(t["off_tfs"][0].as_py())
        base_blk = int(t["off_bmax"][0].as_py())
        with open(self.post_path, "rb") as f:
            raw = f.read(base_blk)
        gaps = varbyte_decode(raw[:base_tfs], total).astype(np.int64)
        tfs = varbyte_decode(raw[base_tfs:], total).astype(np.int64)
        # undo the block-reset delta coding across ALL terms at once
        tstart = np.concatenate(([0], np.cumsum(n_arr)[:-1]))
        nblk = (n_arr + BLOCK - 1) // BLOCK
        blk_term = np.repeat(np.arange(n_terms), nblk)
        blk_idx = np.concatenate([np.arange(k) for k in nblk])
        blk_start = tstart[blk_term] + blk_idx * BLOCK
        cs = np.cumsum(gaps)
        base = cs[blk_start] - gaps[blk_start]
        sizes = np.diff(np.append(blk_start, total))
        docs = cs - np.repeat(base, sizes)
        term_codes = np.repeat(np.arange(n_terms, dtype=np.int64), n_arr)
        return t["term"].combine_chunks(), term_codes, docs, tfs

    def norms(self) -> tuple[np.ndarray, np.ndarray, pa.Array]:
        """(doc_ids, dls, tags list<string> Arrow array), doc_id-sorted."""
        if self._tags is None:
            self._tags = pq.read_table(self.docs_path, columns=["tags"])[
                "tags"
            ].combine_chunks()
        return (*self.doc_lengths(), self._tags)

    def doc_lengths(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, dls), doc_id-sorted: all that scoring reads. The tag
        column is loaded only by tag queries and maintenance (``norms``)."""
        if self._dls is None:
            t = pq.read_table(self.docs_path, columns=["doc_id", "dl"])
            self._dls = (t["doc_id"].to_numpy(), t["dl"].to_numpy())
        return self._dls

    def tag_ids(self, tag: str) -> np.ndarray:
        """Sorted doc ids carrying ``tag`` (matched lowercased, mirroring
        the DataFrame compiler's semantics, plans/compiler.py)."""
        if self._tag_map is None:
            ids, _, tags = self.norms()
            lens = np.diff(tags.offsets.to_numpy())
            owner = np.repeat(ids, lens)
            flat = pc.utf8_lower(tags.flatten()).dictionary_encode()
            codes = flat.indices.to_numpy(zero_copy_only=False)
            vocab = flat.dictionary.to_pylist()
            # np.unique: a doc listing the same tag twice (e.g. equal
            # lang and source values) must not break set intersections
            self._tag_map = {
                v: np.unique(owner[codes == c]) for c, v in enumerate(vocab)
            }
        return self._tag_map.get(tag.lower(), np.empty(0, np.int64))

    def dense_ids(self) -> tuple[bool, int]:
        """(contiguous?, base): doc ids within a freshly built part are
        ``offset + rank`` and therefore a dense range — direct indexing
        replaces binary search in the serving kernel. Compaction (docs
        dropped) or a merge of non-adjacent parts breaks contiguity, and
        the searchsorted fallback takes over."""
        if self._dense is None:
            ids, _ = self.doc_lengths()
            dense = ids.size > 0 and int(ids[-1]) - int(ids[0]) == ids.size - 1
            self._dense = (dense, int(ids[0]) if ids.size else 0)
        return self._dense

    def dl_for(self, doc_ids: np.ndarray) -> np.ndarray:
        ids, dls = self.doc_lengths()
        dense, base = self.dense_ids()
        if dense:
            return dls[doc_ids - base]
        pos = np.searchsorted(ids, doc_ids)
        return dls[pos]


# ---- manifest ------------------------------------------------------------------


def manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest")


def write_manifest_row(index_dir: str, stats: SegmentStats, extra: dict) -> None:
    """The COMMIT POINT for a partition: segment files are fsynced first,
    then this row appears via atomic rename. A crash before this leaves a
    re-runnable partition; after, a skippable one."""
    os.makedirs(manifest_dir(index_dir), exist_ok=True)
    path = os.path.join(manifest_dir(index_dir), f"part-{stats.pid:05d}.json")
    row = {
        "segment_id": f"seg-{stats.pid:05d}",
        "partition_id": stats.pid,
        "n_docs": stats.n_docs,
        "n_postings": stats.n_postings,
        "n_terms": stats.n_terms,
        "bytes": stats.post_bytes,
        "checksum": stats.checksum,
        "format_version": FORMAT_VERSION,
        **extra,
    }
    with open(path + ".tmp", "w") as f:
        json.dump(row, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(path + ".tmp", path)


def read_manifest(index_dir: str) -> list[dict]:
    """All committed segment rows, with merge crash-safety: a row whose
    pid appears in another row's ``merged_from`` is superseded — the
    merged segment's row IS the commit point for a merge, so a crash
    between that row landing and the source rows being deleted can never
    serve a doc from two segments (the stale rows are filtered here)."""
    d = manifest_dir(index_dir)
    if not os.path.isdir(d):
        return []
    rows = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            try:
                with open(os.path.join(d, name)) as f:
                    rows.append(json.load(f))
            except FileNotFoundError:
                # a concurrent merge's cleanup removed the row between
                # listdir and open — it was superseded anyway; skip
                continue
    for r in rows:
        check_format_version(r, f"manifest row seg-{r.get('partition_id')}")
    superseded: set[int] = set()
    for r in rows:
        superseded.update(r.get("merged_from") or [])
    return [r for r in rows if r["partition_id"] not in superseded]


def committed_pids(index_dir: str) -> set[int]:
    return {r["partition_id"] for r in read_manifest(index_dir)}
