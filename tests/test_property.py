"""Property-based invariants (hypothesis): codec roundtrips, segment
write/read identity, and WAND ≡ vectorized rank identity on random
corpora — the class of bug that r1's pivot-extension defect belonged to.
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from refimage_spark.index.codec import (
    blocked_delta_decode,
    varbyte_decode,
    varbyte_encode,
)
from refimage_spark.index.query import eval_node, topk_arrays, wand_topk_segment
from refimage_spark.index.segment import BLOCK, SegmentReader, SegmentWriter
from refimage_spark import dsl


@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1), max_size=300)
)
@settings(max_examples=50, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.asarray(values, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr), arr.size if arr.size else None)
    assert out.tolist() == arr.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=1 << 40), min_size=1,
             max_size=400, unique=True),
    st.sampled_from([4, 16, 128]),
)
@settings(max_examples=50, deadline=None)
def test_blocked_delta_roundtrip(doc_ids, block):
    docs = np.sort(np.asarray(doc_ids, dtype=np.int64))
    gaps = np.empty_like(docs)
    gaps[0] = docs[0]
    np.subtract(docs[1:], docs[:-1], out=gaps[1:])
    starts = np.arange(0, docs.size, block)
    gaps[starts] = docs[starts]
    assert blocked_delta_decode(gaps, block).tolist() == docs.tolist()


# ---- random corpus -> segment -> query identity -------------------------------

posting_lists = st.dictionaries(
    keys=st.sampled_from(["a", "b", "c", "d", "e"]),
    values=st.dictionaries(
        keys=st.integers(min_value=0, max_value=600),  # doc ids
        values=st.integers(min_value=1, max_value=30),  # tf
        min_size=1,
        max_size=300,
    ),
    min_size=1,
    max_size=5,
)


def _mk_segment(tmpdir, postings: dict, n_docs: int = 601, dl: int = 10):
    w = SegmentWriter(str(tmpdir), 0, float(dl))
    ids = np.arange(n_docs, dtype=np.int64)
    w.set_norms(ids, np.full(n_docs, dl, np.int64), [["en"]] * n_docs)
    for term in sorted(postings):
        docs = np.array(sorted(postings[term]), dtype=np.int64)
        tfs = np.array([postings[term][d] for d in sorted(postings[term])],
                       dtype=np.int64)
        w.add_raw(pa.array([term] * docs.size, pa.string()), docs, tfs)
    w.finish()
    return SegmentReader(str(tmpdir), 0)


@given(
    postings=posting_lists,
    k=st.sampled_from([1, 3, 10]),
    weight=st.sampled_from([1.0, 0.0, 0.4, 2.0]),
    threshold=st.sampled_from([0.0, 0.5, 4.0]),
)
@settings(max_examples=40, deadline=None)
def test_segment_roundtrip_and_wand_rank_identity(
    tmp_path_factory, postings, k, weight, threshold
):
    tmpdir = tmp_path_factory.mktemp("propseg")
    reader = _mk_segment(tmpdir, postings)
    # write/read identity per term
    entries = reader.lookup_terms(sorted(postings))
    assert set(entries) == set(postings)
    for term, entry in entries.items():
        docs, tfs = reader.read_postings(entry)
        want = sorted(postings[term])
        assert docs.tolist() == want
        assert tfs.tolist() == [postings[term][d] for d in want]
    # whole-segment decode agrees with per-term decode
    terms_arr, term_codes, docs_a, tfs_a = reader.read_all_postings()
    total = sum(len(v) for v in postings.values())
    assert docs_a.size == total
    # WAND == vectorized, exact scores, any idf mix, weight and threshold
    idfs = {t: 0.5 + i for i, t in enumerate(sorted(postings))}
    terms = sorted(postings)
    query = dsl.TextQuery(" ".join(terms), weight)
    vids, vsc = eval_node(reader, query, idfs, 10.0, threshold)
    vids, vsc = topk_arrays(vids, vsc, k)
    wids, wsc = wand_topk_segment(
        reader, terms, idfs, 10.0, k, weight=weight, threshold=threshold
    )
    assert wids.tolist() == vids.tolist()
    np.testing.assert_allclose(wsc, vsc, rtol=1e-12)
    # tombstone-aware WAND: tombstoned docs are non-candidates and must
    # FREE their top-k slots — identical to vectorized mask-before-topk
    all_docs = np.unique(
        np.concatenate([np.fromiter(v, np.int64, len(v)) for v in postings.values()])
    )
    tomb = all_docs[::3]  # deterministic subset incl. top scorers
    fids, fsc = eval_node(reader, query, idfs, 10.0, threshold)
    m = ~np.isin(fids, tomb)
    fids, fsc = topk_arrays(fids[m], fsc[m], k)
    tids, tsc = wand_topk_segment(
        reader, terms, idfs, 10.0, k, weight=weight, threshold=threshold,
        tomb=tomb,
    )
    assert tids.tolist() == fids.tolist()
    np.testing.assert_allclose(tsc, fsc, rtol=1e-12)
