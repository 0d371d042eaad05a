"""The one segment rewriter (``_rewrite_segments``): merge and compact
are the same rewrite, so their outputs compose byte for byte; a re-run
after the commit is a no-op; compacting every doc away leaves a working
empty index."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from refimage_spark.index.admin import fsck_index
from refimage_spark.index.build import build_index
from refimage_spark.index.merge import (
    _rewrite_segments,
    append_pages,
    compact,
    delete_docs,
    update_doc_tags,
)
from refimage_spark.index.query import search_local
from refimage_spark.index.segment import (
    SegmentReader,
    cleanup_merged_sources,
    read_manifest,
    seg_paths,
)
from refimage_spark.sources.pages import generate_pages


@pytest.fixture()
def index(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(
        spark, generate_pages(spark, 300, seed=42, partitions=3), d, num_parts=4
    )
    return d


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_rewrite_one_segment_is_byte_identical(index):
    out = _rewrite_segments(index, [0], 10)
    assert out["new_pid"] == 10
    for src, dst in list(zip(seg_paths(index, 0), seg_paths(index, 10)))[:2]:
        assert _bytes(src) == _bytes(dst), os.path.basename(src)


def test_merge_then_compact_away_restores_segment(index):
    b_ids = SegmentReader(index, 1).norms()[0]
    merged = _rewrite_segments(index, [0, 1], 10)
    assert merged["n_docs"] == (
        SegmentReader(index, 0).norms()[0].size + b_ids.size
    )
    _rewrite_segments(index, [10], 11, drop_ids=b_ids)
    post_a, dict_a, _ = seg_paths(index, 0)
    post_c, dict_c, _ = seg_paths(index, 11)
    assert _bytes(post_c) == _bytes(post_a)
    assert _bytes(dict_c) == _bytes(dict_a)


def test_compact_rerun_after_commit_is_detected(index):
    drop = SegmentReader(index, 2).norms()[0][::3]
    first = _rewrite_segments(index, [2], 10, drop_ids=drop)
    post = seg_paths(index, 10)[0]
    st = os.stat(post)
    # the committed run's deferred cleanup already removed the source
    cleanup_merged_sources(index, [2])
    again = _rewrite_segments(index, [2], 10, drop_ids=drop)
    assert again == first
    assert os.stat(post).st_mtime_ns == st.st_mtime_ns
    assert os.stat(post).st_ino == st.st_ino
    rows = {r["partition_id"]: r for r in read_manifest(index)}
    assert rows[10]["merged_from"] == [2] and 2 not in rows


def test_compact_every_doc_then_append(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(
        spark, generate_pages(spark, 60, seed=3, partitions=2), d, num_parts=4
    )
    ids = pq.read_table(os.path.join(d, "docs.parquet"), columns=["doc_id"])
    delete_docs(d, ids["doc_id"].to_pylist())
    compact(spark, d)
    stats = json.load(open(os.path.join(d, "stats.json")))
    assert stats["n_docs"] == 0 and stats["avgdl"] == 0.0
    fsck = fsck_index(d, deep=True)
    assert fsck["ok"], fsck["errors"]
    assert search_local(d, "red car", k=5) == []
    assert update_doc_tags(spark, d, {0: ["x"]})["updated_docs"] == 0

    out = append_pages(
        spark, generate_pages(spark, 80, seed=4, partitions=2), d
    )
    stats = json.load(open(os.path.join(d, "stats.json")))
    assert out["appended_docs"] > 0
    assert stats["n_docs"] == out["appended_docs"]
    docs = pq.read_table(os.path.join(d, "docs.parquet"), columns=["doc_id", "dl"])
    # the one corpus-stats formula: exact integer total over the count
    assert stats["avgdl"] == int(np.sum(docs["dl"].to_numpy())) / docs.num_rows
    hits = search_local(d, "red car", k=5)
    assert hits and {i for i, _ in hits} <= set(docs["doc_id"].to_pylist())
    assert fsck_index(d, deep=True)["ok"]
