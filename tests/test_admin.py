"""fsck_index: clean indexes verify; every corruption class is caught;
the invariants survive a full maintenance cycle."""

import glob
import os

import pyarrow.parquet as pq

from refimage_spark.index.admin import fsck_index
from refimage_spark.index.build import build_index
from refimage_spark.sources.pages import generate_pages


def _build(spark, tmp_path, n=600, parts=4):
    d = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, n, seed=29, partitions=2), d,
                num_parts=parts)
    return d


def test_fsck_clean_and_after_maintenance(spark, tmp_path):
    from refimage_spark.index.merge import (
        append_pages, compact, delete_docs, merge_segments)

    d = _build(spark, tmp_path)
    out = fsck_index(d)
    assert out["ok"], out["errors"]
    assert out["segments"] == 4 and out["n_docs"] > 500
    # a full maintenance cycle must preserve every fsck invariant
    delete_docs(d, [1, 2, 3])
    compact(spark, d)
    append_pages(spark, generate_pages(spark, 150, seed=30, partitions=1), d)
    merge_segments(d, sorted(
        r["partition_id"]
        for r in __import__("refimage_spark.index.segment",
                            fromlist=["read_manifest"]).read_manifest(d)
    )[:2])
    out = fsck_index(d)
    assert out["ok"], out["errors"]


def test_fsck_catches_corruption(spark, tmp_path):
    d = _build(spark, tmp_path)
    post = sorted(glob.glob(os.path.join(d, "segments", "seg-*.post")))[0]

    # 1. flipped byte: deep sha256 catches it; fast mode (size-only) can't
    orig = open(post, "rb").read()
    with open(post, "r+b") as f:
        f.seek(len(orig) // 2)
        f.write(bytes([orig[len(orig) // 2] ^ 0xFF]))
    deep = fsck_index(d, deep=True)
    assert not deep["ok"] and any("checksum" in e for e in deep["errors"])
    assert fsck_index(d, deep=False)["ok"]  # documented fast-mode blind spot
    open(post, "wb").write(orig)
    assert fsck_index(d)["ok"]

    # 2. truncation: caught even in fast mode
    with open(post, "r+b") as f:
        f.truncate(len(orig) - 7)
    fast = fsck_index(d, deep=False)
    assert not fast["ok"] and any("bytes" in e for e in fast["errors"])
    open(post, "wb").write(orig)

    # 3. missing sidecar
    docs_p = post.replace(".post", ".docs.parquet")
    os.rename(docs_p, docs_p + ".hidden")
    out = fsck_index(d)
    assert not out["ok"] and any("missing files" in e for e in out["errors"])
    os.rename(docs_p + ".hidden", docs_p)

    # 4. unsorted dictionary: the serving lookup's binary search trusts
    # the writer's term order, so fsck is where a bad order must show
    dict_p = post.replace(".post", ".dict.parquet")
    orig_dict = open(dict_p, "rb").read()
    t = pq.read_table(dict_p)
    pq.write_table(t.take(list(range(t.num_rows))[::-1]), dict_p)
    out = fsck_index(d)
    assert not out["ok"] and any("not strictly sorted" in e for e in out["errors"])
    open(dict_p, "wb").write(orig_dict)
    assert fsck_index(d)["ok"]

    # 5. stats drift (segments vs stats.json doc count)
    import json

    sp = os.path.join(d, "stats.json")
    st = json.load(open(sp))
    st["n_docs"] += 5
    json.dump(st, open(sp, "w"))
    out = fsck_index(d)
    assert not out["ok"] and any("stats.json says" in e for e in out["errors"])


def test_fsck_fails_on_lost_manifest(spark, tmp_path):
    """Total segment loss (empty manifest, stats.json still claiming
    docs) must FAIL fsck — the signature of a partial restore
    (regression: it certified ok=True with 0 segments)."""
    import shutil

    d = _build(spark, tmp_path)
    shutil.rmtree(os.path.join(d, "manifest"))
    out = fsck_index(d)
    assert not out["ok"]
    assert any("stats.json says" in e for e in out["errors"])
