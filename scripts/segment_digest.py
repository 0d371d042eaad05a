"""Print a byte-level digest of an index directory.

Usage:
  PYTHONPATH=. python scripts/segment_digest.py INDEX_DIR
  (or: make digest IDX=INDEX_DIR)

One line per segment file (``sha256  segments/seg-NNNNN.{post,dict.parquet,
docs.parquet}``), then every manifest row as sorted-key JSON (ordered by
partition id), then ``stats.json``. Two indexes hold byte-identical
segments, rows and corpus stats exactly when their digests match, so a
parent-vs-change check is one ``diff`` of two outputs. Pure file reads —
no Spark session. The manifest listing is the package's own
``manifest_rows`` (superseded rows included).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from refimage_spark.index.segment import manifest_rows


def digest_lines(index_dir: str) -> list[str]:
    lines = []
    seg_dir = os.path.join(index_dir, "segments")
    for name in sorted(os.listdir(seg_dir)) if os.path.isdir(seg_dir) else []:
        with open(os.path.join(seg_dir, name), "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        lines.append(f"{sha}  segments/{name}")
    for r in manifest_rows(index_dir):  # pid order
        lines.append("manifest " + json.dumps(r, sort_keys=True))
    with open(os.path.join(index_dir, "stats.json")) as f:
        lines.append("stats " + json.dumps(json.load(f), sort_keys=True))
    return lines


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print("\n".join(digest_lines(sys.argv[1])))
