"""Deterministic synthetic Common-Crawl-style ``pages`` corpus.

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Determinism: every row is a pure function of (seed, row index) — a
counter-based Philox stream keyed per row — so the corpus is
byte-identical at any parallelism/partitioning. Generation runs as
``mapInPandas`` over ``spark.range`` (distributed, no driver loop,
no data movement: each task generates its own slice).

Fixture properties (FIXTURES.md §1):
- Zipf(~1.07) unigram text over a ~10k-term vocab whose head includes
  the reference query-set terms (red/car/blue/house/... so FIXTURES.md
  §3 queries are non-trivial);
- html wraps text with boilerplate, entities (&#32;), inline tags and
  comments so extraction (functions/extract.py) is non-trivial yet
  byte-identical reversible;
- ~1% content duplicates (same html, different url) exercising
  sha2-content dedup (reference: src/refimage/storage.py:130-138) and
  ~0.5% url duplicates (same url+html, later warc_ts).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

# Reference query-set terms planted into the vocab head (FIXTURES.md §3).
PLANTED = [
    "red", "car", "blue", "house", "fast", "luxury", "sports", "expensive",
    "cat", "pet", "beach", "sunset", "person", "people", "cheap", "city",
    "mountain", "river", "train", "engine",
]
VOCAB_SIZE = 10_000
ZIPF_S = 1.07
LANGS = ["en", "de", "fr", "ja"]
LANG_P = [0.8, 0.08, 0.07, 0.05]
MEAN_DOC_TOKENS = 120.0
_EPOCH_S = 1_690_000_000  # fixed epoch for warc_ts


def _vocab() -> list[str]:
    v = list(PLANTED)
    v += [f"w{i:04d}" for i in range(VOCAB_SIZE - len(PLANTED))]
    return v


def _zipf_p(n: int) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = 1.0 / ranks**ZIPF_S
    return p / p.sum()


def _row_rng(seed: int, i: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, i]))


def _gen_text(seed: int, i: int, vocab: np.ndarray, p: np.ndarray) -> str:
    rng = _row_rng(seed, i)
    n = max(5, int(rng.lognormal(mean=np.log(MEAN_DOC_TOKENS), sigma=0.6)))
    toks = rng.choice(vocab, size=n, p=p)
    return " ".join(toks.tolist())


def _decorate(text: str, rng: np.random.Generator) -> str:
    """Inject entities/tags/comments that extraction must strip, such that
    extract(html) == text byte-for-byte."""
    words = text.split(" ")
    out = []
    for w in words:
        r = rng.random()
        if r < 0.03:
            out.append(f"<b>{w}</b>")
        elif r < 0.05:
            out.append(f"<em>{w}</em>")
        else:
            out.append(w)
    s = " ".join(out)
    # some separators as numeric entity for space
    if rng.random() < 0.3:
        idx = s.find(" ", len(s) // 2)
        if idx > 0:
            s = s[:idx] + "&#32;" + s[idx + 1 :]
    if rng.random() < 0.2:
        s += "<!-- trailing comment -->"
    return s


def _row(seed: int, i: int, vocab: np.ndarray, p: np.ndarray):
    # duplicate injection: pure function of i.
    # url dup = a RECRAWL: same url, same content, later warc_ts (keeps the
    # per-url byte-identity invariant of BASELINE.json input_hint);
    # content dup = same html under a different url (content-hash dedup prey).
    url_i = i - 1 if (i % 199 == 7 and i > 0) else i
    content_i = i - 1 if (i % 97 == 3 and i > 0) else url_i
    text = _gen_text(seed, content_i, vocab, p)
    rng = _row_rng(seed, content_i + 10_000_019)  # decoration stream
    body = _decorate(text, rng)
    lrng = _row_rng(seed, url_i + 20_000_033)
    lang = LANGS[int(lrng.choice(len(LANGS), p=LANG_P))]
    host = int(lrng.integers(0, 500))
    url = f"https://host{host:03d}.example/p/{url_i}"
    html = (
        f'<html><head><meta charset="utf-8"><title>Doc {content_i}</title></head>'
        f"<body><nav>home &amp; about</nav><article>{body}</article>"
        f'<script>var x = "{content_i}";</script><footer>&copy; example.org'
        f"</footer></body></html>"
    ).encode("utf-8")
    ts = pd.Timestamp(_EPOCH_S + i * 17, unit="s")
    return url, ts, html, text, lang


def generate_pages(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: each task generates its slice."""
    vocab = np.asarray(_vocab(), dtype=object)
    p = _zipf_p(len(vocab))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [_row(seed, int(i), vocab, p) for i in b["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng_df = spark.range(0, n_docs, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)

