"""Seeded benchmark inputs: the pages table and the query streams.

Text follows the distribution of ``refimage_spark.sources.pages`` (the
same vocabulary and Zipf exponent, log-normal document lengths, planted
recrawls and content duplicates), but it is drawn with one vectorised
NumPy pass instead of one Philox stream per row, so a 10k-page input
takes well under a second to make. The same seed gives the same table.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from refimage_spark.sources.pages import (
    LANG_P,
    LANGS,
    MEAN_DOC_TOKENS,
    PLANTED,
    _vocab,
    _zipf_p,
)

VOCAB = np.asarray(_vocab(), dtype=object)
ZIPF_P = _zipf_p(len(VOCAB))
EPOCH_S = 1_700_000_000
URL_DUP_EVERY = 199  # row i (i % 199 == 7) re-crawls row i-1: same url + html
CONTENT_DUP_EVERY = 97  # row i (i % 97 == 3) copies row i-1's html, new url

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, 0])


def _token_ids(seed: int, n: int) -> list[np.ndarray]:
    rng = _rng(seed, 1)
    lens = np.maximum(
        5, rng.lognormal(np.log(MEAN_DOC_TOKENS), 0.6, size=n).astype(np.int64)
    )
    flat = rng.choice(len(VOCAB), size=int(lens.sum()), p=ZIPF_P)
    return np.split(flat, np.cumsum(lens)[:-1])


def make_pages(seed: int, n: int) -> pa.Table:
    """``n`` page rows: url, warc_ts, html, text, lang."""
    ids = _token_ids(seed, n)
    i = np.arange(n)
    url_i = np.where((i % URL_DUP_EVERY == 7) & (i > 0), i - 1, i)
    content_i = np.where((i % CONTENT_DUP_EVERY == 3) & (i > 0), i - 1, url_i)
    texts = [" ".join(VOCAB[ids[c]]) for c in content_i]
    rng = _rng(seed, 2)
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    hosts = rng.integers(0, 500, size=n)
    return pa.table(
        [
            [f"https://host{hosts[u]:03d}.example/p/{u}" for u in url_i],
            pa.array((EPOCH_S + i * 17) * 1_000_000, pa.timestamp("us")),
            [
                f"<html><head><title>Doc {c}</title></head><body><article>"
                f"{t}</article></body></html>".encode()
                for c, t in zip(content_i, texts)
            ],
            texts,
            langs[url_i].tolist(),
        ],
        schema=PAGES_SCHEMA,
    )


# ---- queries -----------------------------------------------------------------

MALFORMED = [
    "red car^9",  # weight out of range
    "   ",  # empty
    'TEXT("red car"',  # unterminated call
    'EXCLUDE(TEXT("beach"))',  # wrong arity
    'WEIGHT(TEXT("car"), x)',  # weight is not a number
]


def _mid_terms(rng: np.random.Generator, n: int) -> list[str]:
    """Terms from the vocabulary's body (ranks 20-2000)."""
    return [str(VOCAB[r]) for r in rng.integers(20, 2000, size=n)]


def _shaped_query(rng: np.random.Generator, shape: int) -> str:
    """One query in a FIXTURES.md section 3 shape."""
    p = [PLANTED[j] for j in rng.permutation(len(PLANTED))[:4]]
    m = _mid_terms(rng, 3)
    lang = LANGS[int(rng.integers(len(LANGS)))]
    w = round(float(rng.uniform(0.2, 1.0)), 1)
    return [
        f"{p[0]} {p[1]}",  # text
        f"{p[0]} {m[0]}^{w}",  # clause weight
        f"{p[0]} {p[1]} OR {p[2]} {m[0]}",  # OR
        f"{p[0]} {m[0]} AND #{lang}",  # explicit AND with a tag
        f"{p[0]} {p[1]} #{lang}",  # implicit AND of text and tag
        f"{p[0]} {p[1]} NOT {p[2]}",  # binary NOT
        f"{p[0]}^{w} OR {p[1]} {m[0]}^0.6",  # weighted OR
        f'EXCLUDE(TEXT("{p[0]} {m[0]}"), TEXT("{p[1]}"))',  # functional form
        p[0],  # head term
        f"{p[0]} {m[0]} {m[1]} {m[2]}",  # multi-term bag
    ][shape]


N_SHAPES = 10


def small_pool(seed: int, n: int = 50) -> list[str]:
    """``n`` distinct well-formed queries; query i has shape i % N_SHAPES,
    so every popularity stratum holds each shape once whatever the seed."""
    rng = _rng(seed, 4)
    pool: list[str] = []
    while len(pool) < n:
        q = _shaped_query(rng, len(pool) % N_SHAPES)
        if q not in pool:
            pool.append(q)
    return pool


def small_stream(
    seed: int, pool: list[str], n: int, zipf_s: float, malformed_share: float
) -> list[str]:
    """Draws from ``pool`` with Zipf popularity by pool position, and a
    share of malformed queries."""
    rng = _rng(seed, 5)
    w = 1.0 / np.arange(1, len(pool) + 1) ** zipf_s
    picks = rng.choice(len(pool), size=n, p=w / w.sum())
    bad = rng.random(n) < malformed_share
    bad_pick = rng.integers(len(MALFORMED), size=n)
    return [
        MALFORMED[b] if is_bad else pool[i]
        for i, is_bad, b in zip(picks, bad, bad_pick)
    ]


def doc_freqs(seed: int, n_pages: int) -> np.ndarray:
    """Per-vocabulary-id document frequency over the pages' token draws."""
    df = np.zeros(len(VOCAB), dtype=np.int64)
    for row in _token_ids(seed, n_pages):
        df[np.unique(row)] += 1
    return df


def wide_stream(
    seed: int, df: np.ndarray, n: int, skew_share: float, df_floor: int
) -> list[str]:
    """``n`` distinct queries. A ``skew_share`` of them are idf-skewed:
    one head term (a planted term, in nearly every page) plus two
    ``w####`` terms whose df is at least ``df_floor``. With ``df_floor``
    = k x segments, a segment holds about k docs that match the rarer
    terms, so its kth score can clear the head term's block bound. The
    rest are flat-score queries in the section 3 shapes."""
    rng = _rng(seed, 6)
    ranks = np.arange(len(VOCAB))
    tail = ranks[(ranks >= len(PLANTED)) & (df >= df_floor)]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        if rng.random() < skew_share:
            head = PLANTED[int(rng.integers(len(PLANTED)))]
            t1, t2 = rng.choice(tail, size=2, replace=False)
            q = f"{head} {VOCAB[t1]} {VOCAB[t2]}"
        else:
            q = _shaped_query(rng, int(rng.integers(N_SHAPES)))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out
