"""The pinned tokenizer spec — ONE definition, three renderings.

Spec (golden-tested, see tests/test_tokenizer.py):
    lowercase -> split on runs of [^a-z0-9] -> drop empty tokens

The reference's analogue is CLIP's internal BPE tokenizer
(/root/reference/src/refimage/models/clip_model.py:164) plus the DSL's
``.strip().lower()`` normalization (/root/reference/src/refimage/dsl.py:117,144).
We pin a simple deterministic lexical tokenizer instead (SURVEY.md §2.7 F10);
rank-identity for BM25 is defined against THIS spec.

Four renderings that must stay in lockstep (cross-checked by tests,
including a hypothesis fuzz over unicode):
- ``spark_tokens(col)``     : native Column expression (JVM, codegen — used
                              in all DataFrame plans; zero Python cost)
- ``py_tokens(text)``       : plain Python (query compiler, index kernels)
- ``duckdb_tokens_sql(e)``  : DuckDB SQL fragment (correctness oracles)
- ``arrow_token_list(arr)`` : Arrow C++ (utf8_lower + split_pattern_regex)
                              — the zero-shuffle pass B path. Arrow's
                              utf8_lower is the SIMPLE 1:1 case mapping;
                              the one unconditional multi-char lowercase
                              in Unicode (U+0130 İ -> i + combining dot,
                              which Java/Python produce and which SPLITS
                              the token) is pre-substituted to match.
                              Final-sigma context (Σ -> ς vs σ) cannot
                              affect tokens: both forms are separators.
                              ``arrow_flat_tokens(arr)`` flattens it to
                              (tokens, row index) for the batch kernels.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pyspark is imported lazily: the serving tier
    from pyspark.sql import Column  # (index/query.py worker processes)
    # must be able to import the kernel modules without paying the
    # multi-second pyspark import — only spark_tokens needs it.

TOKEN_SPLIT_RE = "[^a-z0-9]+"
_PY_SPLIT = re.compile(TOKEN_SPLIT_RE)

# BM25 constants, pinned (SURVEY.md §2.3 K6; FIXTURES.md §2)
BM25_K1 = 1.2
BM25_B = 0.75


def spark_tokens(col: Column | str) -> Column:
    """array<string> of tokens — pure built-in functions. array_remove
    (a codegen-native expression) drops the empty strings; the previous
    F.filter lambda was a higher-order function, which Spark evaluates
    interpreted — measured 1.6x slower on the same 7.2M tokens, with
    bit-identical output (asserted over 50k docs)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SPLIT_RE), "")


def py_tokens(text: str) -> list[str]:
    return [t for t in _PY_SPLIT.split(text.lower()) if t]


def duckdb_tokens_sql(expr: str) -> str:
    """DuckDB fragment producing the same token list as ``spark_tokens``."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )


def arrow_token_list(arr):
    """Arrow ListArray of tokens per input string — bit-identical to
    ``spark_tokens`` (fuzz-tested vs ``py_tokens``) once the empty split
    artifacts are dropped; ``arrow_flat_tokens`` does that."""
    import pyarrow.compute as pc

    # U+0130: the only unconditional multi-char Unicode lowercase —
    # Java/Python emit 'i' + U+0307, splitting the token; pre-substitute
    # so Arrow's simple-mapping utf8_lower agrees
    arr = pc.replace_substring(arr, "İ", "i̇")
    return pc.split_pattern_regex(pc.utf8_lower(arr), TOKEN_SPLIT_RE)


def arrow_flat_tokens(arr):
    """(flat, row_of): every token of ``arr`` in row order as one Arrow
    string array, and the int64 numpy index of the input row each token
    came from. Empty split artifacts at string edges are dropped, so
    row i's tokens are exactly ``py_tokens(arr[i])``."""
    import numpy as np
    import pyarrow.compute as pc

    toks = arrow_token_list(arr)
    flat = toks.flatten()
    row_of = np.repeat(
        np.arange(len(toks), dtype=np.int64), np.diff(toks.offsets.to_numpy())
    )
    keep = pc.not_equal(flat, "")
    return flat.filter(keep), row_of[keep.to_numpy(zero_copy_only=False)]
