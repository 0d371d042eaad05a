"""Tokenizer golden tests + three-way (Spark / Python / DuckDB) lockstep."""

import duckdb
import pytest
from pyspark.sql import functions as F

from refimage_spark.tokenizer import duckdb_tokens_sql, py_tokens, spark_tokens

GOLDEN = [
    ("Red CAR", ["red", "car"]),
    ("  fast, car!  ", ["fast", "car"]),
    ("a-b_c 42x", ["a", "b", "c", "42x"]),
    ("", []),
    ("...", []),
    ("Tab\tand\nnewline", ["tab", "and", "newline"]),
    ("ünïcode stripped", ["n", "code", "stripped"]),
    ("UPPER lower 123", ["upper", "lower", "123"]),
]


@pytest.mark.parametrize("text,want", GOLDEN)
def test_py_tokens_golden(text, want):
    assert py_tokens(text) == want


def test_spark_matches_py(spark):
    texts = [t for t, _ in GOLDEN]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select(spark_tokens("text").alias("toks")).collect()
    assert [r.toks for r in got] == [py_tokens(t) for t in texts]


def test_duckdb_matches_py():
    con = duckdb.connect()
    for text, want in GOLDEN:
        (got,) = con.execute(
            f"select {duckdb_tokens_sql('?')}", [text]
        ).fetchone()
        assert got == want, text


def test_arrow_rendering_matches_on_tricky_unicode(spark):
    """4th rendering (Arrow C++, the zero-shuffle pass-B path) vs the
    JVM and Python forms on the known-divergent cases: U+0130 (multi-
    char lowercase), Kelvin/Angstrom signs, final sigma, titlecase
    digraphs, exotic whitespace."""
    import pyarrow as pa

    from refimage_spark.tokenizer import arrow_token_list, py_tokens, spark_tokens

    samples = [
        "Hello WORLD foo-bar baz_qux 123",
        "İstanbul STRASSE ß gross",
        "Kelvin K sign and Å angstrom",
        "naïve café résumé ÄÖÜ",
        "ΑΣ ΣΙΓΜΑ τέλος",
        "ǅungla ǄUNGLA ǆungla",
        "a b c\td",
        "",
        "   ",
    ]
    arrow = [
        [t for t in row if t]
        for row in arrow_token_list(pa.array(samples, pa.string())).to_pylist()
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    jvm = [r[0] for r in df.select(spark_tokens("text")).collect()]
    pyt = [py_tokens(s) for s in samples]
    assert arrow == jvm == pyt


def test_arrow_rendering_fuzz_matches_python():
    """Hypothesis fuzz: arrow_token_list == py_tokens over arbitrary
    unicode (the Python form is itself golden-locked to the JVM/DuckDB
    forms by the tests above), and arrow_flat_tokens regroups to the
    same per-row lists."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from refimage_spark.tokenizer import (
        arrow_flat_tokens,
        arrow_token_list,
        py_tokens,
    )

    @given(st.lists(st.text(max_size=40), max_size=20))
    @settings(max_examples=300, deadline=None)
    def check(texts):
        arrow = [
            [t for t in row if t]
            for row in arrow_token_list(pa.array(texts, pa.string())).to_pylist()
        ]
        assert arrow == [py_tokens(s) for s in texts]
        flat, row_of = arrow_flat_tokens(pa.array(texts, pa.string()))
        regrouped = [[] for _ in texts]
        for tok, row in zip(flat.to_pylist(), row_of.tolist()):
            regrouped[row].append(tok)
        assert regrouped == [py_tokens(s) for s in texts]

    check()
