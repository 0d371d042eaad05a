"""BM25 top-k oracle that shares no code with the segment kernel.

``Bm25Oracle`` evaluates any DSL query with DuckDB SQL over the index's
own ``docs.parquet``: tokens, df, dl, n and avgdl are all recomputed,
with the scoring formula of ``__spark_entry__._clause_sql`` and the
node semantics of ``plans/compiler.py``.
"""

from __future__ import annotations

import duckdb

from refimage_spark import dsl
from refimage_spark.tokenizer import BM25_B, BM25_K1, duckdb_tokens_sql, py_tokens

REL_TOL = 1e-9


class Bm25Oracle:
    def __init__(self, index_dir: str, threads: int) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        src = f"read_parquet('{index_dir}/docs.parquet/*/*.parquet')"
        self.con.execute(f"CREATE TABLE docs AS SELECT doc_id, tags, text FROM {src}")
        self.con.execute(
            f"CREATE TABLE toks AS SELECT doc_id, {duckdb_tokens_sql('text')} AS t FROM docs"
        )
        self.con.execute("CREATE TABLE dl AS SELECT doc_id, len(t) AS dl FROM toks")
        self.con.execute(
            "CREATE TABLE tf AS SELECT doc_id, term, count(*) AS tf FROM "
            "(SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY ALL"
        )
        self.con.execute(
            "CREATE TABLE df AS SELECT term, count(*) AS df FROM tf GROUP BY term"
        )
        self.con.execute(
            "CREATE TABLE stats AS SELECT count(*) AS n, avg(dl) AS avgdl FROM dl"
        )

    def _sql(self, node: dsl.Node) -> str:
        if isinstance(node, dsl.TextQuery):
            terms = list(dict.fromkeys(py_tokens(node.text)))
            if not terms:
                return "SELECT NULL::BIGINT AS doc_id, NULL::DOUBLE AS score WHERE false"
            tl = ",".join("'" + t.replace("'", "''") + "'" for t in terms)
            return f"""SELECT tf.doc_id, sum(
                ({node.weight} * ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0))
                * (tf.tf * {BM25_K1 + 1.0})
                / (tf.tf + {BM25_K1} * ((1.0 - {BM25_B}) + ({BM25_B} * dl.dl) / stats.avgdl))
              ) AS score
              FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
              WHERE tf.term IN ({tl}) GROUP BY tf.doc_id"""
        if isinstance(node, dsl.TagFilter):
            want = "[" + ",".join(f"'{t}'" for t in node.tags) + "]"
            fn = "list_has_all" if node.mode == "all" else "list_has_any"
            return (
                f"SELECT doc_id, 0.0::DOUBLE AS score FROM docs "
                f"WHERE {fn}(list_transform(tags, x -> lower(x)), {want})"
            )
        if isinstance(node, dsl.And):
            kids = [self._sql(c) for c in node.children]
            joins = " ".join(
                f"JOIN ({k}) c{i} USING (doc_id)" for i, k in enumerate(kids[1:], 1)
            )
            total = " + ".join(f"c{i}.score" for i in range(len(kids)))
            return f"SELECT doc_id, {total} AS score FROM ({kids[0]}) c0 {joins}"
        if isinstance(node, dsl.Or):
            union = " UNION ALL ".join(f"({self._sql(c)})" for c in node.children)
            return f"SELECT doc_id, sum(score) AS score FROM ({union}) GROUP BY doc_id"
        if isinstance(node, dsl.Not):
            return (
                f"SELECT doc_id, score FROM ({self._sql(node.base)}) WHERE doc_id "
                f"NOT IN (SELECT doc_id FROM ({self._sql(node.exclude)}))"
            )
        raise TypeError(node)

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        """The best ``k + 50`` rows: enough to see every tie at rank k."""
        sql = (
            f"SELECT doc_id, score FROM ({self._sql(dsl.parse(query))}) "
            f"ORDER BY score DESC, doc_id ASC LIMIT {k + 50}"
        )
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]

    def close(self) -> None:
        self.con.close()


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """True when ``got`` is a correct top-k: the oracle's top-k scores
    rank by rank, every doc carrying its oracle score, no doc twice.
    Docs tied (within float rounding) at a score may come in any order."""
    if len(got) != min(k, len(want)):
        return False
    by_doc = dict(want)
    if len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in by_doc or not _close(s, by_doc[d]) or not _close(s, ws):
            return False
    return True
