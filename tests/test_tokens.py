"""One whitespace-token rule across the three engines that apply it:
Spark (``hashing.tokens``), the DuckDB oracle (``hashing.tokens_sql``)
and the Python UDTF kernel (``tokenize``)."""

from __future__ import annotations

import duckdb

from k_means_hadoop_spark.functions.hashing import tokens, tokens_sql
from k_means_hadoop_spark.functions.udtfs import register

# \x0B is in Java's \s but not RE2's; \x1c, \xa0 and \u2003 are in
# Python's str \s but in neither Java's nor RE2's; \t and \n at the ends
# survive Spark's trim, which strips spaces only.
HOSTILE = ["a\x0bb", "a\x1cb", "a\x1c", "a\xa0b", "a\u2003b", " a  b ", "\ta\n", "", "   "]


def test_hostile_whitespace_tokens_agree(spark):
    rows = list(enumerate(HOSTILE))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    on_spark = {r.doc_id: list(r.toks) for r in df.select("doc_id", tokens("text").alias("toks")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    on_duckdb = dict(con.execute(f"SELECT doc_id, {tokens_sql('text')} FROM documents").fetchall())
    assert on_duckdb == on_spark

    register(spark)
    df.createOrReplaceTempView("hostile_ws_docs")
    on_udtf = {i: [] for i, _ in rows}
    for r in spark.sql(
        "SELECT d.doc_id, t.pos, t.token FROM hostile_ws_docs d, LATERAL tokenize(d.text) t"
    ).collect():
        on_udtf[r.doc_id].append((r.pos, r.token))
    # the UDTF drops the '' tokens that an empty string or a \t or \n
    # at either end (trim strips spaces only) leaves, numbering tokens
    # before it drops them
    assert {i: sorted(v) for i, v in on_udtf.items()} == {
        i: [(pos, t) for pos, t in enumerate(toks) if t] for i, toks in on_spark.items()
    }
    assert on_spark[0] == ["a", "b"] and on_spark[1] == ["a\x1cb"]
