"""BPE vocabulary learning: Spark == pycore == DuckDB, plus the merge
semantics corner cases the two-space representation exists for."""

import duckdb

import __spark_entry__ as entrymod
from image_ocr_spark.operators.bpe import bpe_merges
from image_ocr_spark.pycore.bpe import learn_bpe, to_rep, word_counts

TRICKY = [
    "the cat sat on the mat",
    "aaa abab ababab banana bandana",
    "low lower lowest newer newest wider the the the",
    "",
    None,
    "tab\there\nnewline  double  space",
    "xyxyxy xyxy zzzz",
    # non-ASCII: Java regex, RE2 and Python all split '(.)' per CODE
    # POINT (incl. astral-plane surrogate pairs) — locked in here
    "héllo wörld 日本語 テスト",
    "🙂🙂 x🙂y 漢字漢字",
]


def _spark_rows(spark, texts, rounds):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return [
        (r.merge_round, r.sym_left, r.sym_right, r.merged, r.pair_count)
        for r in bpe_merges(docs, rounds=rounds).collect()
    ]


def _duck_rows(texts, rounds):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    rows = con.execute(entrymod._sql_bpe_vocab(rounds)).fetchall()
    con.close()
    return sorted(tuple(r) for r in rows)


def test_three_engine_parity_tricky_corpus(spark):
    """Spark operator, pycore reference and the driver's DuckDB oracle all
    learn the identical merge table on a corpus with overlapping runs
    ("aaa", "xyxyxy"), nulls, empties, tabs/newlines and double spaces."""
    want = learn_bpe(word_counts(TRICKY), 10)
    assert _spark_rows(spark, TRICKY, 10) == want
    assert _duck_rows(TRICKY, 10) == sorted(want)
    assert len(want) == 10


def test_overlap_merges_greedy_leftmost():
    """Pair ("a","a") in "aaa" counts both positions but merges only the
    leftmost occurrence — replace() never rescans its own output."""
    merges = learn_bpe({"aaa": 1}, 2)
    assert merges[0] == (1, "a", "a", "aa", 2)
    # after round 1 the word is [aa, a]; round 2 merges (aa, a)
    assert merges[1] == (2, "aa", "a", "aaa", 1)
    assert to_rep("aaa").replace(" a  a ", " aa ") == " aa  a "


def test_tie_breaks_are_deterministic():
    """Equal-count pairs resolve (left ASC, right ASC) in every engine."""
    wc = {"dc": 1, "ba": 1, "bc": 1}
    assert learn_bpe(wc, 1)[0][:3] == (1, "b", "a")


def test_merge_table_on_fixture_corpus(spark, documents):
    """Spark == pycore on the real sf0.001 documents table (the driver
    checks Spark == DuckDB on the same query at sf0.01)."""
    texts = [r.text for r in documents.select("text").collect()]
    want = learn_bpe(word_counts(texts), 6)
    got = _spark_rows(
        spark, texts, 6
    )  # same corpus routed through the operator
    assert got == want and len(got) == 6
    # monotone sanity: counts never increase within the learned table for
    # a pair merged earlier vs the same pair's count later (table is the
    # argmax sequence, so each row was the max of its round)
    assert all(row[4] > 0 for row in got)


def test_median_by_type_oracle_preserved(spark):
    """median_by_type left the driver registry for bpe_vocab (r05); the
    W6 exact-median value check against DuckDB survives here."""
    from tests.conftest import SF_DIR

    sdf = entrymod.q_median_by_type(spark, SF_DIR)
    got = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(entrymod.MEDIAN_ORACLE_SQL).fetchall())
    con.close()
    assert got == want and len(got) > 0
