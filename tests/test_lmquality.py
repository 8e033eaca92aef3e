"""CCNet-style bigram-familiarity quality gate (operators/lmquality.py):
DuckDB replays BOTH stages — vocabulary training (count + deterministic
top-V) and scan-stage scoring — with exact integer equality, and the
physical plan is asserted shuffle-free on the scoring side."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

VOCAB = 512


def _duck(sql):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    out = con.execute(sql).fetchall()
    con.close()
    return out


ORACLE_GRAMS = """
WITH toks AS (
  SELECT doc_id, str_split(coalesce(text, ''), ' ') AS tk FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(tk[1:len(tk)-1],
                               (x, i) -> x || ' ' || tk[i+1])) AS gram
  FROM toks
)
"""

ORACLE_VOCAB = (
    ORACLE_GRAMS
    + f"""
SELECT gram, count(*) AS cnt FROM grams
GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT {VOCAB}
"""
)


def test_vocab_matches_oracle(spark, documents):
    from image_ocr_spark.operators.lmquality import train_bigram_vocab

    got = [
        (r.gram, r.cnt)
        for r in train_bigram_vocab(documents, VOCAB).collect()
    ]
    want = _duck(ORACLE_VOCAB)
    assert got == want


def test_scores_match_oracle(spark, documents):
    from image_ocr_spark.operators.lmquality import familiarity_scores

    got = {
        r.doc_id: (r.n_grams, r.n_known, r.familiarity_micro)
        for r in familiarity_scores(documents, vocab_size=VOCAB).collect()
    }
    want = {
        d: (n, k, fam)
        for d, n, k, fam in _duck(
            ORACLE_GRAMS
            + f"""
, vocab AS (
  SELECT gram FROM grams GROUP BY gram
  ORDER BY count(*) DESC, gram ASC LIMIT {VOCAB}
), scored AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         count(*) FILTER (WHERE g.gram IN (SELECT gram FROM vocab))
           AS n_known
  FROM grams g GROUP BY g.doc_id
)
SELECT t.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       coalesce(s.n_known, 0) AS n_known,
       CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0
            ELSE (1000000 * s.n_known) // s.n_grams END AS familiarity_micro
FROM documents t LEFT JOIN scored s USING (doc_id)
"""
        )
    }
    assert got == want


def test_degenerate_rows(spark):
    from image_ocr_spark.operators.lmquality import familiarity_scores

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "single"), (3, ""), (4, None), (5, "a b")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_grams, r.n_known, r.familiarity_micro)
        for r in familiarity_scores(df, vocab_size=2).collect()
    }
    # corpus grams: "a b" x3, "b a", "b c" -> vocab(2) = {a b, b a}
    assert rows[1] == (4, 3, 750_000)
    assert rows[2] == (0, 0, 0)
    assert rows[3] == (0, 0, 0)
    assert rows[4] == (0, 0, 0)
    assert rows[5] == (1, 1, 1_000_000)


def test_scoring_is_shuffle_free(spark, documents):
    """Once the vocab is trained the scoring pass must plan to a scan +
    one Arrow eval — no Exchange anywhere (the model ships by broadcast,
    not by join)."""
    from image_ocr_spark.operators.lmquality import familiarity_scores

    plan = (
        familiarity_scores(documents, vocab_size=VOCAB)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan


QMIX_ORACLE = (
    ORACLE_GRAMS
    + f"""
, vocab AS (
  SELECT gram FROM grams GROUP BY gram
  ORDER BY count(*) DESC, gram ASC LIMIT {VOCAB}
), scored AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         count(*) FILTER (WHERE g.gram IN (SELECT gram FROM vocab)) AS n_known
  FROM grams g GROUP BY g.doc_id
), allsc AS (
  SELECT t.doc_id,
         (CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0
               ELSE (1000000 * s.n_known) // s.n_grams END)::BIGINT AS fam
  FROM documents t LEFT JOIN scored s USING (doc_id)
), hist AS (SELECT fam AS v, count(*) AS cnt FROM allsc GROUP BY v),
cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS c FROM hist),
nn AS (SELECT count(*) AS n FROM allsc),
cut AS (SELECT
  (SELECT min(v) FROM cum, nn WHERE c >= (1 * n + 2) // 3) AS c1,
  (SELECT min(v) FROM cum, nn WHERE c >= (2 * n + 2) // 3) AS c2),
lab AS (
  SELECT doc_id, fam,
         (list_value('tail', 'middle', 'head'))[
           (fam > c1)::INT + (fam > c2)::INT + 1] AS bucket
  FROM allsc, cut)
SELECT doc_id, fam AS familiarity_micro, bucket FROM lab
WHERE ('0x' || substr(md5('qmix' || doc_id::VARCHAR), 1, 8))::BIGINT
      / 4294967296.0
      < (CASE bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
              WHEN 'tail' THEN 0.1 ELSE 0.0 END)
"""
)


def test_quality_mixture_matches_oracle(spark, documents):
    """End-to-end CCNet selection: exact quantile cutoffs (histogram +
    driver cumulation == DuckDB window), bucket labels, and the
    hash-threshold keep rule — value-identical across engines."""
    from image_ocr_spark.operators.lmquality import quality_mixture

    got = sorted(
        tuple(r) for r in quality_mixture(documents, vocab_size=VOCAB).collect()
    )
    want = sorted(tuple(r) for r in _duck(QMIX_ORACLE))
    assert got == want
    kept_buckets = {b for *_, b in got}
    assert kept_buckets == {"tail", "middle", "head"}  # all strata survive


def test_quality_buckets_are_thirds_and_ordered(spark, documents):
    """Before sampling (the labels quality_mixture filters) the bucket
    masses are N/3 up to tie spill, and the buckets are value-ordered:
    max(tail) <= min(middle) <= ...; the head bucket must out-score the
    tail on average.  The sampled output keeps that order."""
    from image_ocr_spark.operators.lmquality import (
        bucket_label_col,
        familiarity_scores,
        quality_cutoffs,
        quality_mixture,
    )

    def ordered_buckets(rows):
        by = {}
        for r in rows:
            by.setdefault(r.bucket, []).append(r.familiarity_micro)
        assert set(by) == {"tail", "middle", "head"}
        assert not by["middle"] or max(by["tail"]) <= min(by["middle"])
        assert max(by["middle"]) <= min(by["head"])
        assert sum(by["head"]) / len(by["head"]) > sum(by["tail"]) / len(by["tail"])
        return by

    scores = familiarity_scores(documents, vocab_size=VOCAB)
    cutoffs = quality_cutoffs(scores, 3)
    rows = scores.select(
        "familiarity_micro",
        bucket_label_col(F.col("familiarity_micro"), cutoffs).alias("bucket"),
    ).collect()
    n = len(rows)
    for b, vals in ordered_buckets(rows).items():
        assert n // 6 <= len(vals) <= 2 * n // 3 + 1, (b, len(vals))
    ordered_buckets(quality_mixture(documents, vocab_size=VOCAB).collect())


def test_quality_mixture_filter_is_scan_stage(spark, documents):
    """The returned relation plans to scan + Arrow eval + per-row
    project/filter — no Exchange (cutoffs are literals, the keep rule a
    pure expression)."""
    from image_ocr_spark.operators.lmquality import quality_mixture

    plan = (
        quality_mixture(documents, vocab_size=VOCAB)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
