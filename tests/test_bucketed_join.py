"""Bucketing axis: two tables bucketed by url must join with no Exchange
(co-located buckets) — the repeated-join layout a crawl pipeline relies on."""

from image_ocr_spark.operators.bucketed import colocated_join, write_bucketed


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_exchange_free(spark, extracted):
    left = extracted.select("url", "doc_id", "text", "doc_type")
    right = extracted.select("url", "receipt_score_centi", "invoice_score_centi")
    write_bucketed(left, "t_pages_b", buckets=8)
    write_bucketed(right, "t_scores_b", buckets=8)

    joined = colocated_join(spark, "t_pages_b", "t_scores_b")
    plan = _executed(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan

    # and it is not vacuous: results match a plain join
    expect = left.join(right, "url").count()
    assert joined.count() == expect
    assert expect > 0


def test_unbucketed_join_does_shuffle(spark, extracted):
    """Control: the same join without bucketing pays two exchanges."""
    left = extracted.select("url", "doc_id")
    right = extracted.select("url", "doc_type")
    plan = _executed(left.join(right.hint("merge"), "url"))
    assert "Exchange" in plan
