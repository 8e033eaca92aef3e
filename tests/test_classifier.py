"""Classifier tests mirroring the reference's fixtures
(`/root/reference/tests/test_classifier.py:17-139`), plus the Spark SQL
mirror checked for exact integer-score agreement."""

from image_ocr_spark.pycore.classify import (
    classify_doc,
    keyword_score_centi,
    score_with_layout_hint,
    INVOICE_KEYWORDS_W10,
    INVOICE_NEGATIVE_W10,
    RECEIPT_KEYWORDS_W10,
    RECEIPT_NEGATIVE_W10,
)
from image_ocr_spark.pycore.normalize import fold_alnum_upper

RECEIPT_TEXT = (
    "領収書\n○○コンビニエンスストア\n2024年1月15日\n\n"
    "おにぎり ¥150\nお茶 ¥130\n\n合計 ¥280\nお預り ¥500\nお釣り ¥220"
)
INVOICE_TEXT = (
    "請求書\n\n株式会社テスト 御中\n\n請求日: 2024年1月20日\n"
    "支払期限: 2024年2月29日\n\n請求金額: ¥55,000\n\n"
    "振込先:\n○○銀行 △△支店\n普通 1234567"
)


def test_receipt_by_keyword():
    res = classify_doc(RECEIPT_TEXT)
    assert res["doc_type"] == "receipt"
    assert "領収書" in res["matched_receipt"]
    # confidence > 0.5  <=>  2*score > total
    total = res["receipt_score_centi"] + res["invoice_score_centi"]
    assert 2 * res["receipt_score_centi"] > total


def test_invoice_by_keyword():
    res = classify_doc(INVOICE_TEXT)
    assert res["doc_type"] == "invoice"
    assert "請求書" in res["matched_invoice"]
    total = res["receipt_score_centi"] + res["invoice_score_centi"]
    assert 2 * res["invoice_score_centi"] > total


def test_unknown_document():
    assert classify_doc("これは何の文書かわかりません。")["doc_type"] == "unknown"
    assert classify_doc("")["doc_type"] == "unknown"
    assert classify_doc("   \n\t\n   ")["doc_type"] == "unknown"


def test_negative_keywords_lower_score():
    with_neg = "領収書\n振込先: ○○銀行\n口座番号: 1234567"
    without_neg = "領収書"
    s_with, _ = keyword_score_centi(
        fold_alnum_upper(with_neg), RECEIPT_KEYWORDS_W10, RECEIPT_NEGATIVE_W10
    )
    s_without, _ = keyword_score_centi(
        fold_alnum_upper(without_neg), RECEIPT_KEYWORDS_W10, RECEIPT_NEGATIVE_W10
    )
    assert s_with < s_without + 0  # negatives subtract
    assert classify_doc(with_neg)["doc_type"] in ("receipt", "invoice")


def test_mixed_keywords_both_positive():
    res = classify_doc("領収書兼請求書\n合計金額\n振込先")
    assert res["receipt_score_centi"] > 0
    assert res["invoice_score_centi"] > 0


def test_diminishing_returns_counting():
    once, _ = keyword_score_centi("領収書", RECEIPT_KEYWORDS_W10, {})
    thrice, _ = keyword_score_centi("領収書 領収書 領収書", RECEIPT_KEYWORDS_W10, {})
    # weight 3.0: once -> 300 centi; x3 -> 30*(10+3*2) = 480 centi
    assert once == 300
    assert thrice == 480


def test_layout_hint_monotonicity():
    # aspect > 2.0 boosts receipt x1.2; < 0.8 boosts invoice x1.1
    # (ref classifier.py:162-179)
    r, i = 100, 100
    r_tall, _ = score_with_layout_hint(r, i, 3000)
    _, i_wide = score_with_layout_hint(r, i, 500)
    assert r_tall == 120 and i_wide == 110


def test_keyword_table_is_the_dictionary_union():
    """The Spark scorer's one keyword table reproduces every (keyword,
    weight) pair of the four pycore dictionaries, 0 elsewhere -- no JVM."""
    from image_ocr_spark.functions.classify import _keyword_table

    dicts = (
        RECEIPT_KEYWORDS_W10, INVOICE_KEYWORDS_W10,
        RECEIPT_NEGATIVE_W10, INVOICE_NEGATIVE_W10,
    )
    table = {kw: weights for kw, *weights in _keyword_table()}
    assert len(_keyword_table()) == len(table) == 57
    for j, d in enumerate(dicts):
        for kw, weights in table.items():
            assert weights[j] == d.get(kw, 0), (kw, j)
        assert {kw.upper() for kw in d} <= set(table), j


def _random_texts(n: int, seed: int = 7) -> list:
    """Whole keywords, their halves and filler, concatenated at random."""
    import random

    rng = random.Random(seed)
    kws = sorted(
        set(RECEIPT_KEYWORDS_W10) | set(INVOICE_KEYWORDS_W10)
        | set(RECEIPT_NEGATIVE_W10) | set(INVOICE_NEGATIVE_W10)
    )
    filler = ["", " ", "\n", "金", "額", "番号", "ｔｅｌ", "ｒｅｃｅｉｐｔ", "Invoice", "¥1,000", "８％"]
    parts = kws + [k[: len(k) // 2] for k in kws] + [k[len(k) // 2:] for k in kws] + filler
    return ["".join(rng.choices(parts, k=rng.randint(0, 12))) for _ in range(n)]


def test_spark_classifier_agrees_exactly(spark):
    from image_ocr_spark.functions.classify import classify_df

    texts = [
        RECEIPT_TEXT,
        INVOICE_TEXT,
        "これは何の文書かわかりません。",
        "",
        None,
        "領収書兼請求書 合計金額 振込先",
        "ＲＥＣＥＩＰＴ ｔｏｔａｌ",  # fullwidth folding path
        "領収書 領収書 領収書 レシート TEL 合計",
        # keywords contained in other keywords
        "合計金額 合計",
        "御請求書 請求書請求書",
        "口座番号口座",
        # suffix/prefix overlaps
        "支店舗",
        "納品目",
        "内税抜金額",
        "RECEIPTEL",
        "請求書 振込先",  # negatives only on the receipt side
        "※※※",
        "様様様様",
        "８％対象",
    ] + _random_texts(300)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = classify_df(df, "text").collect()
    assert len(got) == len(texts)
    for t, row in zip(texts, got):
        exp = classify_doc(t)
        assert row.receipt_score_centi == exp["receipt_score_centi"], t
        assert row.invoice_score_centi == exp["invoice_score_centi"], t
        assert row.doc_type == exp["doc_type"], t


def test_spark_classifier_ascii_gate(spark):
    """Rows on both sides of classify_df's ASCII gate score as pycore does:
    pure-ASCII text is matched against the ASCII keywords only, so a
    keyword the gate must still see (fullwidth text that folds to ASCII,
    ASCII next to CJK, ``8%`` without 対象) sits in a non-ASCII row."""
    from image_ocr_spark.functions.classify import classify_df

    texts = [
        "TEL 03-1234-5678", "TELTEL", "RECEIPT", "INVOICE no. 7",
        "Receipt tel: 1 invoice", "RECEIPT TEL TEL INVOICE INVOICE",
        "ＴＥＬ", "ＩＮＶＯＩＣＥ", "ｔｅｌ ｒｅｃｅｉｐｔ",
        "TEL電話", "領収書 RECEIPT", "INVOICE請求書", "ＴＥＬ TEL",
        "8% off", "8%", "８％", "10% TEL",
        "", None,
    ]
    assert {t.isascii() for t in texts if t is not None} == {True, False}
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = classify_df(df, "text").collect()
    assert len(got) == len(texts)
    for t, row in zip(texts, got):
        exp = classify_doc(t)
        got_row = (row.receipt_score_centi, row.invoice_score_centi, row.doc_type)
        assert got_row == (
            exp["receipt_score_centi"], exp["invoice_score_centi"], exp["doc_type"]
        ), t
