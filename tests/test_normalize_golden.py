"""Golden input->output pairs ported from the reference's test suite
(`/root/reference/tests/test_normalizer.py:22-149`), run against BOTH the
pure-Python core and the Spark SQL expressions — outputs must agree exactly.
"""

import pytest
from pyspark.sql import functions as F

from image_ocr_spark.pycore import normalize as pn

DATE_CASES = [
    ("2024/01/15", "2024-01-15"),
    ("2024-01-15", "2024-01-15"),
    ("2024年1月15日", "2024-01-15"),
    ("令和6年1月15日", "2024-01-15"),
    ("R6.1.15", "2024-01-15"),
    ("平成31年4月30日", "2019-04-30"),
    ("H31.4.30", "2019-04-30"),
    ("昭和50年3月3日", "1975-03-03"),
    ("令和元年5月1日", "2019-05-01"),
    ("２０２４年１月１５日", "2024-01-15"),
    ("20240115", "2024-01-15"),
    ("発行日: 2024年12月08日 です", "2024-12-08"),
    ("2024年2月29日", "2024-02-29"),  # leap year valid
    ("2023年2月29日", None),          # not a leap year
    ("2024年13月1日", None),
    ("1899/01/01", None),             # below 1900 window
    ("invalid", None),
    ("", None),
]

AMOUNT_CASES = [
    ("1000", 1000),
    ("1,000", 1000),
    ("1,234,567", 1234567),
    ("¥1,000", 1000),
    ("￥1,000", 1000),
    ("1,000円", 1000),
    ("1,000-", 1000),
    ("１，０００", 1000),
    ("", None),
    ("abc", None),
]

OCR_AMOUNT_CASES = [("1O,OOO", "10,000"), ("l23", "123"), ("B5S", "855")]

CLEAN_CASES = [
    ("テスト  テスト", "テスト テスト"),
    ("行1\n\n\n\n行2", "行1\n\n行2"),
    ("  テスト  \n  テスト2  ", "テスト\nテスト2"),
    ("a\x00b\x07c", "abc"),
    ("a\r\nb\rc", "a\nb\nc"),
    ("\t tabbed \t text \t", "tabbed text"),
    ("", ""),
    # boundary-newline strips (ADVICE r01: F.trim left '\n' behind; the
    # final strip must match Python str.strip(), not ASCII-space trim)
    (" \t \n\n\n\n tail \t", "tail"),
    ("\n\nhead", "head"),
    ("　全角　", "全角"),
    ("\xa0nbsp\xa0", "nbsp"),
    (" \t \n\n", ""),
]

COMPANY_CASES = [
    ("株式合社テスト", "株式会社テスト"),
    ("有隈会社ほげ", "有限会社ほげ"),
    ("株式会社そのまま", "株式会社そのまま"),
]


@pytest.mark.parametrize("raw,expected", DATE_CASES)
def test_normalize_date_py(raw, expected):
    assert pn.normalize_date(raw) == expected


@pytest.mark.parametrize("raw,expected", AMOUNT_CASES)
def test_normalize_amount_py(raw, expected):
    assert pn.normalize_amount(raw) == expected


@pytest.mark.parametrize("raw,expected", OCR_AMOUNT_CASES)
def test_fix_ocr_amount_py(raw, expected):
    assert pn.fix_ocr_amount(raw) == expected


@pytest.mark.parametrize("raw,expected", CLEAN_CASES)
def test_clean_text_py(raw, expected):
    assert pn.clean_text(raw) == expected


@pytest.mark.parametrize("raw,expected", COMPANY_CASES)
def test_company_fix_py(raw, expected):
    assert pn.fix_company_name(raw) == expected


def _spark_eval(spark, cases, sql_builder):
    """Evaluate a SQL-text builder over the case inputs in one Spark job."""
    df = spark.createDataFrame([(c[0],) for c in cases], ["raw"])
    return [r[0] for r in df.selectExpr(sql_builder("raw")).collect()]


def test_normalize_date_spark(spark):
    from image_ocr_spark.functions.normalize import normalize_date

    got = _spark_eval(spark, DATE_CASES, normalize_date)
    assert got == [exp for _, exp in DATE_CASES]


def test_normalize_amount_spark(spark):
    from image_ocr_spark.functions.normalize import normalize_amount

    got = _spark_eval(spark, AMOUNT_CASES, normalize_amount)
    assert got == [exp for _, exp in AMOUNT_CASES]


def test_fix_ocr_amount_spark(spark):
    from image_ocr_spark.functions.normalize import fix_ocr_amount

    got = _spark_eval(spark, OCR_AMOUNT_CASES, fix_ocr_amount)
    assert got == [exp for _, exp in OCR_AMOUNT_CASES]


def test_clean_text_spark(spark):
    from image_ocr_spark.functions.normalize import clean_text

    got = _spark_eval(spark, CLEAN_CASES, clean_text)
    assert got == [exp for _, exp in CLEAN_CASES]


def test_company_fix_spark(spark):
    from image_ocr_spark.functions.normalize import fix_company_name

    got = _spark_eval(spark, COMPANY_CASES, fix_company_name)
    assert got == [exp for _, exp in COMPANY_CASES]


def _strings(value):
    """The strings of a constant: itself, or those in its list, tuple or
    dict (keys and values)."""
    if isinstance(value, str):
        yield value
    elif isinstance(value, dict):
        for k, v in value.items():
            yield from _strings(k)
            yield from _strings(v)
    elif isinstance(value, (list, tuple)):
        for v in value:
            yield from _strings(v)


def test_sql_literal_round_trip(spark):
    """Every pycore literal the SQL-text builders quote comes back from
    Spark's parser unchanged: the regex patterns (backslashes), keyword
    lists, era and company tables, the strip set (Unicode spaces, NEL, LS,
    PS), the clean-text steps (raw CR, LF, tab) and the control class."""
    from image_ocr_spark.functions import normalize as sn
    from image_ocr_spark.operators import blocks
    from image_ocr_spark.pycore import fields as pf

    public = [
        v for m in (pf, pn) for k, v in vars(m).items() if k.isupper() and not k.startswith("_")
    ]
    literals = list(dict.fromkeys(_strings(
        public + [sn._PY_STRIP_CHARS, sn._CLEAN_STEPS, blocks._CTRL_CLASS]
    )))
    assert {pf.P_ITEM_ROW, *pf.P_COMPANY, *pn.ERA_BASE, "\r\n"} <= set(literals)
    row = spark.range(1).selectExpr(
        *[f"{sn.sql_literal(s)} AS c{i}" for i, s in enumerate(literals)]
    ).first()
    assert list(row) == literals


def test_spark_py_agree_on_fuzz(spark):
    """Cross-check Spark vs pycore on generated noisy inputs."""
    inputs = []
    for i in range(200):
        inputs.append(f"令和{i % 40}年{i % 15}月{i % 35}日 余白 ¥{i*37},{i%1000:03d}円")
        inputs.append(f"H{i % 40}.{i % 15}.{i % 35} ほか {i*13}円 1O,OO{i % 10}")
    df = spark.createDataFrame([(s,) for s in inputs], ["raw"])
    from image_ocr_spark.functions import normalize as sn

    got = df.selectExpr(
        f"{sn.normalize_date('raw')} AS d",
        f"{sn.normalize_amount('raw')} AS a",
        f"{sn.normalize_amount_ocr('raw')} AS o",
    ).collect()
    for s, row in zip(inputs, got):
        assert row.d == pn.normalize_date(s), s
        assert row.a == pn.normalize_amount(s), s
        assert row.o == pn.normalize_amount_ocr(s), s


def test_quality_score_negative_integer_exact(spark):
    """ADVICE r01: the /10 term must floor like the DuckDB oracle's '//';
    double-division + cast('long') truncates toward zero and diverges on
    negative composites (3 tokens, 1 stopword, 44 puncts -> -164, not -163)."""
    from image_ocr_spark.functions.textstats import quality_columns

    text = "the " + ";" * 44 + " x"
    df = spark.createDataFrame([(text,)], ["t"])
    row = df.select(*quality_columns(F.col("t"))).collect()[0]
    assert row["n_tokens"] == 3
    assert row["stopword_ratio_milli"] == 333
    assert row["n_punct"] == 44
    # 3 (length term) + 333//10 (=33) - 200 (punct cap) = -164
    assert row["quality_score"] == -164
