"""Field-extraction goldens (receipt/invoice semantics, SURVEY §2.8 F4-F20),
including reference quirks we preserve deliberately."""

from image_ocr_spark.pycore import fields as ff

RECEIPT = """領収書
スーパーABC6号店
TEL: 03-1006-1042 (代)
2024年7月7日
りんご ×2 ¥260
※牛乳 ¥210
パン ¥100
小計 ¥570
合計 ¥570
お預り ¥600
現金"""


def test_extract_date_priority():
    raw, iso = ff.extract_date("R6.1.15 と 2020/05/06")
    assert iso == "2020-05-06"  # western pattern outranks era
    raw, iso = ff.extract_date("令和6年1月15日のみ")
    assert iso == "2024-01-15"
    assert ff.extract_date("no dates here") == (None, None)


def test_total_keyword_quirk():
    # '計' is a TOTAL keyword -> the 小計 line wins when it comes first;
    # faithful to ref receipt.py:114-117,227-248
    assert ff.extract_total(RECEIPT) == 570
    assert ff.extract_subtotal(RECEIPT) == 570
    assert ff.extract_total("合計 ¥810\n小計 ¥800") == 810


def test_phone():
    assert ff.extract_phone(RECEIPT) == "03-1006-1042"
    assert ff.extract_phone("TEL 090-1234-5678") == "090-1234-5678"
    assert ff.extract_phone("1-2") is None  # under 10 digits


def test_store_name_vetoes():
    assert ff.extract_store_name(RECEIPT) == "スーパーABC6号店"
    # date-ish and phone-only lines skipped
    text = "領収書\n2024年1月1日\n03-1234-5678\n本命ストア\nx"
    assert ff.extract_store_name(text) == "本命ストア"


def test_items_stop_at_total():
    items = ff.extract_receipt_items(RECEIPT)
    assert [(i["name"], i["price"], i["quantity"], i["reduced_tax"]) for i in items] == [
        ("りんご", 260, 2, False),
        ("牛乳", 210, 1, True),
        ("パン", 100, 1, False),
    ]


def test_item_line_vetoes():
    assert ff.parse_item_line("お預り ¥600") is None  # 預り veto
    assert ff.parse_item_line("消費税 ¥57") is None  # 税 veto
    assert ff.parse_item_line("コーヒー ×3 ¥450")["quantity"] == 3


def test_long_quantity_reads_none():
    """A quantity of more than QTY_MAX_DIGITS digits reads as None and the
    item stays; nine digits still read."""
    assert ff.QTY_MAX_DIGITS == 9
    assert ff.parse_item_line("りんご x 12345678901 ¥100") == {
        "name": "りんご", "price": 100, "quantity": None, "reduced_tax": False
    }
    assert ff.parse_item_line("りんご x 123456789 ¥100")["quantity"] == 123456789
    assert ff.extract_invoice_items("ペン 12345678901 100 1,200") == [
        {"name": "ペン", "quantity": None, "unit_price": 100, "amount": 1200}
    ]
    assert ff.extract_invoice_items("ペン 123456789 100 1,200")[0]["quantity"] == 123456789


def test_payment_priority():
    assert ff.extract_payment_method("現金 でも カード") == "現金"
    assert ff.extract_payment_method("カードのみ") == "クレジットカード"
    assert ff.extract_payment_method("PayPayで") == "QRコード決済"
    assert ff.extract_payment_method("特になし") is None


INVOICE = """請求書
請求書番号: INV-2024-000137
株式会社テスト商事
サンプル株式会社 御中
請求日: 2024年6月14日
支払期限: 2024年7月17日
品目 数量 単価 金額
ウィジェット 2 ¥4,700 ¥9,400
小計 ¥9,400
消費税 ¥940
御請求金額 ¥10,340
振込先: 三菱UFJ銀行 新宿支店 普通 1000137"""


def test_invoice_fields():
    f = ff.extract_invoice_fields(INVOICE)
    assert f["invoice_number"] == "INV-2024-000137"
    assert f["invoice_date"] == "2024-06-14"
    assert f["due_date"] == "2024-07-17"
    assert f["total_amount"] == 10340
    assert f["subtotal"] == 9400
    assert f["tax_amount"] == 940
    assert f["bank_name"] == "三菱UFJ銀行"
    assert f["branch_name"] == "新宿支店"
    assert f["account_type"] == "普通"
    assert f["account_number"] == "1000137"


def test_tax_details():
    d = ff.extract_tax_details("8%対象 ¥1,080\n10%対象 ¥2,200")
    assert d == {"rate_8": 1080, "rate_10": 2200}
    assert ff.extract_tax_details("none")["rate_8"] is None
