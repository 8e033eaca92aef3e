"""Field extraction from canonical extracted text (pure Python reference).

Graft of the reference's receipt/invoice extractors (extractors/receipt.py,
extractors/invoice.py — SURVEY.md §2.8 F4-F20, §2.2 P6-P9, §2.4 A6).  Every
regex is shared verbatim with the Spark SQL side (functions/extract_fields.py
imports these pattern strings), and uses only explicit ASCII classes and
plain-space classes so Python ``re`` and Java regex agree on canonical text
(which contains only ' ' and '\\n' whitespace after clean_text()).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from .normalize import ERA_BASE, is_valid_ymd, normalize_amount

# ---------------------------------------------------------------------------
# Shared pattern strings (single source for Python re AND Spark regexp_*)
# ---------------------------------------------------------------------------

P_DATE_WESTERN = r"([0-9]{4})[年/\-.]([0-9]{1,2})[月/\-.]([0-9]{1,2})日?"
P_DATE_ERA = (
    r"(令和|平成|昭和|R|H|S|Ｒ|Ｈ|Ｓ) ?([0-9]{1,2})[年.]([0-9]{1,2})[月.]([0-9]{1,2})日?"
)
P_DATE_COMPACT = r"([0-9]{4})([0-9]{2})([0-9]{2})"

P_AMOUNT_ANY = r"[¥￥]? ?([0-9,，]+) ?円?"
P_AMOUNT_YEN = r"([0-9,，]+) ?円"
P_AMOUNT_SYM = r"[¥￥] ?([0-9,，]+)"
P_AMOUNT_EOL = r"[¥￥]? ?([0-9,，]+) ?円?$"

P_PHONE = r"(?:TEL|Tel|tel|電話)?[: ]*([0-9]{2,4}[- ]?[0-9]{2,4}[- ]?[0-9]{3,4})"
P_INVOICE_NO = [
    r"請求書番号[: ：]*([A-Za-z0-9\-]+)",
    r"(?i)No[.: ]*([A-Za-z0-9\-]+)",
    r"番号[: ：]*([A-Za-z0-9\-]+)",
    r"(?i)INVOICE ?(?:NO|#)[.: ]*([A-Za-z0-9\-]+)",
]
P_BANK = r"([^ \n]{2,10}銀行|[^ \n]{2,10}信用金庫|[^ \n]{2,10}信金|ゆうちょ銀行|楽天銀行|PayPay銀行)"
P_BRANCH = r"([^ \n]{2,10}支店|[^ \n]{2,10}営業所|[^ \n]{2,10}出張所)"
P_ACCT_TYPE = r"(普通|当座|貯蓄)"
P_ACCT_NO = r"口座番号[: ：]*([0-9]{7,8})|(?:普通|当座|貯蓄) ?([0-9]{7,8})"
P_TAX8 = r"(?:8%|８%|8％|８％)[^\n]*?[¥￥]? ?([0-9,，]+)"
P_TAX10 = r"(?:10%|１０%|10％|１０％)[^\n]*?[¥￥]? ?([0-9,，]+)"
P_SUBTOTAL_KW = r"(?:税抜金額|税抜|小計)[: ：]*[¥￥]? ?([0-9,，]+)"
P_TAXAMT_KW = r"(?:消費税額|消費税|税額)[: ：]*[¥￥]? ?([0-9,，]+)"
P_QTY = r"[×x] ?([0-9]+)"
# an item quantity of more digits than this reads as None: every 9-digit
# quantity fits the 32-bit INT the Spark item structs declare
QTY_MAX_DIGITS = 9
P_ITEM_ROW = r"(.{2,30}?) +([0-9]+) +[¥￥]?([0-9,，]+) +[¥￥]?([0-9,，]+)"
P_COMPANY = [
    r"(株式会社[^ \n]{1,30})",
    r"([^ \n]{1,20}株式会社)",
    r"(有限会社[^ \n]{1,30})",
    r"([^ \n]{1,20}有限会社)",
    r"(合同会社[^ \n]{1,30})",
]
INVOICE_ITEM_VETO = ["品名", "商品", "数量", "単価", "合計", "小計"]

TOTAL_KEYWORDS = [
    "合計", "計", "TOTAL", "Total", "税込合計", "税込計",
    "お会計", "お買上合計", "買上合計", "総合計", "ご請求額",
]
SUBTOTAL_KEYWORDS = ["小計", "税抜合計", "税抜計", "SUBTOTAL"]
INVOICE_TOTAL_KEYWORDS = [
    "請求金額", "御請求金額", "ご請求金額", "請求額",
    "合計金額", "税込合計", "請求合計", "TOTAL",
]
INVOICE_DATE_KEYWORDS = ["請求日", "発行日", "作成日", "請求年月日", "DATE", "Date"]
DUE_DATE_KEYWORDS = [
    "支払期限", "お支払期限", "振込期限", "期日", "支払期日",
    "お支払い期限", "入金期限", "DUE DATE", "Due Date",
]
REDUCED_TAX_MARKERS = ["※", "＊", "*", "軽", "軽減", "8%", "８%", "8％", "８％"]
ITEM_NAME_VETO = ["合計", "小計", "税", "預り", "釣り"]
STORE_NAME_VETO = ["領収書", "領収証", "レシート", "登録番号"]
PAYMENT_KEYWORDS: List[Tuple[str, str]] = [
    ("現金", "現金"), ("CASH", "現金"),
    ("クレジット", "クレジットカード"), ("CREDIT", "クレジットカード"),
    ("カード", "クレジットカード"), ("電子マネー", "電子マネー"),
    ("SUICA", "電子マネー"), ("PASMO", "電子マネー"),
    ("PAYPAY", "QRコード決済"), ("D払い", "QRコード決済"),
    ("AU PAY", "QRコード決済"), ("QR", "QRコード決済"),
]

_RX_DATE_WESTERN = re.compile(P_DATE_WESTERN)
_RX_DATE_ERA = re.compile(P_DATE_ERA)
_RX_DATE_COMPACT = re.compile(P_DATE_COMPACT)
_RX_AMOUNT_ANY = re.compile(P_AMOUNT_ANY)
_RX_PHONE = re.compile(P_PHONE)
_RX_QTY = re.compile(P_QTY)
_RX_AMOUNT_EOL = re.compile(P_AMOUNT_EOL)
_RX_AMOUNT_SYM = re.compile(P_AMOUNT_SYM)
_RX_DATEISH_LINE = re.compile(r"[0-9]{4}[年/\-.]")
_RX_PHONE_ONLY = re.compile(r"^[0-9\-()]+$")


def _era_to_iso(era: str, ey: int, mo: int, d: int) -> Optional[str]:
    y = ERA_BASE[era] + ey
    return f"{y:04d}-{mo:02d}-{d:02d}" if is_valid_ymd(y, mo, d) else None


def extract_date(text: str) -> Tuple[Optional[str], Optional[str]]:
    """(raw, iso) of the first date; western > era > compact priority
    (ref receipt.py:96-104,190-199)."""
    m = _RX_DATE_WESTERN.search(text)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if is_valid_ymd(y, mo, d):
            return m.group(0), f"{y:04d}-{mo:02d}-{d:02d}"
    m = _RX_DATE_ERA.search(text)
    if m:
        iso = _era_to_iso(m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4)))
        if iso:
            return m.group(0), iso
    m = _RX_DATE_COMPACT.search(text)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if is_valid_ymd(y, mo, d):
            return m.group(0), f"{y:04d}-{mo:02d}-{d:02d}"
    return None, None


def extract_amount_from_text(s: str) -> Optional[int]:
    """First money token in a line (ref receipt.py:263-269)."""
    m = _RX_AMOUNT_ANY.search(s)
    return normalize_amount(m.group(1)) if m else None


def _first_line_amount(
    text: str, keywords: List[str], require_positive: bool
) -> Optional[int]:
    for line in text.split("\n"):
        if any(kw in line for kw in keywords):
            amt = extract_amount_from_text(line)
            if amt is not None and (amt > 0 or not require_positive):
                return amt
    return None


def extract_total(text: str) -> Optional[int]:
    """First total-keyword line with a positive amount (ref receipt.py:227-248)."""
    return _first_line_amount(text, TOTAL_KEYWORDS, require_positive=True)


def extract_subtotal(text: str) -> Optional[int]:
    return _first_line_amount(text, SUBTOTAL_KEYWORDS, require_positive=False)


def extract_invoice_total(text: str) -> Optional[int]:
    return _first_line_amount(text, INVOICE_TOTAL_KEYWORDS, require_positive=True)


def extract_phone(text: str) -> Optional[str]:
    """First >=10-digit phone (ref receipt.py:315-333)."""
    m = _RX_PHONE.search(text)
    if m:
        phone = re.sub(r"[^0-9\-]", "", m.group(1))
        if len(phone.replace("-", "")) >= 10:
            return phone
    return None


def extract_store_name(text: str) -> Optional[str]:
    """Top-5-line store-name heuristic (ref receipt.py:287-313): skip header
    words, date-ish lines, phone-only lines; first line of len>=2 wins."""
    for line in text.split("\n")[:5]:
        line = line.strip()
        if not line:
            continue
        if any(x in line for x in STORE_NAME_VETO):
            continue
        if _RX_DATEISH_LINE.search(line):
            continue
        if _RX_PHONE_ONLY.match(line.replace(" ", "")):
            continue
        if len(line) >= 2:
            return line
    return None


def extract_payment_method(text: str) -> Optional[str]:
    """First payment keyword in priority order (ref receipt.py:126-139,421-429).
    Match is on the uppercased text (keys pre-uppercased here)."""
    text_upper = text.upper()
    for kw, method in PAYMENT_KEYWORDS:
        if kw in text_upper:
            return method
    return None


def extract_date_near_keywords(text: str, keywords: List[str]) -> Optional[str]:
    """First line containing a keyword AND a date -> ISO (ref invoice.py:219-236)."""
    for line in text.split("\n"):
        if any(kw in line for kw in keywords):
            m = _RX_DATE_WESTERN.search(line)
            if m:
                y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
                if is_valid_ymd(y, mo, d):
                    return f"{y:04d}-{mo:02d}-{d:02d}"
            m = _RX_DATE_ERA.search(line)
            if m:
                iso = _era_to_iso(
                    m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
                )
                if iso:
                    return iso
    return None


def extract_invoice_number(text: str) -> Optional[str]:
    """Priority regex chain (ref invoice.py:258-272)."""
    for pat in P_INVOICE_NO:
        m = re.search(pat, text)
        if m:
            return m.group(1)
    return None


def extract_bank_info(text: str) -> Dict[str, Optional[str]]:
    """BankInfo fields (ref invoice.py:138-159,390-441)."""
    bank = re.search(P_BANK, text)
    branch = re.search(P_BRANCH, text)
    acct_type = re.search(P_ACCT_TYPE, text)
    acct = re.search(P_ACCT_NO, text)
    acct_no = (acct.group(1) or acct.group(2)) if acct else None
    return {
        "bank_name": bank.group(1) if bank else None,
        "branch_name": branch.group(1) if branch else None,
        "account_type": acct_type.group(1) if acct_type else None,
        "account_number": acct_no,
    }


def extract_tax_details(text: str) -> Dict[str, Optional[int]]:
    """8%/10% taxable amounts (ref receipt.py:402-419)."""
    m8 = re.search(P_TAX8, text)
    m10 = re.search(P_TAX10, text)
    return {
        "rate_8": normalize_amount(m8.group(1)) if m8 else None,
        "rate_10": normalize_amount(m10.group(1)) if m10 else None,
    }


def extract_tax_breakdown(text: str) -> Dict[str, Optional[int]]:
    """Invoice subtotal/tax-amount (ref invoice.py:316-345)."""
    msub = re.search(P_SUBTOTAL_KW, text)
    mtax = re.search(P_TAXAMT_KW, text)
    return {
        "subtotal": normalize_amount(msub.group(1)) if msub else None,
        "tax_amount": normalize_amount(mtax.group(1)) if mtax else None,
    }


def extract_receipt_items(text: str) -> List[Dict]:
    """Ordered item scan stopping at the first total line (ref
    receipt.py:335-400; SURVEY A6/W5: running stop-flag window in Spark)."""
    items = []
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        if any(kw in line for kw in TOTAL_KEYWORDS) and "小計" not in line:
            break
        item = parse_item_line(line)
        if item:
            items.append(item)
    return items


def parse_quantity(digits: str) -> Optional[int]:
    """Item-quantity digits -> int, None past QTY_MAX_DIGITS digits
    (mirrored in functions/extract_fields.py)."""
    return int(digits) if len(digits) <= QTY_MAX_DIGITS else None


def parse_item_line(line: str) -> Optional[Dict]:
    """Line -> (name, price, qty, reduced_tax) or None (ref receipt.py:360-400)."""
    reduced = any(mk in line for mk in REDUCED_TAX_MARKERS)
    m = _RX_AMOUNT_EOL.search(line) or _RX_AMOUNT_SYM.search(line)
    if not m:
        return None
    price = normalize_amount(m.group(1))
    name = line[: m.start()].strip()
    for mk in REDUCED_TAX_MARKERS:
        name = name.replace(mk, "").strip()
    qty = 1
    qm = _RX_QTY.search(name)
    if qm:
        qty = parse_quantity(qm.group(1))
        name = name[: qm.start()].strip()
    if name and price and price > 0:
        if not any(kw in name for kw in ITEM_NAME_VETO):
            return {"name": name, "price": price, "quantity": qty, "reduced_tax": reduced}
    return None


def extract_vendor_name(text: str) -> Optional[str]:
    """First company-pattern hit on a line without 御中/様 (F14, ref
    invoice.py:347-369; line order outer, pattern priority inner)."""
    for line in text.split("\n"):
        for pat in P_COMPANY:
            m = re.search(pat, line)
            if m and "御中" not in line and "様" not in line:
                return m.group(1).strip()
    return None


def extract_customer_name(text: str) -> Optional[str]:
    """Prefix before 御中/殿 + re-appended honorific (F15, ref
    invoice.py:371-388)."""
    for line in text.split("\n"):
        if "御中" in line:
            head = line.split("御中")[0].strip()
            if head:
                return head + " 御中"
        if "殿" in line:
            head = line.split("殿")[0].strip()
            if head:
                return head + " 殿"
    return None


def extract_invoice_items(text: str) -> List[Dict]:
    """Table-row items (F20, ref invoice.py:443-475)."""
    items = []
    rx = re.compile(P_ITEM_ROW)
    for line in text.split("\n"):
        m = rx.search(line)
        if not m:
            continue
        name = m.group(1).strip()
        if any(kw in name for kw in INVOICE_ITEM_VETO):
            continue
        amount = normalize_amount(m.group(4))
        if name and amount:
            items.append(
                {
                    "name": name,
                    "quantity": parse_quantity(m.group(2)),
                    "unit_price": normalize_amount(m.group(3)),
                    "amount": amount,
                }
            )
    return items


def receipt_warnings(fields: Dict, no_content: bool) -> List[str]:
    """Missing-field warnings (ref receipt.py:456-482; the OCR-confidence
    warning maps to the no-main-content condition)."""
    w = []
    if not fields.get("date"):
        w.append("日付を抽出できませんでした")
    if not fields.get("total_amount"):
        w.append("合計金額を抽出できませんでした")
    if not fields.get("store_name"):
        w.append("店舗名を抽出できませんでした")
    if no_content:
        w.append("本文を抽出できませんでした")
    reduced = [i for i in fields.get("items", []) if i.get("reduced_tax")]
    if reduced and not (fields.get("tax_rate_8") or fields.get("tax_rate_10")):
        w.append("軽減税率対象品目がありますが、税額詳細が見つかりません")
    return w


def invoice_warnings(fields: Dict, no_content: bool) -> List[str]:
    """ref invoice.py:477-503."""
    w = []
    if not fields.get("invoice_date"):
        w.append("請求日を抽出できませんでした")
    if not fields.get("total_amount"):
        w.append("請求総額を抽出できませんでした")
    if not fields.get("vendor_name"):
        w.append("発行元名を抽出できませんでした")
    if not (fields.get("bank_name") or fields.get("account_number")):
        w.append("振込先口座情報を抽出できませんでした")
    elif not fields.get("account_number"):
        w.append("口座番号を抽出できませんでした")
    if no_content:
        w.append("本文を抽出できませんでした")
    return w


def extract_receipt_fields(text: str) -> Dict:
    """Whole-receipt assembly (ref receipt.py:144-188 order)."""
    raw, iso = extract_date(text)
    tax = extract_tax_details(text)
    return {
        "date": iso,
        "date_raw": raw,
        "total_amount": extract_total(text),
        "subtotal": extract_subtotal(text),
        "store_name": extract_store_name(text),
        "store_phone": extract_phone(text),
        "items": extract_receipt_items(text),
        "tax_rate_8": tax["rate_8"],
        "tax_rate_10": tax["rate_10"],
        "payment_method": extract_payment_method(text),
    }


def extract_invoice_fields(text: str) -> Dict:
    """Whole-invoice assembly (ref invoice.py:164-217 order)."""
    bank = extract_bank_info(text)
    brk = extract_tax_breakdown(text)
    return {
        "invoice_date": extract_date_near_keywords(text, INVOICE_DATE_KEYWORDS),
        "due_date": extract_date_near_keywords(text, DUE_DATE_KEYWORDS),
        "invoice_number": extract_invoice_number(text),
        "total_amount": extract_invoice_total(text),
        "subtotal": brk["subtotal"],
        "tax_amount": brk["tax_amount"],
        "vendor_name": extract_vendor_name(text),
        "customer_name": extract_customer_name(text),
        "items": extract_invoice_items(text),
        **bank,
    }
