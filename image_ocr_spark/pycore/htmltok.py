"""From-scratch HTML tokenizer: raw page bytes -> DOM-ish node stream.

This is the graft's analog of the reference's pluggable OCR engine
(`engines/base.py:178-204` BaseOCREngine.recognize -> OCRResult): a black
box that turns one document's bytes into a stream of positioned text nodes
with confidence-like statistics.  Nodes here are *block-level text runs*
with the integer statistics the Boilerpipe-style classifier needs
(char count, link-char count, word count, tag class).

Design constraints:
- Pure Python, stdlib only (no bs4/lxml in the sandbox; the north rule wants
  a from-scratch tokenizer anyway).
- Deterministic and total: malformed/unclosed/hostile markup never raises;
  worst case the text lands in some node.
- All statistics are integers so the content-selection rule can be expressed
  identically in Spark SQL, DuckDB SQL, and Python with exact equality.

Node dict fields (see operators/tokenize.py for the Spark schema):
  node_id      int   0-based emission order == document order
  tag_class    str   block context: p/h1../li/td/div/title/pre/... or the
                     nearest boilerplate ancestor (nav/header/footer/aside/form)
  text         str   whitespace-collapsed, entity-unescaped text
  n_chars      int   len(text)
  n_link_chars int   chars contributed from inside <a> elements
  n_words      int   whitespace-token count
"""

from __future__ import annotations

import html as _htmlmod
import re
from typing import Dict, List, Optional

# Tags that open/close a text block (flush the buffer on open AND close).
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd br hr table thead tbody tr td
    th caption section article main nav header footer aside form blockquote
    pre title body head html figure figcaption address fieldset legend
    select option button textarea menu summary details""".split()
)

# Block contexts that mark everything inside as boilerplate.
BOILER_TAGS = frozenset("nav header footer aside form menu select".split())

# Element content dropped entirely.
DROP_TAGS = frozenset("script style noscript template svg iframe object".split())

# Structural tags that should NOT become a node's tag_class (too generic);
# when one of these opens a block we keep the enclosing class instead.
_NEUTRAL = frozenset("body html head tbody thead".split())

# single-lookup dispatch for the scan loop: tag name -> handling kind
# (anything absent — span/b/i/em/strong/img/... — needs no work at all)
_KIND_BLOCK, _KIND_DROP, _KIND_A = 1, 2, 3
_KIND = {t: _KIND_BLOCK for t in BLOCK_TAGS}
_KIND.update({t: _KIND_DROP for t in DROP_TAGS})
_KIND["a"] = _KIND_A

# attrs consume RUNS of plain chars (not char-at-a-time) and are
# non-capturing — the attr text is never used, and materializing it per
# tag was ~10% of tokenize time.  '/' is excluded from the run and given
# its own single-char alternative so a trailing "/>" still reaches the
# lazy (/?)> exactly as before (a greedy run would swallow the '/').
# The run and quote bodies are POSSESSIVE (++/*+): the alternatives are
# first-char-disjoint, so backtracking into a run can never rescue a
# failed match — it only re-splits the run, which on hostile unterminated
# -quote inputs is the classic (a+)* exponential blowup.
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)(?:[^>'\"/]++|/|\"[^\"]*+\"|'[^']*+')*?(/?)>"
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_DECL_RE = re.compile(r"<![^>]*>")
_WS_RE = re.compile(r"\s+")
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I)

MAX_HTML_BYTES = 2 * 1024 * 1024  # resolution clamp analog (ref preprocessor.py:291-317)


def sniff_charset(raw: bytes) -> str:
    """Charset policy: BOM, then meta charset within the first 2048 bytes,
    else utf-8.  Only charsets we can decode deterministically are honored."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        cs = m.group(1).decode("ascii", "replace").lower()
        if cs in ("shift_jis", "shift-jis", "sjis", "x-sjis", "cp932", "windows-31j"):
            return "cp932"
        if cs in ("euc-jp", "eucjp"):
            return "euc-jp"
        if cs in ("iso-8859-1", "latin-1", "latin1", "windows-1252", "cp1252"):
            return "cp1252"
    return "utf-8"


def decode_html(raw: bytes) -> str:
    """bytes -> str under the explicit charset policy; never raises."""
    if len(raw) > MAX_HTML_BYTES:
        raw = raw[:MAX_HTML_BYTES]
    return raw.decode(sniff_charset(raw), errors="replace")


def scan_html_cols(raw: bytes) -> tuple:
    """Raw page bytes -> parallel node columns
    ``(tag_class, text, n_chars, n_link_chars, n_words)`` (node_id is the
    list index).  The flat-column form feeds the Arrow boundary directly
    (operators/tokenize.py builds pa arrays from these lists with no
    per-node dict round-trip); ``tokenize_html`` wraps it back into the
    node-dict API.

    A linear ``_TAG_RE.split`` scan (r07: one C call yields the whole
    tag/text alternation as a flat [text, closing, name, selfclose]*
    list — measured ~2.6x cheaper than finditer + per-match
    group/start/end calls) with a lightweight context stack; tolerant of
    unclosed and stray tags (pop-if-present semantics).  Hot path for
    the whole engine (~0.2 ms/doc): fragment buffering tracks link
    lengths incrementally, entity unescape fast-paths on '&', and the
    flush logic is inlined (it runs ~18x per doc).
    """
    text = decode_html(raw)
    if "<!--" in text:
        text = _COMMENT_RE.sub(" ", text)
    if "<!" in text:
        text = _DECL_RE.sub(" ", text)

    c_tag: List[str] = []
    c_txt: List[str] = []
    c_nch: List[int] = []
    c_nlk: List[int] = []
    c_nwd: List[int] = []
    buf: List[str] = []          # text fragments of current block
    buf_raw_len = 0              # total chars in buf (pre-collapse)
    buf_link_len = 0             # chars contributed from inside <a>
    boiler_stack: List[str] = [] # open BOILER_TAGS ancestors
    drop_depth = 0               # >0 while inside DROP_TAGS
    a_depth = 0
    block_class = "div"          # tag_class of the current block
    in_title = False

    unescape = _htmlmod.unescape
    buf_append = buf.append
    # raw tag -> (kind, lowercased name): tags repeat, so each distinct
    # spelling pays the lower()+dict classification once per document
    tag_cache: Dict[str, tuple] = {}
    tag_cache_get = tag_cache.get
    kind_get = _KIND.get
    # split layout is [text, (closing, name, selfclose, text)*]: consume
    # the leading fragment, then iterate the 4-strides with zip over one
    # shared iterator — tuple unpacking replaces index arithmetic
    # (measured ~8% faster than a while-index loop).  Each iteration
    # handles its TAG first, then the fragment FOLLOWING it, which is the
    # same state ordering as the classic pos/finditer walk; the last zip
    # tuple carries the trailing text, so no post-loop fragment handling.
    parts = _TAG_RE.split(text)
    pit = iter(parts)
    frag = next(pit)
    if frag:  # leading text before any tag (drop/a state is initial here)
        if "&" in frag:
            frag = unescape(frag)
        if frag:
            buf_append(frag)
            buf_raw_len += len(frag)
    for closing, rawname, selfclose, frag in zip(pit, pit, pit, pit):
        ck = tag_cache_get(rawname)
        if ck is None:
            name = rawname.lower()
            ck = tag_cache[rawname] = (kind_get(name, 0), name)
        kind, name = ck
        if kind:  # 0 = span/b/i/em/... — no structural effect
            if kind == _KIND_BLOCK:
                if buf:
                    # inline flush: scale link chars to the collapsed length
                    # so the ratio is preserved under whitespace collapse
                    # (integer floor keeps everything exact)
                    joined = " ".join("".join(buf).split())
                    if joined:
                        n_chars = len(joined)
                        c_tag.append(
                            boiler_stack[-1] if boiler_stack else block_class
                        )
                        c_txt.append(joined)
                        c_nch.append(n_chars)
                        c_nlk.append(
                            min(n_chars, (buf_link_len * n_chars) // buf_raw_len)
                            if buf_raw_len
                            else 0
                        )
                        # == len(joined.split(" ")): collapsed text is
                        # non-empty with single spaces only
                        c_nwd.append(joined.count(" ") + 1)
                    buf = []
                    buf_append = buf.append
                    buf_raw_len = 0
                    buf_link_len = 0
                if name == "title":
                    in_title = not closing
                if name in BOILER_TAGS:
                    if closing:
                        if name in boiler_stack:
                            # pop to (and including) the matching open tag
                            while boiler_stack and boiler_stack[-1] != name:
                                boiler_stack.pop()
                            if boiler_stack:
                                boiler_stack.pop()
                    else:
                        boiler_stack.append(name)
                if not closing and name not in _NEUTRAL and name not in ("br", "hr"):
                    block_class = "title" if in_title else name
                elif closing and name not in _NEUTRAL:
                    block_class = "div"
            elif kind == _KIND_DROP:
                if closing:
                    drop_depth = max(0, drop_depth - 1)
                elif not selfclose:
                    drop_depth += 1
            else:  # _KIND_A
                if closing:
                    a_depth = max(0, a_depth - 1)
                else:
                    a_depth += 1
        if frag and drop_depth == 0:
            if "&" in frag:
                frag = unescape(frag)
            if frag:
                buf_append(frag)
                buf_raw_len += len(frag)
                if a_depth > 0:
                    buf_link_len += len(frag)
    if buf:
        joined = " ".join("".join(buf).split())
        if joined:
            n_chars = len(joined)
            c_tag.append(boiler_stack[-1] if boiler_stack else block_class)
            c_txt.append(joined)
            c_nch.append(n_chars)
            c_nlk.append(
                min(n_chars, (buf_link_len * n_chars) // buf_raw_len)
                if buf_raw_len
                else 0
            )
            c_nwd.append(joined.count(" ") + 1)
    return c_tag, c_txt, c_nch, c_nlk, c_nwd


def tokenize_html(raw: bytes) -> List[Dict]:
    """Raw page bytes -> ordered list of node dicts (see module docstring).

    Thin dict wrapper over ``scan_html_cols`` (the column core); output is
    byte-identical to the historical finditer implementation (pinned by
    tests/test_tokenizer.py and the e2e byte-identity suite)."""
    tags, txts, nchs, nlks, nwds = scan_html_cols(raw)
    return [
        {
            "node_id": i,
            "tag_class": tags[i],
            "text": txts[i],
            "n_chars": nchs[i],
            "n_link_chars": nlks[i],
            "n_words": nwds[i],
        }
        for i in range(len(tags))
    ]


def page_title(nodes: List[Dict]) -> Optional[str]:
    """First <title> node text, else first <h1> (P6/W2 analog: store-name
    'usually at the top', ref receipt.py:287-313)."""
    for n in nodes:
        if n["tag_class"] == "title":
            return n["text"]
    for n in nodes:
        if n["tag_class"] == "h1":
            return n["text"]
    return None
