"""html-arm extraction kernel (DeepSeek-OCR analog, SURVEY §7.0).

Replaces the reference's vision-LLM OCR (reference:
backends/deepseek-ocr/deepseek_ocr_backend.py:413-457, replaced per SURVEY
§2.4 M7) with a deterministic CPU DOM walk: a purpose-built HTML scanner
feeding boilerpipe/readability-style heuristics — semantic boilerplate
containers (nav/header/footer/aside) are dropped, as is any text block whose
link density (anchor-text chars / total chars) exceeds a threshold. Content
blocks are attributed to their enclosing page container (``div[data-page]``),
preserving document order.

Tokenization contract: the scanner yields exactly the events CPython 3.11's
standard-library HTML parser yields with ``convert_charrefs=True`` for the
whole document fed once and closed — character references decoded per text
chunk, tag and attribute names lower-cased, any attribute quoting,
script/style raw text, and incomplete markup at EOF flushed as text. One
compiled regex takes text and plain start/end tags; any other ``<`` goes to
a port of the stdlib routine for that construct. Only ``div`` attributes are
parsed, and only ``data-page`` is kept. ``tests/html_oracle.py`` keeps the
stdlib-based walk as the differential oracle.

The kernel is a pure function ``bytes -> list[(page_1idx, [block_text])]``;
the Spark layer runs it inside Arrow-batched ``mapInPandas`` (no per-row
Python at the DataFrame level).
"""

from __future__ import annotations

import re
from html import unescape

BOILERPLATE_TAGS = {"nav", "header", "footer", "aside", "script", "style"}
BLOCK_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote"}
LINK_DENSITY_MAX = 0.5

_TEXT, _START, _END = 1, 3, 4  # token kinds: the token pattern's lastindex

# One token = a text chunk (group 1, up to the next '<', maybe empty) plus
# what follows it: a start tag (groups 2-3: name, '/' if self-closing), an
# end tag (group 4), any other '<' (group 5, for the slow path) or the end
# of the document. The start-tag branch accepts only a subset of what the
# stdlib accepts — ASCII name, attributes separated by ASCII whitespace, one
# '=' — on which the stdlib's tokenization is unambiguous; possessive
# quantifiers keep a partial match from backtracking into a different parse.
# The end-tag branch is the stdlib's own ``endtagfind``.
_TOKEN = re.compile(
    r"([^<]*+)(?:"
    r"<([a-zA-Z][a-zA-Z0-9]*+)"
    r"(?:[ \t\n\r\f]++[a-zA-Z_:][-a-zA-Z0-9_:.]*+"
    r"(?:[ \t\n\r\f]*+=[ \t\n\r\f]*+"
    r"(?:\"[^\"]*+\"|'[^']*+'|[^\s\"'=<>`]++))?)*+"
    r"[ \t\n\r\f]*+(/?)>"
    r"|</\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>"
    r"|(<)|\Z)"
)

# Slow path: the stdlib parser's own patterns (its parser module and
# _markupbase).
_STARTTAGOPEN = re.compile(r"<[a-zA-Z]")
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATESTARTTAGEND = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENTCLOSE = re.compile(r"--\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKEDSECTIONCLOSE = re.compile(r"]\s*]\s*>")
_MSMARKEDSECTIONCLOSE = re.compile(r"]\s*>")
# script/style content is raw text: only this close tag (any case) ends it
_RAW_TEXT_CLOSE = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")
}
_INCOMPLETE_START_TAG = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/"
)


def _attrs(text: str, i: int, endpos: int) -> tuple[int, str | None]:
    """Walk the attributes of the start tag at ``text[i:endpos]``; return
    where the walk stopped and the last ``data-page`` value (None when
    absent or valueless)."""
    k = _TAGFIND.match(text, i + 1).end()
    page = None
    while k < endpos:
        m = _ATTRFIND.match(text, k)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if name.lower() == "data-page":
            if not rest:
                value = None
            elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
                value = value[1:-1]
            if value:
                value = unescape(value)
            page = value
        k = m.end()
    return k, page


def _start_tag(text: str, i: int) -> tuple[int, int, str, bool]:
    m = _LOCATESTARTTAGEND.match(text, i)
    j = m.end()
    nxt = text[j : j + 1]
    if nxt == ">":
        endpos = j + 1
    elif text.startswith("/>", j):
        endpos = j + 2
    elif not nxt or nxt in _INCOMPLETE_START_TAG:
        return -1, 0, "", False
    else:
        endpos = j  # bogus input: the tag ends before the offending char
    k, _ = _attrs(text, i, endpos)
    end = text[k:endpos].strip()
    if end not in (">", "/>"):
        return endpos, _TEXT, text[i:endpos], False  # not unescaped
    tag = _TAGFIND.match(text, i + 1).group(1).lower()
    return endpos, _START, tag, end == "/>"


def _end_tag(text: str, i: int) -> tuple[int, int, str]:
    # an end tag ``endtagfind`` matches never gets here: the token pattern
    # takes it
    gt = text.find(">", i + 1)
    if gt < 0:
        return -1, 0, ""
    m = _TAGFIND.match(text, i + 2)
    if m:
        # junk between the name and the '>' is ignored
        return text.find(">", m.end()) + 1, _END, m.group(1).lower()
    if text.startswith("</>", i):
        return i + 3, 0, ""
    return gt + 1, 0, ""  # bogus comment


def _marked_section(text: str, i: int) -> int:
    j = i + 3
    if j == len(text):
        return -1
    m = _DECLNAME.match(text, j)
    if not m:
        raise AssertionError("expected name token at %r" % text[i : i + 20])
    if m.end() == len(text):
        return -1
    name = m.group().strip().lower()
    if name in {"temp", "cdata", "ignore", "include", "rcdata"}:
        close = _MARKEDSECTIONCLOSE.search(text, j)
    elif name in {"if", "else", "endif"}:
        close = _MSMARKEDSECTIONCLOSE.search(text, j)
    else:
        raise AssertionError(
            "unknown status keyword %r in marked section" % text[j : m.end()]
        )
    return close.end() if close else -1


def _markup(text: str, i: int) -> tuple[int, int, str, bool]:
    """The token at a '<' the token pattern did not take: (end, kind, tag
    name or text, self-closing). Kind 0 is markup with no event (comment,
    <!…>, <?…>, '</>'). Markup left incomplete at EOF is flushed as text."""
    kind, value, closing = 0, "", False
    if _STARTTAGOPEN.match(text, i):
        k, kind, value, closing = _start_tag(text, i)
    elif text.startswith("</", i):
        k, kind, value = _end_tag(text, i)
    elif text.startswith("<!--", i):
        m = _COMMENTCLOSE.search(text, i + 4)
        k = m.end() if m else -1
    elif text.startswith("<?", i):
        k = text.find(">", i + 2)
        k = k + 1 if k >= 0 else -1
    elif text.startswith("<![", i):
        k = _marked_section(text, i)
    elif text.startswith("<!", i):
        # <!DOCTYPE …> or a bogus comment: both end at the next '>'
        start = i + 9 if text[i : i + 9].lower() == "<!doctype" else i + 2
        k = text.find(">", start)
        k = k + 1 if k >= 0 else -1
    else:
        return i + 1, _TEXT, "<", False  # a '<' that opens nothing is text
    if k >= 0:
        return k, kind, value, closing
    k = text.find(">", i + 1)
    if k >= 0:
        k += 1
    else:
        k = text.find("<", i + 1)
        if k < 0:
            k = i + 1
    return k, _TEXT, unescape(text[i:k]), False


def _raw_text_end(text: str, pos: int, tag: str) -> int:
    """End of the script/style close tag at or after ``pos``; -1 when the
    element is never closed (the rest of the document is swallowed)."""
    search = _RAW_TEXT_CLOSE[tag].search
    while True:
        m = search(text, pos)
        if m is None:
            return -1
        # the close regex is case-insensitive over Unicode ('ſ' matches
        # 's'); the stdlib then re-checks the name as ASCII
        e = _ENDTAGFIND.match(text, m.start())
        if e is not None and e.group(1).lower() == tag:
            return m.end()
        pos = m.end()


def _finish(blocks, parts, page, anchor_chars):
    """Close the open block: keep it if it has text and low link density."""
    if parts is not None:
        block = "".join(parts)
        if block.strip() and anchor_chars / len(block) < LINK_DENSITY_MAX:
            blocks.append((page, block))


def _content_blocks(text: str) -> list[tuple[int, str]]:
    """Single-pass DOM walk collecting (page, text) content blocks."""
    blocks: list[tuple[int, str]] = []
    boiler_depth = anchor_depth = 0
    current_page = 1
    page_stack: list[int] = []
    parts: list[str] | None = None  # text of the open block, if any
    block_page = anchor_chars = 0
    token = _TOKEN.match
    pos = 0
    while True:
        m = token(text, pos)
        pos = m.end()
        data = m[1]
        if data and parts is not None and boiler_depth == 0:
            if "&" in data:
                data = unescape(data)
            parts.append(data)
            if anchor_depth > 0:
                anchor_chars += len(data)
        kind = m.lastindex
        if kind == _START:
            tag = m[2].lower()
            ends_here = m[3] == "/"
        elif kind == _END:
            tag = m[4].lower()
        elif kind == _TEXT:
            break  # end of document
        else:
            pos, kind, tag, ends_here = _markup(text, m.end(1))
            if kind == _TEXT:
                if parts is not None and boiler_depth == 0:
                    parts.append(tag)
                    if anchor_depth > 0:
                        anchor_chars += len(tag)
                continue
            if not kind:
                continue
        if kind == _START:
            if tag == "a":
                anchor_depth += 1
            elif tag in BLOCK_TAGS:
                if boiler_depth == 0:
                    # browsers close an open paragraph when a new block
                    # begins — real-world HTML routinely omits </p>/</li>
                    _finish(blocks, parts, block_page, anchor_chars)
                    parts, block_page, anchor_chars = [], current_page, 0
            elif tag == "div":
                # EVERY div pushes (a no-op restore for plain divs): the
                # end-tag branch pops per </div>, so pushing only for page
                # containers would let a nested plain div's close
                # prematurely restore the OUTER page
                page_stack.append(current_page)
                page = _attrs(text, m.end(1), pos)[1]
                if page is not None and page.isdigit():
                    current_page = int(page)
            elif tag in BOILERPLATE_TAGS:
                # an unclosed block before boilerplate chrome ends implicitly
                _finish(blocks, parts, block_page, anchor_chars)
                parts = None
                boiler_depth += 1
                if not ends_here and (tag == "script" or tag == "style"):
                    pos = _raw_text_end(text, pos, tag)
                    if pos < 0:
                        break
                    ends_here = True  # at its close tag
            if not ends_here:
                continue
            # a self-closing tag, or raw text at its close tag, ends here too
        if tag == "a":
            if anchor_depth > 0:
                anchor_depth -= 1
        elif tag in BLOCK_TAGS:
            _finish(blocks, parts, block_page, anchor_chars)
            parts = None
        elif tag == "div":
            if page_stack:
                current_page = page_stack.pop()
        elif tag in BOILERPLATE_TAGS:
            if boiler_depth > 0:
                boiler_depth -= 1
    _finish(blocks, parts, block_page, anchor_chars)  # left open at EOF
    return blocks


def extract_html_pages(payload: bytes) -> list[tuple[int, list[str]]]:
    """Parse an HTML payload into ordered (page, [block_text]) groups.

    Raises ValueError with a deterministic message when no content block
    survives the boilerplate heuristics (truncated/malformed documents) — the
    error path the reference reaches when its backend yields nothing
    (reference: mineru_backend.py:351 "No inference results from Mineru").
    """
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        raise ValueError("document payload is not valid utf-8")
    blocks = _content_blocks(text)
    if not blocks:
        raise ValueError("no text blocks detected in document")
    pages: dict[int, list[str]] = {}
    for page, block in blocks:
        pages.setdefault(page, []).append(block)
    return sorted(pages.items())
