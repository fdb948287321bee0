"""Kernel tests: html-arm DOM walk and layout-arm reading-order parse
(SURVEY §7.0; FIXTURES.md §1/§3).
"""

from __future__ import annotations

import json

import pytest

from ocr_project_spark.datagen import build_html, build_pagedoc, split_paragraphs
from ocr_project_spark.kernels.html_extract import extract_html_pages
from ocr_project_spark.kernels.layout_extract import PAGEDOC_MAGIC, extract_pagedoc_pages


# --- html arm ---------------------------------------------------------------
def test_html_drops_semantic_boilerplate():
    html = (
        b"<html><body><nav><p>menu item</p></nav>"
        b"<p>real content here</p>"
        b"<footer><p>footer text</p></footer></body></html>"
    )
    pages = extract_html_pages(html)
    assert pages == [(1, ["real content here"])]


def test_html_drops_high_link_density_blocks():
    html = (
        b'<html><body><p><a href="/a">all of this text is links</a></p>'
        b"<p>body text with <a href=\"/x\">one link</a> inside a longer paragraph"
        b" of real prose</p></body></html>"
    )
    pages = extract_html_pages(html)
    assert len(pages) == 1
    assert pages[0][1] == [
        "body text with one link inside a longer paragraph of real prose"
    ]


def test_html_page_attribution():
    html = (
        b'<html><body><div class="page" data-page="1"><p>p1</p></div>'
        b'<div class="page" data-page="2"><p>p2a</p><p>p2b</p></div></body></html>'
    )
    assert extract_html_pages(html) == [(1, ["p1"]), (2, ["p2a", "p2b"])]


def test_html_empty_raises():
    with pytest.raises(ValueError, match="no text blocks"):
        extract_html_pages(b"<html><body></body></html>")


def test_html_invalid_utf8_raises():
    with pytest.raises(ValueError, match="not valid utf-8"):
        extract_html_pages(b"\xff\xfe<html>")


def test_html_roundtrip_recovers_ground_truth():
    text = " ".join(f"word{i}" for i in range(40))
    html = build_html(7, text, "en").encode("utf-8")  # doc 7 → 2 pages
    pages = extract_html_pages(html)
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text
    assert [p for p, _ in pages] == [1, 2]


def test_html_roundtrip_large_document():
    """A multi-megabyte page must round-trip (Arrow batches carry whole
    documents; the kernel must not degrade or truncate)."""
    text = " ".join(f"word{i}" for i in range(100_000))  # ~1.2 MB of text
    html = build_html(1, text, "en").encode("utf-8")
    pages = extract_html_pages(html)
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text


def test_html_roundtrip_cjk():
    text = "机器 学习 模型 训练 数据 管道 抽取 文本"
    html = build_html(4, text, "zh").encode("utf-8")
    pages = extract_html_pages(html)
    assert " ".join(t for _, blocks in pages for t in blocks) == text


# --- layout arm -------------------------------------------------------------
def _pagedoc(blocks, height=2000, page=1):
    return (
        PAGEDOC_MAGIC
        + json.dumps({"pages": [{"page": page, "height": height, "blocks": blocks}]})
    ).encode("utf-8")


def test_layout_reading_order_sort():
    # stored order is scrambled; (y-band, x) recovers reading order
    blocks = [
        {"x": 500, "y": 100, "w": 10, "h": 10, "type": "text", "text": "right"},
        {"x": 60, "y": 300, "w": 10, "h": 10, "type": "text", "text": "below"},
        {"x": 60, "y": 110, "w": 10, "h": 10, "type": "text", "text": "left"},
    ]
    pages = extract_pagedoc_pages(_pagedoc(blocks))
    assert pages == [(1, ["left", "right", "below"])]


def test_layout_drops_margin_chrome():
    blocks = [
        {"x": 60, "y": 10, "w": 10, "h": 30, "type": "header", "text": "chrome"},
        {"x": 60, "y": 100, "w": 10, "h": 10, "type": "text", "text": "body"},
        {"x": 60, "y": 1970, "w": 10, "h": 30, "type": "footer", "text": "chrome"},
    ]
    assert extract_pagedoc_pages(_pagedoc(blocks)) == [(1, ["body"])]


def test_layout_bad_magic_raises():
    with pytest.raises(ValueError, match="bad magic"):
        extract_pagedoc_pages(b"NOTMAGIC{}")


def test_layout_truncated_json_raises():
    with pytest.raises(ValueError, match="truncated layout tree"):
        extract_pagedoc_pages((PAGEDOC_MAGIC + '{"pages": [').encode())


def test_layout_all_chrome_raises():
    blocks = [{"x": 60, "y": 10, "w": 10, "h": 30, "type": "header", "text": "x"}]
    with pytest.raises(ValueError, match="No inference results"):
        extract_pagedoc_pages(_pagedoc(blocks))


def test_layout_roundtrip_two_column():
    # doc_id 5 → two-column layout + stored-order rotation; the kernel must
    # undo both via the reading-order sort
    text = " ".join(f"word{i}" for i in range(64))
    payload = build_pagedoc(5, text, "en").encode("utf-8")
    pages = extract_pagedoc_pages(payload)
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text


def test_layout_roundtrip_multi_page():
    text = " ".join(f"word{i}" for i in range(48))
    paras = split_paragraphs(text)
    assert len(paras) == 6
    payload = build_pagedoc(11, text, "de").encode("utf-8")  # 11%3=2 → 3 pages
    pages = extract_pagedoc_pages(payload)
    assert [p for p, _ in pages] == [1, 2, 3]
    recovered = " ".join(t for _, blocks in pages for t in blocks)
    assert recovered == text


def test_nested_plain_div_keeps_page_attribution():
    """A plain nested <div> inside a page container must not restore the
    outer page when it closes (real crawl HTML nests divs freely)."""
    from ocr_project_spark.kernels.html_extract import extract_html_pages

    html = (
        '<html><body>'
        '<div class="page" data-page="1"><p>first page text</p></div>'
        '<div class="page" data-page="2">'
        '<div class="inner"><p>inner block</p></div>'
        '<p>still page two</p>'
        '</div>'
        '</body></html>'
    ).encode()
    pages = dict(extract_html_pages(html))
    assert pages[1] == ["first page text"]
    assert pages[2] == ["inner block", "still page two"]


def test_page_selection_is_positional_not_label_based():
    """The reference selects PDF pages by position; arbitrary data-page
    labels (real crawl HTML) must not empty the kept set."""
    from ocr_project_spark.kernels.registry import process_html_arm

    html = (
        '<html><body>'
        '<div class="page" data-page="5"><p>only content here</p></div>'
        '</body></html>'
    ).encode()
    res = process_html_arm(html)
    assert res.success and "only content here" in res.text
    res1 = process_html_arm(html, selected_pages=[1])
    assert res1.success and "only content here" in res1.text


# --- html scanner vs the stdlib oracle ----------------------------------------
# One case per construct where the scanner departs from a plain tag/text
# split; each expected value is what the stdlib-based oracle returns.
_SCANNER_GOLDEN = {
    # script/style: tags inside are not parsed; only </script\s*> (any
    # case) ends the element, and an unclosed one swallows the rest
    "raw_text_tags_not_parsed": (
        b"<p>a<script>x<p>no</p></p></SCRIPT ><p>b<style>p{}</p></style\n>c",
        [(1, ["a", "b"])],
    ),
    "raw_text_close_needs_bare_gt": (
        b"<p>a<script>x</script foo><p>lost</ script><p>b",
        [(1, ["a", "b"])],
    ),
    "raw_text_unclosed_swallows_rest": (b"<p>a<style><p>b", [(1, ["a"])]),
    "raw_text_self_closing": (b"<p>a<script/>b", [(1, ["a"])]),
    "raw_text_unicode_casefold_close": (
        "<p>a<script></ſcript><p>x</script><p>b".encode(),
        [(1, ["a", "b"])],
    ),
    # attributes: values unescaped, last duplicate wins (even valueless),
    # any quoting, '==' and non-ASCII digits
    "attr_quoting_and_unescape": (
        b"<div data-page=\"2\"><p>a</div><div data-page='&#51;'><p>b</div>"
        b"<div data-page=4><p>c</div><div data-page><p>d</div>",
        [(1, ["d"]), (2, ["a"]), (3, ["b"]), (4, ["c"])],
    ),
    "attr_duplicate_last_wins": (
        b"<div data-page=2 DATA-PAGE=\"5\"><p>a</div>"
        b"<div data-page=2 data-page><p>b</div>",
        [(1, ["b"]), (5, ["a"])],
    ),
    "attr_odd_spacing": (
        b"<div\tdata-page = \"6\"/><p>a</div><div data-page==7><p>b</div>"
        b"<div class=x\x0bdata-page=8><p>c",
        [(1, ["a"]), (7, ["b"]), (8, ["c"])],
    ),
    "attr_non_ascii_digit": (
        "<div data-page=\"²\"><p>a".encode(),
        ValueError("invalid literal for int() with base 10: '²'"),
    ),
    # character references: no ';' needed, numeric edge cases
    "charref_without_semicolon": (
        b"<p>&amp &lt;b&gt &copy; &ampx &notit; &#65 &#x42 x&",
        [(1, ["& <b> \xa9 &x \xacit; A B x&"])],
    ),
    "charref_numeric_edges": (
        b"<p>[&#0;][&#x110000;][&#128;][&#x80;][&#xD800;][&#65;]",
        [(1, ["[�][�][€][€][�][A]"])],
    ),
    # a '<' that opens no markup is text; '</>' vanishes; '</ p>' closes
    "stray_lt_is_text": (b"<p>1 < 2 <3 <= 4 <", [(1, ["1 < 2 <3 <= 4 <"])]),
    "empty_and_spaced_end_tags": (
        b"<p>a</>b</ p>c<p>d</ >e</p x>f",
        [(1, ["ab", "de"])],
    ),
    # incomplete markup at EOF is flushed as text (unescaped), while a start
    # tag cut by a bogus char is flushed raw
    "incomplete_tag_at_eof": (
        b"<p>a &amp; b<div data-page=\"3",
        [(1, ["a & b<div data-page=\"3"])],
    ),
    "incomplete_tag_up_to_later_gt": (
        b"<p>x<a href='&amp;<b>y",
        [(1, ["x<a href='&<b>y"])],
    ),
    "incomplete_comment_at_eof": (b"<p>a<!-- &amp; b", [(1, ["a<!-- & b"])]),
    "incomplete_decl_at_eof": (b"<p>a<!DOCTYPE &amp; b", [(1, ["a<!DOCTYPE & b"])]),
    "incomplete_end_tag_at_eof": (b"<p>a</p", [(1, ["a</p"])]),
    "bogus_start_tag_not_unescaped": (
        b"<p>x<a&amp;\x00>&amp;",
        [(1, ["x<a&amp;\x00>&"])],
    ),
    # <![CDATA[…]]>, <!DOCTYPE>, <!bogus>, <?pi?> and comments produce no text
    "cdata_doctype_bogus": (
        b"<!DOCTYPE html><p>a<![CDATA[<p>x]]>b<!bogus><?pi?>c<!-- <p>y -- >d",
        [(1, ["abcd"])],
    ),
    "marked_section_unknown_keyword": (
        b"<p>a<![foo[x]]>",
        AssertionError("unknown status keyword 'foo' in marked section"),
    ),
    "marked_section_no_name": (
        b"<p>a<![ x]>",
        AssertionError("expected name token at '<![ x]>'"),
    ),
}


@pytest.mark.parametrize("case", sorted(_SCANNER_GOLDEN))
def test_html_scanner_golden_matches_oracle(case):
    from tests.html_oracle import oracle_extract_html_pages, outcome

    payload, expected = _SCANNER_GOLDEN[case]
    if isinstance(expected, Exception):
        expected = type(expected), str(expected)
    assert outcome(oracle_extract_html_pages, payload) == expected
    assert outcome(extract_html_pages, payload) == expected


def test_html_scanner_beats_oracle():
    """Same output as the stdlib oracle on ~500 synthesized html-arm pages
    (malformed ones included), in at most half its time: best of 3 each,
    measured back to back in this process."""
    import time

    import pandas as pd

    from ocr_project_spark.datagen import REPLICA_STRIDE, _synthesize_batch, backend_for
    from ocr_project_spark.contract import BACKEND_HTML
    from tests.conftest import SF_DIR
    from tests.html_oracle import oracle_extract_html_pages, outcome

    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    docs = docs[[backend_for(int(d)) == BACKEND_HTML for d in docs["doc_id"]]]
    replicas = [docs.assign(doc_id=docs["doc_id"] + k * REPLICA_STRIDE) for k in (0, 1)]
    pages = next(_synthesize_batch(iter([pd.concat(replicas, ignore_index=True)])))
    payloads = [bytes(h) for h in pages["html"]]
    assert len(payloads) >= 400

    def timed(extract):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            out = [outcome(extract, p) for p in payloads]
            best = min(best, time.perf_counter() - t0)
        return out, best

    expected, oracle_s = timed(oracle_extract_html_pages)
    got, scanner_s = timed(extract_html_pages)
    assert got == expected
    assert scanner_s <= oracle_s / 2, (scanner_s, oracle_s)
