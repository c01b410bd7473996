"""Unit tests for the from-scratch HTML main-content extractor."""

from __future__ import annotations

import pytest

from pdf_extractor_spark.extract.html_parser import (
    extract_html_one,
    strip_tags_and_normalize,
)
from pdf_extractor_spark.fixtures.synth import make_html_page


def _page(body: str) -> bytes:
    return f"<html><head><title>t</title></head><body>{body}</body></html>".encode()


LONG = "This paragraph is certainly long enough to count as real article content here."


def test_simple_article():
    text, spans, n = extract_html_one(
        _page(f"<article><h1>Headline</h1><p>{LONG}</p><p>{LONG} Again {LONG}</p></article>")
    )
    assert text.split("\n\n") == ["Headline", LONG, f"{LONG} Again {LONG}"]
    assert n == 3 and len(spans) == 3


def test_nav_footer_aside_excluded():
    text, _, _ = extract_html_one(
        _page(
            '<nav><a href="/">Home</a><a href="/x">About</a></nav>'
            f"<p>{LONG}</p>"
            f"<aside><p>{LONG}</p></aside>"
            f"<footer><p>{LONG}</p></footer>"
        )
    )
    assert text == LONG  # nav/aside/footer text dropped even when long


def test_link_density_drops_linklists():
    links = "".join(f'<a href="/{i}">item number {i}</a> ' for i in range(10))
    text, _, _ = extract_html_one(_page(f"<div>{links}</div><p>{LONG}</p>"))
    assert text == LONG


def test_content_with_some_links_kept():
    p = f'{LONG} See <a href="/a">this link</a> for details, plus more prose after it.'
    text, _, _ = extract_html_one(_page(f"<p>{p}</p>"))
    assert "See this link for details" in text


def test_script_style_comment_excluded():
    text, _, _ = extract_html_one(
        _page(
            f"<script>var x = 'not content at all, definitely long enough';</script>"
            f"<style>.c {{ color: red; }}</style><!-- a comment that is long enough too -->"
            f"<p>{LONG}</p>"
        )
    )
    assert text == LONG


def test_entities_decoded():
    text, _, _ = extract_html_one(
        _page("<p>Tom &amp; Jerry passed the caf&#233; &nbsp; on their way home today.</p>")
    )
    assert "Tom & Jerry" in text and "café" in text


def test_empty_and_boilerplate_only():
    assert extract_html_one(_page("")) == ("", [], 0)
    text, spans, n = extract_html_one(
        _page('<nav><a href="/">Home</a></nav><footer>short</footer>')
    )
    assert text == "" and spans == [] and n == 0


def test_malformed_unclosed_tags_no_crash():
    text, _, _ = extract_html_one(_page(f"<div><p>{LONG}<div><p>{LONG}"))
    assert text.count(LONG) == 2


def test_short_block_between_content_kept():
    text, _, _ = extract_html_one(
        _page(f"<p>{LONG}</p><p>A short quote.</p><p>{LONG}</p>")
    )
    assert "A short quote." in text


def test_heading_kept_only_with_content():
    text, _, _ = extract_html_one(_page("<h2>Only a heading</h2>"))
    assert text == ""
    text, _, _ = extract_html_one(_page(f"<h2>Real heading</h2><p>{LONG}</p>"))
    assert text.startswith("Real heading")


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 15, 16, 17, 18, 19, 41, 97])
def test_span_invariant_on_fixture_pages(doc_id):
    page = make_html_page(doc_id)
    source = page.decode("utf-8", errors="replace")
    text, spans, n = extract_html_one(page)
    blocks = text.split("\n\n") if text else []
    assert len(blocks) == len(spans) == n
    for (s, e), block in zip(spans, blocks):
        assert strip_tags_and_normalize(source[s:e]) == block


def test_deterministic():
    page = make_html_page(7)
    assert extract_html_one(page) == extract_html_one(page)


def test_gzip_payload_transparently_decompressed():
    import gzip

    from pdf_extractor_spark.extract.udfs import extract_one

    page = make_html_page(3)
    plain = extract_one(page)
    gz = extract_one(gzip.compress(page))
    assert gz[0] == plain[0] and gz[3] == "html" and gz[4] is True


def test_declared_latin1_charset_honored():
    body = "<p>Dépêche reçue à l'instant: succès considérable annoncé.</p>"
    page = (
        '<html><head><meta charset="iso-8859-1"><title>t</title></head>'
        f"<body>{body}</body></html>"
    ).encode("latin-1")
    text, _, _ = extract_html_one(page)
    assert "Dépêche reçue" in text
    # without the declaration the same bytes would mojibake under utf-8
    stripped = page.replace(b'<meta charset="iso-8859-1">', b"")
    text2, _, _ = extract_html_one(stripped)
    assert "Dépêche reçue" not in text2 and "D�p�che" in text2


def test_unknown_charset_falls_back_to_utf8():
    page = (
        '<html><head><meta charset="x-ebcdic-nonsense"></head>'
        "<body><p>plain ascii body that is long enough to be content.</p></body></html>"
    ).encode()
    text, _, _ = extract_html_one(page)
    assert "plain ascii body" in text


def test_bom_detection_utf16_and_utf8():
    """WHATWG-style BOM sniffing: UTF-16LE/BE pages decode; a UTF-8 BOM is
    stripped rather than leaking into the first block."""
    from pdf_extractor_spark.extract.html_parser import extract_html_one

    body = "<html><body><p>Unicode naïve café page with enough characters.</p></body></html>"
    for enc in ("utf-16-le", "utf-16-be"):
        import codecs

        bom = codecs.BOM_UTF16_LE if enc == "utf-16-le" else codecs.BOM_UTF16_BE
        payload = bom + body.encode(enc)
        text, spans, n = extract_html_one(payload)
        assert "naïve café" in text, enc
    text8, _, _ = extract_html_one(b"\xef\xbb\xbf" + body.encode("utf-8"))
    assert "naïve café" in text8 and not text8.startswith("﻿")


# --- fused-lexer equivalence -------------------------------------------------
# _assemble_blocks drives _TAG_RE.finditer directly (no per-event tuples).
# This reference assembler consumes the public tokenize() event stream with
# the original event-driven logic; the fused implementation must produce an
# identical block stream on every input.


def _assemble_blocks_reference(source):
    from pdf_extractor_spark.extract import html_parser as hp

    blocks = []
    cur = hp._Block()
    stack = []
    block_stack = []
    anchor_depth = 0
    boiler_depth = 0

    def flush():
        nonlocal cur
        if cur.parts:
            t = hp._normalize_ws("".join(cur.parts))
            if t:
                cur.text = t
                blocks.append(cur)
                cur = hp._Block()
            else:
                cur.parts.clear()
                cur.anchor_chars = 0
                cur.start = -1
                cur.end = -1
                cur.tag = ""
                cur.path_flags = False

    for kind, tag, text, start, end in hp.tokenize(source):
        if kind == "text":
            if text.isspace():
                if cur.parts:
                    cur.parts.append(" ")
                continue
            unescaped = hp._htmllib.unescape(text) if "&" in text else text
            if unescaped is not text and unescaped.isspace():
                if cur.parts:
                    cur.parts.append(" ")
                continue
            if cur.start < 0:
                cur.start = start
                cur.tag = block_stack[-1] if block_stack else ""
            cur.path_flags = cur.path_flags or boiler_depth > 0
            cur.end = end
            cur.parts.append(unescaped)
            if anchor_depth > 0:
                cur.anchor_chars += len(hp._normalize_ws(unescaped))
        elif kind == "open":
            if tag in hp._BLOCK_TAGS:
                flush()
            if tag == "a":
                anchor_depth += 1
            if tag in hp._BOILERPLATE_ANCESTORS:
                boiler_depth += 1
            if tag not in hp._VOID:
                stack.append(tag)
                if tag in hp._BLOCK_TAGS:
                    block_stack.append(tag)
        else:
            if tag in hp._BLOCK_TAGS:
                flush()
            if tag == "a" and anchor_depth > 0:
                anchor_depth -= 1
            if tag in hp._BOILERPLATE_ANCESTORS and boiler_depth > 0:
                boiler_depth -= 1
            for i in range(len(stack) - 1, -1, -1):
                if stack[i] == tag:
                    for t in stack[i:]:
                        if t in hp._BLOCK_TAGS:
                            block_stack.pop()
                    del stack[i:]
                    break
    flush()
    return blocks


_ADVERSARIAL = [
    "",
    "plain text no tags at all",
    "<div/><p/>text after self-closed blocks<br/>more",
    "<a/>anchor self-closed<a>open anchor <b>bold</b> text</a>",
    "<script>var x = '<p>not a block</p>';</script><p>real para text here ok</p>",
    "<script src='x'/><p>after self-closed script</p>",
    "<nav><div>deep <span>nested</span> nav text</div></nav><p>content</p>",
    "<TABLE><TR><TD>a</TD><td>b</td></tr></table>trailing",
    "<p>unclosed <div>nested unclosed <li>item",
    "<!-- <p>commented out</p> --><p>kept &amp; unescaped</p>",
    "<form><input value='x'><p>form para</p></form><p>outside</p>",
    "<footer>short</footer><aside><a href='/'>x</a></aside>tail text",
    "text<br>line two<br/>line three<hr>line four",
    "<p>&nbsp;</p><p>ws-only entity gap</p>",
    "<svg><rect/><text>svg text skipped</text></svg><p>after svg</p>",
    "<a href='/x'>link one</a> and <a href='/y'>link two</a> amid prose",
    # case-crossing pairs: the tag-spelling memo must land on the same
    # lowercased identity for every spelling, or stack matching breaks
    "<DIV><p>upper open, lower close</P></div>tail",
    "<NaV>mixed nav</nAv><P>after</p>",
    "<A HREF='/x'>UPPER ANCHOR</a> prose <p>long enough paragraph here</p>",
    # close tag that does NOT match the innermost open (fast path must
    # fall through to the forgiving scan)
    "<div><span>x</div><p>after mismatched close</p>",
    "<ul><li>one<li>two</ul><p>implicit li closes</p>",
]


def test_tag_memo_case_insensitive_and_capped(monkeypatch):
    """The raw-spelling memo caches (lowered, flags) per spelling and stops
    growing at its cap; behavior must be identical either side of the cap.
    Runs on a fresh memo so every bound is exercised, not already met."""
    from pdf_extractor_spark.extract import html_parser as hp

    monkeypatch.setattr(hp, "_TAG_CACHE", {})
    page = "<DIV><P>Case crossing paragraph long enough to be real content.</p></div>"
    before = hp._assemble_blocks(page)
    assert {"DIV", "P", "p", "div"} <= set(hp._TAG_CACHE)
    # long tag spellings must never be pinned in the memo (byte bound, not
    # just entry-count bound) — checked at the open-tag and the close-tag
    # miss site separately
    long_tags = [f"y{'A' * 500}{i}" for i in range(50)]
    n_cached = len(hp._TAG_CACHE)
    hp._assemble_blocks("".join(f"<{t}>t" for t in long_tags))
    assert len(hp._TAG_CACHE) == n_cached
    hp._assemble_blocks("".join(f"t</{t}>" for t in long_tags))
    assert len(hp._TAG_CACHE) == n_cached
    # flood the memo past its cap with unique tag spellings
    junk = "".join(f"<x{i}>t</x{i}>" for i in range(hp._TAG_CACHE_MAX + 64))
    hp._assemble_blocks(junk)
    assert len(hp._TAG_CACHE) == hp._TAG_CACHE_MAX
    assert all(len(k) <= hp._TAG_CACHE_MAX_KEY_LEN for k in hp._TAG_CACHE)
    after = hp._assemble_blocks(page)
    key = lambda b: (b.text, b.start, b.end, b.tag, b.path_flags, b.anchor_chars)
    assert [key(b) for b in before] == [key(b) for b in after]


def test_fused_assembler_matches_event_driven_reference():
    from pdf_extractor_spark.extract.html_parser import _assemble_blocks, _decode

    sources = [s for s in _ADVERSARIAL]
    sources += [
        _decode(make_html_page(i, scale=3)) for i in range(0, 40, 3)
    ]
    for src in sources:
        got = _assemble_blocks(src)
        want = _assemble_blocks_reference(src)
        key = lambda b: (b.text, b.start, b.end, b.tag, b.path_flags, b.anchor_chars)
        assert [key(b) for b in got] == [key(b) for b in want], src[:80]


def test_lowercase_doctype_not_leaked_as_text():
    from pdf_extractor_spark.extract.html_parser import extract_html_one

    page = (b'<!doctype html public "-//W3C//DTD HTML 4.01 Transitional//EN" '
            b'"http://www.w3.org/TR/html4/loose.dtd">'
            b"<html><body><article><p>Real content paragraph long enough to "
            b"be kept by the classifier rules.</p></article></body></html>")
    text, _, _ = extract_html_one(page)
    assert "doctype" not in text.lower()
    assert "Real content paragraph" in text


def test_self_closed_non_void_anchor_counts_link_text():
    """HTML5 ignores '/' on non-void start tags: an XHTML-style link farm
    '<a ... />text</a>' is anchor text and must be dropped by the
    link-density filter, not laundered into content."""
    from pdf_extractor_spark.extract.html_parser import extract_html_one

    links = "".join(
        f'<li><a href="/x{i}" />Link item number {i} here</a></li>'
        for i in range(12)
    )
    page = (f"<html><body><div><ul>{links}</ul></div><article><p>Genuine "
            f"article text that is long enough to be kept as the main "
            f"content of this page.</p></article></body></html>").encode()
    text, _, _ = extract_html_one(page)
    assert "Link item number" not in text
    assert "Genuine article text" in text


def test_self_closed_script_swallows_to_real_close():
    from pdf_extractor_spark.extract.html_parser import extract_html_one

    page = (b"<html><body><script src=x />var inline = 'leaky string that "
            b"must not appear';</script><article><p>Kept paragraph with "
            b"plenty of characters for the classifier.</p></article>"
            b"</body></html>")
    text, _, _ = extract_html_one(page)
    assert "leaky string" not in text
    assert "Kept paragraph" in text
