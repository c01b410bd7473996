"""From-scratch HTML main-content extractor (lxml-style, no lxml).

Replaces the reference's LLM extraction call (reference src/extractor.py:38-136)
with a deterministic three-stage pipeline:

  1. a regex-driven tag lexer + element stack (a minimal DOM tokenizer);
  2. block assembly: character runs are flushed into blocks at block-level tag
     boundaries, tracking per block the source span, total chars, anchor chars
     (text inside <a>), and the ancestor element path;
  3. Boilerpipe/trafilatura-class classification: text density + link density
     + ancestor-tag rules decide which blocks are main content (the shallow
     text-feature approach of Kohlschütter/Fankhauser/Nejdl, "Boilerplate
     Detection using Shallow Text Features", WSDM 2010 — public method,
     implementation from scratch).

The function is PURE — output depends only on the input bytes — which is what
makes the Spark pipeline byte-identical at any parallelism level.

Output: ``(text, spans, n_blocks)`` where ``text`` is main-content blocks
joined by ``"\\n\\n"`` and each span ``(start, end)`` is the half-open source
region (in decoded-string offsets) a block came from. The invariant
``normalize(strip_tags(source[start:end])) == block_text`` is tested in
tests/test_html_extract.py.
"""

from __future__ import annotations

import html as _htmllib
import re
from dataclasses import dataclass

# --- tokenizer ---------------------------------------------------------------

_TAG_RE = re.compile(
    r"<!--.*?(?:-->|$)"  # comments (unterminated comment swallows rest)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<!(?i:DOCTYPE)[^>]*>"
    r"|<\?[^>]*>"
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)\s*>"  # close tag  -> group 1
    r"|<\s*([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)>",  # open -> 2,3,4
    re.DOTALL,
)

# Elements whose raw text content is never document text.
_RAW_TEXT = {"script", "style", "noscript", "template", "textarea", "svg", "math", "title"}

# Tags that end/start a text block when opened or closed.
_BLOCK_TAGS = {
    "address", "article", "aside", "blockquote", "body", "br", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li", "main",
    "nav", "ol", "p", "pre", "section", "table", "tbody", "td", "tfoot", "th",
    "thead", "tr", "ul",
}

# Void elements: never pushed on the stack.
_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link", "meta",
    "param", "source", "track", "wbr",
}

# Ancestor tags that mark a block as boilerplate regardless of density.
_BOILERPLATE_ANCESTORS = {"nav", "footer", "header", "aside", "form"}

_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

# One dict lookup per tag instead of five set-membership tests in the
# assembly hot loop: bit 1 = block, 2 = void, 4 = raw-text, 8 =
# boilerplate ancestor, 16 = anchor.
_TAG_FLAGS: dict[str, int] = {}
for _t in _BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | 1
for _t in _VOID:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | 2
for _t in _RAW_TEXT:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | 4
for _t in _BOILERPLATE_ANCESTORS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | 8
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | 16

# Classification thresholds (Boilerpipe-class defaults).
MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.33
MIN_HEADING_CHARS = 3
SHORT_BLOCK_MIN_CHARS = 8


@dataclass(frozen=True)
class ExtractContext:
    """M4 — per-run extraction options threaded into every per-document
    call (the reference prefixes a per-run context onto each mapped item,
    reference src/extractor.py:161-183; here the context is the classifier
    threshold set, closed over by the vectorized UDF).

    Frozen + tiny so it pickles into the UDF closure and rides to every
    executor once per task, not per row.
    """

    min_content_chars: int = MIN_CONTENT_CHARS
    max_link_density: float = MAX_LINK_DENSITY


DEFAULT_CONTEXT = ExtractContext()


class _Block:
    __slots__ = ("parts", "anchor_chars", "start", "end", "tag", "path_flags", "text")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.anchor_chars = 0
        self.start = -1
        self.end = -1
        self.tag = ""  # nearest enclosing block-level tag at flush time
        self.path_flags = False  # True if any boilerplate ancestor
        self.text = ""  # normalized text, set once at flush time


_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)

# supported declared charsets -> python codec (whitelist keeps decoding
# deterministic; anything else falls back to utf-8-replace)
_CODECS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-15": "iso-8859-15",
    "ascii": "ascii", "us-ascii": "ascii",
}


def _decode(payload: bytes) -> str:
    """Decode page bytes: a UTF byte-order mark wins (per WHATWG encoding
    sniffing), then a declared <meta charset> when it is a supported
    single-byte/utf-8 codec, else utf-8 with replacement (the
    Common-Crawl-safe default). Pure function of the bytes."""
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff") and payload[:3] != b"\xef\xbb\xbf":
        try:
            # utf-16 with BOM: codec consumes the BOM and picks endianness
            return payload.decode("utf-16")
        except UnicodeDecodeError:
            pass
    if payload[:3] == b"\xef\xbb\xbf":
        return payload[3:].decode("utf-8", errors="replace")
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        codec = _CODECS.get(m.group(1).decode("ascii", "ignore").lower())
        if codec:
            try:
                return payload.decode(codec)
            except UnicodeDecodeError:
                pass
    return payload.decode("utf-8", errors="replace")


# Precompiled close-tag patterns for the raw-text skip (one per element —
# compiling inside the lexer loop cost a cache lookup per <script>/<style>).
_RAW_CLOSE = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _RAW_TEXT
}

# Memo of raw tag spelling -> (lowercased tag, flag bits): one dict get
# replaces a .lower() call + a flags lookup per tag event (tags repeat
# constantly; real-world markup is overwhelmingly lowercase already).
# Bounded two ways against adversarial unique-tag documents: entry count
# AND key length (every real HTML tag name is short; an uncacheable long
# name just pays the pre-memo cost), so the cache can never pin more than
# ~a few hundred KB per process.
_TAG_CACHE: dict[str, tuple[str, int]] = {}
_TAG_CACHE_MAX = 4096
_TAG_CACHE_MAX_KEY_LEN = 32


def tokenize(source: str) -> list[tuple[str, str, str, int, int]]:
    """Lex ``source`` into a list of (kind, tag, text, start, end) events.

    kind ∈ {"text", "open", "close"}. Raw-text element bodies are skipped.
    Returns a list (not a generator): the event stream is consumed exactly
    once and is small (~100s of events per page), and list-building avoids
    one generator resume per event in the hot path.

    Implementation note: drives ``finditer`` (C-level scan) instead of a
    Python ``search`` loop; matches that fall inside an already-skipped
    raw-text body (``m.start() < pos``) are dropped, which preserves the
    event stream of the explicit-``pos`` loop this replaces, except for one
    malformed-input corner: a tag match that starts inside a raw-text body
    and swallows the raw close tag through an unterminated quoted attribute
    resumes lexing after that match rather than at the close tag. Gap text
    is unaffected (skipped matches do not advance ``pos``).
    """
    pos = 0
    n = len(source)
    events: list[tuple[str, str, str, int, int]] = []
    emit = events.append
    for m in _TAG_RE.finditer(source):
        mstart = m.start()
        if mstart < pos:
            continue  # inside a skipped raw-text body
        if mstart > pos:
            emit(("text", "", source[pos:mstart], pos, mstart))
        mend = m.end()
        close_tag = m[1]
        if close_tag is not None:
            emit(("close", close_tag.lower(), "", mstart, mend))
            pos = mend
            continue
        open_tag = m[2]
        if open_tag is not None:
            tag = open_tag.lower()
            # HTML5 ignores the '/' on a non-void START tag (12.1.2.1):
            # '<a href=x />text</a>' keeps the anchor open (browsers count
            # the text as link text) and '<script src=x />' swallows raw
            # text to the REAL close tag — so self_close only matters for
            # foreign/void markup and is otherwise dropped here
            if tag in _RAW_TEXT:
                # skip to the matching close tag (case-insensitive)
                cm = _RAW_CLOSE[tag].search(source, mend)
                emit(("open", tag, "", mstart, mend))
                end = cm.end() if cm else n
                emit(("close", tag, "", end, end))
                pos = end
            else:
                emit(("open", tag, "", mstart, mend))
                pos = mend
        else:
            pos = mend  # comment / doctype / PI
    if pos < n:
        emit(("text", "", source[pos:n], pos, n))
    return events


def _normalize_ws(s: str) -> str:
    # identical to re.sub(r"\s+", " ", s).strip() (str.split() splits on the
    # same unicode whitespace set \s matches) but ~3x faster — this is the
    # hottest scalar in the HTML path. NOTE: _assemble_blocks.flush()
    # inlines this expression; a semantic change here must be mirrored
    # there or block text diverges from strip_tags_and_normalize.
    return " ".join(s.split())


def strip_tags_and_normalize(fragment: str) -> str:
    """Normalize a raw source fragment the same way block text is built.

    Used by the span invariant test: for every emitted span,
    ``strip_tags_and_normalize(source[start:end]) == block_text``.
    """
    parts = []
    for kind, _tag, text, _s, _e in tokenize(fragment):
        if kind == "text":
            parts.append(_htmllib.unescape(text))
    return _normalize_ws("".join(parts))


def _assemble_blocks(source: str) -> list[_Block]:
    """Single-pass block assembly driving ``_TAG_RE.finditer`` directly.

    Event-for-event equivalent to iterating ``tokenize(source)`` (the
    property test in tests/test_html_extract.py pins the block stream to
    the tokenizer-driven reference), but fused: no per-event 5-tuple is
    allocated, no event list is built — the match object is consumed in
    place. The two no-op event pairs the tokenizer emits (open+close
    around a skipped raw-text body; open+close for a self-closed non-void
    tag) are collapsed into their net effect on the assembly state.
    """
    blocks: list[_Block] = []
    cur = _Block()
    stack: list[str] = []  # open element tags
    # Parallel stack of just the block-level tags currently open, so the
    # "nearest enclosing block tag" at block birth is an O(1) peek instead
    # of a reversed() scan of the whole element stack per block.
    block_stack: list[str] = []
    anchor_depth = 0
    boiler_depth = 0

    def flush() -> None:
        # A cur with no parts is pristine (no field has been touched since
        # construction), so it can be reused — most flushes fire on runs of
        # adjacent block tags (</td></tr>...) with nothing accumulated.
        # Call sites guard on cur.parts so the common no-op costs no call.
        nonlocal cur
        # _normalize_ws inlined (65k+ calls/batch: the call overhead shows)
        t = " ".join("".join(cur.parts).split())
        if t:
            cur.text = t  # normalize exactly once per block
            blocks.append(cur)
            cur = _Block()
        else:
            cur.parts.clear()
            cur.anchor_chars = 0
            cur.start = -1
            cur.end = -1
            cur.tag = ""
            cur.path_flags = False

    _block_tags = _BLOCK_TAGS
    _fget = _TAG_FLAGS.get
    _cache = _TAG_CACHE
    _cget = _cache.get
    _unescape = _htmllib.unescape

    def text_run(text: str, start: int, end: int) -> None:
        # one text run [start, end), pre-sliced at the call sites (which
        # also inline the pure-whitespace fast path — the most common run
        # normally never reaches this call): unescape, block birth
        # bookkeeping, anchor-char accounting — shared by the in-loop gaps
        # and the trailing run. The isspace() guard is kept here too so
        # the function stays total (safe for any future call site); on the
        # non-whitespace runs that reach it the check bails at the first
        # non-space character.
        if text.isspace():
            if cur.parts:
                cur.parts.append(" ")
            return
        unescaped = _unescape(text) if "&" in text else text
        if unescaped is not text and unescaped.isspace():
            if cur.parts:
                cur.parts.append(" ")
            return
        if cur.start < 0:
            cur.start = start
            # nearest enclosing block tag at block birth
            cur.tag = block_stack[-1] if block_stack else ""
        cur.path_flags = cur.path_flags or boiler_depth > 0
        cur.end = end
        cur.parts.append(unescaped)
        if anchor_depth > 0:
            # len(_normalize_ws(s)) without building the string:
            # words plus the single spaces between them
            w = unescaped.split()
            if w:
                cur.anchor_chars += sum(map(len, w)) + len(w) - 1

    pos = 0
    n = len(source)
    for m in _TAG_RE.finditer(source):
        mstart, mend = m.span()
        if mstart < pos:
            continue  # inside a skipped raw-text body
        if mstart > pos:
            text = source[pos:mstart]
            if text.isspace():
                # inline fast path: pure-whitespace gaps between tags (the
                # most common text run) need no call, unescape, or new string
                if cur.parts:
                    cur.parts.append(" ")
            else:
                text_run(text, pos, mstart)
        raw = m[1]
        if raw is not None:
            # ---- close tag ----
            hit = _cget(raw)
            if hit is None:
                low = raw.lower()
                hit = (low, _fget(low, 0))
                if len(_cache) < _TAG_CACHE_MAX and len(raw) <= _TAG_CACHE_MAX_KEY_LEN:
                    _cache[raw] = hit
            tag, fl = hit
            if fl & 1 and cur.parts:  # block tag
                flush()
            if fl & 16 and anchor_depth > 0:  # "a"
                anchor_depth -= 1
            if fl & 8 and boiler_depth > 0:  # boilerplate ancestor
                boiler_depth -= 1
            if stack and stack[-1] == tag:
                # common well-formed case: close matches the innermost open
                stack.pop()
                if fl & 1:
                    block_stack.pop()
            else:
                # pop the nearest matching open tag (forgiving of malformed
                # HTML)
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i] == tag:
                        for t in stack[i:]:
                            if t in _block_tags:
                                block_stack.pop()
                        del stack[i:]
                        break
            pos = mend
            continue
        raw = m[2]
        if raw is None:
            pos = mend  # comment / doctype / CDATA / PI
            continue
        # ---- open tag ----
        hit = _cget(raw)
        if hit is None:
            low = raw.lower()
            hit = (low, _fget(low, 0))
            if len(_cache) < _TAG_CACHE_MAX and len(raw) <= _TAG_CACHE_MAX_KEY_LEN:
                _cache[raw] = hit
        tag, fl = hit
        if fl & 4:  # raw-text element
            # The tokenizer emits open+close around the skipped body; no
            # raw-text element is a block tag, "a", or a boilerplate
            # ancestor, so push-then-pop is a no-op on every stack — just
            # jump past the body.
            cm = _RAW_CLOSE[tag].search(source, mend)
            pos = cm.end() if cm else n
            continue
        if fl & 1 and cur.parts:  # block tag
            flush()
        if fl & 16:  # "a"
            anchor_depth += 1
        if fl & 8:  # boilerplate ancestor
            boiler_depth += 1
        if not fl & 2:  # not void
            # HTML5: the '/' on a non-void start tag is IGNORED — the
            # element stays open until its real close tag (matches
            # browsers; an XHTML-style '<a ... />link</a>' farm must
            # still count as anchor text for the link-density filter)
            stack.append(tag)
            if fl & 1:
                block_stack.append(tag)
        pos = mend
    if pos < n:
        text = source[pos:n]
        if text.isspace():
            if cur.parts:
                cur.parts.append(" ")
        else:
            text_run(text, pos, n)
    if cur.parts:
        flush()
    return blocks


def _classify(blocks: list[_Block], ctx: ExtractContext = DEFAULT_CONTEXT) -> list[bool]:
    n_chars = [len(b.text) for b in blocks]
    link_density = [
        (b.anchor_chars / c) if c else 1.0 for b, c in zip(blocks, n_chars)
    ]

    keep = [False] * len(blocks)
    any_content = False
    for i, b in enumerate(blocks):
        if b.path_flags:
            continue
        if n_chars[i] >= ctx.min_content_chars and link_density[i] <= ctx.max_link_density:
            keep[i] = True
            any_content = True

    # Headings survive if the page has real content at all.
    if any_content:
        for i, b in enumerate(blocks):
            if (
                not keep[i]
                and not b.path_flags
                and b.tag in _HEADING_TAGS
                and n_chars[i] >= MIN_HEADING_CHARS
                and link_density[i] <= ctx.max_link_density
            ):
                keep[i] = True

    # Short zero-link blocks sandwiched between two kept blocks are kept
    # (Boilerpipe's neighbour rule for short quotes / one-line paragraphs).
    for i in range(1, len(blocks) - 1):
        if (
            not keep[i]
            and keep[i - 1]
            and keep[i + 1]
            and not blocks[i].path_flags
            and blocks[i].anchor_chars == 0
            and n_chars[i] >= SHORT_BLOCK_MIN_CHARS
        ):
            keep[i] = True
    return keep


def extract_html_one(
    payload: bytes, ctx: ExtractContext = DEFAULT_CONTEXT
) -> tuple[str, list[tuple[int, int]], int]:
    """bytes -> (main text, spans into decoded source, n_blocks)."""
    source = _decode(payload)
    blocks = _assemble_blocks(source)
    keep = _classify(blocks, ctx)
    out_texts: list[str] = []
    spans: list[tuple[int, int]] = []
    for b, k in zip(blocks, keep):
        if not k:
            continue
        out_texts.append(b.text)
        spans.append((b.start, b.end))
    return "\n\n".join(out_texts), spans, len(spans)
