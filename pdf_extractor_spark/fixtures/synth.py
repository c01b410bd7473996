"""Deterministic synthetic web corpus (FIXTURES.md §1-3).

Every row is a pure function of ``(seed, doc_id)``: no wall clock, no global
randomness. Hosts follow a Zipf(s≈1.2) over ~50 hosts so a few hosts are
heavy — the url-keyed repartition (pipeline.extract_documents) must spread them.

~90% of payloads are synthesized HTML pages (main-content article + link-dense
boilerplate + script/style noise + entity/multibyte text + ~5% malformed tags);
~10% are synthesized minimal PDFs (FlateDecode content streams, BT/ET Tf Td/TD/
Tm/T* Tj/TJ), matching the reference's document corpus shape
(reference examples/, README.md:255-268) without any external data.
"""

from __future__ import annotations

import datetime
import random
import zlib

N_HOSTS = 50
ZIPF_S = 1.2
EPOCH_BASE = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
LANGS = ["en", "de", "fr", "es", "zh"]

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt labore dolore magna aliqua enim minim veniam quis "
    "nostrud exercitation ullamco laboris nisi aliquip commodo consequat "
    "duis aute irure reprehenderit voluptate velit esse cillum fugiat nulla "
    "pariatur excepteur sint occaecat cupidatat proident sunt culpa officia "
    "deserunt mollit anim laborum"
).split()

_MULTIBYTE = {
    "de": ["Straße", "über", "größer", "Müller", "Bäcker"],
    "fr": ["été", "français", "déjà", "cœur", "naïve"],
    "es": ["año", "señal", "corazón", "música", "según"],
    "zh": ["数据", "处理", "文档", "提取", "内容", "系统"],
    "en": [],
}

_NAV_ITEMS = ["Home", "About", "Products", "Blog", "Contact", "Careers", "Login"]


_ZIPF_CUM: list[float] = []
_acc = 0.0
for _k in range(1, N_HOSTS + 1):
    _acc += 1.0 / (_k**ZIPF_S)
    _ZIPF_CUM.append(_acc)
_ZIPF_TOTAL = _acc


def _zipf_host(rng: random.Random) -> int:
    # inverse-CDF sample over a fixed Zipf(s) mass on N_HOSTS ranks
    import bisect

    u = rng.random() * _ZIPF_TOTAL
    return min(bisect.bisect_left(_ZIPF_CUM, u), N_HOSTS - 1)


def _sentence(rng: random.Random, lang: str) -> str:
    n = rng.randint(6, 14)
    words = [rng.choice(_WORDS) for _ in range(n)]
    extra = _MULTIBYTE[lang]
    if extra and rng.random() < 0.4:
        words[rng.randrange(n)] = rng.choice(extra)
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang) for _ in range(rng.randint(2, 5)))


# --- HTML synthesis -----------------------------------------------------------


def _nav_html(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{x.lower()}">{x}</a></li>' for x in _NAV_ITEMS
    )
    return f'<nav class="top"><ul>{items}</ul></nav>'


def _sidebar_html(rng: random.Random) -> str:
    links = "".join(
        f'<a href="/tag/{w}">{w}</a> ' for w in rng.sample(_WORDS, 8)
    )
    return f'<aside class="sidebar"><h3>Tags</h3><div>{links}</div></aside>'


def _footer_html() -> str:
    return (
        '<footer><p>© 2024 Example Corp. All rights reserved. '
        '<a href="/privacy">Privacy</a> | <a href="/terms">Terms</a></p></footer>'
    )


def make_html_page(doc_id: int, seed: int = 42, scale: int = 1) -> bytes:
    """One deterministic page. Layout case keyed off doc_id % 20.

    ``scale`` multiplies article length (bench corpora use scale>1 so pages
    approach realistic Common-Crawl sizes and the UDF stage is compute-bound).
    """
    rng = random.Random((seed << 20) ^ doc_id)
    lang = LANGS[doc_id % len(LANGS)]
    case = doc_id % 20

    if case == 19:  # empty page
        return b"<html><head><title>empty</title></head><body></body></html>"
    if case == 18:  # boilerplate-only page: golden text == ""
        return (
            "<html><body>"
            + _nav_html(rng)
            + _sidebar_html(rng)
            + _footer_html()
            + "</body></html>"
        ).encode("utf-8")

    n_paras = 1 if case == 17 else rng.randint(3, 12) * scale
    title = _sentence(rng, lang).rstrip(".")
    paras = []
    for i in range(n_paras):
        p = _paragraph(rng, lang)
        if case == 16 and i == 0:
            # link-density boundary case: a kept paragraph containing links
            w1, w2 = rng.sample(_WORDS, 2)
            p = f'{p} See <a href="/ref/{w1}">{w1}</a> and <a href="/ref/{w2}">{w2}</a> for details.'
        if rng.random() < 0.3:
            p = p.replace(" and ", " &amp; ", 1)
        paras.append(f"<p>{p}</p>")

    comment = "<!-- render marker 0x%08x -->" % rng.getrandbits(32)
    script = "<script>var t=%d; if(t>0){console.log('x < y && z')}</script>" % doc_id
    style = "<style>.main { color: #222; } a:hover { color: red; }</style>"
    cookie = (
        '<div class="cookie-banner">We use cookies. '
        '<a href="/cookies">Learn more</a> <a href="#">Accept</a></div>'
    )
    malformed = "<div><p>unclosed marker" if case == 15 else ""

    body = (
        _nav_html(rng)
        + cookie
        + '<div class="wrap"><article><h1>'
        + title
        + "</h1>"
        + "".join(paras)
        + "</article>"
        + _sidebar_html(rng)
        + "</div>"
        + malformed
        + _footer_html()
    )
    page = (
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        f"<title>{title}</title>{style}{script}{comment}</head>"
        f"<body>{body}</body></html>"
    )
    return page.encode("utf-8")


# --- PDF synthesis ------------------------------------------------------------


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def make_pdf(
    pages: list[list[tuple[float, float, str]]],
    page_w: float = 612,
    page_h: float = 792,
    compress: bool = True,
    shuffle_runs_rng: random.Random | None = None,
    rotate: int = 0,
) -> bytes:
    """Build a minimal valid PDF from (x, y, text) runs per page.

    ``shuffle_runs_rng`` emits the runs in shuffled content-stream order
    (the out-of-order fixture — y/x clustering must restore reading order).

    ``rotate`` (0-3 quarter-turns CCW) emits the same READING-space runs as
    rotated text matrices on a correspondingly rotated device page box (the
    scanned-sideways-page fixture — the parser's rotation remap must recover
    the identical reading order, so extraction output is invariant in it).
    """
    objects: list[bytes] = []  # 1-indexed
    rotate %= 4
    # device page box: quarter-turn rotations swap the reading box's axes
    dev_w, dev_h = (page_w, page_h) if rotate in (0, 2) else (page_h, page_w)

    def tm(x: float, y: float) -> bytes:
        """Text matrix placing reading-space (x, y) on the rotated page."""
        if rotate == 0:
            return b"1 0 0 1 %.2f %.2f Tm" % (x, y)
        if rotate == 1:  # device (dev_w - y, x), baseline along +y
            return b"0 1 -1 0 %.2f %.2f Tm" % (dev_w - y, x)
        if rotate == 2:  # device (dev_w - x, dev_h - y), baseline along -x
            return b"-1 0 0 -1 %.2f %.2f Tm" % (dev_w - x, dev_h - y)
        return b"0 -1 1 0 %.2f %.2f Tm" % (y, dev_h - x)  # baseline along -y

    def add(obj: bytes) -> int:
        objects.append(obj)
        return len(objects)

    font_num = add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    page_nums: list[int] = []
    content_map: list[tuple[int, bytes]] = []
    for runs in pages:
        emit = list(runs)
        if shuffle_runs_rng is not None:
            shuffle_runs_rng.shuffle(emit)
        ops = [b"BT", b"/F1 11 Tf", b"12 TL"]
        for x, y, text in emit:
            ops.append(tm(x, y))
            ops.append(b"(%s) Tj" % _pdf_escape(text).encode("latin-1", "replace"))
        ops.append(b"ET")
        raw = b"\n".join(ops)
        data = zlib.compress(raw) if compress else raw
        filt = b"/Filter /FlateDecode " if compress else b""
        content_num = add(b"")  # placeholder, fill below
        content_map.append(
            (
                content_num,
                b"<< %s/Length %d >>\nstream\n%s\nendstream"
                % (filt, len(data), data),
            )
        )
        page_num = add(
            b"<< /Type /Page /Parent 0 0 R /MediaBox [0 0 %d %d] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> >> >>"
            % (int(dev_w), int(dev_h), content_num, font_num)
        )
        page_nums.append(page_num)
    for num, body in content_map:
        objects[num - 1] = body
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    pages_num = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_nums))
    )
    catalog_num = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, catalog_num, xref_pos)
    )
    return bytes(out)


def make_pdf_payload(doc_id: int, seed: int = 42) -> bytes:
    """Deterministic PDF fixture. Layout case keyed off doc_id % 5."""
    rng = random.Random((seed << 21) ^ doc_id)
    lang = "en"
    case = doc_id % 5
    w, h = 612.0, 792.0
    pages: list[list[tuple[float, float, str]]] = []
    n_pages = 1 + (doc_id % 3 == 0)
    for p in range(n_pages):
        runs: list[tuple[float, float, str]] = []
        # header/footer (must be excluded by the margin band)
        runs.append((72, h - 30, "Example Corp Annual Report"))
        runs.append((72, 25, "Page %d" % (p + 1)))
        if case == 1:  # two-column
            for col, x0 in ((0, 72.0), (1, 330.0)):
                y = h - 90
                for _ in range(rng.randint(4, 7)):
                    runs.append((x0, y, _sentence(rng, lang)[:40]))
                    y -= 14
        elif case == 2:  # table region
            y = h - 90
            runs.append((72, y, "Quarterly results"))
            y -= 28
            for r in range(4):
                runs.append((72, y, "Row %d" % (r + 1)))
                runs.append((220, y, "%d" % rng.randint(100, 999)))
                runs.append((320, y, "%d" % rng.randint(100, 999)))
                y -= 14
        else:  # single-column paragraphs (maybe shuffled at emit)
            y = h - 90
            for _b in range(rng.randint(2, 4)):
                for _ in range(rng.randint(2, 4)):
                    runs.append((72, y, _sentence(rng, lang)[:50]))
                    y -= 14
                y -= 24  # paragraph gap
        pages.append(runs)
    shuffle = random.Random(doc_id) if case == 3 else None
    return make_pdf(pages, w, h, compress=True, shuffle_runs_rng=shuffle)


# --- corpus assembly ----------------------------------------------------------


def make_document_row(doc_id: int, seed: int = 42, scale: int = 1) -> dict:
    """One (url, warc_ts, html, text, lang) row — the north-rule input shape."""
    rng = random.Random((seed << 22) ^ doc_id)
    host = _zipf_host(rng)
    lang = LANGS[doc_id % len(LANGS)]
    is_pdf = doc_id % 10 == 7  # ~10% PDFs
    if is_pdf:
        payload = make_pdf_payload(doc_id, seed)
        path = "reports"
    else:
        payload = make_html_page(doc_id, seed, scale=scale)
        path = "articles"
    url = f"https://host{host}.example/{path}/{doc_id}"
    warc_ts = EPOCH_BASE + datetime.timedelta(seconds=doc_id * 37)
    raw_text = "" if is_pdf else payload.decode("utf-8", errors="replace")
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": payload,
        "text": raw_text,
        "lang": lang,
    }


def synth_corpus(n: int) -> list[dict]:
    return [make_document_row(i) for i in range(n)]
