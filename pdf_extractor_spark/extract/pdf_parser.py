"""From-scratch PDF text extractor (pdfminer-style, no pdfminer).

Replaces the reference's remote-LLM PDF extraction (reference
src/extractor.py:38-136, src/pdf_uploader.py:27-74) with a deterministic
layout parser:

  glyph runs -> text lines -> reading-order blocks via x/y clustering.

Supported PDF subset (documented per SURVEY.md §7 "hard parts"):
  - objects scanned as ``N G obj ... endobj`` with one optional stream each;
  - stream filters: FlateDecode, ASCIIHexDecode, ASCII85Decode,
    RunLengthDecode, LZWDecode (early-change TIFF variant), including
    filter CHAINS (e.g. [/ASCII85Decode /FlateDecode]) and /Predictor 2
    (TIFF) / 10-15 (PNG Sub/Up/Average/Paeth) post-filters; image/crypt
    filters mark the stream non-text;
  - text operators ``BT ET Tf TL Td TD Tm T* Tj TJ ' "``;
  - literal ``(...)`` strings with escapes and ``<...>`` hex strings;
  - simple fonts decoded as WinAnsi (cp1252, latin-1 fallback), with
    /Encoding /Differences overrides (AGL-subset glyph names + /uniXXXX);
  - inline images (BI ... ID <binary> EI) skipped wholesale;
  - composite/CID fonts decoded via their /ToUnicode CMap (bfchar + bfrange,
    scalar and array destinations, 1- and 2-byte codes) — enough to read
    Identity-H encoded documents like the reference's own examples;
  - per-page MediaBox (default US-Letter 612x792);
  - /Type /ObjStm object streams (PDF 1.5+): embedded page/font dicts are
    surfaced before page-tree resolution;
  - /Type /XRef cross-reference STREAMS, including /Prev chains across
    incremental updates: the live-object map they define overrides the
    brute scan, so an update whose new object generation lives inside an
    ObjStm resolves to the new version (classic xref tables need no such
    override — appended updates already win by scan order);
  - header/footer margin bands excluded; up to two columns per page detected
    by the gutter in line x-starts;
  - the four axis-aligned text rotations (``Tm`` with b/c != 0, a = d = 0,
    and the 180-degree a,d < 0 case — routine in scanned statements): runs
    carry a rotation class, ``Td``/``T*`` displacements go through the full
    line matrix, and each class is remapped into reading space (inverse
    quarter-turn + swapped page box) before x/y clustering.

Out of scope (returns best-effort text): font programs (glyph outlines),
arbitrary-angle/skew text matrices (non-quarter-turn rotations fall back to
the upright path). Encrypted files (/Encrypt in the trailer) raise
``EncryptedPdfError`` instead of emitting ciphertext-garbage "text" — the
extraction UDF maps that to an ok=false error row.

Pure function: output depends only on input bytes — byte-identical across
partitionings.
"""

from __future__ import annotations

import re
import zlib

# --- geometry constants -------------------------------------------------------

DEFAULT_PAGE_W = 612.0
DEFAULT_PAGE_H = 792.0
MARGIN_BAND = 50.0  # lines within this distance of top/bottom edge = header/footer
LINE_Y_TOL = 2.0  # runs within this y-distance share a text line
BLOCK_GAP_FACTOR = 1.6  # line gap > factor*median gap starts a new block

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_RE = re.compile(rb"stream\r?\n")


# --- file-level parsing -------------------------------------------------------


def _parse_object_body(
    data: bytes, m: re.Match
) -> tuple[int, bytes, bytes | None]:
    """Parse one ``N G obj`` match -> (num, header_bytes, stream_bytes|None)."""
    num = int(m.group(1))
    body_start = m.end()
    sm = _STREAM_RE.search(data, body_start)
    end_obj = data.find(b"endobj", body_start)
    if end_obj < 0:
        end_obj = len(data)
    if sm and sm.start() < end_obj:
        header = data[body_start : sm.start()]
        length = _dict_int(header, b"/Length")
        if length is not None and sm.end() + length <= len(data):
            stream = data[sm.end() : sm.end() + length]
        else:
            es = data.find(b"endstream", sm.end())
            if es < 0:
                es = len(data)
            stream = data[sm.end() : es]
            if stream.endswith(b"\r\n"):
                stream = stream[:-2]
            elif stream.endswith(b"\n"):
                stream = stream[:-1]
        return num, header, stream
    return num, data[body_start:end_obj], None


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Scan ``N G obj … endobj`` — returns {obj_num: (header_dict_bytes, stream_bytes|None)}."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    for m in _OBJ_RE.finditer(data):
        num, header, stream = _parse_object_body(data, m)
        objects[num] = (header, stream)
    return objects


def _parse_object_at(
    data: bytes, offset: int, expected_num: int | None = None
) -> tuple[bytes, bytes | None] | None:
    """Parse the object at a byte ``offset`` (from an xref entry or a
    trailer pointer); None when the offset holds no object, or holds one
    other than ``expected_num`` when that is given (corrupt/stale xref)."""
    if not (0 <= offset < len(data)):
        return None
    pos = offset
    while pos < len(data) and data[pos] in b" \t\r\n\x00":
        pos += 1
    m = _OBJ_RE.match(data, pos)
    if not m or (expected_num is not None and int(m.group(1)) != expected_num):
        return None
    _num, header, stream = _parse_object_body(data, m)
    return header, stream


def _expand_object_streams(
    objects: dict[int, tuple[bytes, bytes | None]],
) -> dict[int, tuple[bytes, bytes | None]]:
    """Surface objects stored inside /Type /ObjStm streams (PDF 1.5+).

    Modern writers put page/font dictionaries in compressed object streams;
    without this the page tree is invisible and extraction falls back to
    the any-BT-stream path (losing MediaBox and ToUnicode CMaps). Stream
    objects themselves can never live inside an ObjStm (spec 7.5.7), so the
    embedded objects are dictionaries only. Layout: the first /First bytes
    are N (objnum, offset) integer pairs; object i's body runs from
    First+offset_i to First+offset_{i+1}. Directly-scanned objects win on
    number collisions (they are the newer incremental-update generation in
    the files we can still parse)."""
    found: dict[int, tuple[bytes, bytes | None]] = {}
    for header, stream in list(objects.values()):
        if stream is None or not re.search(rb"/Type\s*/ObjStm\b", header):
            continue
        for objnum, body in _objstm_members(header, stream):
            found[objnum] = (body, None)
    for num, obj in found.items():
        objects.setdefault(num, obj)
    return objects


def _objstm_members(header: bytes, stream: bytes) -> list[tuple[int, bytes]]:
    """Decode a /Type /ObjStm stream -> [(obj_num, body_bytes)] in index order."""
    data = _maybe_inflate(header, stream)
    if not data:
        return []
    n = _dict_int(header, b"/N")
    first = _dict_int(header, b"/First")
    if not n or first is None:
        return []
    nums = [int(x) for x in re.findall(rb"\d+", data[:first])]
    pairs = list(zip(nums[0::2], nums[1::2]))[:n]
    out: list[tuple[int, bytes]] = []
    for i, (objnum, off) in enumerate(pairs):
        end = pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
        out.append((objnum, data[first + off : first + end]))
    return out


_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_XREF_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")


def _xref_live_entries(data: bytes) -> dict[int, tuple[int, int, int]]:
    """Walk the xref-STREAM chain from the last ``startxref`` (PDF 7.5.8).

    Returns the authoritative live-object map {obj_num: (type, f2, f3)}
    with type 1 = direct object at byte offset f2, type 2 = object f3-th
    member of ObjStm f2. Sections are merged newest-first (the startxref
    section wins over its /Prev ancestors), which is what makes
    incrementally-updated files resolve to the NEW object generation.
    Classic ``xref`` table chains return {} — the brute object scan's
    last-occurrence-wins rule already picks the appended (newer) version
    for those. Type-0 (free) entries are recorded during the merge so an
    older section cannot resurrect a freed slot, then dropped; we do not
    delete scanned bodies on their account (dirty-crawl robustness beats
    spec purity for freed-slot reuse)."""
    last = None
    for last in _STARTXREF_RE.finditer(data):
        pass
    if last is None:
        return {}
    live: dict[int, tuple[int, int, int]] = {}
    pos, seen = int(last.group(1)), set()
    while 0 <= pos < len(data) and pos not in seen:
        seen.add(pos)
        obj = _parse_object_at(data, pos)
        if obj is None:
            break
        header, stream = obj
        if stream is None or not re.search(rb"/Type\s*/XRef\b", header):
            break  # classic xref table or corrupt chain
        dec = _maybe_inflate(header, stream)
        wm = _XREF_W_RE.search(header)
        if dec is None or wm is None:
            break
        wa, wb, wc = (int(wm.group(i)) for i in range(1, 4))
        esize = wa + wb + wc
        if esize <= 0:
            break
        im = _XREF_INDEX_RE.search(header)
        if im:
            ints = [int(x) for x in re.findall(rb"\d+", im.group(1))]
            index = list(zip(ints[0::2], ints[1::2]))
        else:
            size = _dict_int(header, b"/Size") or 0
            index = [(0, size)]
        p = 0
        for start, count in index:
            for k in range(count):
                if p + esize > len(dec):
                    break
                f1 = int.from_bytes(dec[p : p + wa], "big") if wa else 1
                f2 = int.from_bytes(dec[p + wa : p + wa + wb], "big")
                f3 = int.from_bytes(dec[p + wa + wb : p + esize], "big")
                p += esize
                live.setdefault(start + k, (f1, f2, f3))
        prev = _dict_int(header, b"/Prev")
        if prev is None:
            break
        pos = prev
    return {n: e for n, e in live.items() if e[0] in (1, 2)}


def _resolve_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Full object resolution: brute scan + ObjStm expansion as the robust
    base, overridden by the xref-stream live map where one parses.

    The brute scan alone mis-resolves one real layout: an incremental
    update that stores the NEW generation of an object inside an ObjStm
    while the stale generation sits uncompressed in the original body —
    scan order picks the stale one. The xref chain is authoritative there.
    Files with no/broken xref streams (truncated crawls) keep the scan's
    best-effort behavior."""
    objects = _expand_object_streams(_parse_objects(data))
    live = _xref_live_entries(data)
    if not live:
        return objects
    direct: dict[int, tuple[bytes, bytes | None]] = {}
    for num, (etype, f2, _f3) in live.items():
        if etype == 1:
            obj = _parse_object_at(data, f2, num)
            if obj is not None:
                direct[num] = obj
    members_cache: dict[int, list[tuple[int, bytes]]] = {}
    compressed: dict[int, tuple[bytes, bytes | None]] = {}
    for num, (etype, stm_num, idx) in live.items():
        if etype != 2:
            continue
        if stm_num not in members_cache:
            holder = direct.get(stm_num) or objects.get(stm_num)
            members_cache[stm_num] = (
                _objstm_members(*holder)
                if holder and holder[1] is not None
                else []
            )
        members = members_cache[stm_num]
        if 0 <= idx < len(members) and members[idx][0] == num:
            compressed[num] = (members[idx][1], None)
    objects.update(direct)
    objects.update(compressed)
    return objects


def _dict_int(header: bytes, key: bytes) -> int | None:
    """Integer value of /Key, or None when the value is an indirect
    reference (``/Length 10 0 R``) — the caller then falls back to the
    endstream scan. The ``(?![0-9])`` makes the number atomic: without it
    the negative lookahead BACKTRACKS on multi-digit object numbers
    ('/Length 10 0 R' matched as 1, silently truncating the stream)."""
    m = re.search(
        re.escape(key) + rb"\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", header
    )
    return int(m.group(1)) if m else None


def _balanced_dict(data: bytes, start: int) -> bytes:
    """The balanced ``<< ... >>`` slice beginning at ``start`` (which must
    point at the opening ``<<``); best-effort tail on malformed input."""
    depth = 0
    i = start
    n = len(data)
    while i < n - 1:
        two = data[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i]
        else:
            i += 1
    return data[start:]


def _dict_value_region(
    header: bytes,
    key: bytes,
    objects: dict[int, tuple[bytes, bytes | None]],
) -> bytes | None:
    """The dictionary VALUE of /Key: the referenced object's header for an
    indirect reference, the balanced inline ``<< ... >>`` region for a
    direct dict, else None (key absent)."""
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", header)
    if m:
        return objects.get(int(m.group(1)), (b"", None))[0]
    m = re.search(re.escape(key) + rb"\s*<<", header)
    if m:
        return _balanced_dict(header, m.end() - 2)
    return None


def _dict_refs(header: bytes, key: bytes) -> list[int]:
    """Values of /Key as object references — single ``N G R`` or array of them."""
    m = re.search(re.escape(key) + rb"\s*\[((?:[^\]])*)\]", header)
    if m:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", header)
    return [int(m.group(1))] if m else []


def _media_box(header: bytes) -> tuple[float, float]:
    m = re.search(
        rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]",
        header,
    )
    if not m:
        return DEFAULT_PAGE_W, DEFAULT_PAGE_H
    x0, y0, x1, y1 = (float(m.group(i)) for i in range(1, 5))
    return abs(x1 - x0) or DEFAULT_PAGE_W, abs(y1 - y0) or DEFAULT_PAGE_H


def _unpredict(data: bytes, header: bytes) -> bytes:
    """Reverse a /Predictor-filtered stream (PDF 7.4.4.4).

    Predictor 2 (TIFF horizontal) and 10-15 (PNG None/Sub/Up/Average/
    Paeth; per-row filter byte) — common in xref streams and ObjStm.
    Assumes /Colors 1 x /BitsPerComponent 8 components (the only layout
    text-bearing streams use); /Columns gives the row width.
    """
    pred = _dict_int(header, b"/Predictor") or 1
    if pred <= 1:
        return data
    cols = _dict_int(header, b"/Columns") or 1
    colors = _dict_int(header, b"/Colors") or 1
    bpc = _dict_int(header, b"/BitsPerComponent") or 8
    bpp = max(1, (colors * bpc) // 8)  # bytes per pixel
    row_w = (cols * colors * bpc + 7) // 8
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r0 in range(0, len(out) - row_w + 1, row_w):
            for i in range(r0 + bpp, r0 + row_w):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row is [filter_byte][row_w bytes]
    out = bytearray()
    prev = bytearray(row_w)
    i, n = 0, len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + row_w])
        i += 1 + row_w
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred_v = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred_v) & 0xFF
        # ft == 0 (None) and unknown values: row passes through
        out += row
        prev = row
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    body = data.split(b">", 1)[0]
    hexstr = re.sub(rb"\s", b"", body)
    if len(hexstr) % 2:
        hexstr += b"0"
    return bytes.fromhex(hexstr.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = data.split(b"~>", 1)[0]
    body = re.sub(rb"\s", b"", body)
    if body.startswith(b"<~"):
        body = body[2:]
    return base64.a85decode(body)


def _run_length_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:  # EOD
            break
        if ln < 128:  # copy ln+1 literal bytes
            out += data[i : i + ln + 1]
            i += ln + 1
        else:  # repeat next byte 257-ln times
            if i < n:
                out += bytes([data[i]]) * (257 - ln)
                i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF-style LZW with 256=clear, 257=EOD, early code-width
    change at table sizes 511/1023/2047)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (buf >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # early change: width grows one code BEFORE the table fills
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


_FILTER_NAMES_RE = re.compile(
    rb"/(FlateDecode|Fl|ASCIIHexDecode|AHx|ASCII85Decode|A85|"
    rb"RunLengthDecode|RL|LZWDecode|LZW|DCTDecode|JPXDecode|CCITTFaxDecode|"
    rb"JBIG2Decode|Crypt)\b"
)


def _filter_chain(header: bytes) -> list[bytes] | None:
    """Ordered decode filters from /Filter (name or array); None if the
    stream declares no filter."""
    fpos = header.find(b"/Filter")
    if fpos < 0:
        return None
    return [m.group(1) for m in _FILTER_NAMES_RE.finditer(header, fpos)]


def _maybe_inflate(header: bytes, stream: bytes) -> bytes | None:
    """Run the stream through its declared filter chain (PDF 7.4): Flate,
    ASCIIHex, ASCII85, RunLength, and LZW are decoded (plus /Predictor
    post-filters); image/crypt filters (DCT, JPX, CCITT, JBIG2, Crypt)
    mark the stream undecodable for text purposes -> None."""
    filters = _filter_chain(header)
    if filters is None:
        return stream
    if not filters:
        return None  # /Filter present but unparseable
    data = stream
    for name in filters:
        try:
            if name in (b"FlateDecode", b"Fl"):
                data = zlib.decompress(data)
            elif name in (b"ASCIIHexDecode", b"AHx"):
                data = _ascii_hex_decode(data)
            elif name in (b"ASCII85Decode", b"A85"):
                data = _ascii85_decode(data)
            elif name in (b"RunLengthDecode", b"RL"):
                data = _run_length_decode(data)
            elif name in (b"LZWDecode", b"LZW"):
                data = _lzw_decode(data)
            else:
                return None  # image / crypt filter: not text
        except Exception:
            return None
    if b"/Predictor" in header:
        try:
            return _unpredict(data, header)
        except Exception:
            return data
    return data


# --- content-stream tokenizer -------------------------------------------------

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/[^\s/\[\]()<>{}%]*")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")

# inline images: BI <dict> ID <binary> EI. The binary may contain "\sEI\s" by
# pure chance, so a candidate EI is only accepted when the bytes after it
# parse as a plausible content-stream continuation (known operator, name,
# number, string/array/dict opener, or end of stream).
_INLINE_ID_RE = re.compile(rb"(?<![A-Za-z0-9])ID(?=[\s])")
_INLINE_EI_RE = re.compile(rb"\sEI(?=\s|$)")
_WS = b" \t\r\n\x0c\x00"
_KNOWN_OPS = {
    # text
    b"BT", b"ET", b"Tf", b"TL", b"Td", b"TD", b"Tm", b"T*", b"Tj", b"TJ",
    b"'", b'"', b"Tc", b"Tw", b"Tz", b"Ts", b"Tr",
    # graphics state / path / paint
    b"q", b"Q", b"cm", b"gs", b"w", b"J", b"j", b"M", b"d", b"ri", b"i",
    b"re", b"m", b"l", b"c", b"v", b"y", b"h", b"n",
    b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*", b"s", b"S", b"W", b"W*",
    # color
    b"cs", b"CS", b"sc", b"scn", b"SC", b"SCN", b"g", b"G", b"rg", b"RG",
    b"k", b"K", b"sh",
    # xobjects / marked content / compatibility / next image
    b"Do", b"BI", b"BMC", b"BDC", b"EMC", b"MP", b"DP", b"BX", b"EX", b"d0", b"d1",
}


def _plausible_resume(data: bytes, pos: int, n: int) -> bool:
    """True when ``pos`` looks like a real content-stream position: used to
    reject EI byte sequences occurring inside inline-image binary data."""
    while pos < n and data[pos] in _WS:
        pos += 1
    if pos >= n:
        return True
    c = data[pos]
    if c in b"/([<)]>%":
        return True
    m = _NUM_RE.match(data, pos)
    if m and m.end() > pos:
        return True
    m = _OP_RE.match(data, pos)
    return bool(m and m.end() > pos and m.group(0) in _KNOWN_OPS)


def _skip_inline_image(data: bytes, start: int, n: int) -> int:
    """Resume index after an inline image whose ``BI`` ends at ``start``.

    Scans from AFTER the ``ID`` operator (the image dict itself may contain
    strings with 'EI') and accepts the first whitespace-delimited ``EI``
    whose suffix parses as a plausible stream continuation — raw image bytes
    can contain '\\sEI\\s' by chance, and resuming mid-image used to emit
    garbage text from stray '(...)' runs in image data."""
    idm = _INLINE_ID_RE.search(data, start)
    pos = (idm.end() + 1) if idm else start  # ID + one whitespace byte
    while True:
        em = _INLINE_EI_RE.search(data, pos)
        if not em:
            return n
        if _plausible_resume(data, em.end(), n):
            return em.end()
        pos = em.start() + 1
_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t", ord("b"): b"\b",
    ord("f"): b"\f", ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}

# simple-font byte -> text: WinAnsi is cp1252; the handful of cp1252-undefined
# bytes fall back to latin-1 so decoding is total
_SIMPLE_DECODE: list[str] = []
for _b in range(256):
    try:
        _SIMPLE_DECODE.append(bytes([_b]).decode("cp1252"))
    except UnicodeDecodeError:
        _SIMPLE_DECODE.append(chr(_b))


# cp1252 and latin-1 agree everywhere except 0x80-0x9F, so simple-font
# decoding is a C-level latin-1 decode plus a 32-entry translate (identical
# output to joining _SIMPLE_DECODE per byte, ~10x faster)
_CP1252_FIX = {
    i: _SIMPLE_DECODE[i] for i in range(0x80, 0xA0) if _SIMPLE_DECODE[i] != chr(i)
}


def _decode_simple(raw: bytes) -> str:
    return raw.decode("latin-1").translate(_CP1252_FIX)


def _decode_literal(data: bytes, pos: int) -> tuple[bytes, int]:
    """Read a ``(...)`` literal starting at '('. Returns (raw bytes, pos_after);
    text decoding happens at show time using the active font."""
    out = bytearray()
    depth = 1
    i = pos + 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c2 = data[i]
            if c2 in _ESCAPES:
                out += _ESCAPES[c2]
                i += 1
            elif 0x30 <= c2 <= 0x37:  # octal \ddd
                j = i
                while j < min(i + 3, n) and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif c2 in (0x0A, 0x0D):  # line continuation
                i += 1
                if c2 == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(c2)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth > 0:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _decode_hex(data: bytes, pos: int) -> tuple[bytes, int]:
    end = data.find(b">", pos)
    if end < 0:
        end = len(data)
    hexstr = re.sub(rb"\s", b"", data[pos + 1 : end])
    if len(hexstr) % 2:
        hexstr += b"0"
    try:
        raw = bytes.fromhex(hexstr.decode("ascii"))
    except ValueError:
        raw = b""
    return raw, end + 1


# --- fonts / ToUnicode CMaps ----------------------------------------------------

_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL)


class _Font:
    __slots__ = ("cmap", "code_bytes", "differences")

    def __init__(
        self,
        cmap: dict[int, str] | None,
        code_bytes: int,
        differences: dict[int, str] | None = None,
    ) -> None:
        self.cmap = cmap
        self.code_bytes = code_bytes
        self.differences = differences

    def decode(self, raw: bytes) -> str:
        if self.cmap is None:
            if not self.differences:
                return _decode_simple(raw)
            diffs = self.differences
            return "".join(
                diffs.get(b, _SIMPLE_DECODE[b]) for b in raw
            )
        w = self.code_bytes
        out: list[str] = []
        for i in range(0, len(raw) - (w - 1), w):
            code = int.from_bytes(raw[i : i + w], "big")
            mapped = self.cmap.get(code)
            if mapped is not None:
                out.append(mapped)
            elif w == 1:
                # partial ToUnicode on a single-byte font: unmapped codes
                # are ordinary WinAnsi bytes in practice
                out.append(_SIMPLE_DECODE[code])
        return "".join(out)


_SIMPLE_FONT = _Font(None, 1)

# Adobe-Glyph-List subset: the names /Encoding /Differences arrays use in
# practice (punctuation + Latin-1 accents + typographic marks). Single-char
# names map to themselves; /uniXXXX is handled generically.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "emdash": "—", "endash": "–", "bullet": "•",
    "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "dagger": "†",
    "daggerdbl": "‡", "trademark": "™", "copyright": "©",
    "registered": "®", "degree": "°", "Euro": "€",
    "sterling": "£", "section": "§", "paragraph": "¶",
    "germandbls": "ß", "eacute": "é", "egrave": "è",
    "agrave": "à", "acircumflex": "â", "ccedilla": "ç",
    "adieresis": "ä", "odieresis": "ö", "udieresis": "ü",
    "ntilde": "ñ", "oacute": "ó", "uacute": "ú",
    "iacute": "í", "aacute": "á",
}


def _glyph_to_char(name: bytes) -> str | None:
    s = name.decode("latin-1")
    if len(s) == 1:
        return s
    if s.startswith("uni") and len(s) == 7:
        try:
            return chr(int(s[3:], 16))
        except ValueError:
            return None
    return _GLYPH_NAMES.get(s)


def _parse_differences(enc_src: bytes) -> dict[int, str] | None:
    """/Encoding << /Differences [code /name /name ... code /name ...] >>
    -> {byte code: unicode char} overrides on the simple decode."""
    m = re.search(rb"/Differences\s*\[([^\]]*)\]", enc_src)
    if not m:
        return None
    out: dict[int, str] = {}
    code = 0
    for tok in re.finditer(rb"(\d+)|/([^\s/\[\]()<>{}%]+)", m.group(1)):
        if tok.group(1) is not None:
            code = int(tok.group(1))
        else:
            ch = _glyph_to_char(tok.group(2))
            if ch is not None and 0 <= code <= 255:
                out[code] = ch
            code += 1
    return out or None


def _utf16be(hexbytes: bytes) -> str:
    try:
        return bytes.fromhex(hexbytes.decode("ascii")).decode(
            "utf-16-be", errors="ignore"
        )
    except ValueError:
        return ""


def _parse_cmap(data: bytes) -> _Font:
    """Parse a /ToUnicode CMap stream: codespace width + bfchar + bfrange
    (scalar and array destination forms)."""
    code_bytes = 2
    cs = _CODESPACE_RE.search(data)
    if cs:
        toks = _HEXTOK_RE.findall(cs.group(1))
        if toks:
            code_bytes = max(1, len(toks[0]) // 2)
    cmap: dict[int, str] = {}
    src_widths: dict[int, int] = {}
    for m in _BFCHAR_RE.finditer(data):
        toks = _HEXTOK_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = _utf16be(dst)
            w = max(1, len(src) // 2)
            src_widths[w] = src_widths.get(w, 0) + 1
    for m in _BFRANGE_RE.finditer(data):
        body = m.group(1)
        # entries are either <lo> <hi> <dst>  or  <lo> <hi> [<d0> <d1> ...]
        for entry in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[(?:\s*<[0-9A-Fa-f]*>\s*)*\]|<[0-9A-Fa-f]+>)",
            body,
        ):
            lo = int(entry.group(1), 16)
            hi = int(entry.group(2), 16)
            w = max(1, len(entry.group(1)) // 2)
            src_widths[w] = src_widths.get(w, 0) + 1
            dst = entry.group(3)
            if dst.startswith(b"["):
                dsts = _HEXTOK_RE.findall(dst)
                for off, d in enumerate(dsts):
                    if lo + off <= hi:
                        cmap[lo + off] = _utf16be(d)
            else:
                base_hex = dst.strip(b"<>")
                base = int(base_hex, 16) if base_hex else 0
                width = len(base_hex)
                for off in range(min(hi - lo + 1, 65536)):
                    cmap[lo + off] = _utf16be(
                        (b"%0" + str(width).encode() + b"x") % (base + off)
                    )
    # sloppy subsetted fonts declare a <0000> <FFFF> codespace but map
    # 1-byte sources — trust the mapping sources over the codespace
    if src_widths:
        code_bytes = max(src_widths, key=lambda k: (src_widths[k], -k))
    return _Font(cmap, code_bytes)


def _page_fonts(
    page_header: bytes,
    objects: dict[int, tuple[bytes, bytes | None]],
    font_cache: dict[int, _Font],
) -> dict[bytes, _Font]:
    """Resolve the page's /Resources /Font dict -> {b'F1': _Font}.

    /Resources is inheritable (PDF 7.7.3.4): when the page dict lacks it,
    the /Parent chain is walked up to the /Pages ancestor. Values are
    resolved PRECISELY — an indirect reference or a balanced inline
    ``<< ... >>`` region — never by falling back to scanning the whole
    page header, which fabricated phantom "fonts" from unrelated
    ``/Key N G R`` entries (/Parent, /Contents)."""
    resources: bytes | None = None
    hdr = page_header
    for _ in range(32):  # bounded /Parent walk (malformed cycles)
        resources = _dict_value_region(hdr, b"/Resources", objects)
        if resources is not None:
            break
        pm = re.search(rb"/Parent\s+(\d+)\s+\d+\s+R", hdr)
        if not pm:
            break
        hdr = objects.get(int(pm.group(1)), (b"", None))[0]
    if resources is None:
        return {}
    font_src = _dict_value_region(resources, b"/Font", objects)
    if font_src is None:
        return {}
    fonts: dict[bytes, _Font] = {}
    for m in re.finditer(rb"/(\w+)\s+(\d+)\s+\d+\s+R", font_src):
        name, num = m.group(1), int(m.group(2))
        if num in font_cache:
            fonts[name] = font_cache[num]
            continue
        font_header = objects.get(num, (b"", None))[0]
        tu = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", font_header)
        font = _SIMPLE_FONT
        if tu:
            tu_num = int(tu.group(1))
            if tu_num in objects and objects[tu_num][1] is not None:
                dec = _maybe_inflate(objects[tu_num][0], objects[tu_num][1])
                if dec:
                    font = _parse_cmap(dec)
        if font is _SIMPLE_FONT:
            # simple font: honor /Encoding /Differences overrides (inline
            # dict or indirect Encoding object)
            enc_src = font_header
            er = re.search(rb"/Encoding\s+(\d+)\s+\d+\s+R", font_header)
            if er:
                enc_src = objects.get(int(er.group(1)), (b"", None))[0]
            diffs = _parse_differences(enc_src)
            if diffs:
                font = _Font(None, 1, diffs)
        font_cache[num] = font
        fonts[name] = font
    return fonts


def _tokenize_content(data: bytes) -> list[tuple[str, object]]:
    """Lex a content stream into a list of ('num', f) | ('str', s) |
    ('name', b) | ('op', b) | ('arr_open'/'arr_close', None) tokens.

    Returns a list (not a generator): the stream is consumed once per page
    and list-building avoids one generator resume per token in the hot
    path (same change as html_parser.tokenize)."""
    i = 0
    n = len(data)
    toks: list[tuple[str, object]] = []
    emit = toks.append
    while i < n:
        c = data[i]
        if c in b" \t\r\n\x00":
            i += 1
        elif c == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == 0x28:
            s, i = _decode_literal(data, i)
            emit(("str", s))
        elif c == 0x3C:
            if i + 1 < n and data[i + 1] == 0x3C:  # dict << — skip balanced
                depth = 1
                i += 2
                while i < n and depth:
                    if data[i : i + 2] == b"<<":
                        depth += 1
                        i += 2
                    elif data[i : i + 2] == b">>":
                        depth -= 1
                        i += 2
                    else:
                        i += 1
            else:
                s, i = _decode_hex(data, i)
                emit(("str", s))
        elif c == 0x5B:
            emit(("arr_open", None))
            i += 1
        elif c == 0x5D:
            emit(("arr_close", None))
            i += 1
        elif c == 0x2F:
            m = _NAME_RE.match(data, i)
            emit(("name", m.group(0)))
            i = m.end()
        else:
            m = _NUM_RE.match(data, i)
            if m and m.end() > i:
                emit(("num", float(m.group(0))))
                i = m.end()
                continue
            m = _OP_RE.match(data, i)
            if m and m.end() > i:
                op = m.group(0)
                if op == b"BI":
                    # inline image: skip binary payload, validating the
                    # resume position (see _skip_inline_image)
                    i = _skip_inline_image(data, m.end(), n)
                    continue
                emit(("op", op))
                i = m.end()
            else:
                i += 1
    return toks


class _Run:
    __slots__ = ("x", "y", "text", "page", "rot", "src_start", "src_end")

    def __init__(
        self, x: float, y: float, text: str, page: int, rot: int = 0
    ) -> None:
        self.x = x
        self.y = y
        self.text = text
        self.page = page
        self.rot = rot  # axis-aligned rotation class: 0/1/2/3 quarter-turns CCW
        self.src_start = -1
        self.src_end = -1


def _rot_class(ta: float, tb: float, tc: float, td: float) -> int:
    """Axis-aligned rotation class of a text matrix [[a,b],[c,d]].

    0 = upright (incl. pure scale), 1 = 90 deg CCW, 2 = 180, 3 = 270.
    Arbitrary-angle/skew matrices fall back to 0 (best-effort, as before);
    only the four scanner rotations get exact handling (VERDICT r3 item 4).
    """
    if tb == 0.0 and tc == 0.0:
        return 2 if (ta < 0.0 and td < 0.0) else 0
    if ta == 0.0 and td == 0.0:
        if tb > 0.0 and tc < 0.0:
            return 1
        if tb < 0.0 and tc > 0.0:
            return 3
    return 0


def _interpret(
    content: bytes, page: int, fonts: dict[bytes, _Font] | None = None
) -> list[_Run]:
    """Execute text operators; return glyph runs with origins.

    The full line matrix [[a,b],[c,d],(e,f)] is tracked so that (1) ``Td``
    /``T*`` displacements are mapped through the matrix per the PDF spec
    (text-space, not device-space, units) and (2) each run records its
    axis-aligned rotation class for reading-space remapping downstream.
    """
    fonts = fonts or {}
    runs: list[_Run] = []
    # line matrix: [[ma, mb], [mc, md]] with origin (lx, ly) in device space
    ma, mb, mc, md = 1.0, 0.0, 0.0, 1.0
    lx = ly = 0.0
    cx = cy = 0.0  # current text position (device space)
    rot = 0
    leading = 12.0
    cur_font = _SIMPLE_FONT
    in_array: list | None = None

    def show(raw: bytes) -> None:
        s = cur_font.decode(raw)
        if s:
            runs.append(_Run(cx, cy, s, page, rot))

    def displace(tx: float, ty: float) -> None:
        nonlocal lx, ly, cx, cy
        lx += tx * ma + ty * mc
        ly += tx * mb + ty * md
        cx, cy = lx, ly

    stack: list = []
    for kind, val in _tokenize_content(content):
        if kind == "num":
            if in_array is not None:
                in_array.append(val)
            else:
                stack.append(val)
        elif kind == "str":
            if in_array is not None:
                in_array.append(val)
            else:
                stack.append(val)
        elif kind == "arr_open":
            in_array = []
        elif kind == "arr_close":
            stack.append(in_array or [])
            in_array = None
        elif kind == "name":
            stack.append(val)
        elif kind == "op":
            op = val
            try:
                if op == b"BT":
                    ma, mb, mc, md = 1.0, 0.0, 0.0, 1.0
                    lx = ly = cx = cy = 0.0
                    rot = 0
                elif op == b"Tf" and len(stack) >= 2 and isinstance(stack[-2], bytes):
                    cur_font = fonts.get(stack[-2].lstrip(b"/"), _SIMPLE_FONT)
                elif op == b"TL" and stack:
                    leading = float(stack[-1])
                elif op == b"Td" and len(stack) >= 2:
                    displace(float(stack[-2]), float(stack[-1]))
                elif op == b"TD" and len(stack) >= 2:
                    leading = -float(stack[-1])
                    displace(float(stack[-2]), float(stack[-1]))
                elif op == b"Tm" and len(stack) >= 6:
                    ma, mb = float(stack[-6]), float(stack[-5])
                    mc, md = float(stack[-4]), float(stack[-3])
                    lx, ly = float(stack[-2]), float(stack[-1])
                    cx, cy = lx, ly
                    rot = _rot_class(ma, mb, mc, md)
                elif op == b"T*":
                    displace(0.0, -leading)
                elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
                elif op == b"TJ" and stack and isinstance(stack[-1], list):
                    show(b"".join(x for x in stack[-1] if isinstance(x, bytes)))
                elif op == b"'" and stack and isinstance(stack[-1], bytes):
                    displace(0.0, -leading)
                    show(stack[-1])
                elif op == b'"' and stack and isinstance(stack[-1], bytes):
                    displace(0.0, -leading)
                    show(stack[-1])
            finally:
                stack = []
    return runs


# --- layout analysis ----------------------------------------------------------


def _group_lines(runs: list[_Run]) -> list[tuple[float, list[_Run]]]:
    """Cluster runs into text lines by y (tolerance LINE_Y_TOL), top-down."""
    lines: list[tuple[float, list[_Run]]] = []
    for r in sorted(runs, key=lambda r: (-r.y, r.x)):
        if lines and abs(lines[-1][0] - r.y) <= LINE_Y_TOL:
            lines[-1][1].append(r)
        else:
            lines.append((r.y, [r]))
    for _y, rs in lines:
        rs.sort(key=lambda r: r.x)
    return lines


_EST_CHAR_W = 5.5  # ~0.5 em at 11 pt Helvetica — no font metrics in scope
_MIN_GUTTER = 30.0
_MIN_COL_RUNS = 4
_MIN_COL_MEDIAN_LEN = 20  # short runs = table cells, not column text


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    return s[len(s) // 2] if s else 0.0


def _split_columns(runs: list[_Run], page_w: float) -> list[list[_Run]]:
    """Detect a 2-column layout over glyph runs.

    A boundary qualifies when no run crosses it, both sides have enough
    long-ish runs (table cells are short — that distinguishes a table's
    x-clusters from genuine text columns), and the sides overlap vertically.
    """
    if len(runs) < 2 * _MIN_COL_RUNS:
        return [runs]

    def est_end(r: _Run) -> float:
        return r.x + _EST_CHAR_W * len(r.text)

    xs = sorted({r.x for r in runs})
    best: tuple[float, float] | None = None  # (gap, boundary)
    for a, b in zip(xs, xs[1:]):
        if b - a <= _MIN_GUTTER:
            continue
        boundary = b  # the right column's start x
        left = [r for r in runs if r.x < boundary]
        right = [r for r in runs if r.x >= boundary]
        if len(left) < _MIN_COL_RUNS or len(right) < _MIN_COL_RUNS:
            continue
        if any(est_end(r) > boundary - 1.0 for r in left):
            continue
        if (
            _median([float(len(r.text)) for r in left]) < _MIN_COL_MEDIAN_LEN
            or _median([float(len(r.text)) for r in right]) < _MIN_COL_MEDIAN_LEN
        ):
            continue
        ly0, ly1 = min(r.y for r in left), max(r.y for r in left)
        ry0, ry1 = min(r.y for r in right), max(r.y for r in right)
        overlap = min(ly1, ry1) - max(ly0, ry0)
        if overlap < 0.5 * max(ly1 - ly0, ry1 - ry0, 1.0):
            continue
        gap = min(r.x for r in right) - max(est_end(r) for r in left)
        if best is None or gap > best[0]:
            best = (gap, boundary)
    if best is None:
        return [runs]
    boundary = best[1]
    return [
        [r for r in runs if r.x < boundary],
        [r for r in runs if r.x >= boundary],
    ]


def _split_blocks(
    lines: list[tuple[float, list[_Run]]]
) -> list[list[tuple[float, list[_Run]]]]:
    """Split a column's lines into blocks at vertical gaps > BLOCK_GAP_FACTOR*median."""
    if not lines:
        return []
    if len(lines) < 3:
        return [lines]
    gaps = [a[0] - b[0] for a, b in zip(lines, lines[1:])]
    median = sorted(gaps)[len(gaps) // 2]
    blocks: list[list[tuple[float, list[_Run]]]] = [[lines[0]]]
    for gap, line in zip(gaps, lines[1:]):
        if median > 0 and gap > BLOCK_GAP_FACTOR * median:
            blocks.append([line])
        else:
            blocks[-1].append(line)
    return blocks


def _page_tree_order(
    payload: bytes, objects: dict[int, tuple[bytes, bytes | None]]
) -> list[int] | None:
    """Page object numbers in /Kids order (depth-first from the catalog's
    /Pages root), or None when no usable tree exists. Cycle-guarded; a
    tree that yields no /Type /Page leaves also returns None so the
    caller falls back to object-number order."""
    root_hdr = None
    for m in re.finditer(rb"/Root\s+(\d+)\s+\d+\s+R", payload):
        root_hdr = objects.get(int(m.group(1)), (None, None))[0]
    if root_hdr is None:
        # no trailer /Root: some files still have a lone /Type /Pages node
        roots = [
            n
            for n, (h, _) in objects.items()
            if re.search(rb"/Type\s*/Pages\b", h) and b"/Parent" not in h
        ]
        if len(roots) != 1:
            return None
        pages_nums = roots
    else:
        pages_nums = _dict_refs(root_hdr, b"/Pages")
        if not pages_nums:
            return None
    order: list[int] = []
    seen: set[int] = set()
    stack = list(reversed(pages_nums))
    while stack:
        num = stack.pop()
        if num in seen or num not in objects:
            continue
        seen.add(num)
        header = objects[num][0]
        if re.search(rb"/Type\s*/Page\b(?!s)", header):
            order.append(num)
        else:
            stack.extend(reversed(_dict_refs(header, b"/Kids")))
    return order or None


class EncryptedPdfError(ValueError):
    """Raised for PDFs whose trailer declares /Encrypt: their content
    streams are RC4/AES ciphertext, and "best-effort" extraction would
    silently emit garbage text into a training corpus. The extraction UDF
    turns this into an ok=false error row (extract/udfs.py extract_one),
    the honest crawl-pipeline behavior when no decryption keys exist."""


_ENCRYPT_RE = re.compile(rb"/Encrypt\s*(?:\d+\s+\d+\s+R|<<)")
_TRAILER_RE = re.compile(rb"trailer")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")


def _is_encrypted(payload: bytes) -> bool:
    """True iff a trailer dictionary (classic ``trailer`` keyword or an
    xref-STREAM dict, the only places the spec puts /Encrypt) declares
    /Encrypt — as a reference OR a direct dict (``/Encrypt<<`` with no
    separator is legal: ``<<`` is a delimiter). Scoping to those regions
    keeps an unencrypted document that merely CONTAINS the byte pattern
    (a page about PDF internals) from being falsely rejected."""
    for m in _TRAILER_RE.finditer(payload):
        if _ENCRYPT_RE.search(payload, m.end(), m.end() + 1024):
            return True
    for m in _XREF_TYPE_RE.finditer(payload):
        start = max(payload.rfind(b"obj", 0, m.start()), 0)
        if _ENCRYPT_RE.search(payload, start, m.end() + 1024):
            return True
    return False


def extract_pdf_one(payload: bytes) -> tuple[str, list[tuple[int, int]], int]:
    """bytes -> (main text, spans into the decoded run sequence, n_blocks).

    The span coordinate space is the concatenation of all decoded glyph-run
    texts in content-stream order; each output block maps to the (merged)
    source segments of its runs in reading order.
    """
    if _is_encrypted(payload):
        raise EncryptedPdfError("encrypted PDF (/Encrypt in trailer)")
    objects = _resolve_objects(payload)

    # page objects in PAGE-TREE order (/Root -> /Pages -> /Kids, depth
    # first — object numbering does NOT follow page order once a document
    # has been incrementally updated); object-number order is only the
    # fallback for files with a broken/absent tree, then "any stream
    # containing BT"
    pages: list[tuple[bytes, list[int]]] = []  # (page_header, content_obj_nums)
    ordered = _page_tree_order(payload, objects)
    if ordered is None:
        ordered = [
            num
            for num in sorted(objects)
            if re.search(rb"/Type\s*/Page\b(?!s)", objects[num][0])
        ]
    for num in ordered:
        header, _ = objects[num]
        pages.append((header, _dict_refs(header, b"/Contents")))

    font_cache: dict[int, _Font] = {}
    # (content, page_w, page_h, fonts)
    page_streams: list[tuple[bytes, float, float, dict[bytes, _Font]]] = []
    if pages:
        for header, content_refs in pages:
            w, h = _media_box(header)
            parts = []
            for ref in content_refs:
                if ref in objects:
                    oh, os_ = objects[ref]
                    if os_ is not None:
                        dec = _maybe_inflate(oh, os_)
                        if dec:
                            parts.append(dec)
            if parts:
                fonts = _page_fonts(header, objects, font_cache)
                page_streams.append((b"\n".join(parts), w, h, fonts))
    else:
        for num in sorted(objects):
            oh, os_ = objects[num]
            if os_ is None:
                continue
            dec = _maybe_inflate(oh, os_)
            if dec and b"BT" in dec:
                page_streams.append((dec, DEFAULT_PAGE_W, DEFAULT_PAGE_H, {}))

    # interpret all pages; assign source-sequence offsets in stream order
    all_runs: list[_Run] = []
    per_page: list[tuple[list[_Run], float, float]] = []
    for pageno, (content, w, h, fonts) in enumerate(page_streams):
        runs = _interpret(content, pageno, fonts)
        per_page.append((runs, w, h))
        all_runs.extend(runs)
    offset = 0
    for r in all_runs:
        r.src_start = offset
        offset += len(r.text)
        r.src_end = offset

    out_blocks: list[str] = []
    spans: list[tuple[int, int]] = []
    for page_runs, page_w, page_h in per_page:
        for rot in (0, 1, 2, 3):
            cls = [r for r in page_runs if r.rot == rot]
            if not cls:
                continue
            # Remap device coords into READING space per rotation class
            # (inverse quarter-turn + shift into [0,rw]x[0,rh]), so the
            # downstream x/y clustering runs unchanged on rotated pages —
            # the 90/270 classes also swap the effective page box. rot 0
            # is the identity (byte-identical to the pre-rotation parser).
            if rot == 0:
                rw, rh = page_w, page_h
            elif rot == 1:  # text runs bottom-up along device +y
                for r in cls:
                    r.x, r.y = r.y, page_w - r.x
                rw, rh = page_h, page_w
            elif rot == 2:  # upside-down
                for r in cls:
                    r.x, r.y = page_w - r.x, page_h - r.y
                rw, rh = page_w, page_h
            else:  # rot 3: text runs top-down along device -y
                for r in cls:
                    r.x, r.y = page_h - r.y, r.x
                rw, rh = page_h, page_w
            runs = cls
            # header/footer bands only make sense when a body region remains:
            # on short pages (labels, receipts, banners — page_h <= 2 bands +
            # a line) the bands would cover the WHOLE page and silently drop
            # every run. Runs at exactly (0, 0) were never positioned (content
            # streams may show text straight after BT without Td/Tm) — they
            # are body text at the origin, not a footer. (Rotated classes
            # always came from an explicit Tm, so the exception is rot-0 only.)
            short_page = rh <= 2 * MARGIN_BAND + 12
            body = [
                r
                for r in runs
                if (
                    short_page
                    or (MARGIN_BAND < r.y < rh - MARGIN_BAND)
                    or (rot == 0 and r.y == 0.0 and r.x == 0.0)
                )
                and r.text.strip()
            ]
            for column_runs in _split_columns(body, rw):
                lines = _group_lines(column_runs)
                for block_lines in _split_blocks(lines):
                    line_texts = []
                    block_spans: list[tuple[int, int]] = []
                    for _y, rs in block_lines:
                        line_texts.append(" ".join(r.text for r in rs).strip())
                        for r in rs:
                            if block_spans and block_spans[-1][1] == r.src_start:
                                block_spans[-1] = (block_spans[-1][0], r.src_end)
                            else:
                                block_spans.append((r.src_start, r.src_end))
                    text = "\n".join(t for t in line_texts if t)
                    if text:
                        out_blocks.append(text)
                        spans.extend(block_spans)
    return "\n\n".join(out_blocks), spans, len(out_blocks)
