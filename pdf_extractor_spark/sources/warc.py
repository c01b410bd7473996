"""WARC source — the Common-Crawl container format (ISO 28500, public spec).

The north rule's input is "Common-Crawl-style web pages"; the wire format
those arrive in is WARC: a concatenation of records, each a CRLF-separated
header block (``WARC/1.0`` + named fields) followed by a
``Content-Length``-delimited body, where ``response`` records carry a full
HTTP response (status line + headers + payload). Common Crawl compresses
each record as its own gzip member so readers can split a .warc.gz at
member boundaries without decompressing the whole file.

This module is a from-scratch codec for WARC, WET and WAT records (writer
+ parser, pure functions — the writer exists so tests and the codec
contract queries can synthesize deterministic archives; no external data).
The ``w_warc_codec``, ``w_wet_codec`` and ``w_wat_codec`` queries run the
parser inside ``mapInPandas``.

Records are decompressed member-by-member. Malformed tails and truncated
records are skipped, never fatal: a crawl archive with one bad record must
not kill a 100k-file job.
"""

from __future__ import annotations

import datetime
import hashlib
import zlib
from typing import Iterable, Iterator

CRLF = b"\r\n"
_WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
_GZIP_MAGIC = b"\x1f\x8b"


# --- writer (deterministic; fixture/test archives) ---------------------------


def build_warc_response(
    url: str,
    date: datetime.datetime,
    payload: bytes,
    content_type: str = "text/html",
) -> bytes:
    """One WARC ``response`` record: WARC headers + an HTTP/1.1 response.

    The record id is md5-derived from (url, date) — deterministic, so the
    same corpus always serializes to the same bytes (archives are
    byte-comparable across runs and engines; no uuid4).
    """
    http = (
        f"HTTP/1.1 200 OK{CRLF.decode()}"
        f"Content-Type: {content_type}{CRLF.decode()}"
        f"Content-Length: {len(payload)}{CRLF.decode()}{CRLF.decode()}"
    ).encode("ascii") + payload
    rid = hashlib.md5(
        f"{url}|{date.strftime(_WARC_DATE_FMT)}".encode()
    ).hexdigest()
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode("ascii"),
        b"WARC-Date: " + date.strftime(_WARC_DATE_FMT).encode("ascii"),
        b"WARC-Record-ID: <urn:md5:" + rid.encode("ascii") + b">",
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode("ascii"),
    ]
    return CRLF.join(headers) + CRLF + CRLF + http + CRLF + CRLF


def build_wet_conversion(
    url: str,
    date: datetime.datetime,
    text: bytes,
) -> bytes:
    """One WET ``conversion`` record — the Common Crawl extracted-text
    sibling of the response record (same ISO 28500 framing; WET files are
    what CC publishes as *.warc.wet.gz). No HTTP envelope: the body IS the
    extracted text, ``Content-Type: text/plain``, plus a
    ``WARC-Refers-To`` pointing at the response record the text was
    converted from (same (url, date) md5 id rule, so the two sides link
    deterministically)."""
    wdate = date.strftime(_WARC_DATE_FMT)
    rid = hashlib.md5(f"{url}|{wdate}|wet".encode()).hexdigest()
    refers = hashlib.md5(f"{url}|{wdate}".encode()).hexdigest()
    headers = [
        b"WARC/1.0",
        b"WARC-Type: conversion",
        b"WARC-Target-URI: " + url.encode("ascii"),
        b"WARC-Date: " + wdate.encode("ascii"),
        b"WARC-Record-ID: <urn:md5:" + rid.encode("ascii") + b">",
        b"WARC-Refers-To: <urn:md5:" + refers.encode("ascii") + b">",
        b"Content-Type: text/plain",
        b"Content-Length: " + str(len(text)).encode("ascii"),
    ]
    return CRLF.join(headers) + CRLF + CRLF + text + CRLF + CRLF


def build_wet(
    records: Iterable[tuple[str, datetime.datetime, bytes]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, text_bytes) tuples to a .warc.wet /
    .warc.wet.gz byte string (one gzip member per record, Common Crawl
    style)."""
    raws: list[bytes] = []
    if warcinfo_filename is not None:
        raws.append(build_warcinfo(warcinfo_filename))
    for url, date, text in records:
        raws.append(build_wet_conversion(url, date, text))
    if not gzip_members:
        return b"".join(raws)
    return b"".join(_gzip_member(r) for r in raws)


def wet_rows(data: bytes) -> Iterator[dict]:
    """(url, warc_ts, text) rows from WET archive bytes: ``conversion``
    records only, body decoded utf-8 (replace — a conversion record is
    text by contract, but one mojibake record must not kill the task)."""
    for headers, body in iter_warc_records(data):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        try:
            ts = datetime.datetime.strptime(
                headers.get("warc-date", ""), _WARC_DATE_FMT
            )
        except ValueError:
            continue
        yield {
            "url": url,
            "warc_ts": ts,
            "text": body.decode("utf-8", "replace"),
        }


def build_wat_metadata(
    url: str,
    date: datetime.datetime,
    payload_len: int,
) -> bytes:
    """One WAT ``metadata`` record — the Common Crawl per-page metadata
    sibling (what CC publishes as *.warc.wat.gz): same ISO 28500 framing,
    ``Content-Type: application/json``, body a JSON ``Envelope`` that
    describes the response record it refers to (WARC header echo + payload
    metadata: length, HTTP status, HTTP Content-Type). The JSON is emitted
    compact with a FIXED field order so the same corpus always serializes
    to the same bytes — the byte-level contract the oracle reconstructs.
    Links to the response record via the same (url, date) md5 id rule as
    WET."""
    wdate = date.strftime(_WARC_DATE_FMT)
    rid = hashlib.md5(f"{url}|{wdate}|wat".encode()).hexdigest()
    refers = hashlib.md5(f"{url}|{wdate}".encode()).hexdigest()
    body = (
        '{"Envelope":{"WARC-Header-Metadata":{'
        f'"WARC-Type":"response","WARC-Target-URI":"{url}",'
        f'"WARC-Date":"{wdate}"'
        '},"Payload-Metadata":{'
        f'"Actual-Content-Length":{payload_len},'
        '"HTTP-Response-Metadata":{"Response-Message":{"Status":200},'
        '"Headers":{"Content-Type":"text/html"}}}}}'
    ).encode("ascii")
    headers = [
        b"WARC/1.0",
        b"WARC-Type: metadata",
        b"WARC-Target-URI: " + url.encode("ascii"),
        b"WARC-Date: " + wdate.encode("ascii"),
        b"WARC-Record-ID: <urn:md5:" + rid.encode("ascii") + b">",
        b"WARC-Refers-To: <urn:md5:" + refers.encode("ascii") + b">",
        b"Content-Type: application/json",
        b"Content-Length: " + str(len(body)).encode("ascii"),
    ]
    return CRLF.join(headers) + CRLF + CRLF + body + CRLF + CRLF


def build_wat(
    records: Iterable[tuple[str, datetime.datetime, int]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, payload_len) tuples to a .warc.wat /
    .warc.wat.gz byte string (one gzip member per record, Common Crawl
    style)."""
    raws: list[bytes] = []
    if warcinfo_filename is not None:
        raws.append(build_warcinfo(warcinfo_filename))
    for url, date, payload_len in records:
        raws.append(build_wat_metadata(url, date, payload_len))
    if not gzip_members:
        return b"".join(raws)
    return b"".join(_gzip_member(r) for r in raws)


def wat_rows(data: bytes) -> Iterator[dict]:
    """(url, warc_ts, payload_len, http_status, content_type) rows from WAT
    archive bytes: ``metadata`` records only, body parsed as JSON with the
    Envelope layout above. Malformed JSON bodies are skipped, never fatal
    (same tolerance contract as the WARC/WET parsers)."""
    import json as _json

    for headers, body in iter_warc_records(data):
        if headers.get("warc-type") != "metadata":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        try:
            ts = datetime.datetime.strptime(
                headers.get("warc-date", ""), _WARC_DATE_FMT
            )
        except ValueError:
            continue
        try:
            env = _json.loads(body.decode("utf-8"))["Envelope"]
            pm = env["Payload-Metadata"]
            hrm = pm.get("HTTP-Response-Metadata", {})
        except (ValueError, KeyError, TypeError):
            continue
        yield {
            "url": url,
            "warc_ts": ts,
            "target_type": env.get("WARC-Header-Metadata", {}).get(
                "WARC-Type"
            ),
            "payload_len": pm.get("Actual-Content-Length"),
            "http_status": hrm.get("Response-Message", {}).get("Status"),
            "content_type": hrm.get("Headers", {}).get("Content-Type"),
        }


def build_warcinfo(filename: str) -> bytes:
    """A ``warcinfo`` leading record (real archives carry one; the reader
    must skip it)."""
    body = (
        f"software: pdf_extractor_spark{CRLF.decode()}"
        f"format: WARC File Format 1.0{CRLF.decode()}"
    ).encode("ascii")
    headers = [
        b"WARC/1.0",
        b"WARC-Type: warcinfo",
        b"WARC-Filename: " + filename.encode("ascii"),
        b"Content-Type: application/warc-fields",
        b"Content-Length: " + str(len(body)).encode("ascii"),
    ]
    return CRLF.join(headers) + CRLF + CRLF + body + CRLF + CRLF


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (zlib writes mtime=0, no filename)."""
    c = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(raw) + c.flush()


def build_warc(
    records: Iterable[tuple[str, datetime.datetime, bytes, str]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, payload, content_type) tuples to a .warc /
    .warc.gz byte string (one gzip member per record, Common Crawl
    style)."""
    raws: list[bytes] = []
    if warcinfo_filename is not None:
        raws.append(build_warcinfo(warcinfo_filename))
    for url, date, payload, content_type in records:
        raws.append(build_warc_response(url, date, payload, content_type))
    if not gzip_members:
        return b"".join(raws)
    return b"".join(_gzip_member(r) for r in raws)


# --- parser (pure functions) --------------------------------------------------


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a multi-member gzip stream one member at a time (bounded
    memory per member; a corrupt member ends iteration, prior members
    survive)."""
    view = memoryview(data)  # zero-copy slices: data[pos:] per member is
    pos = 0                   # O(members x file_size) memcpy on real
    n = len(data)             # ~100k-member Common Crawl archives
    while pos < n and bytes(view[pos : pos + 2]) == _GZIP_MAGIC:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(view[pos:])
        except zlib.error:
            return
        yield out
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:  # no forward progress: corrupt framing
            return
        pos += consumed


def _parse_record(raw: bytes, pos: int) -> tuple[dict[str, str], bytes, int] | None:
    """Parse one record at ``pos``; returns (headers, body, next_pos) or
    None when no complete, well-formed record starts there."""
    while True:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            return None
        head_end = raw.find(CRLF + CRLF, start)
        if head_end < 0:
            return None
        headers: dict[str, str] = {}
        lines = raw[start:head_end].split(CRLF)
        if not lines or not lines[0].startswith(b"WARC/"):
            return None
        for line in lines[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[
                    k.strip().decode("ascii", "ignore").lower()
                ] = v.strip().decode("ascii", "ignore")
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # corrupt/missing Content-Length: resync at the NEXT record
            # header instead of ending the chunk — one bad record must not
            # silently drop every record after it in a plain .warc file
            # (loop, not recursion: a long bad run must not blow the stack)
            pos = head_end
            continue
        body_start = head_end + 4
        body_end = body_start + length
        if body_end > len(raw):  # truncated record
            return None
        return headers, raw[body_start:body_end], body_end


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (warc_headers, body) for every complete record; gzip-membered
    and plain archives both accepted; garbage between/after records is
    skipped, truncation ends iteration."""
    chunks = (
        _iter_gzip_members(data)
        if data[:2] == _GZIP_MAGIC
        else iter((data,))
    )
    for raw in chunks:
        pos = 0
        while True:
            parsed = _parse_record(raw, pos)
            if parsed is None:
                break
            headers, body, pos = parsed
            yield headers, body


def split_http_response(body: bytes) -> tuple[str, dict[str, str], bytes]:
    """(status_line, http_headers, payload) from an HTTP response body; a
    body with no header/payload separator is treated as all payload."""
    sep = body.find(CRLF + CRLF)
    if sep < 0 or not body.startswith(b"HTTP/"):
        return "", {}, body
    lines = body[:sep].split(CRLF)
    status = lines[0].decode("ascii", "ignore")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, s, v = line.partition(b":")
        if s:
            headers[k.strip().decode("ascii", "ignore").lower()] = v.strip().decode(
                "ascii", "ignore"
            )
    return status, headers, body[sep + 4 :]


def warc_rows(data: bytes) -> Iterator[dict]:
    """North-rule input rows from archive bytes: ``response`` records only,
    HTTP framing stripped, WARC-Date parsed naive-UTC (Spark timestamps
    are tz-naive here)."""
    for headers, body in iter_warc_records(data):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        wdate = headers.get("warc-date", "")
        try:
            ts = datetime.datetime.strptime(wdate, _WARC_DATE_FMT)
        except ValueError:
            try:
                # WARC 1.1 allows fractional seconds
                ts = datetime.datetime.strptime(
                    wdate, "%Y-%m-%dT%H:%M:%S.%fZ"
                )
            except ValueError:
                continue
        _status, _http, payload = split_http_response(body)
        yield {
            "url": url,
            "warc_ts": ts,
            "html": payload,
            "text": "",
            "lang": None,
        }
