"""WARC/WET/WAT codecs: round-trips and robustness; CDX line parsing."""

from __future__ import annotations

import datetime

from pdf_extractor_spark.sources import warc as W


def _cdx_line(urlkey, ts14, url, mime, status, digest, length):
    """One CDXJ line with a fixed JSON key order."""
    js = (
        '{"url": "%s", "mime": "%s", "status": "%s", "digest": "%s", '
        '"length": "%d"}' % (url, mime, status, digest, length)
    )
    return f"{urlkey} {ts14} {js}"


def _recs(n=5):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            f"<html><body>payload {i}</body></html>".encode(),
            "text/html",
        )
        for i in range(n)
    ]


def test_warc_roundtrip_plain_and_gzip():
    recs = _recs()
    for gz in (False, True):
        data = W.build_warc(recs, gzip_members=gz, warcinfo_filename="t.warc")
        rows = list(W.warc_rows(data))
        assert [r["url"] for r in rows] == [r[0] for r in recs]
        assert [r["warc_ts"] for r in rows] == [r[1] for r in recs]
        assert [bytes(r["html"]) for r in rows] == [r[2] for r in recs]
    # warcinfo record is present but skipped (response records only)
    headers = [h for h, _ in W.iter_warc_records(data)]
    assert headers[0]["warc-type"] == "warcinfo"
    assert len(headers) == len(recs) + 1


def test_warc_build_is_deterministic():
    recs = _recs(3)
    assert W.build_warc(recs) == W.build_warc(recs)


def test_warc_payload_may_contain_crlf_and_binary():
    payload = b"%PDF-1.4\r\n\r\nWARC/1.0\r\nbinary\x00bytes" + bytes(range(256))
    date = datetime.datetime(2024, 6, 1)
    data = W.build_warc(
        [("https://x.example/a.pdf", date, payload, "application/pdf")]
    )
    rows = list(W.warc_rows(data))
    assert len(rows) == 1 and bytes(rows[0]["html"]) == payload


def test_warc_skips_garbage_and_truncation():
    recs = _recs(4)
    plain = W.build_warc(recs, gzip_members=False)
    # garbage between records: everything still parses
    noisy = plain.replace(b"WARC/1.0\r\nWARC-Type", b"junk\r\nWARC/1.0\r\nWARC-Type")
    assert len(list(W.warc_rows(noisy))) == 4
    # truncated final record: the complete prefix survives
    assert len(list(W.warc_rows(plain[: len(plain) - 40]))) == 3
    # corrupt gzip member ends iteration without raising
    gz = W.build_warc(recs, gzip_members=True)
    cut = gz[: len(gz) // 2] + b"\x00garbage"
    rows = list(W.warc_rows(cut))
    assert 0 <= len(rows) < 4


def test_cdx_reader_roundtrip_and_surt(spark, tmp_path):
    """CDX source: a CDXJ file read as text parses back exactly through
    parse_cdx_lines; SURT canonicalization handles scheme/www/case/no-path."""
    from pdf_extractor_spark.sources.cdx import parse_cdx_lines, surt_urlkey
    from pyspark.sql import functions as F

    lines = [
        _cdx_line(
            "example,docs)/page/1", "20240301101500",
            "https://docs.example/page/1", "text/html", "200", "d" * 32, 512,
        ),
        _cdx_line(
            "org,wiki)/", "20240301101501",
            "https://www.wiki.org/", "text/plain", "404", "e" * 32, 7,
        ),
    ]
    p = tmp_path / "idx.cdx"
    p.write_text("\n".join(lines) + "\n")
    got = {
        r["urlkey"]: r for r in parse_cdx_lines(spark.read.text(str(p))).collect()
    }
    assert set(got) == {"example,docs)/page/1", "org,wiki)/"}
    r = got["example,docs)/page/1"]
    assert r["url"] == "https://docs.example/page/1"
    assert r["status"] == "200" and r["mime"] == "text/html"
    assert r["length"] == 512
    assert r["warc_ts"].strftime("%Y%m%d%H%M%S") == "20240301101500"

    surt = {
        r["u"]: r["k"]
        for r in spark.createDataFrame(
            [
                ("https://WWW.Docs.Example/Path?Q=1",),
                ("http://a.b.c.example/",),
                ("https://example.org",),
            ],
            ["u"],
        )
        .select("u", surt_urlkey(F.col("u")).alias("k"))
        .collect()
    }
    assert surt["https://WWW.Docs.Example/Path?Q=1"] == "example,docs)/path?q=1"
    assert surt["http://a.b.c.example/"] == "example,c,b,a)/"
    assert surt["https://example.org"] == "org,example)/"


def test_cdx_reader_tolerates_malformed_lines(spark, tmp_path):
    """One bad line in an external index must yield nulls, not kill the
    scan (ANSI-safe try_to_timestamp / try_cast): a classic-CDX header
    line and a legacy '\"length\": \"-\"' placeholder both survive."""
    from pdf_extractor_spark.sources.cdx import parse_cdx_lines

    good = _cdx_line(
        "example,docs)/a", "20240301101500",
        "https://docs.example/a", "text/html", "200", "d" * 32, 9,
    )
    header = " CDX N b a m s k r M S V g"
    legacy = ('org,old)/ 20010101000000 {"url": "http://old.org/", '
              '"mime": "text/html", "status": "200", "digest": "x", '
              '"length": "-"}')
    p = tmp_path / "mixed.cdx"
    p.write_text("\n".join([header, good, legacy]) + "\n")
    rows = parse_cdx_lines(spark.read.text(str(p))).collect()
    assert len(rows) == 3
    by_key = {r["urlkey"]: r for r in rows}
    ok = by_key["example,docs)/a"]
    assert ok["length"] == 9 and ok["warc_ts"] is not None
    old = by_key["org,old)/"]
    assert old["length"] is None and old["warc_ts"] is not None
    assert by_key[""]["warc_ts"] is None  # header line -> null fields


# --- WET (conversion records) ---------------------------------------------------


def _wet_recs(n=5):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            f"extracted text body {i} — with unicode ☃".encode("utf-8"),
        )
        for i in range(n)
    ]


def test_wet_roundtrip_plain_and_gzip():
    recs = _wet_recs()
    for gz in (False, True):
        data = W.build_wet(recs, gzip_members=gz, warcinfo_filename="t.wet")
        rows = list(W.wet_rows(data))
        assert [r["url"] for r in rows] == [r[0] for r in recs]
        assert [r["warc_ts"] for r in rows] == [r[1] for r in recs]
        assert [r["text"].encode("utf-8") for r in rows] == [r[2] for r in recs]


def test_wet_refers_to_links_response_record():
    """The conversion record's WARC-Refers-To must equal the response
    record's WARC-Record-ID for the same (url, date)."""
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    resp = W.build_warc_response(url, date, b"<html/>", "text/html")
    wet = W.build_wet_conversion(url, date, b"text")
    resp_id = [
        line for line in resp.split(b"\r\n") if line.startswith(b"WARC-Record-ID")
    ][0].split(b": ", 1)[1]
    refers = [
        line for line in wet.split(b"\r\n") if line.startswith(b"WARC-Refers-To")
    ][0].split(b": ", 1)[1]
    assert refers == resp_id


def test_wet_rows_skips_non_conversion_records():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    mixed = (
        W.build_warcinfo("f.wet")
        + W.build_warc_response(url, date, b"<html/>", "text/html")
        + W.build_wet_conversion(url, date, b"the text")
    )
    rows = list(W.wet_rows(mixed))
    assert len(rows) == 1 and rows[0]["text"] == "the text"


def _wat_recs(n=5):
    base = datetime.datetime(2024, 1, 1)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            100 + i,
        )
        for i in range(n)
    ]


def test_wat_roundtrip_plain_and_gzip():
    recs = _wat_recs()
    for gz in (False, True):
        data = W.build_wat(recs, gzip_members=gz)
        rows = list(W.wat_rows(data))
        assert [(r["url"], r["warc_ts"], r["payload_len"]) for r in rows] == recs
        for r in rows:
            assert r["target_type"] == "response"
            assert r["http_status"] == 200
            assert r["content_type"] == "text/html"


def test_wat_build_is_deterministic():
    recs = _wat_recs()
    assert W.build_wat(recs) == W.build_wat(recs)
    assert W.build_wat(recs, gzip_members=False) == W.build_wat(
        recs, gzip_members=False
    )


def test_wat_refers_to_links_response_record():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    resp = W.build_warc_response(url, date, b"<html/>", "text/html")
    wat = W.build_wat_metadata(url, date, 7)
    resp_id = [
        line for line in resp.split(b"\r\n") if line.startswith(b"WARC-Record-ID")
    ][0].split(b": ", 1)[1]
    refers = [
        line for line in wat.split(b"\r\n") if line.startswith(b"WARC-Refers-To")
    ][0].split(b": ", 1)[1]
    assert refers == resp_id


def test_wat_rows_skips_non_metadata_and_bad_json():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    good = W.build_wat_metadata(url, date, 7)
    # corrupt a copy's JSON body while keeping framing (same byte length)
    bad = good.replace(b'{"Envelope"', b'{"EnvelopX"', 1)
    mixed = (
        W.build_warcinfo("f.wat")
        + W.build_warc_response(url, date, b"<html/>", "text/html")
        + bad
        + good
    )
    rows = list(W.wat_rows(mixed))
    assert len(rows) == 1 and rows[0]["url"] == url
