"""CDX(J) crawl-index source — the WARC companion format.

Common Crawl (and every wayback-style archive) publishes a CDXJ index:
one line per capture, ``<SURT urlkey> <14-digit timestamp> <JSON block>``,
where the JSON carries url/mime/status/digest/length/offset/filename.
Pipelines read the INDEX (tiny) to plan which WARC byte ranges to fetch,
dedupe recrawls by digest, or build url frontiers — so the reader must be
scan-side expressions, never per-row Python.

Everything here is native-expression Spark:

- ``surt_urlkey(url)``: canonical SURT key (lowercase, scheme dropped,
  leading www. dropped, host labels reversed comma-joined, ')' + path) —
  the sort/join key the format exists for.
- ``parse_cdx_lines(df, col)``: line -> (urlkey, warc_ts, url, mime,
  status, digest, length) via one split + get_json_object projections;
  a CDX file read with ``spark.read.text`` is its input.

The w_cdx_index contract query builds lines with deterministic JSON
field order, md5s the exact bytes, and re-parses them with THIS parser;
the DuckDB oracle reconstructs the same bytes and parses with its own
JSON functions — a cross-engine check of both the SURT canonicalization
and the parse. Scale: an index for a 100 TB crawl is ~10^9 short lines
(~100 GB text) — a normal distributed scan; urlkey is the natural sort
key for range-partitioned joins against the frontier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

CDX_TS_FMT = "yyyyMMddHHmmss"


def surt_urlkey(url: Column) -> Column:
    """Canonical SURT urlkey: ``https://WWW.Docs.Example/Path?q=1`` ->
    ``example,docs)/path?q=1`` (lowercase, scheme/www dropped, host labels
    reversed and comma-joined)."""
    u = F.lower(url)
    no_scheme = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_extract(no_scheme, r"^([^/]+)", 1)
    path = F.regexp_replace(no_scheme, r"^[^/]+", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(
        rev, F.lit(")"), F.when(path == "", F.lit("/")).otherwise(path)
    )


def parse_cdx_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """(line string) -> parsed capture columns (other input columns pass
    through). One split(limit=3) + JSON field extraction — all codegen
    expressions."""
    parts = F.split(F.col(col), " ", 3)
    # F.get (not []): out-of-bounds -> NULL; a line with fewer than three
    # fields (blank line, 'filedesc:' header) would otherwise throw
    # INVALID_ARRAY_INDEX under ANSI and abort the scan
    ts_part = F.get(parts, 1)
    js = F.get(parts, 2)
    passthrough = [c for c in df.columns if c != col]
    # try_* everywhere: the input is an EXTERNAL file, and one malformed
    # line (a classic-CDX ' CDX N b a m s k r...' header, a legacy
    # '"length": "-"' placeholder) must yield nulls in that row, not kill
    # a 100 GB scan with an ANSI DateTimeException/cast error
    return df.select(
        *passthrough,
        F.get(parts, 0).alias("urlkey"),
        F.try_to_timestamp(ts_part, F.lit(CDX_TS_FMT)).alias("warc_ts"),
        F.get_json_object(js, "$.url").alias("url"),
        F.get_json_object(js, "$.mime").alias("mime"),
        F.get_json_object(js, "$.status").alias("status"),
        F.get_json_object(js, "$.digest").alias("digest"),
        F.get_json_object(js, "$.length").try_cast("long").alias("length"),
    )
