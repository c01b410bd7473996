"""Round-4 pass 7: WAT codec, HTTP gate, jusText, SFT, kNN graph.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    S,
    SparkSession,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _TOK_SQL_SAFE,
)


# --- round-4 seventh pass: WAT codec, HTTP gate, jusText blocks, SFT format,
# --- mutual-kNN graph (appended AFTER the pinned r4 driver window)

_HTTP_CT_RE = r"Content-Type: ([^;\r\n]+)"
_HTTP_CS_RE = r"charset=([a-z0-9-]+)"
_HTTP_ST_RE = r"^HTTP/1\.[01] ([0-9]{3})"


@query(
    "w_wat_codec",
    r"""
    WITH rec AS (
      SELECT doc_id,
             concat('https://docs.example/', cast(doc_id AS VARCHAR)) AS url,
             strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                      '%Y-%m-%dT%H:%M:%SZ') AS wdate,
             strlen(text) AS plen
      FROM documents),
    body AS (
      SELECT doc_id, url, plen,
             concat('{"Envelope":{"WARC-Header-Metadata":{',
                    '"WARC-Type":"response","WARC-Target-URI":"', url,
                    '","WARC-Date":"', wdate,
                    '"},"Payload-Metadata":{',
                    '"Actual-Content-Length":', cast(plen AS VARCHAR),
                    ',"HTTP-Response-Metadata":{"Response-Message":{',
                    '"Status":200',
                    '},"Headers":{',
                    '"Content-Type":"text/html"',
                    '}}}}}') AS bj,
             wdate
      FROM rec),
    full_rec AS (
      SELECT doc_id, url, plen,
             concat('WARC/1.0', chr(13), chr(10),
                    'WARC-Type: metadata', chr(13), chr(10),
                    'WARC-Target-URI: ', url, chr(13), chr(10),
                    'WARC-Date: ', wdate, chr(13), chr(10),
                    'WARC-Record-ID: <urn:md5:',
                    md5(concat(url, '|', wdate, '|wat')), '>', chr(13), chr(10),
                    'WARC-Refers-To: <urn:md5:',
                    md5(concat(url, '|', wdate)), '>', chr(13), chr(10),
                    'Content-Type: application/json', chr(13), chr(10),
                    'Content-Length: ', cast(strlen(bj) AS VARCHAR),
                    chr(13), chr(10), chr(13), chr(10),
                    bj, chr(13), chr(10), chr(13), chr(10)) AS record
      FROM body)
    SELECT doc_id, url, md5(record) AS record_md5,
           cast(strlen(record) AS BIGINT) AS n_bytes,
           cast(plen AS BIGINT) AS payload_len,
           true AS roundtrip_ok
    FROM full_rec
    """,
)
def w_wat_codec(spark: SparkSession, sf: str) -> DataFrame:
    """WAT codec contract (sources/warc.py build_wat_metadata/wat_rows):
    completes the Common Crawl WARC/WET/WAT triple. Every document gets a
    WARC/1.0 ``metadata`` record whose JSON Envelope describes the
    response record (header echo + payload length + HTTP status and
    Content-Type) — serialized by the REAL python writer and parsed back
    by the REAL parser inside mapInPandas; the oracle reconstructs the
    exact record bytes (fixed-field-order compact JSON included) in SQL
    and hashes them. Same scale posture as w_warc_codec: one task per
    archive file, bounded row batches."""
    import hashlib as _hl

    import pandas as _pd

    from pdf_extractor_spark.sources import warc as W

    base = __import__("datetime").datetime(2024, 1, 1)

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"https://docs.example/{doc_id}"
                date = base + __import__("datetime").timedelta(
                    seconds=int(doc_id)
                )
                plen = len(text.encode("utf-8"))
                rec = W.build_wat_metadata(url, date, plen)
                rows = list(W.wat_rows(rec))
                ok = (
                    len(rows) == 1
                    and rows[0]["url"] == url
                    and rows[0]["warc_ts"] == date
                    and rows[0]["target_type"] == "response"
                    and rows[0]["payload_len"] == plen
                    and rows[0]["http_status"] == 200
                    and rows[0]["content_type"] == "text/html"
                )
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "url": url,
                        "record_md5": _hl.md5(rec).hexdigest(),
                        "n_bytes": len(rec),
                        "payload_len": plen,
                        "roundtrip_ok": bool(ok),
                    }
                )
            yield _pd.DataFrame(
                out,
                columns=[
                    "doc_id", "url", "record_md5", "n_bytes",
                    "payload_len", "roundtrip_ok",
                ],
            )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    d = d.repartition(_par(spark), "doc_id")
    return d.mapInPandas(
        gen,
        schema="doc_id bigint, url string, record_md5 string, "
        "n_bytes bigint, payload_len bigint, roundtrip_ok boolean",
    )


@query(
    "u_mime_filter",
    rf"""
    WITH hx AS (
      SELECT doc_id,
             md5(concat('mime:', cast(doc_id AS VARCHAR))) AS h,
             strlen(text) AS plen
      FROM documents),
    pick AS (
      SELECT doc_id, plen,
             (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) % 4 AS si,
             (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 5 AS ci
      FROM hx),
    hdr AS (
      SELECT doc_id,
             concat('HTTP/1.1 ',
                    CASE si WHEN 0 THEN '200 OK'
                            WHEN 1 THEN '301 Moved Permanently'
                            WHEN 2 THEN '404 Not Found'
                            ELSE '500 Internal Server Error' END,
                    chr(13), chr(10), 'Content-Type: ',
                    CASE ci WHEN 0 THEN 'text/html; charset=utf-8'
                            WHEN 1 THEN 'text/plain'
                            WHEN 2 THEN 'application/xhtml+xml'
                            WHEN 3 THEN 'application/pdf'
                            ELSE 'image/png' END,
                    chr(13), chr(10), 'Content-Length: ',
                    cast(plen AS VARCHAR),
                    chr(13), chr(10), chr(13), chr(10)) AS raw
      FROM pick),
    parsed AS (
      SELECT doc_id, raw,
             cast(regexp_extract(raw, '{_HTTP_ST_RE}', 1) AS INT)
               AS http_status,
             lower(regexp_extract(raw, '{_HTTP_CT_RE}', 1)) AS mime,
             regexp_extract(raw, '{_HTTP_CS_RE}', 1) AS charset
      FROM hdr)
    SELECT doc_id, http_status, mime, charset,
           (http_status = 200 AND mime IN
              ('text/html', 'application/xhtml+xml', 'text/plain')) AS keep
    FROM parsed
    """,
)
def u_mime_filter(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP-envelope content gate — the first filter a crawl pipeline runs
    after the WARC read, BEFORE any payload byte is parsed: keep only
    status-200 responses whose Content-Type is a text format we extract
    (html/xhtml/plain); redirects, errors, PDFs-as-binary and images are
    routed to their own pipelines. The envelope is synthesized here with
    md5-derived variation (so every status/type branch is exercised and
    the decision table is oracle-checkable); parsing uses the SAME three
    regexes on both engines (media type before any ';' parameter,
    lowercased per RFC 9110; charset parameter split out). Scale: pure
    scan-side codegen projection — no shuffle, no UDF; at 100 TB this
    gate drops ~half the records before the expensive extract stage."""
    d = _t(spark, sf, "documents").select("doc_id", F.length("text").alias("plen"))
    h = F.md5(F.concat(F.lit("mime:"), F.col("doc_id").cast("string")))
    si = (F.conv(F.substring(h, 1, 1), 16, 10).cast("int") % 4).alias("si")
    ci = (F.conv(F.substring(h, 2, 1), 16, 10).cast("int") % 5).alias("ci")
    picked = d.select("doc_id", "plen", si, ci)
    status_line = (
        F.when(F.col("si") == 0, F.lit("200 OK"))
        .when(F.col("si") == 1, F.lit("301 Moved Permanently"))
        .when(F.col("si") == 2, F.lit("404 Not Found"))
        .otherwise(F.lit("500 Internal Server Error"))
    )
    ctype = (
        F.when(F.col("ci") == 0, F.lit("text/html; charset=utf-8"))
        .when(F.col("ci") == 1, F.lit("text/plain"))
        .when(F.col("ci") == 2, F.lit("application/xhtml+xml"))
        .when(F.col("ci") == 3, F.lit("application/pdf"))
        .otherwise(F.lit("image/png"))
    )
    crlf = F.lit("\r\n")
    raw = F.concat(
        F.lit("HTTP/1.1 "), status_line, crlf,
        F.lit("Content-Type: "), ctype, crlf,
        F.lit("Content-Length: "), F.col("plen").cast("string"),
        crlf, crlf,
    )
    parsed = picked.select(
        "doc_id",
        F.regexp_extract(raw, _HTTP_ST_RE, 1).cast("int").alias("http_status"),
        F.lower(F.regexp_extract(raw, _HTTP_CT_RE, 1)).alias("mime"),
        F.regexp_extract(raw, _HTTP_CS_RE, 1).alias("charset"),
    )
    keep = (F.col("http_status") == 200) & F.col("mime").isin(
        "text/html", "application/xhtml+xml", "text/plain"
    )
    return parsed.select(
        "doc_id", "http_status", "mime", "charset", keep.alias("keep")
    )


_SEG5_SAFE_SQL = f"""
    tok5 AS (SELECT doc_id, {_TOK_SQL_SAFE} AS t FROM documents),
    meta5 AS (SELECT doc_id, t, array_length(t) AS n FROM tok5),
    seg5 AS (
      SELECT doc_id, cast(i - 1 AS INT) AS idx,
             array_to_string(list_slice(t, (i-1)*5 + 1, (i-1)*5 + 5), ' ')
               AS seg_text
      FROM (SELECT doc_id, t, n,
                   unnest(range(1, cast(CASE WHEN n > 0 THEN ((n - 1) // 5) + 1
                                        ELSE 0 END AS BIGINT) + 1)) AS i
            FROM meta5))
"""


@query(
    "t_justext_blocks",
    f"""
    WITH {_SEG5_SAFE_SQL},
    b AS (
      SELECT doc_id, idx, seg_text, string_split(seg_text, ' ') AS bt
      FROM seg5),
    c AS (
      SELECT doc_id, idx, seg_text,
             cast(array_length(bt) AS BIGINT) AS n_tokens,
             cast(1000000 * len(list_filter(bt, x -> x IN ('a', 'the')))
                  AS BIGINT) // greatest(array_length(bt), 1) AS stop_ppm
      FROM b),
    cf AS (
      SELECT *, CASE WHEN n_tokens < 3 THEN 'short'
                     WHEN stop_ppm >= 200000 THEN 'good'
                     ELSE 'bad' END AS class_cf
      FROM c),
    sm AS (
      SELECT *,
             coalesce(lag(class_cf) OVER
               (PARTITION BY doc_id ORDER BY idx), 'bad') AS pc,
             coalesce(lead(class_cf) OVER
               (PARTITION BY doc_id ORDER BY idx), 'bad') AS nc
      FROM cf)
    SELECT doc_id, idx AS block_idx, n_tokens, stop_ppm, class_cf,
           CASE WHEN class_cf <> 'short' THEN class_cf
                WHEN pc = 'good' AND nc = 'good' THEN 'good'
                ELSE 'bad' END AS class_final,
           md5(seg_text) AS block_md5
    FROM sm
    """,
)
def t_justext_blocks_q(spark: SparkSession, sf: str) -> DataFrame:
    """jusText-style per-document block classification (Pomikálek 2011,
    operators/textstats.py justext_blocks): context-free stopword-density
    classing + context-sensitive smoothing of short blocks by their
    neighbors. The structural third member of the boilerplate family —
    t_line_boilerplate_clean is corpus-frequency-based, d_paragraph_dedup
    is first-occurrence-based, this one needs NO corpus pass at all (the
    per-doc screen that runs at extract time, before any shuffle). Blocks
    are 5-token segments (the corpus has no markup; see
    t_line_boilerplate_clean's note). Plan: token_segments' staged
    explode + scan-side classification + ONE doc-partitioned lag/lead
    window — linear, parallel across docs."""
    from pdf_extractor_spark.operators.textstats import justext_blocks

    segs = D.token_segments(
        _t(spark, sf, "documents"), seg_tokens=5, n_partitions=_par(spark)
    )
    return justext_blocks(segs)


@query(
    "m_sft_format",
    f"""
    WITH t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM documents),
    s AS (SELECT doc_id, toks, array_length(toks) AS n FROM t
          WHERE array_length(toks) > 8),
    r AS (
      SELECT doc_id, n,
             concat('<|user|>', chr(10),
                    array_to_string(list_slice(toks, 1, 8), ' '),
                    chr(10), '<|assistant|>', chr(10),
                    array_to_string(list_slice(toks, 9, n), ' '),
                    '<|end|>') AS rendered
      FROM s)
    SELECT doc_id, md5(rendered) AS sft_md5,
           cast(10 AS BIGINT) AS n_prompt_tokens,
           cast(n - 7 AS BIGINT) AS n_response_tokens,
           cast(1000000 * (n - 7) AS BIGINT) // (n + 3) AS loss_ppm
    FROM r
    """,
)
def m_sft_format(spark: SparkSession, sf: str) -> DataFrame:
    """Instruction-tuning (SFT) example formatting with loss-mask
    accounting: render each document as a chat-template example (first 8
    tokens as the user turn, the rest as the assistant turn, the
    <|user|>/<|assistant|>/<|end|> control tokens of the common SFT
    recipes), and account tokens by loss role — prompt tokens (8 content
    + 2 control) are masked out of the loss, response tokens (n-8 content
    + <|end|>) are trained on. loss_ppm is the trainable fraction in
    integer ppm: the number a curator watches, because examples that are
    mostly prompt waste forward-pass FLOPs. Docs with no response half
    (<= 8 tokens) are dropped — an SFT example needs both turns. Scale:
    scan-side projection (slice/join on the staged token array), no
    shuffle, no UDF; the md5 of the rendered example doubles as its
    packing/dedup key."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", D.word_tokens(F.col("text")).alias("toks")
    ).repartition(_par(spark), "doc_id")
    staged = staged.select(
        "doc_id", "toks", F.size("toks").alias("n")
    ).filter(F.col("n") > 8)
    rendered = F.concat(
        F.lit("<|user|>\n"),
        F.array_join(F.slice("toks", 1, 8), " "),
        F.lit("\n<|assistant|>\n"),
        F.array_join(F.slice(F.col("toks"), F.lit(9), F.col("n") - 8), " "),
        F.lit("<|end|>"),
    )
    return staged.select(
        "doc_id",
        F.md5(rendered).alias("sft_md5"),
        F.lit(10).cast("bigint").alias("n_prompt_tokens"),
        (F.col("n") - 7).cast("bigint").alias("n_response_tokens"),
        F.expr("CAST(1000000 * (n - 7) AS BIGINT) div (n + 3)").alias(
            "loss_ppm"
        ),
    )


@query(
    "e_knn_graph",
    """
    WITH samp AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      ORDER BY md5(concat('knng:', cast(vec_id AS VARCHAR))), vec_id
      LIMIT 150),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      FROM samp a JOIN samp b ON a.vec_id <> b.vec_id),
    d AS (
      SELECT src, dst, sim,
             row_number() OVER (PARTITION BY src
                                ORDER BY sim DESC, dst) AS rn
      FROM p),
    knn AS (
      SELECT src, dst, cast(round(sim * 1000000, 0) AS BIGINT) AS sim_u
      FROM d WHERE rn <= 4),
    mut AS (
      SELECT x.src, x.sim_u FROM knn x
      JOIN knn y ON x.src = y.dst AND x.dst = y.src),
    agg AS (
      SELECT src AS vec_id, count(*) AS deg, sum(sim_u) AS su
      FROM mut GROUP BY src)
    SELECT s.vec_id,
           cast(coalesce(a.deg, 0) AS BIGINT) AS mutual_degree,
           CASE WHEN a.deg IS NULL THEN 0.0
                ELSE round(a.su / (a.deg * 1000000.0), 6)
                END AS mean_mutual_sim
    FROM samp s LEFT JOIN agg a ON s.vec_id = a.vec_id
    """,
)
def e_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual k-NN graph statistics (operators/similarity.py knn_graph):
    per-node mutual degree and mean mutual cosine over a deterministic
    150-vector md5 sample — the symmetrized neighborhood graph that
    graph-based curation (kNN-component dedup, label propagation,
    density-based outlier pruning) consumes; mutual degree 0 marks
    embedding-space outliers, high degree marks redundant regions. Exact
    k=4 edges (round-6 sim DESC, id ASC), mutuality by a self-join on the
    reversed edge. Sample selection is a TakeOrderedAndProject (cost
    corpus-independent, the d_lsh_recall discipline); at production scale
    the identical top-k + mutuality composition runs over ann_topk's SRP
    candidates instead of the exact sample product."""
    return S.knn_graph(_t(spark, sf, "embeddings"), k=4, sample_n=150)
