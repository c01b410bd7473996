"""Vectorized pandas UDFs wrapping the pure parsers.

This is the engine's only JVM<->Python boundary. The reference's equivalent
operator is the per-document remote call with retry + continue-on-error
(reference src/extractor.py:38-136, main.py:852-854); here:

- per-row *data* errors never throw — the UDF returns ``ok=false, error=...``
  rows (the Spark analog of the reference's catch-log-continue batch loop);
- infra failures are left to Spark task retries (``spark.task.maxFailures``);
- payload kind is sniffed from magic bytes (``%PDF-`` vs markup), mirroring
  the reference's suffix check (reference src/pdf_uploader.py:42-48) but
  content-based, as the north rule's table stores both kinds in one binary
  column.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_extractor_spark.extract.html_parser import (
    DEFAULT_CONTEXT,
    ExtractContext,
    extract_html_one,
)
from pdf_extractor_spark.extract.pdf_parser import extract_pdf_one

SPAN_SCHEMA = ArrayType(
    StructType(
        [StructField("start", LongType()), StructField("end", LongType())]
    )
)

EXTRACT_RESULT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("spans", SPAN_SCHEMA),
        StructField("n_blocks", IntegerType()),
        StructField("kind", StringType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def install_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed; idempotent, a no-op on Python >= 3.13.

    Every PySpark task runs ``importlib.invalidate_caches()`` before its
    UDFs (``pyspark.worker_util.setup_spark_files``). Before 3.13 that
    re-reads the central directory of every zip on ``sys.path`` —
    ``pyspark.zip`` alone has ~1.3k entries — about 0.2 s of CPU per task
    in a reused worker, more than the parse of a whole partition. 3.13
    made the invalidation lazy; this backports the effect. An importer
    re-reads when its archive's ``(st_mtime_ns, st_size)`` differs from
    the stamp of its last read, or when the archive cannot be stat'ed, so
    a zip replaced in place is still seen; a zip added later gets a new
    importer, which reads its directory when it is made.

    Installed by ``prepare_worker``, so each reused worker installs it on
    its first engine task and the driver is never touched. The importers
    that exist then are stamped as current without a re-read: that task's
    set-up has just re-read every one of them."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    eager = cls.invalidate_caches

    def stamp(importer):
        try:
            st = os.stat(importer.archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        # stat before reading: a change during the read re-reads next time
        now = stamp(self)
        if now is None or now != getattr(self, "_read_stamp", None):
            eager(self)
            self._read_stamp = now

    for finder in sys.path_importer_cache.values():
        if isinstance(finder, cls):
            finder._read_stamp = stamp(finder)
    invalidate_caches.__wrapped__ = eager
    cls.invalidate_caches = invalidate_caches


_worker_prepared = False


def prepare_worker() -> None:
    """Once-per-worker set-up, called first in every UDF body: the lazy zip
    invalidation above, then ``gc.freeze()`` of the heap the worker has
    built so far, on every Python version.

    A reused PySpark worker runs a full garbage collection after every
    task (``pyspark/daemon.py``), which walks every tracked object — ≈73k
    of them after the imports, 25–34 ms of CPU per task. Frozen objects
    are skipped by every later collection; cycles made by later tasks are
    still collected. Freezing again would pin whatever a later task still
    holds, hence once per worker."""
    global _worker_prepared
    if _worker_prepared:
        return
    _worker_prepared = True
    install_lazy_zip_invalidation()
    gc.freeze()


def extract_one(
    payload: bytes | None, ctx: ExtractContext = DEFAULT_CONTEXT
) -> tuple:
    """Dispatch one payload by magic bytes; never raises.

    Gzip members (WARC payloads are commonly gzip) are transparently
    decompressed before dispatch."""
    if payload is None or len(payload) == 0:
        return ("", [], 0, "empty", False, "empty payload")
    try:
        if payload[:2] == b"\x1f\x8b":  # gzip magic
            import gzip

            payload = gzip.decompress(payload)
            if not payload:
                return ("", [], 0, "empty", False, "empty gzip payload")
        # the spec (and real crawls: HTTP-injected preambles, leading
        # whitespace) allows junk before the header within the first
        # 1024 bytes; offsets in the file are relative to the header, so
        # slicing from it realigns them
        pdf_at = payload.find(b"%PDF-", 0, 1024)
        is_pdf = pdf_at == 0 or (
            # offset header: demand PDF structure too, so an HTML page
            # that merely MENTIONS "%PDF-" in its first KB is not misrouted
            pdf_at > 0
            and (b"endobj" in payload or b"startxref" in payload)
        )
        if is_pdf:
            text, spans, n = extract_pdf_one(payload[pdf_at:])
            kind = "pdf"
        else:
            text, spans, n = extract_html_one(payload, ctx)
            kind = "html"
        return (
            text,
            [{"start": s, "end": e} for s, e in spans],
            n,
            kind,
            True,
            None,
        )
    except Exception as exc:  # data error -> error row, never a task failure
        return ("", [], 0, "error", False, f"{type(exc).__name__}: {exc}")


def make_extract_udf(context: ExtractContext | None = None):
    """M4 — context-prefixed map: per-run extraction options closed over by
    the vectorized UDF (reference src/extractor.py:161-183 prefixes a
    per-run context onto every mapped document; the Spark analog is a
    closure/`lit()` parameter, not a per-row column). The context rides in
    the serialized closure — shipped once per task, applied to every row of
    every Arrow batch."""
    ctx = context or DEFAULT_CONTEXT

    @F.pandas_udf(EXTRACT_RESULT_SCHEMA)
    def _extract_udf(payload: pd.Series) -> pd.DataFrame:
        """Arrow-batched extraction: Series[bytes] -> DataFrame[text, ...].

        The per-payload loop below runs inside the Arrow batch in the Python
        worker — permitted batch-local Python (SURVEY.md §4.6); the
        prohibition is per-row Python on the Spark side (no ``udf()``, no
        ``rdd.map``).
        """
        prepare_worker()
        rows = [extract_one(p, ctx) for p in payload]
        return pd.DataFrame(rows, columns=EXTRACT_RESULT_SCHEMA.fieldNames())

    return _extract_udf


# default-context UDF (the hot path used by the pipeline when no per-run
# context is supplied)
extract_udf = make_extract_udf()


TABLE_CELLS_SCHEMA = ArrayType(
    StructType(
        [
            StructField("table_idx", IntegerType()),
            StructField("row_idx", IntegerType()),
            StructField("col_idx", IntegerType()),
            StructField("cell", StringType()),
        ]
    )
)


OUTLINE_SCHEMA = ArrayType(
    StructType(
        [
            StructField("heading_idx", IntegerType()),
            StructField("level", IntegerType()),
            StructField("title", StringType()),
            StructField("path", StringType()),
        ]
    )
)


@F.pandas_udf(OUTLINE_SCHEMA)
def outline_udf(payload: pd.Series) -> pd.Series:
    """Arrow-batched document-outline extraction: Series[bytes] -> Series[
    list[{heading_idx, level, title, path}]] via the pure heading-tree
    parser (extract/outline.py). Same boundary discipline as
    table_cells_udf: batch-local Python only, total parser, never a task
    failure."""
    prepare_worker()
    from pdf_extractor_spark.extract.outline import extract_outline_one

    return pd.Series(
        [
            []
            if p is None
            else [
                {"heading_idx": i, "level": lv, "title": t, "path": pa}
                for i, lv, t, pa in extract_outline_one(p)
            ]
            for p in payload
        ]
    )


@F.pandas_udf(TABLE_CELLS_SCHEMA)
def table_cells_udf(payload: pd.Series) -> pd.Series:
    """Arrow-batched table-structure extraction: Series[bytes] -> Series[
    list[{table_idx, row_idx, col_idx, cell}]] via the pure grid parser
    (extract/tables.py). Same boundary discipline as extract_udf: the only
    Python is batch-local inside the Arrow worker; a malformed payload
    yields its best-effort cells (the parser is total), never a task
    failure."""
    prepare_worker()
    from pdf_extractor_spark.extract.tables import extract_tables_one

    return pd.Series(
        [
            []
            if p is None
            else [
                {"table_idx": t, "row_idx": r, "col_idx": c, "cell": s}
                for t, r, c, s in extract_tables_one(p)
            ]
            for p in payload
        ]
    )
