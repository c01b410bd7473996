"""Multi-format sinks (SURVEY.md §2.1 S6-S11; reference src/formatter.py).

The reference writes one document's payload to json/txt/csv/md files; here the
same fan-out is DataFrame writers with a single upstream materialization:
``save_multiple_formats`` persists once and scans once per sink (reference
src/formatter.py:338-369 re-reads the dict per format — same idea, N sinks,
one payload).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_extractor_spark.functions.normalize import extract_fenced_json

SUPPORTED_FORMATS = ("json", "txt", "csv", "md")


def save_json(df: DataFrame, path: str) -> None:
    """S6 — JSON sink (reference src/formatter.py:117-141)."""
    df.write.mode("overwrite").json(path)


def save_text(df: DataFrame, path: str, text_col: str = "text") -> None:
    """S7 — raw text sink (reference src/formatter.py:143-164)."""
    df.select(F.col(text_col)).write.mode("overwrite").text(path)


def save_csv(df: DataFrame, path: str) -> None:
    """S8 — CSV sink with nested-structure flattening (reference
    src/formatter.py:166-206): arrays/structs/maps are JSON-encoded per cell
    (CSV cannot nest), scalars pass through."""
    flat_cols = []
    for field in df.schema.fields:
        if field.dataType.typeName() in ("array", "struct", "map"):
            flat_cols.append(F.to_json(F.col(field.name)).alias(field.name))
        else:
            flat_cols.append(F.col(field.name))
    df.select(*flat_cols).write.mode("overwrite").option("header", True).csv(path)


def save_markdown(df: DataFrame, path: str, title: str = "Extraction Report") -> None:
    """S9 — markdown report sink (reference src/formatter.py:208-244).

    Small-report sink by design: meant for head()-scale summaries, so it
    collects to the driver (the reference writes a single .md per document)."""
    rows = df.limit(1000).toJSON().collect()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(f"# {title}\n\n```json\n")
        fh.write("\n".join(rows))
        fh.write("\n```\n")


def save_multiple_formats(
    df: DataFrame, base_path: str, formats: list[str] | tuple[str, ...] = SUPPORTED_FORMATS,
    text_col: str = "text",
) -> dict[str, str]:
    """S10 — one payload, N sinks, ONE upstream computation (persist)."""
    unknown = set(formats) - set(SUPPORTED_FORMATS)
    if unknown:
        raise ValueError(f"unsupported formats: {sorted(unknown)}")
    df = df.persist()
    out: dict[str, str] = {}
    try:
        df.count()  # materialize once
        for fmt in formats:
            path = os.path.join(base_path, fmt)
            if fmt == "json":
                save_json(df, path)
            elif fmt == "txt":
                save_text(df, path, text_col)
            elif fmt == "csv":
                save_csv(df, path)
            elif fmt == "md":
                path = os.path.join(base_path, "report.md")
                save_markdown(df, path)
            out[fmt] = path
    finally:
        df.unpersist()
    return out


def read_json_with_repair(
    spark: SparkSession, df: DataFrame, raw_col: str, schema: str | None = None
) -> DataFrame:
    """S6's repair path (reference src/formatter.py:30-115): strip markdown
    fences / extract outermost braces, then parse; unparseable rows become
    error-wrapped rows instead of failing (reference :106-111)."""
    repaired = df.withColumn("_json", extract_fenced_json(F.col(raw_col)))
    if schema is None:
        sample = [r["_json"] for r in repaired.select("_json").limit(100).collect() if r["_json"]]
        schema = (
            spark.range(1)
            .select(F.schema_of_json(F.lit(sample[0])).alias("s"))
            .first()["s"]
            if sample
            else "struct<>"
        )
    return repaired.select(
        "*",
        F.from_json(F.col("_json"), schema).alias("parsed"),
    ).withColumn(
        "parse_ok", F.col("parsed").isNotNull() & (F.length("_json") > 0)
    ).drop("_json")


def curate_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    quality_salt: str = "qsample",
    strata_salt: str = "strat",
) -> DataFrame:
    """The production keep-set for the curated-corpus sink: soft
    quality-weighted sampling (keep probability = quality score; the
    CCNet/DCLM-style filter behind the ``t_quality_weighted_sample``
    contract query) composed with per-stratum rebalancing rates
    (``t_stratified_sample``). Both are deterministic md5-keyed scan-side
    filters — no shuffle, identical keep-set at any partitioning — so the
    sink writes EXACTLY the rows the oracle-checked contract queries keep
    (pytest-asserted)."""
    from pdf_extractor_spark.operators.sampling import (
        quality_keep_expr,
        stratified_sample,
    )

    kept = df.filter(
        quality_keep_expr(F.col(key_col), F.col(text_col), quality_salt)
    )
    if rates is not None:
        kept = stratified_sample(
            kept, rates, strata_col, key_col, default_rate, salt=strata_salt
        )
    return kept


def save_curated_corpus(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    max_records_per_file: int = 500_000,
) -> None:
    """Corpus-output sink: parquet partitioned by ``partition_cols`` (the
    layout a trainer consumes — per-language directories, partition-pruned
    reads for language-filtered runs) with bounded file sizes so no
    partition produces an unsplittable giant file. Pure writer config —
    the upstream plan is untouched."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def display_preview(df: DataFrame, n: int = 10, max_chars: int = 500) -> str:
    """S11 — truncated console preview (reference src/formatter.py:278-300)."""
    cols = [
        F.substring(F.col(f.name).cast("string"), 1, max_chars).alias(f.name)
        if f.dataType.typeName() == "string"
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)._show_string(n, 60, False)


def _json_rows(parsed) -> tuple[list[str], list[list[str]]]:
    """Tabularize a parsed JSON payload the way the reference's
    _json_to_dataframe does: list-of-dicts, dict-of-lists, or flat dict."""
    if isinstance(parsed, list) and parsed and all(isinstance(r, dict) for r in parsed):
        cols: list[str] = []
        for r in parsed:
            for k in r:
                if k not in cols:
                    cols.append(k)
        return cols, [[str(r.get(c, "")) for c in cols] for r in parsed]
    if isinstance(parsed, dict) and parsed and all(
        isinstance(v, list) for v in parsed.values()
    ):
        cols = list(parsed)
        n = max(len(v) for v in parsed.values())
        return cols, [
            [str(parsed[c][i]) if i < len(parsed[c]) else "" for c in cols]
            for i in range(n)
        ]
    if isinstance(parsed, dict):
        cols = list(parsed)
        return cols, [[str(parsed[c]) for c in cols]]
    raise ValueError("not tabular")


def display_table_preview(
    df: DataFrame, json_col: str = "text", max_rows: int = 10, max_col_chars: int = 40
) -> str:
    """S11 — formatted table preview of a JSON payload column (reference
    src/formatter.py:302-336 display_table_preview: tabular render of
    parsed JSON, graceful fallback to the plain preview when the payload is
    not tabular). Driver-side by design: bounded to ONE payload row and
    ``max_rows`` rendered rows."""
    import json

    sample = [r[json_col] for r in df.select(json_col).limit(1).collect()]
    try:
        cols, rows = _json_rows(json.loads(sample[0]))
    except Exception:
        return display_preview(df, n=max_rows)
    shown = rows[:max_rows]
    cells = [[c[:max_col_chars] for c in row] for row in shown]
    widths = [
        max(len(cols[i][:max_col_chars]), *(len(r[i]) for r in cells), 1)
        if cells
        else len(cols[i][:max_col_chars])
        for i in range(len(cols))
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    header = "|" + "|".join(
        f" {cols[i][:max_col_chars]:<{widths[i]}} " for i in range(len(cols))
    ) + "|"
    lines = [sep, header, sep]
    for row in cells:
        lines.append(
            "|" + "|".join(f" {row[i]:<{widths[i]}} " for i in range(len(cols))) + "|"
        )
    lines.append(sep)
    if len(rows) > max_rows:
        lines.append(f"(Showing {max_rows} of {len(rows)} rows)")
    return "\n".join(lines)


def flatten_nested(df: DataFrame, sep: str = ".") -> DataFrame:
    """F15 — recursive nested-structure flatten (reference
    src/validator.py flattens nested note/statement maps into dotted keys
    before tabulation; here the same contract over StructType columns).

    Every StructType column is expanded into ``parent<sep>child`` top-level
    columns, recursively, preserving field order (depth-first). Arrays and
    maps stay as single columns (they fan out rows, not columns — explode
    is a separate, deliberate operation). Pure projection: zero shuffle,
    column pruning still reaches the scan because the output columns are
    direct nested-field references (Parquet reads only the referenced
    leaves)."""
    from pyspark.sql.types import StructType

    def expand(prefix: str, col: F.Column, dtype) -> list[tuple[str, F.Column]]:
        if isinstance(dtype, StructType):
            out: list[tuple[str, F.Column]] = []
            for f in dtype.fields:
                out.extend(expand(f"{prefix}{sep}{f.name}", col[f.name], f.dataType))
            return out
        return [(prefix, col.alias(prefix))]

    named: list[tuple[str, F.Column]] = []
    for field in df.schema.fields:
        named.extend(expand(field.name, F.col(field.name), field.dataType))
    seen: dict[str, int] = {}
    for name, _ in named:
        seen[name] = seen.get(name, 0) + 1
    dupes = sorted(n for n, c in seen.items() if c > 1)
    if dupes:
        # e.g. a struct a.{b} next to a literal column already named "a.b"
        # — fail HERE, not at some downstream write with an
        # AMBIGUOUS_REFERENCE far from the cause
        raise ValueError(
            f"flatten_nested: output column name collision(s): {dupes}; "
            f"pass a different sep"
        )
    return df.select(*(c for _, c in named))
