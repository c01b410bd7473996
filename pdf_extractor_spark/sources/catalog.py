"""Snapshot catalog seam: Iceberg-style atomic commits over plain Parquet.

The north rule asks for Iceberg tables with resume-from-last-committed-
snapshot. No Iceberg runtime jar exists in this sandbox (verified: offline,
/opt/spark/jars has none — SURVEY.md §7), so this module emulates the part of
Iceberg the engine depends on, behind a seam a real catalog can replace:

- a table is a directory of snapshot subdirs ``snap_<n>/`` (Parquet);
- a snapshot is VISIBLE only once its marker file ``_committed_<n>`` exists —
  the marker is written last, making the commit atomic: a killed job leaves
  an orphan snapshot dir that readers never see (reference analog: the upload
  cache that makes re-runs skip completed work, src/pdf_uploader.py:25,51-54);
- the marker is the commit record: it holds the schema the snapshot was
  written with (the Iceberg table-metadata analog), so readers pass it to
  ``spark.read.schema`` instead of inferring it from Parquet footers, which
  costs a Spark job per read;
- ``read_committed`` unions all visible snapshots;
- ``remaining`` is the resume anti-join: input rows whose key is absent from
  every committed snapshot (SURVEY.md §2.1 S3).

On a real cluster, swap these four functions for Iceberg
``writeTo(...).append()`` / ``spark.read.format("iceberg")`` / ``MERGE INTO``.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_SNAP_RE = re.compile(r"^snap_(\d+)$")
_MARKER = "_committed_{n}"
_LIVE = "_live"


def _marker_ids(table_path: str) -> list[int]:
    if not os.path.isdir(table_path):
        return []
    names = set(os.listdir(table_path))
    out = []
    for name in names:
        m = _SNAP_RE.match(name)
        if m and _MARKER.format(n=m.group(1)) in names:
            out.append(int(m.group(1)))
    return sorted(out)


def _write_live(table_path: str, ids: list[int]) -> None:
    """Atomically swap the live-snapshot manifest (write temp + rename):
    the SINGLE mutation that changes what readers see, so delete/compact
    cannot leave a window where old and new snapshots are both visible
    (N marker deletions are not atomic; one pointer swap is)."""
    tmp = os.path.join(table_path, "_live.tmp")
    with open(tmp, "w") as fh:
        fh.write(",".join(str(i) for i in sorted(set(ids))))
    os.replace(tmp, os.path.join(table_path, _LIVE))


def _committed_ids(table_path: str) -> list[int]:
    """Visible snapshots: the _live manifest when present (intersected
    with marker'd dirs as defense), else all marker'd dirs (legacy tables
    committed before the manifest existed)."""
    markers = _marker_ids(table_path)
    live_path = os.path.join(table_path, _LIVE)
    if os.path.exists(live_path):
        with open(live_path) as fh:
            txt = fh.read().strip()
        live = {int(x) for x in txt.split(",") if x}
        return sorted(live & set(markers))
    return markers


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema Spark
    reads back from Parquet, whatever nullability the writer declared."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _recorded_schema(table_path: str, n: int) -> StructType | None:
    """The schema ``commit_snapshot`` recorded in snapshot ``n``'s marker;
    None for a marker that records none (legacy or hand-written)."""
    try:
        with open(os.path.join(table_path, _MARKER.format(n=n))) as fh:
            record = json.load(fh)
    except (OSError, ValueError):
        return None
    if not isinstance(record, dict) or "schema" not in record:
        return None
    return StructType.fromJson(record["schema"])


def next_snapshot_id(table_path: str) -> int:
    existing = [
        int(m.group(1))
        for m in (
            _SNAP_RE.match(n) for n in (os.listdir(table_path) if os.path.isdir(table_path) else [])
        )
        if m
    ]
    return (max(existing) + 1) if existing else 1


def commit_snapshot(df: DataFrame, table_path: str, *, rewrite: bool = False) -> int:
    """Write ``df`` as a new snapshot; the commit marker is written, then
    the _live manifest is swapped — visibility flips on that single atomic
    rename (a crash in between leaves the new snapshot invisible and the
    old state intact).

    Every committed row carries a ``_snapshot`` column written at commit
    time (the Iceberg snapshot-id analog) so last-wins merge ordering is a
    table property, not a directory-name convention. A ``rewrite`` commit
    (compaction, deletes) replaces the whole table: the new
    snapshot becomes the ONLY live one, and each row keeps its EXISTING
    ``_snapshot`` value (rewriting history must not flatten the last-wins
    order — re-stamping made read_latest return repaired-over rows again).
    The marker records the schema written, so reads of the snapshot infer
    nothing."""
    os.makedirs(table_path, exist_ok=True)
    prior = _committed_ids(table_path)
    n = next_snapshot_id(table_path)
    snap_dir = os.path.join(table_path, f"snap_{n}")
    if rewrite and "_snapshot" in df.columns:
        df = df.withColumn(
            "_snapshot", F.coalesce(F.col("_snapshot"), F.lit(n))
        )
    else:
        df = df.drop("_snapshot").withColumn("_snapshot", F.lit(n))
    record = {"snapshot": n, "schema": _nullable(df.schema).jsonValue()}
    df.write.mode("overwrite").parquet(snap_dir)
    with open(os.path.join(table_path, _MARKER.format(n=n)), "w") as fh:
        json.dump(record, fh)
    _write_live(table_path, [n] if rewrite else prior + [n])
    return n


def withdraw_snapshot(table_path: str, n: int) -> None:
    """Take back snapshot ``n``, just committed by this writer (a commit
    that turned out to hold no rows): it leaves the _live manifest in one
    swap, then its marker and files go, so its id is reused."""
    _write_live(table_path, [i for i in _committed_ids(table_path) if i != n])
    os.remove(os.path.join(table_path, _MARKER.format(n=n)))
    shutil.rmtree(os.path.join(table_path, f"snap_{n}"))


def read_snapshot(spark: SparkSession, table_path: str, n: int) -> DataFrame:
    """One snapshot's rows, each with the ``partition_id`` of the write
    task that produced it: the index in its ``part-<index>-...`` file name,
    equal to ``spark_partition_id()`` of the frame that was written.
    Reads with the schema recorded at commit, so it launches no job."""
    schema = _recorded_schema(table_path, n)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(os.path.join(table_path, f"snap_{n}"))
    part = F.regexp_extract(F.col("_metadata.file_name"), r"^part-(\d+)", 1)
    return df.withColumn("partition_id", part.try_cast("int"))


def read_committed(spark: SparkSession, table_path: str) -> DataFrame | None:
    """Union of all committed snapshots; None when the table is empty.

    When every visible snapshot recorded the same schema at commit, reads
    with it: no footer is opened and no job runs, and every row carries the
    ``_snapshot`` stamped at commit. Otherwise (a marker that records no
    schema, or a later snapshot that added a column) reads with
    ``mergeSchema`` and backfills ``_snapshot`` from the ``snap_<n>``
    directory name: snapshots committed before the column existed (legacy
    tables being resumed/repaired) would otherwise drop the column from the
    inferred schema — or surface nulls that break ``read_latest``'s
    last-wins ordering."""
    ids = _committed_ids(table_path)
    if not ids:
        return None
    paths = [os.path.join(table_path, f"snap_{n}") for n in ids]
    schemas = [_recorded_schema(table_path, n) for n in ids]
    if schemas[0] is not None and all(s == schemas[0] for s in schemas):
        return spark.read.schema(schemas[0]).parquet(*paths)
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    from_dir = F.regexp_extract(
        F.input_file_name(), r"/snap_(\d+)/", 1
    ).try_cast("int")
    if "_snapshot" in df.columns:
        backfilled = F.coalesce(F.col("_snapshot"), from_dir)
    else:
        backfilled = from_dir
    return df.withColumn("_snapshot", backfilled)


def list_snapshots(spark: SparkSession, table_path: str) -> DataFrame:
    """S4 — catalog listing (reference src/pdf_uploader.py:120-140
    list_uploaded_files; Iceberg's ``tbl.snapshots`` metadata table analog):
    one row per committed snapshot with file count and total bytes."""
    import glob as _glob

    rows = []
    for n in _committed_ids(table_path):
        snap_dir = os.path.join(table_path, f"snap_{n}")
        files = _glob.glob(os.path.join(snap_dir, "*.parquet")) + _glob.glob(
            os.path.join(snap_dir, "part-*")
        )
        files = sorted(set(files))
        rows.append(
            (n, snap_dir, len(files), sum(os.path.getsize(f) for f in files))
        )
    return spark.createDataFrame(
        rows, "snapshot_id int, path string, n_files int, total_bytes long"
    )


def _rewrite(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame | None = None,
    key: str = "url",
) -> int:
    """Rewrite the table as one consolidated snapshot, minus the rows
    whose ``key`` is in ``keys`` when given; commit it, then drop the old
    snapshots' markers (old data dirs become invisible orphans, mirroring
    Iceberg's snapshot expiry). Returns the new snapshot id, 0 when the
    table is empty."""
    current = read_committed(spark, table_path)
    if current is None:
        return 0
    old_ids = _committed_ids(table_path)
    if keys is not None:
        current = current.join(keys.select(key), on=key, how="left_anti")
    # the _live swap inside the commit is what readers see; marker removal
    # below is mere housekeeping
    n = commit_snapshot(current, table_path, rewrite=True)
    for old in old_ids:
        marker = os.path.join(table_path, _MARKER.format(n=old))
        if os.path.exists(marker):
            os.remove(marker)
    return n


def delete_where(
    spark: SparkSession, table_path: str, keys: DataFrame, key: str = "url"
) -> int:
    """S5 — delete rows by key (reference src/pdf_uploader.py:100-118
    delete_file; Iceberg ``DELETE FROM`` analog)."""
    return _rewrite(spark, table_path, keys, key)


def compact(spark: SparkSession, table_path: str) -> int:
    """Consolidate all committed snapshots into one (snapshot-expiry
    housekeeping; keeps the resume anti-join cheap as commits accumulate)."""
    return _rewrite(spark, table_path)


def remaining(spark: SparkSession, input_df: DataFrame, table_path: str) -> DataFrame:
    """Resume frontier: input rows not present in any committed snapshot.

    ``left_anti`` on ``url`` — at 100 TB the committed side is read with only
    that column (column-pruned scan) and the join is a shuffle-free
    broadcast when the done-set is small, else a standard shuffled anti-join.
    No ``distinct`` on the committed side: an anti-join ignores duplicate
    keys, and a distinct would add two aggregates and an exchange over
    every committed url.
    """
    done = read_committed(spark, table_path)
    if done is None:
        return input_df
    return input_df.join(done.select("url"), on="url", how="left_anti")
