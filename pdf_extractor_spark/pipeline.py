"""The flagship extraction pipeline (SURVEY.md §3.1 re-expressed in Spark).

One declarative DataFrame program replaces the reference's stages 2-10
(reference main.py:160-786):

    scan (url, html pruned-read)
      -> resume anti-join vs committed snapshots        [S3]
      -> repartition by url (spreads a heavy host over every partition)
      -> vectorized extract UDF (the one Python stage)  [M1/M6]
      -> project result struct to columns
      -> snapshot commit + per-partition lineage append

Physical shape: one explicit Exchange, one ArrowEvalPython, everything else
whole-stage codegen. Per-doc failures are ``ok=false`` rows, never task
failures (reference main.py:852-854 continue-on-error).

Every job path (fresh/resumed run, repair round, refresh) commits through ``_commit_with_lineage``: the snapshot write is
the one action over the extracted frame, its counts are observed on that
write, and lineage is read back from the written files — so each doc is
extracted exactly once and no extracted text is cached.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from pdf_extractor_spark.extract.udfs import ExtractContext, make_extract_udf
from pdf_extractor_spark.sources import catalog

_NOTHING = {"snapshot": None, "rows": 0, "marker": None}


def extract_documents(
    df: DataFrame,
    n_partitions: int | None = None,
    context: ExtractContext | None = None,
) -> DataFrame:
    """Pure transformation: (url, warc_ts, html, lang, ...) -> extraction results.

    ``n_partitions=None`` skips the explicit repartition (small inputs /
    already-bucketed tables); pass it on big scans so the UDF stage is
    spread by url, which spreads a heavy host's pages too. ``context`` (M4)
    is a per-run option set closed over by the UDF — one serialized object
    per task, applied to every document (reference src/extractor.py:161-183).
    The UDF is built per call, so a job in a later SparkSession never reuses
    the JVM function (and accumulator) of an earlier, stopped one.
    """
    if n_partitions:
        # the raw url, not pmod(xxhash64(url), n): repartition murmur3-hashes
        # its keys, and pre-bucketing double-hashes — 19/32 partitions got
        # data, with 4.5x stragglers
        df = df.repartition(n_partitions, F.col("url"))
    extracted = df.withColumn("_x", make_extract_udf(context)(F.col("html")))
    keep = [c for c in ["url", "warc_ts", "lang", "html"] if c in df.columns]
    return extracted.select(*keep, "_x.*")


def _extract_sized(
    todo: DataFrame, n_partitions: int | None, context: ExtractContext | None
) -> DataFrame:
    """The committed shape: extraction results with html (the 100-TB
    column) replaced by its length, which lineage sums as bytes_in."""
    extracted = extract_documents(todo, n_partitions=n_partitions, context=context)
    return extracted.withColumn("bytes_in", F.length("html")).drop("html")


def run_extraction_job(
    spark: SparkSession,
    input_df: DataFrame,
    output_table: str,
    n_partitions: int | None = None,
    resume: bool = True,
    context: ExtractContext | None = None,
) -> dict:
    """Resumable batch job: extract everything not yet committed.

    Returns a small metrics dict (driver-side). Emptiness is decided on the
    resume frontier, before extraction; the extraction itself runs once,
    inside the snapshot write. A killed run leaves no visible partial
    snapshot; re-running picks up exactly the unprocessed urls
    (catalog.remaining anti-join).
    """
    todo = catalog.remaining(spark, input_df, output_table) if resume else input_df
    if todo.isEmpty():
        # a fully-resumed re-run (or an empty time window / micro-batch)
        # must not append empty snap_N + _lineage dirs on every invocation
        return dict(_NOTHING)
    metrics, _ = _commit_with_lineage(
        _extract_sized(todo, n_partitions, context), output_table
    )
    return metrics


def _commit_with_lineage(sized: DataFrame, output_table: str) -> tuple[dict, int]:
    """Commit an extraction-result frame (html dropped, bytes_in
    precomputed) as one snapshot plus its per-partition lineage rows;
    returns the job metrics and the number of ok rows committed.

    The write is the only action over ``sized``: its row and ok counts are
    observed on the write itself, and the lineage ``(partition_id,
    doc_count, bytes_in, bytes_out, checkpoint_marker)`` is aggregated from
    the new snapshot's files, ``partition_id`` being the write task that
    produced each file. Callers decide emptiness beforehand on a frame
    without the extraction UDF; a write that still comes out empty
    (refresh's near-dup gate dropped every survivor) is withdrawn, so no
    job leaves an empty snapshot behind."""
    obs = Observation()
    observed = sized.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col("ok")).alias("ok"),
    )
    snap_id = catalog.commit_snapshot(observed, output_table)
    counts = obs.get
    if counts["rows"] == 0:
        catalog.withdraw_snapshot(output_table, snap_id)
        return dict(_NOTHING), 0
    marker = f"snap_{snap_id}"
    lineage = (
        catalog.read_snapshot(sized.sparkSession, output_table, snap_id)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.coalesce(F.sum("bytes_in"), F.lit(0)).alias("bytes_in"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("bytes_out"),
        )
        .withColumn("checkpoint_marker", F.lit(marker))
    )
    catalog.commit_snapshot(lineage, os.path.join(output_table, "_lineage"))
    return {"snapshot": snap_id, "rows": counts["rows"], "marker": marker}, counts["ok"]


_BAND_INDEX_DDL = "id STRING, band INT, key STRING"
_BAND_INDEX_KEYS = ["band", "key"]
_BAND_INDEX_BUCKETS = 8


def _band_index_table(path: str) -> str:
    import hashlib

    return "pes_band_index_" + hashlib.md5(path.encode("utf-8")).hexdigest()[:12]


def run_refresh_job(
    spark: SparkSession,
    batch_df: DataFrame,
    output_table: str,
    n_partitions: int | None = None,
    context: ExtractContext | None = None,
    near_dup_threshold: float = 0.5,
    band_index_path: str | None = None,
) -> dict:
    """Incremental corpus REFRESH: ingest a new crawl batch into an
    existing corpus table. Three gates, cheapest first:

      1. exact resume — urls already committed are skipped (the S3
         anti-join, zero extraction cost for re-crawls);
      2. extraction of the survivors (the one Arrow UDF stage);
      3. near-dup probe — the new batch's extracted text LSH-probes the
         committed corpus's band index (operators/dedup.py
         incremental_near_dups: the batch side shuffles, the corpus side
         is the pre-bucketed table at real scale) and matches are dropped
         — the mirror-site / re-post case exact resume cannot catch.

    Survivors commit as one snapshot with per-partition lineage; error
    rows (ok=false) commit too (they carry no comparable text — the
    repair loop owns them, not the dedup gate). The whole-corpus pair
    generation is never re-run: cost scales with the BATCH, which is what
    makes continuous corpus maintenance viable at 10^12 docs.

    ``band_index_path`` upgrades gate 3 to the full 100-TB posture: the
    corpus's LSH band index is MATERIALIZED at that path as a
    (band, key)-bucketed table — built once from the committed corpus,
    re-registered per session (``register_bucketed``: Spark's in-memory
    catalog forgets specs between spark-submit runs), probed shuffle-free
    on the corpus side, and APPENDED with each committed batch's bands.
    Without it, corpus signatures are recomputed inline per refresh —
    fine at test scale, a full corpus re-scan per ingest at 10^12 docs.
    """
    from pdf_extractor_spark.operators.dedup import (
        incremental_near_dups,
        with_minhash_bands,
    )
    from pdf_extractor_spark.sources.bucketed import (
        append_bucketed,
        read_table,
        register_bucketed,
        write_bucketed,
    )

    corpus_band_index = None
    idx_table = None
    if band_index_path is not None:
        idx_table = _band_index_table(band_index_path)
        if os.path.exists(os.path.join(band_index_path, "_SUCCESS")):
            register_bucketed(
                spark,
                idx_table,
                band_index_path,
                _BAND_INDEX_DDL,
                _BAND_INDEX_KEYS,
                _BAND_INDEX_BUCKETS,
            )
            corpus_band_index = read_table(spark, idx_table)

    todo = catalog.remaining(spark, batch_df, output_table)
    # the one persist on the job paths: the near-dup probe and the commit
    # both read the extraction output, which must not be extracted twice
    sized = _extract_sized(todo, n_partitions, context).persist()
    try:
        batch_in = batch_df.count()
        after_resume = sized.count()
        if after_resume == 0:
            metrics = dict(_NOTHING)
        else:
            keep = sized
            corpus = catalog.read_committed(spark, output_table)
            if corpus is not None:
                corpus_ok = corpus.filter(F.col("ok")).select("url", "text")
                new_ok = sized.filter(F.col("ok")).select("url", "text")
                matches = incremental_near_dups(
                    new_ok,
                    corpus_ok,
                    id_col="url",
                    text_col="text",
                    threshold=near_dup_threshold,
                    n_partitions=n_partitions,
                    corpus_band_index=corpus_band_index,
                )
                dup_urls = matches.select(
                    F.col("new_id").alias("url")
                ).distinct()
                keep = sized.join(dup_urls, "url", "left_anti")
            metrics, _ = _commit_with_lineage(keep, output_table)
        if band_index_path is not None:
            if corpus_band_index is None:
                # first build: index the FULL committed corpus (includes
                # this run's snapshot), so later refreshes probe everything
                committed = catalog.read_committed(spark, output_table)
                if committed is not None:
                    bands = with_minhash_bands(
                        committed.filter(F.col("ok")).select("url", "text"),
                        id_col="url",
                        n_partitions=n_partitions,
                    )
                    write_bucketed(
                        bands,
                        idx_table,
                        band_index_path,
                        _BAND_INDEX_KEYS,
                        _BAND_INDEX_BUCKETS,
                    )
            elif metrics["rows"] > 0:
                # incremental maintenance: only the committed batch's bands,
                # read back from its snapshot (re-deriving them from the
                # frame would re-run the near-dup probe)
                batch = catalog.read_snapshot(spark, output_table, metrics["snapshot"])
                bands = with_minhash_bands(
                    batch.filter(F.col("ok")).select("url", "text"),
                    id_col="url",
                    n_partitions=n_partitions,
                )
                append_bucketed(
                    bands,
                    idx_table,
                    band_index_path,
                    _BAND_INDEX_KEYS,
                    _BAND_INDEX_BUCKETS,
                )
        metrics.update(
            {
                "batch_in": batch_in,
                "already_committed": batch_in - after_resume,
                "near_dup_dropped": after_resume - metrics["rows"],
            }
        )
        return metrics
    finally:
        sized.unpersist()


def rerun_failed(
    spark: SparkSession,
    input_df: DataFrame,
    output_table: str,
    max_rounds: int = 3,
    n_partitions: int | None = None,
    context: ExtractContext | None = None,
) -> list[dict]:
    """V7 — bounded repair loop (reference main.py:321-337, :486-519):
    re-extract only the committed rows with ok=false (e.g. after a parser
    fix), as new snapshots, for at most ``max_rounds`` rounds. The frontier
    shrinks by a semi-join each round — the distributed form of the
    reference's retry-remaining set. A round that fixes every row it retried
    ends the loop: the next could only find no failed url in the input, or
    none at all.
    """
    metrics: list[dict] = []
    for _ in range(max_rounds):
        # LATEST state per url, not the union of all snapshots: a url
        # repaired in an earlier round still has its original ok=false row
        # in read_committed, which would re-extract it every round and
        # burn max_rounds without converging
        done = read_latest(spark, output_table)
        if done is None:
            break
        failed = done.filter(~F.col("ok")).select("url")
        if failed.isEmpty():
            break
        todo = input_df.join(failed, on="url", how="left_semi")
        # last-wins: newer snapshot rows supersede older ones for the same
        # url at read time via read_latest
        m, n_fixed = _commit_with_lineage(
            _extract_sized(todo, n_partitions, context), output_table
        )
        metrics.append({"snapshot": m["snapshot"], "retried": m["rows"], "fixed": n_fixed})
        if n_fixed in (0, m["rows"]):
            break  # no progress, or nothing left that this input can fix
    return metrics


def read_latest(spark: SparkSession, output_table: str) -> DataFrame | None:
    """Committed rows with last-wins per url across snapshots (repair rounds
    append newer rows for the same url; reference main.py:715-725 merge).

    Ordering comes from the ``_snapshot`` column the catalog writes at
    commit time — a table property that survives file moves/compaction,
    unlike the directory-name regex it replaces."""
    from pyspark.sql import Window

    done = catalog.read_committed(spark, output_table)
    if done is None:
        return None
    w = Window.partitionBy("url").orderBy(F.desc("_snapshot"))
    return (
        done.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_snapshot")
    )
