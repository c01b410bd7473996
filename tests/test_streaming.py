"""Structured Streaming equivalence: the same windowed aggregation computed
by readStream (file source, availableNow trigger, watermark) must match the
batch result — the engine's transformations are stream-agnostic."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def _events(spark):
    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                base + datetime.timedelta(minutes=i * 7 % 240),
                i % 5,
                ["click", "view", "buy"][i % 3],
                float(i % 11),
            )
        )
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_stream_batch_equivalence(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    events = _events(spark)
    events.write.mode("overwrite").parquet(src)

    def agg(df):
        return (
            df.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("v"),
            )
            .select(
                F.col("w.start").alias("ws"), "event_type", "n", "v"
            )
        )

    # batch result
    batch = {
        (r["ws"], r["event_type"]): (r["n"], r["v"])
        for r in agg(spark.read.parquet(src)).collect()
    }

    # streaming result: availableNow processes everything then stops.
    # complete-mode memory sink: append mode would hold back the windows at
    # the watermark frontier (they only emit when LATER data advances the
    # watermark), so final-window equivalence needs complete output.
    stream_df = spark.readStream.schema(events.schema).parquet(src)
    q = (
        agg(stream_df)
        .writeStream.format("memory")
        .queryName("agg_stream_eq")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["ws"], r["event_type"]): (r["n"], r["v"])
        for r in spark.table("agg_stream_eq").collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_ivf_topk_matches_bruteforce_with_full_probe(spark):
    from pdf_extractor_spark.operators.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    n_labels = e.select("label").distinct().count()

    brute = [r["vec_id"] for r in cosine_topk(e, qv, k=5).collect()]
    # probing ALL clusters must equal brute force exactly
    full = [r["vec_id"] for r in ivf_topk(e, qv, k=5, n_probe=n_labels).collect()]
    assert full == brute

    # probing 1 cluster: recall < 1 by construction — results are a valid
    # descending-similarity subset of the probed cluster
    one = ivf_topk(e, qv, k=5, n_probe=1).collect()
    sims = [r["cosine_sim"] for r in one]
    assert 0 < len(one) <= 5
    assert sims == sorted(sims, reverse=True)
    brute_sims = {r["vec_id"]: r["cosine_sim"] for r in cosine_topk(e, qv, k=500).collect()}
    assert all(abs(brute_sims[r["vec_id"]] - r["cosine_sim"]) < 1e-6 for r in one)


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """The flagship extraction transformation is stream-compatible: the same
    extract UDF over readStream produces byte-identical text per url."""
    from pdf_extractor_spark.fixtures.synth import synth_corpus
    from pdf_extractor_spark.pipeline import extract_documents

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    rows = [
        (r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["text"], r["lang"])
        for r in synth_corpus(60)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    df.write.mode("overwrite").parquet(src)

    batch = {
        r["url"]: r["text"]
        for r in extract_documents(spark.read.parquet(src)).select("url", "text").collect()
    }

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        extract_documents(stream)
        .select("url", "text", "ok")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert streamed == batch and len(streamed) == 60


def test_streaming_first_seen_dedup_matches_batch(spark, tmp_path):
    """The reference's upload cache (dedupe scan, src/pdf_uploader.py:25)
    in streaming form: watermarked dropDuplicates over readStream keeps
    exactly one row per url across micro-batches — same set as batch
    dropDuplicates, state bounded by the watermark."""
    import datetime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    base = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (f"https://h/{i % 40}", base + datetime.timedelta(minutes=i), i)
        for i in range(200)  # every url appears 5x
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, n long")
    df.write.mode("overwrite").parquet(src)

    batch = {r["url"] for r in spark.read.parquet(src).dropDuplicates(["url"]).collect()}

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream.withWatermark("warc_ts", "10 days")
        .dropDuplicates(["url"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = [r["url"] for r in spark.read.parquet(out).collect()]
    assert len(streamed) == len(set(streamed)) == 40
    assert set(streamed) == batch


def test_stream_extract_exactly_once_per_url(spark, tmp_path, foreach_batch):
    """run_extraction_job per foreachBatch micro-batch + catalog anti-join:
    every url is committed exactly once — across incremental waves AND
    across a forced epoch replay (the checkpoint is deleted, the stream
    reprocesses everything, and the catalog absorbs the replay with zero
    duplicate rows)."""
    import os
    import shutil

    from pdf_extractor_spark.extract.udfs import extract_one
    from pdf_extractor_spark.fixtures.synth import synth_corpus
    from pdf_extractor_spark.pipeline import run_extraction_job
    from pdf_extractor_spark.sources import catalog

    schema = "url string, warc_ts timestamp, html binary, lang string"
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    corpus = synth_corpus(40)

    def write_wave(rows):
        spark.createDataFrame(
            [
                (r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["lang"])
                for r in rows
            ],
            schema,
        ).write.mode("append").parquet(src)

    def run_stream():
        foreach_batch(src, schema, table, ckpt, run_extraction_job)

    write_wave(corpus[:25])
    run_stream()
    write_wave(corpus[25:])
    run_stream()

    done = catalog.read_committed(spark, table)
    counts = done.groupBy("url").count().collect()
    assert len(counts) == 40 and all(r["count"] == 1 for r in counts)

    # every micro-batch snapshot has lineage summing to its committed rows
    lineage_table = os.path.join(table, "_lineage")

    def lineage_docs():
        lineage = catalog.read_committed(spark, lineage_table)
        return {
            r["checkpoint_marker"]: r["docs"]
            for r in lineage.groupBy("checkpoint_marker")
            .agg(F.sum("doc_count").alias("docs"))
            .collect()
        }

    per_snapshot = {
        f"snap_{r['_snapshot']}": r["count"]
        for r in done.groupBy("_snapshot").count().collect()
    }
    assert lineage_docs() == per_snapshot

    # forced replay: drop the checkpoint -> the stream reprocesses ALL
    # input; the catalog anti-join must absorb it (no new rows, no dups,
    # no new snapshot, no new lineage)
    shutil.rmtree(ckpt)
    run_stream()
    done2 = catalog.read_committed(spark, table)
    counts2 = done2.groupBy("url").count().collect()
    assert len(counts2) == 40 and all(r["count"] == 1 for r in counts2)
    assert catalog.list_snapshots(spark, table).count() == len(per_snapshot)
    assert catalog.list_snapshots(spark, lineage_table).count() == len(per_snapshot)
    assert lineage_docs() == per_snapshot

    # and the committed text is the golden pure-function output
    goldens = {r["url"]: extract_one(r["html"])[0] for r in corpus}
    got = {r["url"]: r["text"] for r in done2.select("url", "text").collect()}
    assert got == goldens


def test_stream_dedup_within_watermark_matches_batch(spark, tmp_path):
    """At-least-once re-deliveries (identical rows re-sent in a later
    micro-batch) are dropped by dropDuplicatesWithinWatermark; the kept
    row set equals the batch dropDuplicates result. maxFilesPerTrigger=1
    forces the overlap into a DIFFERENT micro-batch, so the state store
    (not batch-local dedup) must do the work."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    events = _events(spark)
    first = events.filter(F.col("event_id") < 100)
    redelivered = events.filter(
        (F.col("event_id") >= 50) & (F.col("event_id") < 150)
    )
    first.coalesce(1).write.mode("overwrite").parquet(src)
    redelivered.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from dedup_sink").collect())
    )
    want = sorted(
        map(
            tuple,
            first.unionByName(redelivered).dropDuplicates(["event_id"]).collect(),
        )
    )
    assert got == want
    assert len(got) == 150  # 0..149 exactly once


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (clicks attributed to a 15-minute
    purchase window per user) must equal the batch inequality join — the
    streaming form of j_interval_attribution's semantics. Both sides carry
    watermarks + the event-time range condition Structured Streaming needs
    to bound join state; inner-join matches emit as they are found, so an
    availableNow pass over complete inputs yields exactly the batch rows."""
    events = _events(spark)
    clicks_src = str(tmp_path / "clicks")
    purch_src = str(tmp_path / "purchases")
    ckpt = str(tmp_path / "ckpt_ssj")
    clicks_b = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purch_b = events.filter(F.col("event_type") == "buy").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks_b.write.mode("overwrite").parquet(clicks_src)
    purch_b.write.mode("overwrite").parquet(purch_src)

    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            < F.col("purchase_ts") + F.expr("INTERVAL 15 MINUTES")
        )
    )
    batch = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(clicks_src)
        .join(spark.read.parquet(purch_src), cond)
        .select("click_id", "purchase_id")
        .collect()
    }
    assert len(batch) > 0  # fixture actually exercises the join

    cs = (
        spark.readStream.schema(clicks_b.schema)
        .parquet(clicks_src)
        .withWatermark("click_ts", "1 hour")
    )
    ps = (
        spark.readStream.schema(purch_b.schema)
        .parquet(purch_src)
        .withWatermark("purchase_ts", "1 hour")
    )
    q = (
        cs.join(ps, cond)
        .select("click_id", "purchase_id")
        .writeStream.format("memory")
        .queryName("ssj_eq")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["click_id"], r["purchase_id"])
        for r in spark.table("ssj_eq").collect()
    }
    assert streamed == batch


def test_stream_refresh_three_gates_and_replay(spark, tmp_path, foreach_batch):
    """Streaming refresh (run_refresh_job per foreachBatch micro-batch):
    per micro-batch the full three-gate refresh runs — wave 2's exact re-crawls resume away,
    its mirror docs (same content, new url) are dropped by the corpus
    near-dup probe against the maintained band index, fresh docs commit —
    and a forced epoch replay (checkpoint deleted) commits nothing new."""
    import shutil

    from pdf_extractor_spark.fixtures.synth import make_document_row
    from pdf_extractor_spark.pipeline import _band_index_table, run_refresh_job
    from pdf_extractor_spark.sources import catalog

    schema = "url string, warc_ts timestamp, html binary, lang string"
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "table" / "_band_index")

    def wave(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def row(i, url=None):
        r = make_document_row(i)
        return (url or r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["lang"])

    def run_stream():
        foreach_batch(
            src, schema, table, ckpt, run_refresh_job,
            n_partitions=4, band_index_path=idx,
        )

    try:
        wave([row(i) for i in range(25)])
        run_stream()
        # wave 2: 10 exact re-crawls + 3 mirrors of committed docs + 4 fresh
        wave(
            [row(i) for i in range(10)]
            + [row(i, url=f"https://mirror.example/s/{i}") for i in range(3)]
            + [row(i) for i in range(25, 29)]
        )
        run_stream()

        done = catalog.read_committed(spark, table)
        urls = {r["url"] for r in done.select("url").collect()}
        assert len(urls) == 29  # 25 + 4 fresh; mirrors dropped, re-crawls resumed
        assert not any(u.startswith("https://mirror.example/") for u in urls)

        # maintained index covers every committed ok doc
        n_ok = done.filter("ok").count()
        idx_ids = spark.table(_band_index_table(idx)).select("id").distinct().count()
        assert idx_ids == n_ok

        # forced replay: reprocess everything; catalog + dedup gates absorb it
        shutil.rmtree(ckpt)
        run_stream()
        done2 = catalog.read_committed(spark, table)
        counts = done2.groupBy("url").count().collect()
        assert len(counts) == 29 and all(r["count"] == 1 for r in counts)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_band_index_table(idx)}")
