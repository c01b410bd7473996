"""Scale-posture tests: physical-plan hygiene + host-skew spread.

These assert properties of the PLAN, not just results — at 100 TB the plan
is the product: column pruning must keep the html binary column out of
metadata-only scans, filters must reach the parquet reader, the hot path
must contain exactly one Arrow Python stage, and the url-keyed exchange must
flatten Zipf-host compute skew without a pre-pass action.
"""

from __future__ import annotations

import os
import statistics

import pytest

from pyspark.sql import functions as F

from pdf_extractor_spark.pipeline import (
    extract_documents,
    read_latest,
    run_extraction_job,
)
from pdf_extractor_spark.plans.partitioning import heavy_hosts
from pdf_extractor_spark.sources import catalog


@pytest.fixture(scope="module")
def doc_parquet(spark, tmp_path_factory):
    """Small parquet table with a heavily skewed host distribution:
    ~70% of urls on host0, the rest spread over 20 hosts."""
    path = str(tmp_path_factory.mktemp("docs") / "t")
    rows = []
    for i in range(2000):
        host = "host0" if i % 10 < 7 else f"host{1 + i % 20}"
        rows.append(
            (f"https://{host}.example/d/{i}", b"<p>%b</p>" % (b"word " * 40), "en")
        )
    spark.createDataFrame(rows, "url string, html binary, lang string").write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def committed_table(spark, doc_parquet, tmp_path_factory):
    """A table with one snapshot and its lineage, committed by the job."""
    table = str(tmp_path_factory.mktemp("committed") / "out")
    df = spark.read.parquet(doc_parquet).limit(200)
    assert run_extraction_job(spark, df, table, n_partitions=4)["rows"] == 200
    return table


def _jobs_run(spark, group: str, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_excludes_html(spark, doc_parquet):
    """A metadata-only query must never read the (100 TB) html column."""
    df = spark.read.parquet(doc_parquet).groupBy("lang").count()
    plan = _explain(df)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" not in read_schema
    assert "lang" in read_schema


def test_filter_pushdown_reaches_scan(spark, doc_parquet):
    df = spark.read.parquet(doc_parquet).filter(F.col("lang") == "en").select("url")
    plan = _explain(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0]


def test_extract_plan_single_arrow_stage(spark, doc_parquet):
    """Hot path: exactly one ArrowEvalPython, zero row-at-a-time Python."""
    import re

    df = extract_documents(spark.read.parquet(doc_parquet), n_partitions=8)
    plan = _explain(df)
    # formatted explain lists each node once in the tree and once in the
    # details — count unique node ids
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # one shuffle only
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF marker


def test_heavy_host_detection(spark, doc_parquet):
    df = spark.read.parquet(doc_parquet)
    heavy = heavy_hosts(df, fraction=0.3)
    assert heavy == ["host0.example"]


def test_url_exchange_flattens_host_skew(spark, doc_parquet):
    """The UDF stage's url-keyed exchange spreads a host holding 70% of the
    rows as evenly as any other url set; a host-keyed one does not."""
    df = spark.read.parquet(doc_parquet)
    n_parts = 16

    def partition_counts(frame):
        rows = (
            frame.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return [r["count"] for r in rows]

    # host-partitioned (what a naive host-keyed layout would do): one
    # partition holds ~70% of all rows
    naive = df.repartition(n_parts, F.parse_url("url", F.lit("HOST")))
    naive_counts = partition_counts(naive)

    url_counts = partition_counts(extract_documents(df, n_partitions=n_parts))

    assert max(naive_counts) > 0.6 * 2000
    assert max(url_counts) < 0.25 * 2000
    # the url-keyed spread is reasonably even: max within 3x mean
    assert max(url_counts) < 3 * statistics.mean(url_counts)


def test_building_extraction_frame_runs_no_job(spark, doc_parquet):
    """extract_documents is a pure plan: no heavy-host count or collect (or
    any other action) runs before the caller's write."""
    df = spark.read.parquet(doc_parquet)

    def build():
        extract_documents(df, n_partitions=8)

    assert _jobs_run(spark, "extract-documents-plan-only", build) == []


def test_reading_engine_written_tables_runs_no_job(spark, committed_table):
    """The commit marker records the schema written, so reading a table the
    engine committed opens no Parquet footer: no schema inference job."""
    table = committed_table
    lineage = os.path.join(table, "_lineage")
    reads = {
        "read-committed": lambda: catalog.read_committed(spark, table),
        "read-committed-lineage": lambda: catalog.read_committed(spark, lineage),
        "read-snapshot": lambda: catalog.read_snapshot(spark, table, 1),
        "read-snapshot-lineage": lambda: catalog.read_snapshot(spark, lineage, 1),
        "read-latest": lambda: read_latest(spark, table),
    }
    for group, read in reads.items():
        assert _jobs_run(spark, group, read) == [], group
    # the recorded schema is the one inference reads from the files
    for path in (table, lineage):
        inferred = spark.read.parquet(os.path.join(path, "snap_1")).schema
        assert catalog.read_committed(spark, path).schema == inferred


def test_resume_anti_join_reads_committed_urls_without_aggregate(
    spark, doc_parquet, committed_table
):
    """A left-anti join ignores duplicate keys: the committed side needs no
    distinct, whose partial and final aggregates and exchange ran over every
    committed url on each resume."""
    todo = catalog.remaining(spark, spark.read.parquet(doc_parquet), committed_table)
    plan = _explain(todo)
    assert "LeftAnti" in plan
    assert "HashAggregate" not in plan


def test_star_join_broadcasts_dims(spark):
    """q5's nation/region dims must be broadcast — no shuffle for dim sides."""
    import re

    from pdf_extractor_spark.queries import all_queries

    df = all_queries()["q5_nation_volume"](spark, "/root/testdata/sf0.001")
    plan = _explain(df)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2
    # fact-side joins may be SMJ/shuffled-hash; dims must never be
    assert "BroadcastExchange" in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Arguments lines of Window nodes with NO partition spec.

    A formatted Window detail prints only the NON-empty spec groups:
    ``[funcs], [partSpec], [orderSpec]`` when both are set, but just TWO
    groups when one is empty — and the two-group forms are only
    distinguishable by content (order-spec entries carry ``ASC``/``DESC``,
    partition columns never do; verified empirically on Spark 4.1).
    Unpartitioned = the order-only form (it executes on a SinglePartition
    exchange, serializing the whole input on one task) or a window with
    neither spec.
    """
    bad, lines = [], plan.splitlines()
    import re

    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) Window", ln.strip()):
            for detail in lines[i + 1 : i + 8]:
                if detail.startswith("Arguments:"):
                    groups = detail.count("], [") + 1
                    if groups < 2:
                        bad.append(detail)
                    elif groups == 2:
                        tail = detail[detail.rindex("], [") + 2 :]
                        if " ASC" in tail or " DESC" in tail:
                            bad.append(detail)  # order-only: SinglePartition
                    break
    return bad


def _filter_conditions(plan: str) -> list[str]:
    """The ``Condition :`` detail line of every Filter node in a formatted
    plan (node header ``(n) Filter``, condition on a following line)."""
    import re

    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) Filter.*", ln.strip()):
            for detail in lines[i + 1 : i + 6]:
                if detail.strip().startswith("Condition :"):
                    out.append(detail)
                    break
    return out


def test_all_queries_plan_hygiene(spark):
    """Every contract query must plan without cartesian products,
    row-at-a-time Python, or unpartitioned windows — the three scale
    killers — and no Filter condition may contain an array-regex
    extraction over a payload column: that is the
    InferFiltersFromGenerate signature (the inferred size(arr)>0 guard
    re-evaluating the whole staged document-scale expression per row in
    the scan stage — the u_outlinks regression class; explode the
    expression inline instead, which suppresses the inferred filter).
    Cheap per-row HOF lambdas and deliberate scan-side regex keep-filters
    are fine and deliberately not flagged."""
    from pdf_extractor_spark.queries import all_queries

    for name, fn in all_queries().items():
        plan = _explain(fn(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert not _unpartitioned_windows(plan), name
        for cond in _filter_conditions(plan):
            # deliberate scan-side feature filters (quality-weighted keep)
            # legitimately regex — even size(regexp_extract_all(..)) as a
            # stopword count — inside the Filter; the inferred generator
            # guard uniquely null-checks the ARRAY extraction itself
            assert "isnotnull(regexp_extract_all(" not in cond, (
                name,
                cond[:200],
            )


def test_pack_sequences_window_is_sharded(spark):
    """m_pack_sequences must never window-partition by lang alone — with a
    handful of language values that is one task per language owning the whole
    stream. Every Window's partition spec must carry the range-shard column
    alongside lang (two-level prefix sum + broadcast offsets)."""
    import re

    from pdf_extractor_spark.queries import all_queries

    df = all_queries()["m_pack_sequences"](spark, "/root/testdata/sf0.001")
    plan = _explain(df)
    lines = plan.splitlines()
    n_windows = 0
    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) Window", ln.strip()):
            n_windows += 1
            detail = next(
                d for d in lines[i + 1 : i + 8] if d.startswith("Arguments:")
            )
            m = re.search(r"\], \[(.*?)\], \[", detail)
            assert m is not None, detail
            part_spec = m.group(1)
            assert "_shard" in part_spec, detail
    assert n_windows >= 1  # the prefix-sum window exists and is sharded


def test_pack_sequences_matches_single_window_form(spark):
    """The sharded two-level prefix sum must be value-identical to the naive
    single-window-per-language form on the same input."""
    from pyspark.sql import Window

    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in all_queries()["m_pack_sequences"](spark, sf).collect()
    }
    d = spark.read.parquet(f"{sf}/documents.parquet")
    meta = d.select(
        "doc_id", "lang", F.size(word_tokens(F.col("text"))).alias("n")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n").over(w), F.lit(0))
    want = {
        r["doc_id"]: (r["n"], r["seq_id"], r["seq_offset"])
        for r in meta.select(
            "doc_id",
            F.col("n").cast("bigint").alias("n"),
            F.floor(cum / 2048).cast("bigint").alias("seq_id"),
            (cum % 2048).cast("bigint").alias("seq_offset"),
        ).collect()
    }
    assert got == want


def test_salted_output_identical(spark, doc_parquet):
    """Salting changes placement, never results."""
    df = spark.read.parquet(doc_parquet)
    plain = {
        r["url"]: r["text"]
        for r in extract_documents(df).select("url", "text").collect()
    }
    salted = {
        r["url"]: r["text"]
        for r in extract_documents(df, n_partitions=16)
        .select("url", "text")
        .collect()
    }
    assert plain == salted


def test_bucketed_anti_join_is_shuffle_free(spark, tmp_path):
    """SCALE.md §3: with both sides bucketed by url, the resume anti-join is
    a storage-partitioned join — NO Exchange of the (100 TB) input side.
    This is the plan the Iceberg `bucket(4096, url)` layout buys; here the
    session-catalog bucketed parquet tables stand in."""
    import re

    from pyspark.sql import functions as F

    inp = spark.range(0, 1000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
        F.col("id").alias("payload"),
    )
    done = spark.range(0, 600).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url")
    )
    spark.sql("DROP TABLE IF EXISTS t_bucket_in")
    spark.sql("DROP TABLE IF EXISTS t_bucket_done")
    inp.write.bucketBy(8, "url").sortBy("url").mode("overwrite").saveAsTable(
        "t_bucket_in"
    )
    done.write.bucketBy(8, "url").sortBy("url").mode("overwrite").saveAsTable(
        "t_bucket_done"
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at 100 TB neither side broadcasts; force the non-broadcast path so
        # the plan proves bucketing (not broadcast) eliminates the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        remaining = spark.table("t_bucket_in").join(
            spark.table("t_bucket_done"), "url", "left_anti"
        )
        plan = remaining._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # bucketing replaces the shuffle
        assert "SortMergeJoin" in plan
        assert remaining.count() == 400
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_bucket_in")
        spark.sql("DROP TABLE IF EXISTS t_bucket_done")


def test_ann_bucket_layout_partition_prunes(spark, tmp_path):
    """similarity.py's scale claim, proven on disk: write the embedding
    table partitioned by srp_bucket and an ANN probe becomes a
    partition-pruned scan (PartitionFilters carries the bucket equality;
    only the probe bucket's files are read), with results identical to the
    unpartitioned filter."""
    from pdf_extractor_spark.operators.similarity import (
        cosine,
        hyperplanes,
        srp_bucket,
    )

    dim, n_planes = 8, 4
    planes = hyperplanes(n_planes, dim)
    # deterministic vectors from md5 nibbles (engine-agnostic, no RNG)
    df = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    (
                        F.position(
                            F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(f"_{d}"))), 1, 1),
                            F.lit("0123456789abcdef"),
                        )
                        - 1
                    ).cast("double")
                    / 7.5
                    - 1.0
                )
                for d in range(dim)
            ]
        ).alias("embedding"),
    )
    keyed = df.withColumn("bucket", srp_bucket(F.col("embedding"), planes))
    path = str(tmp_path / "emb_by_bucket")
    keyed.write.partitionBy("bucket").parquet(path)

    probe = keyed.filter(F.col("vec_id") == 7).select("bucket").first()["bucket"]
    scan = spark.read.parquet(path).filter(F.col("bucket") == probe)
    plan = _explain(scan)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bucket" in pf[0] and str(probe) in pf[0], plan

    qv = [0.9] * dim
    q = F.array(*[F.lit(float(x)) for x in qv])
    pruned = {
        r["vec_id"]: r["c"]
        for r in scan.select("vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("c")).collect()
    }
    unpruned = {
        r["vec_id"]: r["c"]
        for r in keyed.filter(F.col("bucket") == probe)
        .select("vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("c"))
        .collect()
    }
    assert pruned == unpruned and len(pruned) > 0


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The LSH/host skew story's runtime backstop, evidenced: a join whose
    shuffle has one dominant key partition gets split by AQE's skew-join
    handling (SortMergeJoin(skew=true) over an 'coalesced and skewed'
    AQEShuffleRead in the FINAL adaptive plan), with unchanged results."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # 90% of rows on key 0 — the degenerate-host shape
        big = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit("d").alias("attr")
        )
        j = big.join(dim, "k")
        rows = j.collect()  # execute j's own queryExecution -> final plan
        assert len(rows) == 300000  # every big row matches exactly one dim
        plan = _explain(j)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "coalesced and skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_skew_guards_end_to_end(spark, tmp_path):
    """SCALE.md §4's two skew claims, exercised on a 100×-shape corpus in one
    test: (a) an LSH bucket above max_bucket is dropped WITHOUT losing the
    capped docs' recall through their other bands; (b) a single host holding
    most of the corpus still yields bounded per-partition lineage doc-count
    spread through the real extraction job (salting flattens the Zipf head)."""
    import statistics

    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs
    from pdf_extractor_spark.fixtures.synth import make_document_row
    from pdf_extractor_spark.pipeline import run_extraction_job
    from pdf_extractor_spark.sources import catalog

    # --- (a) hot-bucket cap preserves other-band recall ---------------------
    boiler = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the quiet town square " * 3
    )
    near = boiler.replace("lazy", "sleepy")  # differs from boiler in band 0 only
    rows = [(i, boiler) for i in range(30)] + [(100, near), (101, near)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = minhash_lsh_pairs(df, k=4, bands=2, shingle_n=2)
    assert uncapped.count() >= 30 * 29 // 2  # degenerate clique dominates

    capped = minhash_lsh_pairs(df, k=4, bands=2, shingle_n=2, max_bucket=8)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 30-clone buckets (>max_bucket in EVERY band) are gone...
    assert not any(a < 30 and b < 30 for a, b in pairs)
    # ...but the capped docs still pair through their non-hot band
    assert (100, 101) in pairs

    # --- (b) heavy-host salting bounds lineage spread -----------------------
    n_docs, n_parts = 240, 16
    doc_rows = []
    for i in range(n_docs):
        r = make_document_row(i)
        r["warc_ts"] = r["warc_ts"].replace(tzinfo=None)
        if i % 10 < 6:  # one host owns 60% of the corpus
            r["url"] = f"https://megahost.example/page/{i}"
        doc_rows.append((r["url"], r["warc_ts"], r["html"], r["lang"]))
    inp = spark.createDataFrame(
        doc_rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    table = str(tmp_path / "skew_out")
    metrics = run_extraction_job(spark, inp, table, n_partitions=n_parts)
    assert metrics["rows"] == n_docs

    lineage = catalog.read_committed(spark, str(tmp_path / "skew_out" / "_lineage"))
    counts = [r["doc_count"] for r in lineage.collect()]
    assert sum(counts) == n_docs
    # without salting the heavy host would serialize ~60% of rows onto one
    # partition; with it no partition holds a host-sized share and the
    # spread stays within 3x the mean
    assert max(counts) < 0.25 * n_docs
    assert max(counts) < 3 * statistics.mean(counts)


def test_no_inlined_lambda_in_filters(spark, tmp_path):
    """Pin the InferFiltersFromGenerate fix: Catalyst plants size(arr)>0
    filters under explode-of-attribute and predicate pushdown re-inlines
    the array expression into them below the staging exchange. With an
    index-lambda array build that filter re-evaluates the array per
    ELEMENT (O(len²) per document in the scan stage — the measured 9s ->
    1.1s trigram regression). The builders are now inlining-proof
    (zip_with over shifted slices) and the explodes are inline, so NO
    Filter node in these pipelines may contain a higher-order-function
    lambda."""
    import re

    from pdf_extractor_spark.operators.dedup import with_minhash_bands
    from pdf_extractor_spark.operators.textstats import (
        char_trigrams_from_chars,
        char_trigrams_from_norm,
        trigram_typicality_df,
    )

    path = str(tmp_path / "docs")
    spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some words repeated here "), F.col("id")).alias("text"),
    ).write.mode("overwrite").parquet(path)
    d = spark.read.parquet(path)

    for df in (
        trigram_typicality_df(d, n_partitions=4),
        with_minhash_bands(d, n_partitions=4),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        offenders = [
            ln
            for ln in plan.splitlines()
            if re.search(r"\bFilter\b", ln) and "lambdafunction" in ln
        ]
        assert not offenders, offenders

    # semantics: the inlining-proof char-array form == the substring form
    probe = spark.createDataFrame(
        [("",), ("ab",), ("abc",), ("hello world",), ("héllo wörld ünïcode",)],
        "s string",
    ).select(
        F.split(F.lower("s"), "").alias("_ch"), F.lower("s").alias("_txt")
    )
    rows = probe.select(
        char_trigrams_from_chars(F.col("_ch")).alias("a"),
        char_trigrams_from_norm(F.col("_txt")).alias("b"),
    ).collect()
    for r in rows:
        assert r["a"] == r["b"], (r["a"], r["b"])


def test_curriculum_order_windows_are_bucket_sharded(spark):
    """m_curriculum_order's engine plan may contain NO unpartitioned (global)
    window and no lang-only window: its one Window must partition by
    (lang, _bk) — the interleave position is closed-form arithmetic, not a
    second ranking pass (operators/sampling.curriculum_interleave)."""
    import re

    from pdf_extractor_spark.queries import all_queries

    df = all_queries()["m_curriculum_order"](spark, "/root/testdata/sf0.001")
    plan = _explain(df)
    lines = plan.splitlines()
    n_windows = 0
    for i, ln in enumerate(lines):
        if re.fullmatch(r"\(\d+\) Window", ln.strip()):
            n_windows += 1
            detail = next(
                d for d in lines[i + 1 : i + 8] if d.startswith("Arguments:")
            )
            m = re.search(r"\], \[(.*?)\], \[", detail)
            assert m is not None, detail
            part_spec = m.group(1)
            assert "_bk" in part_spec and "lang" in part_spec, detail
    assert n_windows == 1  # the within-(lang,bucket) rank; nothing global
