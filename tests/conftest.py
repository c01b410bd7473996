from __future__ import annotations

import pytest

from pdf_extractor_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="pdf_extractor_spark-tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def foreach_batch(spark):
    """Drive a batch job path from Structured Streaming: stream the
    parquet files under ``src`` and run ``job(spark, batch_df, table,
    **kwargs)`` on each micro-batch (deduplicated by url) in a
    ``foreachBatch`` sink, until the backlog is drained. A deleted
    checkpoint replays every epoch, which the job's resume anti-join must
    absorb."""

    def run(src, schema, table, checkpoint, job, **kwargs):
        def commit(batch_df, epoch_id):
            job(batch_df.sparkSession, batch_df.dropDuplicates(["url"]), table, **kwargs)

        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    return run
