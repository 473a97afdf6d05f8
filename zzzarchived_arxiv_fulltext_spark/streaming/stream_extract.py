"""Incremental extraction as a Structured Streaming job.

Spark restatement of the reference's Kinesis notification path
(``fulltext/agent/consumer.py:115-145``): new span-table files arrive
in a landing directory, a file-source stream picks them up, and
``foreachBatch`` runs the SAME batch extraction + snapshot commit per
micro-batch. Exactly-once visibility comes from the same two
mechanisms as the batch job: the anti-join against committed output
(work dedup, at-least-once safe) and the atomic snapshot manifest.

The reference's external Kinesis checkpoint volume
(``fulltext/config.py:295-296``) maps to the Spark streaming
checkpoint directory; the 0.2s/record throttle disappears (batch
backpressure is native).
"""

from typing import Optional

from pyspark.sql import SparkSession

from ..materialize import reuse
from ..plans.extraction_job import run_extraction
from ..schema import INPUT_SCHEMA
from ..sources.tables import SnapshotTable


def run_streaming_extraction(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    output_table: SnapshotTable,
    lineage_table: Optional[SnapshotTable] = None,
    parallelism: Optional[int] = None,
    available_now: bool = True,
):
    """Start (and by default drain) the streaming extraction.

    ``available_now=True`` processes everything currently in the
    landing dir then stops — the batch-incremental mode the north rule
    needs; ``False`` leaves a continuous stream running and returns
    the StreamingQuery handle.
    """
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_extraction(
            spark,
            batch_df,
            output_table,
            lineage_table=lineage_table,
            parallelism=parallelism,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()


def run_streaming_crawl(
    spark,
    frontier_landing: str,
    checkpoint_dir: str,
    fetch_log,
    spans_table,
    schema: str = "url string, score double",
    fetcher=None,
    blocklist=None,
    per_host_per_batch: int = 1,
    max_batches=None,
    host_delay: float = 0.0,
    available_now: bool = True,
):
    """Standing crawl service: frontier files land in a directory,
    each micro-batch runs one polite crawl cycle
    (``plans/crawl_cycle.run_crawl_cycle``) — skip-if-fetched against
    the committed log, blocklist, politeness scheduling, fetch,
    format routing — with the batch id as the idempotency stamp.

    The committed fetch log is what makes the stream correct across
    restarts: a URL fetched in any earlier batch (or earlier stream
    incarnation) anti-joins away, so re-delivered frontier files cost
    one scan, not one refetch. Exactly-once table state follows from
    the cycle's dual-table stamping, same as every other service in
    this package.
    """
    from ..plans.crawl_cycle import run_crawl_cycle

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(frontier_landing)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_crawl_cycle(
            spark, reuse(batch_df),
            fetch_log, spans_table,
            blocklist=blocklist,
            per_host_per_batch=per_host_per_batch,
            max_batches=max_batches,
            fetcher=fetcher, host_delay=host_delay,
            commit_meta={"stream_batch_id": batch_id},
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()
