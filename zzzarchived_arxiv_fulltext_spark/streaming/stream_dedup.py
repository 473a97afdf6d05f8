"""Streaming exact deduplication: first-seen-wins on content hash.

The streaming twin of ``operators/dedup.drop_exact_duplicates`` for a
continuously-arriving corpus: new documents stream in, and only the
FIRST document with each content hash passes through. State is
bounded by the event-time watermark (``dropDuplicatesWithinWatermark``
evicts hashes older than the watermark), so the operator runs forever
without unbounded state — the correct trade for web-scale feeds, where
re-crawls of the same content cluster in time.

Exactly-once output comes from the streaming checkpoint (offsets +
dedup state) plus the idempotent file sink.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..schema import INPUT_SCHEMA
from ..sources.tables import SnapshotTable, Wave
from . import drain


def dedup_stream(stream_df: DataFrame, text_col: str = "text",
                 ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """First document per content hash within the watermark window."""
    return (
        stream_df
        .withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def run_streaming_dedup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema=None,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """Drain the landing dir through the dedup into a parquet sink."""
    stream = (
        spark.readStream.schema(schema or INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )
    deduped = dedup_stream(stream, text_col=text_col, ts_col=ts_col,
                           watermark=watermark)
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()


def run_streaming_near_dedup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    corpus_table: SnapshotTable,
    bucket_table: SnapshotTable,
    pairs_table: SnapshotTable,
    schema: str = "doc_id long, text string",
    threshold: float = 0.7,
    available_now: bool = True,
):
    """Standing NEAR-duplicate service: each micro-batch of documents
    is deduped against all previously seen documents via the committed
    bucket index (``plans/incremental_dedup``), then appended to the
    corpus — so detection cost per batch is O(batch + candidates),
    never O(history). Restarts resume from the stream checkpoint and
    the committed tables together.

    Exactly-once under replay: each micro-batch's bucket, pair and
    corpus appends are one wave stamped with the batch id
    (``stream_batch_id``). A replayed batch whose wave committed is
    skipped; a crashed one left nothing visible, so it reruns against
    the same history.
    """
    from ..plans.incremental_dedup import run_dedup_incremental

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        wave = Wave({"stream_batch_id": batch_id})
        if wave.committed(corpus_table) or batch_df.isEmpty():
            return
        batch_df = reuse(batch_df)
        history = corpus_table.read(spark, batch_df.schema)
        run_dedup_incremental(
            spark, batch_df,
            corpus=history.unionByName(batch_df),
            bucket_table=bucket_table,
            pairs_table=pairs_table,
            threshold=threshold,
            wave=wave,
        )
        wave.append(corpus_table, batch_df)
        wave.commit()

    return drain(stream, process_batch, checkpoint_dir, available_now)


def run_streaming_line_dedup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    index_table: SnapshotTable,
    output_table: SnapshotTable,
    schema: str = "doc_id long, text string",
    min_chars: int = 1,
    available_now: bool = True,
):
    """Standing GLOBAL line dedup service: each micro-batch's lines
    dedup against the committed keeper index
    (``plans/incremental_line_dedup``) and the cleaned documents
    append to ``output_table`` — C4-style boilerplate-line removal as
    a stream, O(batch + index-join) per trigger, never O(history).

    Exactly-once under replay: the keeper-index and output appends
    are one wave stamped with the micro-batch id; a committed batch
    is skipped on replay, and a crashed one left no keepers that
    could classify its own lines as duplicates.
    """
    from ..plans.incremental_line_dedup import run_line_dedup_increment

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        wave = Wave({"stream_batch_id": batch_id})
        if wave.committed(output_table) or batch_df.isEmpty():
            return
        out = run_line_dedup_increment(
            spark, reuse(batch_df), index_table,
            min_chars=min_chars, wave=wave)
        wave.append(output_table, out)
        wave.commit()

    return drain(stream, process_batch, checkpoint_dir, available_now)


def run_streaming_semdedup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    index_table: SnapshotTable,
    pairs_table: SnapshotTable,
    centroids,
    schema: str = "vec_id long, embedding array<double>",
    threshold: float = 0.95,
    available_now: bool = True,
):
    """Standing SEMANTIC near-duplicate service over an embedding
    stream: each micro-batch is assigned to the fixed k-means
    centroids and paired against itself plus the committed cluster
    index (``plans/incremental_semdedup``) — per-batch cost is
    O(batch + same-cluster candidates), never O(history).

    Same exactly-once contract as the other dedup services: the index
    and pair appends are one wave per micro-batch. Centroids
    are FIXED for the stream's lifetime (train via
    ``plans/ivf_index.ensure_centroids`` and restart the stream to
    rotate them — mixing centroid generations would silently split
    clusters and lose history pairs).
    """
    from ..plans.incremental_semdedup import run_semdedup_incremental

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        wave = Wave({"stream_batch_id": batch_id})
        if wave.committed(index_table) or batch_df.isEmpty():
            return
        wave.append(pairs_table, run_semdedup_incremental(
            spark, batch_df, index_table, centroids,
            threshold=threshold, wave=wave))
        wave.commit()

    return drain(stream, process_batch, checkpoint_dir, available_now)
