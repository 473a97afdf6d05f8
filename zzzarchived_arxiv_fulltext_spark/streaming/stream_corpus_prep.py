"""Standing streaming corpus-prep service: the full training-data
funnel (quality → language → exact dedup → near dedup → redact →
split) applied to a continuously-arriving document stream, with every
stage deduplicating against ALL history through committed indexes —
never a rescan.

Per micro-batch:

1. quality + language gates — the same column expressions as the
   batch funnel (``plans/corpus_prep.py``), pure projections;
2. exact dedup: first-seen-wins WITHIN the batch (hash window), then
   an anti-join against the committed content-hash index — O(batch);
3. near dedup: ``plans/incremental_dedup.run_dedup_incremental``
   against the committed LSH bucket index — O(batch + candidates);
   the text of historical candidates is served by the ``seen`` table
   (every exact-surviving doc, INCLUDING near-dup-dropped ones, so a
   future doc matching an already-dropped near-duplicate still drops
   — identical semantics to the batch funnel);
4. survivors are PII-redacted, hash-split, and appended to the corpus
   snapshot table; the per-document funnel rows append alongside.

Exactly-once under replay: every append carries the micro-batch id in
its snapshot metadata and a replayed batch skips appends whose stamp
is already committed (the idempotent-foreachBatch pattern shared with
``run_streaming_near_dedup``).

Steady-state cost per batch: O(|batch| + candidates) — history is
touched only via the hash index (column-pruned), the bucket index,
and per-candidate text lookups.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..operators.redact import redact_text
from ..operators.sampling import hash_split
from ..plans.corpus_prep import (
    DEFAULT_SPLITS,
    STAGE_EXACT,
    STAGE_LANG,
    STAGE_NEAR,
    STAGE_QUALITY,
    bad_lang_expr,
    bad_quality_expr,
    first_seen_rank,
    with_quality_stats,
)
from ..plans.incremental_dedup import run_dedup_incremental
from ..sources.tables import SnapshotTable

HASH_SCHEMA = "h string"


def _seen_schema(batch_df: DataFrame) -> str:
    """Seen-table schema with doc_id typed as the STREAM types it —
    a forced ``doc_id long`` read breaks string-keyed feeds the same
    way the soak's bucket-index mismatch did (incremental_dedup
    lesson)."""
    id_type = batch_df.schema["doc_id"].dataType.simpleString()
    return f"doc_id {id_type}, text string"


def run_streaming_corpus_prep(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    corpus_table: SnapshotTable,
    funnel_table: SnapshotTable,
    hash_table: SnapshotTable,
    seen_table: SnapshotTable,
    bucket_table: SnapshotTable,
    pairs_table: Optional[SnapshotTable] = None,
    schema: str = "doc_id long, text string, lang string",
    min_tokens: int = 25,
    max_avg_token_len: float = 6.0,
    keep_langs: tuple = ("en",),
    near_threshold: float = 0.4,
    num_hashes: int = 8,
    bands: int = 4,
    splits: Optional[dict] = None,
    available_now: bool = True,
):
    """Drain ``landing_dir`` through the full corpus-prep funnel.

    With monotonically-increasing doc_ids across batches (the normal
    append-only feed), the kept set equals the batch funnel run on
    the concatenated input.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if corpus_table.has_meta("stream_batch_id", batch_id):
            return  # full replay of an already-committed batch
        if batch_df.isEmpty():
            return
        meta = {"stream_batch_id": batch_id}
        batch_df = reuse(batch_df)

        base = with_quality_stats(batch_df)
        bad_quality = bad_quality_expr(min_tokens, max_avg_token_len)
        d_quality = base.where(bad_quality).select(
            "doc_id", F.lit(STAGE_QUALITY).alias("stage"))
        s1 = base.where(~bad_quality)

        bad_lang = bad_lang_expr(keep_langs)
        d_lang = s1.where(bad_lang).select(
            "doc_id", F.lit(STAGE_LANG).alias("stage"))
        s2 = s1.where(~bad_lang)

        # exact dedup: first-seen WITHIN the batch, then vs history.
        # History is read EXCLUDING this batch's own stamp: a replay
        # of a partially-committed batch (crash after the hash append,
        # before the corpus append) must classify against history as
        # it stood BEFORE the failed attempt — otherwise its own prior
        # append makes every doc an "exact dup" and the replay commits
        # an empty corpus snapshot (silent data loss).
        s2r = s2.withColumn("_rn", first_seen_rank()) \
            .withColumn("_h", F.md5("text"))
        hist_hashes = (
            hash_table.read_excluding_meta(spark, meta,
                                           schema=HASH_SCHEMA)
            if hash_table.snapshots()
            else spark.createDataFrame([], HASH_SCHEMA)
        ).withColumnRenamed("h", "_h")
        dup_in_hist = s2r.join(hist_hashes, on="_h", how="left_semi")
        d_exact = s2r.where(F.col("_rn") > 1).unionByName(
            s2r.where(F.col("_rn") == 1).join(
                dup_in_hist.select("doc_id"), on="doc_id",
                how="left_semi")
        ).select("doc_id", F.lit(STAGE_EXACT).alias("stage")).distinct()
        s3 = reuse(
            s2r.where(F.col("_rn") == 1)
            .join(hist_hashes, on="_h", how="left_anti")
            .select("doc_id", "text", "lang", "_h")
        )

        # near dedup vs self + the committed bucket index; candidate
        # text lookups come from the SEEN table (exact survivors of
        # all prior batches, including near-dropped ones), read
        # excluding this batch's own stamp for the same replay reason
        history_text = (
            seen_table.read_excluding_meta(spark, meta,
                                           schema=_seen_schema(batch_df))
            if seen_table.snapshots()
            else s3.select("doc_id", "text").limit(0)
        )
        pairs = run_dedup_incremental(
            spark, s3.select("doc_id", "text"),
            corpus=history_text.unionByName(s3.select("doc_id", "text")),
            bucket_table=bucket_table,
            pairs_table=pairs_table,
            threshold=near_threshold,
            num_hashes=num_hashes,
            bands=bands,
            commit_meta=meta,
        )
        # first-seen-wins orientation: a batch doc matching HISTORY is
        # dropped regardless of id order (pairs are (min,max) by id,
        # so with id reuse / multi-source feeds the new doc can be
        # id_a); within the batch the larger id drops.
        new_ids = reuse(s3.select(F.col("doc_id").alias("_nid")))
        na = new_ids.select(F.col("_nid").alias("_a_nid"),
                            F.lit(True).alias("_a_new"))
        nb = new_ids.select(F.col("_nid").alias("_b_nid"),
                            F.lit(True).alias("_b_new"))
        marked = (
            pairs
            .join(na, pairs["id_a"] == na["_a_nid"], "left")
            .join(nb, pairs["id_b"] == nb["_b_nid"], "left")
        )
        a_new = F.coalesce(F.col("_a_new"), F.lit(False))
        b_new = F.coalesce(F.col("_b_new"), F.lit(False))
        near_ids = (
            marked.select(
                F.when(a_new & ~b_new, F.col("id_a"))
                .otherwise(F.col("id_b")).alias("doc_id"))
            .distinct()
        )
        d_near = s3.join(near_ids, on="doc_id", how="left_semi").select(
            "doc_id", F.lit(STAGE_NEAR).alias("stage"))
        s4 = s3.join(near_ids, on="doc_id", how="left_anti")

        kept = hash_split(s4, splits or DEFAULT_SPLITS)
        funnel = (
            d_quality.unionByName(d_lang).unionByName(d_exact)
            .unionByName(d_near)
            .unionByName(kept.select(
                "doc_id",
                F.concat(F.lit("kept_"), F.col("split")).alias("stage")))
        )

        out = kept.select(
            "doc_id", redact_text(F.col("text")).alias("text"),
            "lang", "split")
        if not funnel_table.has_meta("stream_batch_id", batch_id):
            funnel_table.append(funnel, meta=meta)
        if not hash_table.has_meta("stream_batch_id", batch_id):
            hash_table.append(s3.select(F.col("_h").alias("h")),
                              meta=meta)
        if not seen_table.has_meta("stream_batch_id", batch_id):
            seen_table.append(s3.select("doc_id", "text"), meta=meta)
        corpus_table.append(out, meta=meta)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
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
