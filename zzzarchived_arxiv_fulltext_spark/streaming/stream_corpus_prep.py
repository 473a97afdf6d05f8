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

Exactly-once under replay: a micro-batch's six appends are one wave
stamped with its batch id. A replayed batch whose wave committed is
skipped; a crashed one left nothing visible, so its replay reads the
same history (the idempotent-foreachBatch pattern shared with
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
from ..sources.tables import SnapshotTable, Wave
from . import drain

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
        wave = Wave({"stream_batch_id": batch_id})
        if wave.committed(corpus_table) or batch_df.isEmpty():
            return
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

        # exact dedup: first-seen WITHIN the batch, then vs history
        s2r = s2.withColumn("_rn", first_seen_rank()) \
            .withColumn("_h", F.md5("text"))
        hist_hashes = hash_table.read(spark, HASH_SCHEMA) \
            .withColumnRenamed("h", "_h")
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
        # all prior batches, including near-dropped ones)
        history_text = seen_table.read(spark, _seen_schema(batch_df))
        pairs = run_dedup_incremental(
            spark, s3.select("doc_id", "text"),
            corpus=history_text.unionByName(s3.select("doc_id", "text")),
            bucket_table=bucket_table,
            pairs_table=pairs_table,
            threshold=near_threshold,
            num_hashes=num_hashes,
            bands=bands,
            wave=wave,
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
        wave.append(funnel_table, funnel)
        wave.append(hash_table, s3.select(F.col("_h").alias("h")))
        wave.append(seen_table, s3.select("doc_id", "text"))
        wave.append(corpus_table, out)
        wave.commit()

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )
    return drain(stream, process_batch, checkpoint_dir, available_now)
