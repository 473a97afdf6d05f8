"""Incremental near-duplicate detection: deltas vs committed history.

``run_dedup`` recomputes signatures for the whole corpus each run —
fine for backfills, wrong for the 10^12-document steady state where a
daily delta is 10^-3 of history. This job keeps the banded LSH
BUCKET TABLE as a committed snapshot table and, per increment:

1. shingles + signs ONLY the delta documents;
2. finds candidates as (delta x delta) ∪ (delta x committed buckets)
   — equi-joins on (band, bucket), never a scan of historical text;
3. re-reads the TEXT of just the matched historical candidates (a
   semi-join against the corpus by id — bounded by candidate count,
   not history size) for the exact-Jaccard verify;
4. appends the delta's bucket rows and the verified pairs, atomically.

Cost per increment ≈ O(|delta| + |candidates|); history is touched
only through its bucket index and the candidate row lookups.

Delivery contract: at-least-once per delta by default — re-running
the same delta re-appends its bucket rows (candidates are
deduplicated, so pairs stay correct, but the index gains duplicate
rows). Pass ``commit_meta`` (e.g. a stream batch_id) to upgrade to
exactly-once: each table append is stamped with the meta and a replay
that finds the stamp already committed skips that append — the
standard idempotent-foreachBatch pattern.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from ..sources.tables import SnapshotTable

def bucket_schema(delta: DataFrame, id_col: str) -> str:
    """Bucket-index schema with the id typed AS THE CALLER'S ids are
    typed. Hardcoding ``id long`` here broke the sf1 soak: extraction
    doc_ids are strings, so wave 1's forced-schema read of the
    committed index type-mismatched the delta join (least(string,
    bigint)). The index must inherit the corpus id type."""
    id_type = delta.schema[id_col].dataType.simpleString()
    return f"id {id_type}, band int, bucket string"


def _band_buckets(signatures: DataFrame, bands: int,
                  rows_per_band: int) -> DataFrame:
    entries = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"h{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ])).alias("bucket"),
        )
        for b in range(bands)
    ])
    return signatures.select(
        "id", F.explode(entries).alias("e")
    ).select("id", "e.band", "e.bucket")


def run_dedup_incremental(
    spark: SparkSession,
    delta: DataFrame,
    corpus: DataFrame,
    bucket_table: SnapshotTable,
    pairs_table: Optional[SnapshotTable] = None,
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    commit_meta: Optional[dict] = None,
    max_bucket_size: Optional[int] = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Dedup ``delta`` against itself and all previously-indexed docs.

    ``corpus`` must serve (id, text) for any historical id (the
    committed extraction/corpus table) — read only for verified
    candidates. Returns the verified pairs (id_a, id_b, jaccard >=
    threshold) and commits the delta's bucket rows (plus, optionally,
    the pairs) so the next increment sees them.

    ``commit_meta``: identity of this increment (e.g.
    ``{"stream_batch_id": 7}``). Appends are stamped with it and a
    REPLAY of the same increment skips any append whose stamp is
    already committed — per-table idempotency under crash/retry.

    ``max_bucket_size`` caps BOTH candidate joins: the intra-delta
    self-join (as in ``lsh_candidate_pairs``) and the delta×history
    cross join — on the cross side a (band, bucket) hot on EITHER
    side is excluded before the join. Without the cross-side cap a
    degenerate bucket holding d delta and h history docs shuffles d×h
    candidate rows; the sf1 soak hit exactly this (a boilerplate-heavy
    synthetic corpus drove d, h into the 10^5 range → a ~10^10-row
    shuffle that filled the disk before any cap saw it). The committed
    INDEX stays complete — capping filters candidate generation only,
    so a later increment with a saner delta still sees every bucket
    row.
    """

    def _already_committed(table: SnapshotTable) -> bool:
        return bool(commit_meta) and table.has_meta(commit_meta)

    # ONE shingle+sign pass over the delta text, materialized: sigs is
    # tiny (num_hashes cols per doc) but multiple consumers hang off
    # it (bucket rows, the intra self-join) — without the checkpoint
    # each consumer re-shingles and re-signs the whole delta.
    shingled_delta = word_shingles(delta, n=n, text_col=text_col,
                                   id_col=id_col)
    sigs = reuse(minhash_signatures(
        shingled_delta, num_hashes=num_hashes))
    rows_per_band = num_hashes // bands
    delta_buckets = _band_buckets(sigs, bands, rows_per_band)

    # delta x delta candidates (the standard capped self-join)
    intra = lsh_candidate_pairs(sigs, bands=bands,
                                rows_per_band=rows_per_band,
                                max_bucket_size=max_bucket_size)

    # delta x history candidates: equi-join against the committed
    # bucket index — no historical text or signatures recomputed.
    # Under replay (commit_meta already stamped by a partial earlier
    # attempt) the index must be read AS OF before this increment's
    # own append, or the delta matches its own prior bucket rows.
    if bucket_table.snapshots():
        hist = (bucket_table.read_excluding_meta(
                    spark, commit_meta,
                    schema=bucket_schema(delta, id_col))
                if commit_meta else bucket_table.read(spark))
        cross_delta, cross_hist = delta_buckets, hist
        if max_bucket_size is not None:
            hot = reuse(
                cross_delta.groupBy("band", "bucket")
                .agg(F.count("*").alias("_n"))
                .unionByName(cross_hist.groupBy("band", "bucket")
                             .agg(F.count("*").alias("_n")))
                .groupBy("band", "bucket")
                .agg(F.max("_n").alias("_n"))
                .where(F.col("_n") > max_bucket_size)
                .select("band", "bucket")
                # bounded by (delta+history) / max_bucket_size rows
            )
            cross_delta = cross_delta.join(
                F.broadcast(hot), on=["band", "bucket"], how="left_anti")
            cross_hist = cross_hist.join(
                F.broadcast(hot), on=["band", "bucket"], how="left_anti")
        cross = (
            cross_delta.alias("d")
            .join(cross_hist.alias("h"),
                  (F.col("d.band") == F.col("h.band"))
                  & (F.col("d.bucket") == F.col("h.bucket")))
            .select(
                F.least(F.col("d.id"), F.col("h.id")).alias("id_a"),
                F.greatest(F.col("d.id"), F.col("h.id")).alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        candidates = intra.unionByName(cross).distinct()
    else:
        candidates = intra
    # candidates feed BOTH the id-set for bounded re-shingling and the
    # final exact-Jaccard join; materialize once (bounded by candidate
    # count) instead of re-running the LSH joins per consumer.
    candidates = reuse(candidates)

    # exact verify: shingle ONLY candidate docs — the delta side is
    # semi-joined down to candidate ids BEFORE word_shingles (a join
    # can't be pushed below the shingle explode, so filtering first is
    # the only way the verify pass stays candidate-bounded), and
    # historical rows come from a semi-join against the corpus.
    cand_ids = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    delta_ids = delta.select(F.col(id_col).alias("id")).distinct()
    hist_ids = cand_ids.join(delta_ids, on="id", how="left_anti")
    hist_docs = (
        corpus.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(hist_ids, on="id", how="left_semi")
    )
    delta_cand_docs = delta.join(
        cand_ids.withColumnRenamed("id", id_col),
        on=id_col, how="left_semi")
    shingled_delta_cand = word_shingles(
        delta_cand_docs, n=n, text_col=text_col, id_col=id_col)
    shingled_hist = word_shingles(
        hist_docs.withColumnRenamed("id", id_col),
        n=n, text_col=text_col, id_col=id_col)
    shingled_all = shingled_delta_cand.unionByName(shingled_hist)

    verified = exact_jaccard(shingled_all, candidates).where(
        F.col("jaccard") >= threshold)
    verified = reuse(verified)

    if not _already_committed(bucket_table):
        bucket_table.append(delta_buckets, meta=commit_meta)
    if pairs_table is not None and not _already_committed(pairs_table):
        pairs_table.append(verified, meta=commit_meta)
    return verified
