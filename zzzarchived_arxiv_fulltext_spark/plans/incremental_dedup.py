"""Incremental near-duplicate detection: deltas vs committed history.

``run_dedup`` recomputes signatures for the whole corpus each run —
fine for backfills, wrong for the 10^12-document steady state where a
daily delta is 10^-3 of history. This job keeps the banded LSH
BUCKET TABLE as a committed snapshot table and, per increment:

1. shingles + signs ONLY the delta documents;
2. finds candidates with the batch LSH join over the delta's buckets
   plus the committed bucket rows they touch — one equi-join on
   (band, bucket), never a scan of historical text, so dedup over
   waves equals batch dedup over their union;
3. re-reads the TEXT of just the matched historical candidates (a
   semi-join against the corpus by id — bounded by candidate count,
   not history size) for the exact-Jaccard verify;
4. appends the delta's bucket rows and the verified pairs as one wave.

Cost per increment ≈ O(|delta| + |candidates|); history is touched
only through its bucket index and the candidate row lookups.

Delivery contract: the increment's tables commit together, so a
crashed attempt leaves nothing a replay would read. Re-running an
already-committed delta re-appends its bucket rows; a caller that
replays passes a ``Wave`` with the increment's identity and checks
``Wave.committed`` first (the idempotent-foreachBatch pattern).
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    band_buckets,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from ..sources.tables import SnapshotTable, Wave, joined


def bucket_schema(delta: DataFrame, id_col: str) -> str:
    """Bucket-index schema with the id typed AS THE CALLER'S ids are
    typed. Hardcoding ``id long`` here broke the sf1 soak: extraction
    doc_ids are strings, so wave 1's forced-schema read of the
    committed index type-mismatched the delta join (least(string,
    bigint)). The index must inherit the corpus id type."""
    id_type = delta.schema[id_col].dataType.simpleString()
    return f"id {id_type}, band int, bucket string"


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
    wave: Optional[Wave] = None,
    max_bucket_size: Optional[int] = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Dedup ``delta`` against itself and all previously-indexed docs.

    ``corpus`` must serve (id, text) for any historical id (the
    committed extraction/corpus table) — read only for verified
    candidates. Returns the verified pairs (id_a, id_b, jaccard >=
    threshold) and commits the delta's bucket rows (plus, optionally,
    the pairs) so the next increment sees them.

    ``wave``: the caller's wave, which it commits; without one the
    increment commits its own.

    ``max_bucket_size`` is the batch cap, counted over a bucket's
    members new + old: a (band, bucket) whose delta and committed rows
    together exceed it yields no candidates. Without it a degenerate
    bucket holding d delta and h history docs shuffles d×h candidate
    rows; the sf1 soak hit exactly this (a boilerplate-heavy
    synthetic corpus drove d, h into the 10^5 range → a ~10^10-row
    shuffle that filled the disk before any cap saw it). The committed
    INDEX stays complete — capping filters candidate generation only,
    so a later increment with a saner delta still sees every bucket
    row.
    """
    # ONE shingle+sign pass over the delta text, materialized: sigs is
    # tiny (num_hashes cols per doc) but two consumers hang off it
    # (the candidate join and the bucket rows appended to the index)
    # — without the checkpoint each re-shingles and re-signs the delta.
    shingled_delta = word_shingles(delta, n=n, text_col=text_col,
                                   id_col=id_col)
    sigs = reuse(minhash_signatures(
        shingled_delta, num_hashes=num_hashes))

    # the committed bucket index, as the batch join's old members: no
    # historical text or signatures recomputed
    hist = (bucket_table.read(spark, bucket_schema(delta, id_col))
            if bucket_table.snapshots() else None)
    # candidates feed BOTH the id-set for bounded re-shingling and the
    # final exact-Jaccard join; materialize once (bounded by candidate
    # count) instead of re-running the LSH join per consumer.
    candidates = reuse(lsh_candidate_pairs(
        sigs, bands=bands, max_bucket_size=max_bucket_size, old=hist))

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

    with joined(wave) as w:
        w.append(bucket_table, band_buckets(sigs, bands))
        if pairs_table is not None:
            w.append(pairs_table, verified)
    return verified
