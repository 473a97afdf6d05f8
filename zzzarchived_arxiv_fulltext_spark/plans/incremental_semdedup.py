"""Incremental SemDeDup: dedup embedding deltas against a committed
cluster-member index.

The batch operator (``operators/similarity.semantic_near_duplicates``)
re-assigns and re-pairs the whole corpus per run — right for one-shot
analytics, wrong for a corpus that grows by deltas. Steady state
mirrors the MinHash incremental plan (``incremental_dedup``):

- the index table holds every committed vector's (id, centroid_id,
  embedding) — clustered storage, so candidate fetch for a delta is
  an equi-join on ``centroid_id``, never a corpus scan;
- per increment: assign the delta with the shared zero-shuffle
  centroid projection, pair delta×delta and delta×history WITHIN
  clusters, score exact cosine, commit the delta's rows;
- ``commit_meta`` stamps the append; a replay reads history via
  ``read_excluding_meta`` (the replay-poisoning rule: a rerun must
  classify against history as it stood before its own partial
  attempt) and skips the duplicate append — per-table idempotency.

``max_cluster_size`` bounds degenerate clusters on EITHER side, same
observable-drop contract as the LSH hot-bucket caps: a cluster whose
delta+history membership exceeds the cap generates no pairs this
increment, but its rows still commit, so the index stays complete.

Centroids come from ``plans/ivf_index.ensure_centroids`` (committed,
train-once/serve-many) — assignment must use ONE centroid set across
increments or cluster ids drift and history pairs are lost.
"""

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import reuse
from ..operators.similarity import assign_nearest_centroid, cosine
from ..sources.tables import SnapshotTable

def index_schema(delta: DataFrame, id_col: str) -> T.StructType:
    """Index schema with the id typed AS THE CALLER'S ids are typed —
    same rule as ``incremental_dedup.bucket_schema``: a hardcoded
    ``vec_id long`` plus a forced cast turned string ids (extraction
    doc_ids) into NULLs and silently dropped every pair (ADVICE r6).
    """
    return T.StructType([
        T.StructField("vec_id", delta.schema[id_col].dataType, False),
        T.StructField("centroid_id", T.IntegerType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
    ])


def run_semdedup_incremental(
    spark: SparkSession,
    delta: DataFrame,
    index_table: SnapshotTable,
    centroids: List[List[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit_meta: Optional[dict] = None,
    max_cluster_size: Optional[int] = 10_000,
) -> DataFrame:
    """Pairs (id_a, id_b, cos >= threshold) of delta×delta and
    delta×history members sharing a cluster; commits the delta's
    (id, centroid_id, embedding) rows for the next increment."""
    schema = index_schema(delta, id_col)
    # reused: pairs + sizes + append
    assigned = reuse(
        assign_nearest_centroid(delta, centroids, vec_col=vec_col,
                                id_col=id_col)
        .select(F.col(id_col).alias("vec_id"), "centroid_id")
        .join(delta.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).cast("array<double>")
                           .alias("embedding")),
              on="vec_id")
    )

    if index_table.snapshots():
        hist = (index_table.read_excluding_meta(
                    spark, commit_meta, schema=schema)
                if commit_meta else index_table.read(spark))
    else:
        hist = spark.createDataFrame([], schema)

    d, h = assigned, hist
    if max_cluster_size is not None:
        ok = reuse(
            d.groupBy("centroid_id").agg(F.count("*").alias("_n"))
            .unionByName(
                h.groupBy("centroid_id").agg(F.count("*").alias("_n")))
            .groupBy("centroid_id").agg(F.sum("_n").alias("_n"))
            .where(F.col("_n") <= max_cluster_size)
            .select("centroid_id")
            # bounded by n_members / 1 rows, tiny in practice
        )
        d = d.join(F.broadcast(ok), on="centroid_id")
        h = h.join(F.broadcast(ok), on="centroid_id")

    a = d.select("centroid_id", F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("_va"))
    b_delta = d.select("centroid_id", F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("_vb"))
    b_hist = h.select("centroid_id", F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("_vb"))
    cos = cosine(F.col("_va"), F.col("_vb"))
    intra = (
        a.join(b_delta, on="centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
    )
    # delta x history: ids are disjoint from the delta's (replay reads
    # exclude this increment's own stamp), so normalize the pair order
    cross = a.join(b_hist, on="centroid_id").where(
        F.col("id_a") != F.col("id_b"))
    pairs = (
        intra.unionByName(cross)
        .where(cos >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
        .distinct()
    )

    already = bool(commit_meta) and index_table.has_meta(commit_meta)
    if not already:
        pairs = reuse(pairs)  # before the append
        index_table.append(assigned, meta=commit_meta)
    return pairs
