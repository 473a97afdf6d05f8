"""Incremental SemDeDup: dedup embedding deltas against a committed
cluster-member index.

The batch operator (``operators/similarity.semantic_near_duplicates``)
re-assigns and re-pairs the whole corpus per run — right for one-shot
analytics, wrong for a corpus that grows by deltas. Steady state
mirrors the MinHash incremental plan (``incremental_dedup``):

- the index table holds every committed vector's (id, centroid_id,
  embedding) — clustered storage, so candidate fetch for a delta is
  an equi-join on ``centroid_id``, never a corpus scan;
- per increment: assign the delta with the batch's one-projection
  step (``assign_clusters``), pair it against itself and the history
  of the clusters it touches with the batch's per-cluster GEMM kernel
  (``cluster_pairs``, delta rows new, history rows old), commit the
  delta's rows;
- the delta's rows append to the caller's ``Wave`` (or one of its
  own), so a crashed attempt's rows never reach a replay's history.

``max_cluster_size`` is the batch's cap, counted over a cluster's
delta + history membership: a cluster over it generates no pairs this
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
from ..operators.similarity import assign_clusters, cluster_pairs
from ..sources.tables import SnapshotTable, Wave, joined


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
    wave: Optional[Wave] = None,
    max_cluster_size: Optional[int] = 10_000,
) -> DataFrame:
    """Pairs (id_a, id_b, cos >= threshold) of delta×delta and
    delta×history members sharing a cluster; commits the delta's
    (id, centroid_id, embedding) rows for the next increment."""
    schema = index_schema(delta, id_col)
    # reused: pairs + append
    assigned = reuse(assign_clusters(
        delta.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("embedding")),
        centroids))

    hist = (index_table.read(spark, schema)
            if index_table.snapshots() else None)
    pairs = reuse(cluster_pairs(assigned, hist, threshold,
                                max_cluster_size))  # before the append
    with joined(wave) as w:
        w.append(index_table, assigned)
    return pairs
