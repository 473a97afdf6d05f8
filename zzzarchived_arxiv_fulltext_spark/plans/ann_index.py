"""Persistent ANN index: build once (incrementally), query many.

``operators/similarity.ann_topk`` recomputes the corpus's LSH buckets
on every call — right for one-shot analytics, wrong for a serving
corpus that grows by deltas and is queried constantly. This plan
commits the SRP bucket table (id, tbl, bucket) as a snapshot table:

- ``build_ann_index`` appends bucket rows for a corpus delta (same
  seeded hyperplanes, so increments and history agree);
- ``query_ann_index`` equi-joins query buckets against the COMMITTED
  index, fetches candidate vectors by id (semi-join, bounded by the
  candidate count), scores exact cosine, and window-top-k's.

Query cost is O(|queries| x bucket-collisions + candidates), never a
scan of corpus vectors; the index grows by exactly the delta per
increment. Results are identical to the one-shot ``ann_topk`` on the
same parameters (pytest-pinned).
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark.sql import types as T

from ..operators.similarity import _srp_buckets_udf, dot, l2_norm
from ..sources.tables import SnapshotTable

INDEX_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("tbl", T.IntegerType(), False),
    T.StructField("bucket", T.IntegerType(), False),
])


def _with_buckets(df: DataFrame, vec: str, tables: int, planes: int,
                  dim: int) -> DataFrame:
    buckets_udf = _srp_buckets_udf(tables, planes, dim)
    return (
        df.withColumn("_b", buckets_udf(F.col(vec)))
        .select("*", F.posexplode("_b").alias("tbl", "bucket"))
        .drop("_b")
    )


def build_ann_index(
    spark: SparkSession,
    corpus_delta: DataFrame,
    index_table: SnapshotTable,
    tables: int = 4,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append the delta's (id, tbl, bucket) rows; returns the snapshot."""
    rows = _with_buckets(
        corpus_delta.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v")),
        "v", tables, planes, dim,
    ).select("vec_id", "tbl", "bucket")
    return index_table.append(rows)


def query_ann_index(
    spark: SparkSession,
    queries: DataFrame,
    index_table: SnapshotTable,
    corpus: DataFrame,
    k: int = 10,
    tables: int = 4,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors from the committed index.

    ``corpus`` serves vectors by id for scoring — only candidate ids
    are fetched (left-semi), so at 10^12 vectors the read is bounded
    by bucket collisions, not corpus size.
    """
    q = _with_buckets(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"))
        .withColumn("qn", l2_norm(F.col("qvec"))),
        "qvec", tables, planes, dim,
    )
    idx = index_table.read(spark, INDEX_SCHEMA)  # empty index → no rows
    candidates = (
        idx.join(F.broadcast(q), on=["tbl", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qvec", "qn",
                F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    vecs = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"))
        .join(candidates.select("neighbor_id").distinct(),
              on="neighbor_id", how="left_semi")
        .withColumn("cn", l2_norm(F.col("cvec")))
    )
    # norms once per vector; each candidate pair evaluates only the dot
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    scored = (
        candidates.join(vecs, on="neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(cos, 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
