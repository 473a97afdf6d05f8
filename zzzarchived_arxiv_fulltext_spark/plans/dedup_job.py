"""End-to-end corpus deduplication job.

The second standing job of a training-data pipeline: given a corpus
table (id, text), commit (a) a duplicate-pairs table (exact + MinHash
near-dups with verified Jaccard) and (b) a keep-list — the canonical
representative per duplicate cluster (union-find over the pair graph,
computed with iterative DataFrame label propagation, no driver-side
graph).
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..operators.dedup import exact_duplicate_groups, near_duplicates_minhash
from ..sources.tables import SnapshotTable, Wave


def duplicate_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, kind, score): exact pairs + verified near-dups."""
    exact = (
        exact_duplicate_groups(corpus, text_col, id_col)
        .where(F.col("n_copies") > 1)
    )
    exact_pairs = (
        corpus.select(F.md5(F.col(text_col)).alias("content_hash"),
                      F.col(id_col).alias("id"))
        .join(exact, on="content_hash")
        .where(F.col("id") != F.col("representative"))
        .select(
            F.col("representative").alias("id_a"),
            F.col("id").alias("id_b"),
            F.lit("exact").alias("kind"),
            F.lit(1.0).alias("score"),
        )
    )
    near = near_duplicates_minhash(
        corpus, threshold=threshold, id_col=id_col, text_col=text_col
    ).select(
        "id_a", "id_b",
        F.lit("near").alias("kind"),
        F.col("jaccard").alias("score"),
    )
    return exact_pairs.unionByName(near).dropDuplicates(["id_a", "id_b"])


def connected_keep_list(pairs: DataFrame, corpus: DataFrame,
                        id_col: str = "doc_id",
                        max_iterations: int = 10) -> DataFrame:
    """(id, keep): one representative (min id) per duplicate cluster.

    Label propagation over the undirected pair graph: every node
    starts labeled with itself; each round adopts the min label among
    neighbors; converges in O(cluster diameter) rounds. All DataFrame
    ops — no driver-side union-find, so 10^9 pairs behave.
    """
    edges = reuse(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst"))
        )
        .distinct()
        # every iteration joins against edges; without materialization
        # each round recomputes the whole upstream pair pipeline
        # (shingle -> minhash -> LSH -> verify) from scratch — measured
        # ~2.5s/round saved on the bench corpus (guide §5: cut lineage
        # when an intermediate is reused)
    )
    labels = corpus.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "id")
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a filter on MATERIALIZED data — one
        # action per iteration, no recompute, no second join
        updated = reuse(
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
        )
        changed = updated.where("label != _prev").limit(1).count()
        labels = updated.drop("_prev")
        if changed == 0:
            break
    return labels.select(
        "id", (F.col("id") == F.col("label")).alias("keep"),
        F.col("label").alias("cluster"),
    )


def run_dedup(
    spark: SparkSession,
    corpus: DataFrame,
    pairs_table: SnapshotTable,
    keep_table: Optional[SnapshotTable] = None,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Commit the verified pairs and, optionally, the keep list built
    from the staged pairs, as one ``Wave``; returns the pairs'
    snapshot id."""
    wave = Wave()
    snap = wave.append(pairs_table, duplicate_pairs(
        corpus, threshold, id_col, text_col))
    if keep_table is not None:
        staged = pairs_table.read_snapshot(spark, snap)
        wave.append(keep_table,
                    connected_keep_list(staged, corpus, id_col=id_col))
    wave.commit()
    return snap


def quality_keep_list(pairs: DataFrame, corpus: DataFrame,
                      score_col: str,
                      id_col: str = "doc_id",
                      max_iterations: int = 10) -> DataFrame:
    """(id, cluster, keep): per duplicate cluster keep the HIGHEST
    ``score_col`` member (ties break to the lowest id) instead of the
    arbitrary min-id representative.

    Min-id keeper election (``connected_keep_list``) discards quality
    information: when a near-dup cluster holds one clean extraction
    and three mojibake replicas, production pipelines keep the clean
    one. This reuses the same all-DataFrame label-propagation fixpoint
    for the cluster labels, then elects by (score desc, id asc) — one
    extra join + one map-side-combinable argmax per cluster, driver
    state zero. The id-ascending tie-break uses numeric negation, so
    ids must be numeric (the corpus contract everywhere else here).
    """
    labels = connected_keep_list(
        pairs, corpus, id_col=id_col, max_iterations=max_iterations
    ).select("id", "cluster")
    scored = labels.join(
        corpus.select(F.col(id_col).alias("id"), F.col(score_col)),
        on="id")
    best = (
        scored.groupBy("cluster")
        .agg(F.max_by(
            F.col("id"),
            F.struct(F.col(score_col).alias("s"),
                     (-F.col("id")).alias("i"))).alias("_best"))
    )
    return (
        scored.join(best, on="cluster")
        .select(
            "id", "cluster", F.col(score_col),
            (F.col("id") == F.col("_best")).cast("int").alias("keep"),
        )
    )
