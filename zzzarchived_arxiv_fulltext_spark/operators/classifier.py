"""Distributed quality-classifier training and scoring.

The CCNet / LLaMA-pipeline pattern: train a tiny linear classifier
(logistic regression over hashed bag-of-words features) that
separates a high-quality target corpus from the raw crawl, then score
every raw document and keep the best. The reference corpus motivates
the feature choice — the same md5 ``hash_bucket`` features the DSIR
selector uses, so the two selection families share one feature
extraction.

Training is full-batch gradient descent where EACH STEP IS ONE
DATAFRAME AGGREGATION: the executors compute the per-bucket gradient
sum (map-side combinable), the driver holds only the weight vector
(``buckets + 1`` doubles — bounded metadata, like IVF centroids), and
the next step broadcasts the updated weights back. No vector ever
exceeds ``buckets`` entries anywhere; corpus size only affects the
scan, never memory. Feature values are term frequencies (count /
doc length) so document length never inflates the logit.

Scoring inlines the weight vector as an array literal over the
per-doc bucket counts plus one aggregation — the corpus streams
through in one pass with no weight-table join or broadcast exchange.
"""

import math
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import reuse
from .sampling import hash_bucket


def hashed_tf(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", buckets: int = 256) -> DataFrame:
    """(id, bucket, tf): term-frequency of each md5 hash bucket per
    document (tf = bucket count / doc token count; empty docs emit
    nothing). Map-side-combinable; one explode, one aggregation."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "),
                     lambda t: t != F.lit(""))
        ).alias("_tok"),
    )
    counts = (
        toks.select(id_col, hash_bucket(F.col("_tok"), buckets)
                    .alias("bucket"))
        .groupBy(id_col, "bucket").agg(F.count("*").alias("_c"))
    )
    total = counts.groupBy(id_col).agg(F.sum("_c").alias("_n"))
    return counts.join(total, on=id_col).select(
        id_col, "bucket",
        (F.col("_c").cast("double") / F.col("_n")).alias("tf"),
    )


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
    steps: int = 5,
    lr: float = 1.0,
    init: Optional[Tuple[List[float], float]] = None,
    labeled: Optional[DataFrame] = None,
) -> Tuple[List[float], float]:
    """Full-batch logistic regression: returns (weights[buckets],
    bias). ``pos`` documents are label 1, ``neg`` label 0. ``init``
    warm-starts GD from committed (weights, bias) — the
    train-once/serve-many retrain path (``plans/classifier_index``).

    Per step: score every doc with the current weights INLINED as an
    array literal (``element_at`` lookup — no broadcast exchange, no
    join; guide §2.4), compute the residual ``sigmoid(z) - y``
    (materialized via ``reuse`` — one doc-sized frame reused
    by both the gradient join and the bias sum instead of recomputing
    the scoring aggregation twice), then collect gradient AND bias in
    ONE action (bias rides along as bucket -1). The labeled set is
    materialized once so the feature explode is not recomputed every
    step. Driver state: ``buckets + 1`` doubles.
    """
    if labeled is None:
        labeled = labeled_features(pos, neg, text_col, id_col, buckets)
    n_docs = labeled.select(id_col, "_y").distinct().count()
    if init is not None:
        if len(init[0]) != buckets:
            raise ValueError(
                f"init weights have {len(init[0])} buckets, "
                f"expected {buckets}")
        w, bias = list(init[0]), float(init[1])
    else:
        w, bias = [0.0] * buckets, 0.0
    for _ in range(steps):
        warr = F.array(*[F.lit(float(x)) for x in w])
        # reused by gradient + bias
        resid = reuse(
            labeled
            .groupBy(id_col, "_y")
            .agg(F.sum(F.col("tf")
                       * F.element_at(warr, F.col("bucket").cast("int") + 1)
                       ).alias("_z"))
            .select(
                id_col, "_y",
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("_z") + bias)))
                 - F.col("_y")).alias("_r"),
            )
        )
        # gradient rejoin carries _y in the key: two corpora with
        # overlapping doc ids must not cross-match labels (a silent
        # gradient corruption when pos/neg ids collide)
        grad_rows = (
            labeled.join(resid, on=[id_col, "_y"])
            .groupBy("bucket")
            .agg(F.sum(F.col("_r") * F.col("tf")).alias("_g"))
            .unionByName(
                resid.agg(F.sum("_r").alias("_g"))
                .select(F.lit(-1).cast(
                    labeled.schema["bucket"].dataType).alias("bucket"),
                    "_g"))
            .collect()  # <= buckets + 1 rows, ONE action
        )
        for row in grad_rows:
            if row["bucket"] == -1:
                bias -= lr * (row["_g"] or 0.0) / n_docs
            else:
                w[row["bucket"]] -= lr * row["_g"] / n_docs
    return w, bias


def labeled_features(pos: DataFrame, neg: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     buckets: int = 256) -> DataFrame:
    """Materialized (id, bucket, tf, _y) training features — one row
    per (doc, bucket), label 1 for ``pos`` docs, 0 for ``neg``.
    Eagerly checkpointed: it is re-read every GD step, and a caller
    scoring the SAME corpus can pass it to :func:`score_quality` as
    ``features`` so the feature explode runs once, not twice."""
    return reuse(
        hashed_tf(pos, text_col, id_col, buckets)
        .withColumn("_y", F.lit(1.0))
        .unionByName(
            hashed_tf(neg, text_col, id_col, buckets)
            .withColumn("_y", F.lit(0.0)))
    )


def score_quality(df: DataFrame, weights: List[float], bias: float,
                  text_col: str = "text", id_col: str = "doc_id",
                  features: Optional[DataFrame] = None) -> DataFrame:
    """(id, quality_prob): sigmoid of the linear score under the
    trained weights. Weights are inlined as an array literal
    (bounded tokenizer-style metadata — same contract as IVF
    centroids), so scoring is one explode + two aggregations with no
    broadcast exchange or join. Docs with no tokens score
    ``sigmoid(bias)``."""
    buckets = len(weights)
    warr = F.array(*[F.lit(float(x)) for x in weights])
    feats = (hashed_tf(df, text_col, id_col, buckets)
             if features is None
             else features.select(id_col, "bucket", "tf"))
    scored = (
        feats
        .groupBy(id_col)
        .agg(F.sum(F.col("tf")
                   * F.element_at(warr, F.col("bucket").cast("int") + 1)
                   ).alias("_z"))
    )
    return (
        df.select(id_col).distinct()
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.round(
                F.lit(1.0)
                / (F.lit(1.0)
                   + F.exp(-(F.coalesce("_z", F.lit(0.0)) + bias))),
                6,
            ).alias("quality_prob"),
        )
    )


def sigmoid(x: float) -> float:
    """Driver-side twin of the scoring nonlinearity (tests)."""
    return 1.0 / (1.0 + math.exp(-x))
