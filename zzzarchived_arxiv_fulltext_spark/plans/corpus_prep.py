"""End-to-end training-corpus preparation.

The integration plan a user actually runs after extraction: quality
gate → language filter → exact dedup → near-dup removal → PII
redaction → train/val/test assignment, as ONE DataFrame program whose
funnel (which stage dropped each document, and why) is itself a
DataFrame — auditable, oracle-checkable, and committed alongside the
corpus.

Stage rules are deliberately deterministic (no RNG anywhere):

- quality: ``n_tokens >= min_tokens`` and
  ``avg_token_len <= max_avg_token_len`` (the reference's gate family,
  ``fulltext.py:27-44``, generalized to corpus prep);
- language: retain-list on the language column;
- exact dedup: keep the smallest id per ``md5(text)`` group;
- near-dup: MinHash+LSH verified pairs (``operators/dedup.py``), drop
  the larger id of every pair ≥ threshold (keep-lowest-id rule; full
  transitive clustering lives in ``plans/dedup_job.py``);
- split: content-stable md5 hash buckets (``operators/sampling.py``).

Scale shape: stages 1–2 are pure projections; stage 3 is one
map-side-combinable groupBy; stage 4 is the bucketed LSH join (never
quadratic); redaction and split assignment are projections again. The
funnel output is a narrow (doc_id, stage) table produced by the same
single pass that filters.
"""

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import reuse
from ..operators.dedup import near_duplicates_minhash
from ..operators.redact import redact_text
from ..operators.sampling import hash_split

DEFAULT_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}

STAGE_QUALITY = "drop_quality"
STAGE_LANG = "drop_lang"
STAGE_EXACT = "drop_exact_dup"
STAGE_NEAR = "drop_near_dup"


# Shared stage expressions — the streaming funnel
# (streaming/stream_corpus_prep.py) imports THESE, so the documented
# stream==batch equivalence can never silently diverge through a
# hand-copied tweak.

def with_quality_stats(docs: DataFrame) -> DataFrame:
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", "text", "lang",
        F.size(toks).alias("_nt"),
        (F.length("text") / F.size(toks)).alias("_atl"))


def bad_quality_expr(min_tokens: int, max_avg_token_len: float):
    return (F.col("_nt") < min_tokens) | \
        (F.col("_atl") > max_avg_token_len)


def bad_lang_expr(keep_langs):
    return ~F.col("lang").isin(*keep_langs)


def first_seen_rank():
    """1 for the lowest-id holder of each exact content hash."""
    return F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id"))


def corpus_prep_funnel(
    docs: DataFrame,
    min_tokens: int = 25,
    max_avg_token_len: float = 6.0,
    keep_langs: tuple = ("en",),
    near_threshold: float = 0.4,
    num_hashes: int = 8,
    bands: int = 4,
    splits: Optional[Dict[str, float]] = None,
) -> DataFrame:
    """(doc_id, stage) for every input row.

    ``stage`` is the first pipeline stage that dropped the document,
    or ``kept_<split>`` for survivors.
    """
    base = with_quality_stats(docs)

    bad_quality = bad_quality_expr(min_tokens, max_avg_token_len)
    d_quality = base.where(bad_quality).select(
        "doc_id", F.lit(STAGE_QUALITY).alias("stage"))
    s1 = base.where(~bad_quality)

    bad_lang = bad_lang_expr(keep_langs)
    d_lang = s1.where(bad_lang).select(
        "doc_id", F.lit(STAGE_LANG).alias("stage"))
    s2 = s1.where(~bad_lang)

    s2r = s2.withColumn("_rn", first_seen_rank())
    d_exact = s2r.where(F.col("_rn") > 1).select(
        "doc_id", F.lit(STAGE_EXACT).alias("stage"))
    # s3 feeds FOUR consumers (the minhash pipeline, the near-dup
    # semi/anti pair, and the split projection); the funnel union is
    # one action, so without materialization each consumer recomputes
    # the scan + quality/lang filters + the exact-dedup window.
    # Materialize it once (guide §5) — same reason the near-dup id
    # set is materialized: it is consumed by both the semi and the
    # anti join, and its subtree is the whole shingle/minhash/LSH/
    # verify pipeline. (Checkpointing s2r instead, one operator up so
    # the d_exact branch also reads it, MEASURED WORSE — 2.8 vs 2.4 s
    # min — the wider pre-filter materialization costs more than the
    # one cheap scan+window recompute it saves.)
    s3 = reuse(s2r.where(F.col("_rn") == 1).drop("_rn"))

    pairs = near_duplicates_minhash(
        s3.select("doc_id", "text"), threshold=near_threshold,
        num_hashes=num_hashes, bands=bands,
    )
    near_ids = reuse(
        pairs.select(F.col("id_b").alias("doc_id")).distinct()
    )
    d_near = s3.join(near_ids, on="doc_id", how="left_semi").select(
        "doc_id", F.lit(STAGE_NEAR).alias("stage"))
    s4 = s3.join(near_ids, on="doc_id", how="left_anti")

    kept = hash_split(s4, splits or DEFAULT_SPLITS).select(
        "doc_id", F.concat(F.lit("kept_"), F.col("split")).alias("stage"))

    return (
        d_quality.unionByName(d_lang).unionByName(d_exact)
        .unionByName(d_near).unionByName(kept)
    )


def run_corpus_prep(
    spark,
    docs: DataFrame,
    corpus_table,
    funnel_table=None,
    **funnel_kwargs,
) -> dict:
    """Prepare and commit the training corpus.

    Writes the kept documents (PII-redacted, with their split label)
    as one snapshot and, optionally, the full per-document funnel as
    another. Returns the funnel counts {stage: n_docs}.

    The funnel DAG (including the whole MinHash/LSH pipeline) is
    MATERIALIZED EXACTLY ONCE: committed to ``funnel_table`` first and
    read back for the kept-join and the counts (the write-once-read-
    committed pattern ``run_dedup`` uses), or materialized with ``reuse`` when
    no funnel table is given. Without this, each downstream action
    would re-run shingling + signatures + the bucket join.
    """
    funnel = corpus_prep_funnel(docs, **funnel_kwargs)
    if funnel_table is not None:
        funnel_snap = funnel_table.append(funnel)
        funnel = funnel_table.read_snapshot(spark, funnel_snap)
    else:
        funnel = reuse(funnel)
    kept = (
        docs.join(funnel.where(F.col("stage").startswith("kept_")),
                  on="doc_id")
        .select(
            "doc_id",
            redact_text(F.col("text")).alias("text"),
            "lang",
            F.expr("substring(stage, 6)").alias("split"),
        )
    )
    corpus_table.append(kept)
    return {
        r["stage"]: r["n"]
        for r in funnel.groupBy("stage").agg(F.count("*").alias("n"))
        .collect()
    }
