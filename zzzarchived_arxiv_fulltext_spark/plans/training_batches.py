"""Training-batch preparation: tokenize → pack → committed sequences.

The last mile of the corpus pipeline — what actually feeds a trainer:
encode cleaned documents with a trained BPE merge table
(``corpus_stats.bpe_encode``, JVM replace chain or Arrow batch),
concat-and-chunk them into fixed-length training sequences
(``sampling.pack_sequences``, two-pass partitioned prefix sum — never
a global sort), and commit the sequence table with an auditable
funnel. Composes the two oracled operators; this plan adds the
commit (into the caller's ``Wave`` when given one) and the
conservation accounting.

Token conservation is the invariant worth asserting in CI: every
encoded token lands in exactly one sequence window, so
``sum(n_tokens over sequences) == sum(encoded doc lengths)`` — a
violated conservation count means a packing bug, silently truncated
training data, or double-fed windows.

Scale shape: encode is a zero-shuffle projection (or one Arrow
crossing for big merge tables); packing's only shuffle groups window
slices by window id; the funnel numbers are map-side-combinable
aggregates over frames already materialized by the stages.
"""

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import reuse
from ..operators.corpus_stats import bpe_encode
from ..operators.sampling import pack_sequences
from ..sources.tables import SnapshotTable, Wave, joined


def run_training_batch_prep(
    spark: SparkSession,
    docs: DataFrame,
    merges,
    sequences_table: SnapshotTable,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "pack",
    wave: Optional[Wave] = None,
) -> Dict[str, int]:
    """Encode + pack ``docs``; commit sequences; return the funnel."""
    encoded = reuse(
        bpe_encode(docs, merges, text_col=text_col, id_col=id_col)
        .select(
            F.col(id_col),
            F.array_join("bpe_tokens", " ").alias("_enc"),
            F.col("n_bpe_tokens"),
        )
        # two consumers (funnel count + packing) — one encode pass
    )
    counts: Dict[str, int] = {"docs": encoded.count()}
    counts["bpe_tokens"] = (
        encoded.agg(F.sum("n_bpe_tokens")).collect()[0][0] or 0)

    seqs = reuse(pack_sequences(
        encoded, seq_len=seq_len, text_col="_enc", id_col=id_col,
        seed=seed,
    ))
    agg = seqs.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"),
        F.coalesce(F.sum("complete"), F.lit(0)).alias("c"),
    ).collect()[0]
    counts["sequences"] = agg["n"]
    counts["packed_tokens"] = agg["t"]
    counts["complete_sequences"] = agg["c"]
    if counts["packed_tokens"] != counts["bpe_tokens"]:
        raise ValueError(
            "token conservation violated: packed "
            f"{counts['packed_tokens']} != encoded {counts['bpe_tokens']}"
        )

    with joined(wave) as w:
        w.append(sequences_table, seqs)
    return counts
