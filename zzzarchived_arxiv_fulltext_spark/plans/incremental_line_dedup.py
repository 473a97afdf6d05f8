"""Incremental global line dedup: delta waves vs a committed keeper
index.

``operators/dedup.dedup_lines_global`` recomputes keeper election over
the whole corpus — right for backfills, wrong for the steady state
where a daily delta is 10^-6 of history. This plan keeps the set of
already-kept line hashes as a committed snapshot table; per wave:

1. lines of the DELTA whose md5 is in the committed index are dropped
   outright (their keeper lives in an earlier wave);
2. the remaining eligible lines elect keepers WITHIN the delta
   (min (doc_id, idx), exactly the batch rule);
3. the new keepers' hashes append to the index, in the caller's
   ``Wave`` when given one.

Concatenating the per-wave outputs equals one batch
``dedup_lines_global`` over the concatenated corpus whenever waves
arrive in id order (the natural ingest order) — pytest-pinned.
Cost per wave ≈ O(|delta| + index-join); history is touched only
through its hash index (16 bytes/line, never the text).
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import dedup_lines_global
from ..sources.tables import SnapshotTable, Wave, joined

INDEX_SCHEMA = T.StructType([
    T.StructField("line_hash", T.StringType(), False),
])


def run_line_dedup_increment(
    spark: SparkSession,
    delta: DataFrame,
    index_table: SnapshotTable,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
    wave: Optional[Wave] = None,
) -> DataFrame:
    """Dedup one wave against history; returns the deduped delta
    (id, text, n_lines_dropped) and appends the wave's new keeper
    hashes to ``wave`` (which its caller commits), or commits them
    itself when given none. History is the committed index only, so a
    replay of a crashed attempt never sees its own keepers.
    """
    committed = index_table.read(spark, INDEX_SCHEMA)
    out = dedup_lines_global(
        delta, text_col=text_col, id_col=id_col, sep=sep,
        min_chars=min_chars, exclude_keys=committed)

    lines = delta.select(
        F.explode(F.split(F.col(text_col), sep)).alias("line"))
    new_keys = (
        lines.where(F.length("line") >= min_chars)
        .select(F.md5("line").alias("line_hash"))
        .distinct()
        .join(committed, on="line_hash", how="left_anti")
    )
    with joined(wave) as w:
        w.append(index_table, new_keys)
    return out
