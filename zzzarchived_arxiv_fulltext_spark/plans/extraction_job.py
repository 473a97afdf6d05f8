"""The end-to-end extraction job: read → resume-filter → extract → commit.

Spark restatement of the reference's whole service (SURVEY.md §3.1):
the Flask/Celery/Kinesis/Docker chain collapses to one DataFrame job
whose commit IS the checkpoint.

Resume semantics (north rule): work already present in the committed
output is skipped via a left-anti join on ``(doc_id)`` at the current
extractor version — the reference's skip-if-exists
(``extractor/fulltext/fulltext.py:241-242``) and task dedup
(``fulltext/controllers.py:140-158``). A mid-run kill loses only the
uncommitted snapshot; the rerun completes exactly the remaining
documents.

Scale notes:
- The anti-join build side (committed doc_ids) is column-pruned to one
  string column at scan time; AQE turns the join into a broadcast when
  the done-set is small and splits skewed partitions when it is not.
- Lineage metrics are aggregated by RE-READING the just-staged
  snapshot's metric columns (columnar scan, text columns pruned) —
  the extraction UDF never runs twice. Output and lineage commit as
  one ``Wave``: a crash leaves neither visible.
"""

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import EXTRACTOR_VERSION
from ..operators.span_audit import invalid_spans
from ..operators.span_extract import extract_documents, pack_documents
from ..schema import (
    DEFAULT_BUCKET,
    INPUT_SCHEMA,
    OUTPUT_SCHEMA,
)
from ..sources.tables import SnapshotTable, Wave, leaves


def _with_bucket(df: DataFrame) -> DataFrame:
    """Stamp the default namespace onto bucket-less inputs.

    Reference bucket semantics (``fulltext/domain.py:87-94``): work
    identity is (bucket, doc_id) — the same doc_id in the ``arxiv``
    and ``submission`` namespaces is two distinct documents.
    """
    if "bucket" in df.columns:
        return df
    return df.withColumn("bucket", F.lit(DEFAULT_BUCKET))


def _read_output(spark: SparkSession, output_table: SnapshotTable) -> DataFrame:
    """Committed output with pre-bucket snapshots healed on read.

    Snapshots written before the ``bucket`` column existed read back
    as NULL under schema-on-read; every such row was implicitly in the
    default namespace, so coalesce — without this, the resume
    anti-join never matches old rows and silently re-extracts them.
    """
    out = output_table.read(spark, OUTPUT_SCHEMA)
    return out.withColumn(
        "bucket", F.coalesce(F.col("bucket"), F.lit(DEFAULT_BUCKET))
    )


def pending_documents(
    input_df: DataFrame,
    output_table: SnapshotTable,
    spark: SparkSession,
    force: bool = False,
) -> DataFrame:
    """Input rows not yet present in the committed output.

    ``force=True`` skips the dedup (reference: the ``force`` flag at
    ``fulltext/controllers.py:140``).
    """
    input_df = _with_bucket(input_df)
    if force or not output_table.snapshots():
        return input_df
    done = (
        _read_output(spark, output_table)
        .where(F.col("extractor_version") == EXTRACTOR_VERSION)
        .select("bucket", "doc_id")
    )
    return input_df.join(done, on=["bucket", "doc_id"], how="left_anti")


def _lineage_from_snapshot(
    spark: SparkSession, output_table: SnapshotTable, snap_id: int
) -> DataFrame:
    committed = output_table.read_snapshot(spark, snap_id, OUTPUT_SCHEMA)
    return (
        committed.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("status") == "succeeded", 1).otherwise(0)
                  ).alias("n_succeeded"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)
                  ).alias("n_failed"),
            F.sum("chars_extracted").alias("chars_extracted"),
            F.sum("n_text_spans").cast("long").alias("n_text_spans"),
            F.sum("n_media_spans").cast("long").alias("n_media_spans"),
        )
        .select(
            F.lit(snap_id).cast("long").alias("snapshot_id"),
            "partition_id",
            "n_docs",
            "n_succeeded",
            "n_failed",
            "chars_extracted",
            "n_text_spans",
            "n_media_spans",
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        )
    )


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    output_table: SnapshotTable,
    lineage_table: Optional[SnapshotTable] = None,
    parallelism: Optional[int] = None,
    force: bool = False,
    validate_spans: bool = False,
) -> Optional[int]:
    """Run one extraction increment; returns the committed snapshot id.

    Returns None when there was nothing to do (all documents already
    committed at this extractor version).

    ``parallelism`` caps the extraction tasks: given, the pending docs
    are packed by chars into one task per core, never more than
    ``parallelism`` (``operators/span_extract.pack_documents``, whose
    sizing action also says whether anything is pending); omitted,
    extraction runs in the input's own splits.

    ``validate_spans=True`` gates the input on the span-table
    invariant (``operators/span_audit``): documents violating it are
    NOT extracted — extraction over undefined span order would commit
    silently-reordered text — but they still commit, empty-spanned,
    with ``failure_class='invalid_spans'``, so the P2
    failure-isolation accounting covers them and a later re-ingest +
    ``force`` run can repair them.

    With ``lineage_table``, the output snapshot and its lineage rows
    commit together. An output snapshot committed by a run given no
    lineage table gets none later: no run backfills lineage.
    """
    todo = pending_documents(input_df, output_table, spark, force=force)
    if parallelism is None:
        pending = not todo.isEmpty()
    else:  # the packer's sizing action also counts the pending rows
        todo, pending = pack_documents(todo, parallelism)
    if not pending:
        return None
    if validate_spans:
        todo = todo.withColumn("_invalid", invalid_spans())
        quarantined = todo.where("_invalid").select(
            "doc_id",
            "bucket",
            F.expr("CAST(array() AS array<struct<kind:string,"
                   "text:string,media_ref:string,order:int>>)")
            .alias("spans"),
            F.lit(None).cast("string").alias("plain_text"),
            F.lit(None).cast("string").alias("psv_text"),
            F.lit("failed").alias("status"),
            F.lit("invalid_spans").alias("failure_class"),
            F.lit(None).cast("string").alias("via"),
            F.lit(0).cast("long").alias("chars_extracted"),
            F.lit(0).cast("int").alias("n_text_spans"),
            F.lit(0).cast("int").alias("n_media_spans"),
            # same version stamp as real extractions: the
            # skip-if-exists anti-join keys on it, so a NULL here
            # would re-pend the quarantined doc every increment
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            F.current_timestamp().alias("started"),
            F.current_timestamp().alias("ended"),
            F.spark_partition_id().alias("partition_id"),
        )
        extracted = extract_documents(
            todo.where("NOT _invalid")).unionByName(quarantined)
    else:
        extracted = extract_documents(todo)
    return _commit(spark, extracted, output_table, lineage_table)


def _commit(
    spark: SparkSession,
    extracted: DataFrame,
    output_table: SnapshotTable,
    lineage_table: Optional[SnapshotTable],
    meta: Optional[dict] = None,
) -> int:
    """Commit ``extracted`` as one output snapshot and its lineage rows
    as one wave carrying ``meta``; the tail both entry points share.
    Returns the committed snapshot id."""
    wave = Wave(meta)
    snap_id = wave.append(output_table, extracted)
    if lineage_table is not None:
        wave.append(lineage_table,
                    _lineage_from_snapshot(spark, output_table, snap_id))
    wave.commit()
    return snap_id


def get_document(
    spark: SparkSession,
    output_table: SnapshotTable,
    doc_id: str,
    bucket: str = DEFAULT_BUCKET,
) -> Optional[dict]:
    """Point retrieval of one extracted document (latest version).

    Spark restatement of the reference's GET endpoint
    (``fulltext/routes.py:87-121`` → ``controllers.retrieve`` →
    latest-version resolution ``store.py:145-165``): a predicate on
    the committed table; the in-progress/303 state doesn't exist
    because visibility is snapshot-atomic.
    """
    rows = (
        read_extracted(spark, output_table)
        .where((F.col("doc_id") == doc_id) & (F.col("bucket") == bucket))
        .collect()
    )
    return rows[0].asDict(recursive=True) if rows else None


def read_extracted(spark: SparkSession, output_table: SnapshotTable) -> DataFrame:
    """Latest-version view of the committed output (J3 semantics).

    One row per (bucket, doc_id): the row with the numerically
    greatest extractor version — the reference float-sorts versions
    (``fulltext/services/store/store.py:145-165``,
    ``sorted(map(float, ...))``), so "10.0" must beat "9.0" despite
    sorting lexicographically smaller. The numeric tail must be a
    whole float token — preceded by start-of-string or a non-[0-9.]
    char — so dotted "2.1.0" parses as NULL and falls back to string
    order (an unanchored tail match would misparse it as 1.0 and rank
    it below "1.9.9"), while "spark-10.0" still parses as 10.0.
    Non-numeric versions sort after any numeric one.
    """
    out = _read_output(spark, output_table)
    version_num = F.regexp_extract(
        "extractor_version", r"(?:^|[^0-9.])(\d+(\.\d+)?)$", 1
    ).try_cast("double")  # no-match "" → NULL, not an ANSI cast error
    latest = Window.partitionBy("bucket", "doc_id").orderBy(
        F.desc_nulls_last(version_num),
        F.desc("extractor_version"),
        F.desc("ended"),
    )
    return (
        out.withColumn("_rank", F.row_number().over(latest))
        .where(F.col("_rank") == 1)
        .drop("_rank")
    )


# ---------------------------------------------------------------------------
# Steady-state incremental extraction: snapshot-delta reads instead of
# the anti-join. At 10^12 committed rows the anti-join's build side is
# a full scan of the done-set every run; an incremental consumer reads
# ONLY the input snapshots committed since its last run. The consumed
# position is stored in the output commit's manifest entry — atomic
# with the data — so a crash between "write" and "record position" is
# impossible by construction. The anti-join path (run_extraction)
# remains the reconciliation/backfill tool.
# ---------------------------------------------------------------------------


def consumed_input_snapshot(output_table: SnapshotTable) -> int:
    """Highest input-snapshot id already folded into committed output."""
    ids = [
        leaf["consumed_input_snapshot"]
        for s in output_table.snapshots() for leaf in leaves(s)
        if leaf.get("consumed_input_snapshot") is not None
    ]
    return max(ids) if ids else 0


def run_extraction_incremental(
    spark: SparkSession,
    input_table: SnapshotTable,
    output_table: SnapshotTable,
    lineage_table: Optional[SnapshotTable] = None,
    parallelism: Optional[int] = None,
) -> Optional[int]:
    """Extract exactly the input snapshots not yet consumed.

    Returns the committed output snapshot id, or None when the input
    has no new snapshots. No join anywhere: the plan is scan(delta) →
    extract → write, regardless of how large the committed history is.
    """
    last = consumed_input_snapshot(output_table)
    head = input_table.latest_snapshot_id() or 0
    if head <= last:
        return None
    todo = input_table.read_since(spark, last, INPUT_SCHEMA, up_to=head)
    return _commit(spark, extract_documents(todo, parallelism=parallelism),
                   output_table, lineage_table,
                   meta={"consumed_input_snapshot": head})
