"""Checkpoint/resume semantics: snapshot commits + anti-join dedup.

North-rule requirement: resumable from the last committed snapshot —
a killed run loses only uncommitted work; the rerun completes exactly
the remaining documents, and every document appears exactly once.
"""

import pytest

from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
    pending_documents,
    read_extracted,
    run_extraction,
)
from zzzarchived_arxiv_fulltext_spark.schema import OUTPUT_SCHEMA
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import spans_table
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable


@pytest.fixture()
def tmp_tables(tmp_path):
    out = SnapshotTable(str(tmp_path / "out"))
    lineage = SnapshotTable(str(tmp_path / "lineage"))
    return out, lineage


def test_interrupted_run_resumes_exactly_once(spark, tmp_tables):
    out, lineage = tmp_tables
    full = spans_table(spark, 120, seed=7)

    # "crashed" first run: only half the input got committed before the
    # kill (simulated by feeding half), plus an orphan staging dir that
    # must stay invisible
    first_half = full.where("pmod(xxhash64(doc_id), 2) = 0")
    snap1 = run_extraction(spark, first_half, out, lineage, parallelism=4)
    assert snap1 == 1
    import os
    os.makedirs(os.path.join(out.path, "_staging-deadbeef"), exist_ok=True)

    committed_1 = out.read(spark, OUTPUT_SCHEMA).count()
    assert 0 < committed_1 < 120

    # rerun over the FULL input: anti-join resumes the remainder only
    todo = pending_documents(full, out, spark)
    assert todo.count() == 120 - committed_1

    snap2 = run_extraction(spark, full, out, lineage, parallelism=4)
    assert snap2 == 2

    result = out.read(spark, OUTPUT_SCHEMA)
    assert result.count() == 120
    assert result.select("doc_id").distinct().count() == 120  # exactly once

    # a third run is a no-op: nothing pending, no empty snapshot kept
    assert run_extraction(spark, full, out, lineage, parallelism=4) is None


def test_uncommitted_snapshot_is_invisible(spark, tmp_tables):
    out, _ = tmp_tables
    df = spans_table(spark, 10, seed=3)
    # write data files WITHOUT committing the manifest
    import os
    staging = os.path.join(out.path, "_staging-xyz")
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        extract_documents,
    )
    extract_documents(df).write.mode("overwrite").parquet(staging)
    assert out.snapshots() == []
    assert out.read(spark, OUTPUT_SCHEMA).count() == 0


def test_lineage_metrics_cover_all_docs(spark, tmp_tables):
    out, lineage = tmp_tables
    run_extraction(spark, spans_table(spark, 60, seed=5), out, lineage,
                   parallelism=4)
    from zzzarchived_arxiv_fulltext_spark.schema import LINEAGE_SCHEMA
    lin = lineage.read(spark, LINEAGE_SCHEMA).collect()
    assert sum(r["n_docs"] for r in lin) == 60
    assert all(r["n_docs"] == r["n_succeeded"] + r["n_failed"] for r in lin)
    out_rows = out.read(spark, OUTPUT_SCHEMA).collect()
    assert sum(r["chars_extracted"] for r in out_rows) == \
        sum(r["chars_extracted"] for r in lin)
    # per-partition lineage: partition ids are real and plural
    assert len({r["partition_id"] for r in lin}) >= 2



def _lineage_docs(spark, lineage) -> int:
    from zzzarchived_arxiv_fulltext_spark.schema import LINEAGE_SCHEMA

    return sum(r["n_docs"] for r in lineage.read(spark, LINEAGE_SCHEMA)
               .select("n_docs").collect())


def test_lineage_is_not_backfilled_for_compacted_snapshots(spark, tmp_tables):
    """Compaction renumbers committed rows into a new snapshot id;
    lineage is written once, in each run's wave, so later runs add no
    lineage rows for the compacted snapshot (regression guard from the
    backfill era)."""
    out, lineage = tmp_tables

    def lineage_docs():
        return _lineage_docs(spark, lineage)

    full = spans_table(spark, 40, seed=9)
    run_extraction(spark, full.where("pmod(xxhash64(doc_id), 2) = 0"),
                   out, lineage, parallelism=2)
    run_extraction(spark, full, out, lineage, parallelism=2)
    assert lineage_docs() == 40
    out.compact(spark)
    assert run_extraction(spark, full, out, lineage, parallelism=2) is None
    assert out.read(spark, OUTPUT_SCHEMA).count() == 40
    assert lineage_docs() == 40

    # a second compaction folds the first one in: still covered
    run_extraction(spark, spans_table(spark, 50, seed=9), out, lineage,
                   parallelism=2)
    out.compact(spark)
    assert run_extraction(spark, spans_table(spark, 50, seed=9), out,
                          lineage, parallelism=2) is None
    assert out.read(spark, OUTPUT_SCHEMA).count() == 50
    assert lineage_docs() == 50


def test_empty_output_snapshot_is_not_rebackfilled(spark, tmp_path,
                                                   tmp_tables):
    """A zero-row output snapshot commits with an empty lineage
    snapshot in its wave, and later runs append no further lineage
    snapshot for it (regression guard from the backfill era)."""
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.schema import INPUT_SCHEMA

    out, lineage = tmp_tables
    empty = spark.createDataFrame([], INPUT_SCHEMA)
    inp = SnapshotTable(str(tmp_path / "in"))
    inp.append(empty)
    assert run_extraction_incremental(spark, inp, out, lineage,
                                      parallelism=2) == 1
    assert out.read(spark, OUTPUT_SCHEMA).count() == 0
    assert len(lineage.snapshots()) == 1
    for _ in range(3):
        assert run_extraction(spark, empty, out, lineage,
                              parallelism=2) is None
    assert len(lineage.snapshots()) == 1


def test_crash_mid_wave_commits_neither_table(spark, tmp_tables,
                                             monkeypatch):
    """Output and lineage commit as one wave: a run that dies while
    building its lineage leaves neither table holding the wave, and
    the rerun commits both once, with every output doc in lineage."""
    from zzzarchived_arxiv_fulltext_spark.plans import extraction_job

    out, lineage = tmp_tables
    full = spans_table(spark, 30, seed=13)

    def crash(*a, **k):
        raise RuntimeError("simulated crash in the lineage stage")

    with monkeypatch.context() as m:
        m.setattr(extraction_job, "_lineage_from_snapshot", crash)
        with pytest.raises(RuntimeError):
            run_extraction(spark, full, out, lineage, parallelism=2)
    assert out.snapshots() == [] and lineage.snapshots() == []
    assert out.read(spark, OUTPUT_SCHEMA).count() == 0

    assert run_extraction(spark, full, out, lineage, parallelism=2) == 2
    assert len(out.snapshots()) == len(lineage.snapshots()) == 1
    assert out.read(spark, OUTPUT_SCHEMA).count() == 30
    assert _lineage_docs(spark, lineage) == 30
    assert run_extraction(spark, full, out, lineage, parallelism=2) is None


def test_replay_after_compact_appends_nothing(spark, tmp_path):
    """The committed-wave check reads through ``compacted_from``: a
    replay of incremental-dedup wave 1 after ``compact`` finds it
    committed, and the bucket index does not grow."""
    from zzzarchived_arxiv_fulltext_spark.plans.incremental_dedup import (
        run_dedup_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import Wave

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, f"{text} {i % 3}") for i in range(8)],
        "doc_id long, text string")
    buckets = SnapshotTable(str(tmp_path / "buckets"))

    def run_wave(k):
        wave = Wave({"wave": k})
        if wave.committed(buckets):
            return
        run_dedup_incremental(
            spark, docs.where(f"doc_id % 2 = {k}"), corpus=docs,
            bucket_table=buckets, threshold=0.5, wave=wave)
        wave.commit()

    run_wave(0)
    run_wave(1)
    n = buckets.read(spark).count()
    assert n == 8 * 4
    buckets.compact(spark)
    run_wave(1)
    assert buckets.read(spark).count() == n


def test_compacted_lineage_is_not_backfilled(spark, tmp_path, tmp_tables):
    """Compacting the lineage table adds no lineage rows on later runs:
    an empty wave, a 10-doc run, ``lineage.compact()``, then two empty
    runs (regression guard from the backfill era)."""
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.schema import INPUT_SCHEMA

    out, lineage = tmp_tables
    empty = spark.createDataFrame([], INPUT_SCHEMA)
    inp = SnapshotTable(str(tmp_path / "in"))
    inp.append(empty)
    assert run_extraction_incremental(spark, inp, out, lineage,
                                      parallelism=2) == 1
    run_extraction(spark, spans_table(spark, 10, seed=4), out, lineage,
                   parallelism=2)
    lineage.compact(spark)
    for _ in range(2):
        assert run_extraction(spark, empty, out, lineage,
                              parallelism=2) is None
    assert len(lineage.snapshots()) == 1
    assert _lineage_docs(spark, lineage) == 10


def test_force_reextraction_and_latest_version_view(spark, tmp_tables):
    out, _ = tmp_tables
    df = spans_table(spark, 15, seed=11)
    run_extraction(spark, df, out, parallelism=2)
    run_extraction(spark, df, out, parallelism=2, force=True)
    assert out.read(spark, OUTPUT_SCHEMA).count() == 30  # duplicated history
    latest = read_extracted(spark, out)
    assert latest.count() == 15  # J3 latest-version view dedups
