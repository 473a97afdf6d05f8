"""Snapshot-table maintenance: incremental reads, compaction, retrieval."""

from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
    get_document,
    run_extraction,
)
from zzzarchived_arxiv_fulltext_spark.schema import OUTPUT_SCHEMA
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import make_doc, spans_table
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable


def test_incremental_reads_and_compaction(spark, tmp_path):
    out = SnapshotTable(str(tmp_path / "t"))
    full = spans_table(spark, 90, seed=13)
    run_extraction(spark, full.where("pmod(xxhash64(doc_id), 3) = 0"), out)
    run_extraction(spark, full.where("pmod(xxhash64(doc_id), 3) <= 1"), out)
    run_extraction(spark, full, out)
    assert out.snapshot_ids() == [1, 2, 3]

    # incremental read: only rows committed after snapshot 1
    inc = out.read_since(spark, 1)
    n1 = out.read_snapshot(spark, 1).count()
    assert inc.count() == 90 - n1
    # empty increment returns a typed empty frame
    assert out.read_since(spark, 3, OUTPUT_SCHEMA).count() == 0

    # compaction: one snapshot, same rows, resume still a no-op
    before = {r["doc_id"] for r in
              out.read(spark).select("doc_id").collect()}
    new_id = out.compact(spark, target_partitions=2)
    assert len(out.snapshot_ids()) == 1 and out.snapshot_ids() == [new_id]
    after = {r["doc_id"] for r in
             out.read(spark).select("doc_id").collect()}
    assert before == after
    assert run_extraction(spark, full, out) is None  # still all committed


def test_point_retrieval(spark, tmp_path):
    out = SnapshotTable(str(tmp_path / "t"))
    run_extraction(spark, spans_table(spark, 20, seed=4), out)
    doc_id, _ = make_doc(5, seed=4)
    doc = get_document(spark, out, doc_id)
    assert doc is not None and doc["doc_id"] == doc_id
    assert doc["status"] in ("succeeded", "failed")
    assert isinstance(doc["spans"], list)
    assert get_document(spark, out, "no/such-doc") is None


def test_maintain_compacts_past_budget(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    for lo in range(0, 12, 3):
        t.append(spark.range(lo, lo + 3).toDF("id"))
    assert len(t.snapshots()) == 4
    # within budget: no-op
    assert t.maintain(spark, max_snapshots=4) is None
    assert len(t.snapshots()) == 4
    # over budget: one compacted snapshot, same rows
    snap = t.maintain(spark, max_snapshots=3)
    assert snap is not None and len(t.snapshots()) == 1
    assert t.read(spark).count() == 12
    assert {r["id"] for r in t.read(spark).collect()} == set(range(12))


def test_compaction_keeps_each_appends_meta(spark, tmp_path):
    """``compacted_from`` keeps every folded append's id and meta,
    through a second compaction too; a manifest compacted before the
    meta was kept still yields its ids."""
    from zzzarchived_arxiv_fulltext_spark.sources.tables import leaves

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(2), meta={"wave": 0})
    t.append(spark.range(2))
    t.compact(spark)
    t.append(spark.range(2), meta={"wave": 2})
    t.compact(spark)
    (entry,) = t.snapshots()
    assert leaves(entry) == [{"id": 1, "wave": 0}, {"id": 2},
                             {"id": 4, "wave": 2}]
    assert leaves({"id": 3, "compacted_from": [1, 2]}) == [
        {"id": 1}, {"id": 2}]


def _race(table, other_path, rows):
    """Make ``table``'s next stage, before it returns, append ``rows``
    through a second handle on ``other_path``: the interleaving of two
    processes writing one table."""
    stage = table._stage

    def staged_then_raced(*args):
        name = stage(*args)
        SnapshotTable(other_path).append(rows)
        return name

    table._stage = staged_then_raced


def test_compaction_keeps_an_append_that_races_it(spark, tmp_path):
    """An append that commits while ``compact`` stages stays in the
    manifest: compaction rebases instead of replacing the list it
    read."""
    path = str(tmp_path / "t")
    t = SnapshotTable(path)
    t.append(spark.range(0, 2))
    t.append(spark.range(2, 4))
    _race(t, path, spark.range(10, 13))
    new_id = t.compact(spark)
    assert new_id == 4
    assert sorted(SnapshotTable(path).snapshot_ids()) == [3, 4]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [
        0, 1, 2, 3, 10, 11, 12]
    assert SnapshotTable(path).read_snapshot(spark, 3).count() == 3


def test_two_appenders_both_commit(spark, tmp_path):
    """Two appends interleaved on one table both commit, with distinct
    ids assigned when each commits."""
    path = str(tmp_path / "t")
    t = SnapshotTable(path)
    _race(t, path, spark.range(10, 13))
    assert t.append(spark.range(0, 2)) == 2
    assert SnapshotTable(path).snapshot_ids() == [1, 2]
    assert t.read(spark).count() == 5
