"""Training-batch prep: encode→pack composition, token conservation,
replay-safe commits."""

from zzzarchived_arxiv_fulltext_spark.plans.training_batches import (
    run_training_batch_prep,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable, Wave

MERGES = [("a", "b"), ("ab", "c")]


def _docs(spark):
    rows = [
        (1, "a b c d a b"),      # encodes: abc d ab  (3 tokens)
        (2, "x y z a b"),        # x y z ab           (4 tokens)
        (3, "a b a b a b c"),    # ab ab abc          (3 tokens)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_funnel_counts_and_conservation(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "seqs"))
    counts = run_training_batch_prep(
        spark, _docs(spark), MERGES, table, seq_len=4)
    assert counts["docs"] == 3
    assert counts["bpe_tokens"] == 10  # 3 + 4 + 3
    assert counts["packed_tokens"] == 10
    # 10 tokens at seq_len=4 → 3 windows, last one partial
    assert counts["sequences"] == 3
    assert counts["complete_sequences"] == 2
    seqs = table.read(spark)
    assert seqs.count() == 3
    toks = [
        t for r in seqs.orderBy("seq_id").collect()
        for t in r["seq_text"].split(" ")
    ]
    assert len(toks) == 10
    # every emitted symbol is a valid BPE token under the merge table
    assert set(toks) <= {"abc", "ab", "d", "x", "y", "z"}


def test_replay_commits_nothing_new(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "seqs2"))
    # a crashed attempt stages its sequences but never commits them
    first = run_training_batch_prep(
        spark, _docs(spark), MERGES, table, seq_len=4,
        wave=Wave({"run": 0}))
    assert table.snapshots() == []
    wave = Wave({"run": 0})
    again = run_training_batch_prep(
        spark, _docs(spark), MERGES, table, seq_len=4, wave=wave)
    wave.commit()
    assert again == first
    assert table.read(spark).count() == first["sequences"]
    assert Wave({"run": 0}).committed(table)
