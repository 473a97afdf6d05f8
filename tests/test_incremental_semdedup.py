"""Incremental SemDeDup: wave-sum == one-shot batch, replay safety,
cluster-cap behavior."""

import pytest

from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
    semantic_near_duplicates,
)
from zzzarchived_arxiv_fulltext_spark.plans.incremental_semdedup import (
    run_semdedup_incremental,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

CENTS = [[1.0, 0.0], [0.0, 1.0]]


def _vectors(spark):
    rows = [
        (1, [5.0, 0.0]), (2, [5.0, 0.0]),     # dup pair, cluster 0
        (3, [0.0, 7.0]),                       # cluster 1
        (4, [5.0, 0.05]),                      # near-dup of 1/2, c0
        (5, [0.0, 7.0]),                       # dup of 3, cluster 1
        (6, [3.0, 0.4]),                       # c0, below threshold
    ]
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<double>")


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def test_waves_equal_one_shot(spark, tmp_path):
    vecs = _vectors(spark)
    batch = _pairs(semantic_near_duplicates(
        vecs, CENTS, threshold=0.99))

    table = SnapshotTable(str(tmp_path / "semdedup_idx"))
    w0 = vecs.where("vec_id <= 3")
    w1 = vecs.where("vec_id > 3")
    got = _pairs(run_semdedup_incremental(
        spark, w0, table, CENTS, threshold=0.99))
    got += _pairs(run_semdedup_incremental(
        spark, w1, table, CENTS, threshold=0.99))
    assert sorted(got) == batch
    assert batch  # non-vacuous: the fixture has real pairs


def test_replay_is_idempotent(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.sources.tables import Wave

    vecs = _vectors(spark)
    table = SnapshotTable(str(tmp_path / "semdedup_replay"))
    # a crashed attempt: its index rows never commit
    first = _pairs(run_semdedup_incremental(
        spark, vecs.where("vec_id <= 3"), table, CENTS,
        threshold=0.99, wave=Wave({"wave": 0})))
    assert table.snapshots() == []
    # the retry with the same stamp sees the same history
    wave = Wave({"wave": 0})
    again = _pairs(run_semdedup_incremental(
        spark, vecs.where("vec_id <= 3"), table, CENTS,
        threshold=0.99, wave=wave))
    wave.commit()
    assert again == first
    assert Wave({"wave": 0}).committed(table)
    # the index holds each vector exactly once
    idx = table.read(spark)
    assert idx.count() == idx.select("vec_id").distinct().count() == 3


def test_hot_cluster_cap_skips_pairs_but_commits_rows(spark, tmp_path):
    vecs = _vectors(spark)  # cluster 0 has 4 members, cluster 1 has 2
    table = SnapshotTable(str(tmp_path / "semdedup_cap"))
    got = _pairs(run_semdedup_incremental(
        spark, vecs, table, CENTS, threshold=0.99, max_cluster_size=2))
    assert got == [(3, 5)]  # only the small cluster pairs
    assert table.read(spark).count() == 6  # index stays complete


@pytest.mark.usefixtures("spark")
def test_cross_wave_pair_found_only_via_index(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "semdedup_cross"))
    a = spark.createDataFrame(
        [(10, [2.0, 0.0])], "vec_id int, embedding array<double>")
    b = spark.createDataFrame(
        [(20, [2.0, 0.0])], "vec_id int, embedding array<double>")
    assert _pairs(run_semdedup_incremental(
        spark, a, table, CENTS)) == []
    # wave 2's only match is a wave-1 vector: must come from the index
    assert _pairs(run_semdedup_incremental(
        spark, b, table, CENTS)) == [(10, 20)]


def test_streaming_semdedup_matches_batch(spark, tmp_path):
    import pathlib

    from zzzarchived_arxiv_fulltext_spark.streaming.stream_dedup import (
        run_streaming_semdedup,
    )

    vecs = _vectors(spark)
    landing = tmp_path / "landing"
    pathlib.Path(landing).mkdir()
    # two files → (with maxFilesPerTrigger=64 and availableNow) one or
    # two micro-batches; either way stream output must equal batch
    vecs.where("vec_id <= 3").coalesce(1).write.parquet(
        str(landing / "w0"))
    vecs.where("vec_id > 3").coalesce(1).write.parquet(
        str(landing / "w1"))

    index = SnapshotTable(str(tmp_path / "idx"))
    pairs = SnapshotTable(str(tmp_path / "pairs"))
    run_streaming_semdedup(
        spark, str(landing / "*"), str(tmp_path / "ckpt"),
        index, pairs, CENTS, threshold=0.99)

    got = sorted((r["id_a"], r["id_b"])
                 for r in pairs.read(spark).collect())
    want = _pairs(semantic_near_duplicates(vecs, CENTS, threshold=0.99))
    assert got == want and got
    assert index.read(spark).count() == 6


def test_string_ids_survive_waves(spark, tmp_path):
    """String vec_ids (the extraction doc_id shape): the index schema
    must inherit the caller's id type — the old hardcoded long schema
    + forced cast nulled every id and silently dropped all pairs
    (ADVICE r6)."""
    rows = [
        ("arXiv:2301.00001", [5.0, 0.0]),
        ("arXiv:2301.00002", [5.0, 0.0]),
        ("arXiv:2301.00003", [0.0, 7.0]),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>")
    table = SnapshotTable(str(tmp_path / "semdedup_sid"))
    got = _pairs(run_semdedup_incremental(
        spark, vecs.where("vec_id != 'arXiv:2301.00002'"), table,
        CENTS, threshold=0.99))
    got += _pairs(run_semdedup_incremental(
        spark, vecs.where("vec_id = 'arXiv:2301.00002'"), table,
        CENTS, threshold=0.99))
    assert got == [("arXiv:2301.00001", "arXiv:2301.00002")]
