"""Incremental global line dedup: batch == concatenated waves."""

from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.operators.dedup import (
    dedup_lines_global,
)
from zzzarchived_arxiv_fulltext_spark.plans.incremental_line_dedup import (
    run_line_dedup_increment,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

WAVE1 = [(1, "alpha\nshared line\nbeta"),
         (2, "shared line\ngamma")]
WAVE2 = [(3, "delta\nshared line\nnew line"),
         (4, "new line\nepsilon\ngamma")]
WAVE3 = [(5, "shared line\nnew line\ngamma\nzeta")]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collect(df):
    return {r["doc_id"]: (r["text"], r["n_lines_dropped"])
            for r in df.collect()}


def test_waves_equal_batch(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "lines"))
    got = {}
    for wave in (WAVE1, WAVE2, WAVE3):
        got.update(_collect(run_line_dedup_increment(
            spark, _df(spark, wave), table)))
    batch = _collect(dedup_lines_global(
        _df(spark, WAVE1 + WAVE2 + WAVE3)))
    assert got == batch
    # sanity on the semantics themselves
    assert got[1] == ("alpha\nshared line\nbeta", 0)
    assert got[3] == ("delta\nnew line", 1)
    assert got[5] == ("zeta", 3)


def test_replay_with_commit_meta_is_exactly_once(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.sources.tables import Wave

    table = SnapshotTable(str(tmp_path / "lines"))
    meta = {"batch_id": 7}
    # a crashed attempt: its keepers stay invisible
    a = _collect(run_line_dedup_increment(
        spark, _df(spark, WAVE1), table, wave=Wave(meta)))
    assert table.snapshots() == []
    # the retry sees the same history: same output, one index append
    wave = Wave(meta)
    b = _collect(run_line_dedup_increment(
        spark, _df(spark, WAVE1), table, wave=wave))
    wave.commit()
    assert len(table.snapshots()) == 1
    assert a == b
    assert Wave(meta).committed(table)
    # and the NEXT wave still dedups against wave 1's lines
    c = _collect(run_line_dedup_increment(
        spark, _df(spark, WAVE2), table))
    assert c[3] == ("delta\nnew line", 1)


def test_exempt_short_lines_survive_every_wave(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "lines"))
    w1 = [(1, "ok\nlong enough line")]
    w2 = [(2, "ok\nlong enough line\nfresh content")]
    run_line_dedup_increment(spark, _df(spark, w1), table, min_chars=5)
    out = _collect(run_line_dedup_increment(
        spark, _df(spark, w2), table, min_chars=5))
    assert out[2] == ("ok\nfresh content", 1)


def test_streaming_line_dedup_equals_batch(spark, tmp_path):
    """The standing stream service over three file waves produces the
    same cleaned corpus as one batch pass, and a restart drains only
    the new files."""
    from zzzarchived_arxiv_fulltext_spark.streaming.stream_dedup import (
        run_streaming_line_dedup,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    index = SnapshotTable(str(tmp_path / "index"))
    output = SnapshotTable(str(tmp_path / "out"))

    def drop(rows, name):
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            f"{landing}/{name}")

    # file-source streams need a stable dir; write waves as subdirs
    drop(WAVE1, "w1")
    run_streaming_line_dedup(
        spark, f"{landing}/*", ckpt, index, output)
    drop(WAVE2, "w2")
    drop(WAVE3, "w3")
    run_streaming_line_dedup(
        spark, f"{landing}/*", ckpt, index, output)

    got = _collect(output.read(spark))
    batch = _collect(dedup_lines_global(
        _df(spark, WAVE1 + WAVE2 + WAVE3)))
    assert got == batch
