"""Streaming corpus-prep service: stream == batch funnel, exactly-once."""

import shutil

import pytest

from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.plans.corpus_prep import (
    corpus_prep_funnel,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable
from zzzarchived_arxiv_fulltext_spark.streaming.stream_corpus_prep import (
    run_streaming_corpus_prep,
)

LONG_A = ("the quick brown fox jumps over the lazy dog again and "
          "again because the quick brown fox likes to jump over "
          "lazy dogs every single day of the week")
LONG_B = ("completely different content about distributed query "
          "engines and their shuffle behavior at large scale with "
          "columnar storage formats and vectorized execution paths")

WAVE1 = [
    (1, LONG_A, "en"),                                   # kept
    (2, "tiny", "en"),                                   # drop_quality
    (3, LONG_A.replace("week", "woche"), "de"),          # drop_lang
    (4, LONG_A.replace("week", "month"), "en"),          # near dup of 1
]
WAVE2 = [
    (5, LONG_A, "en"),             # exact dup of wave-1 doc 1
    (6, LONG_B + " mail a@b.co", "en"),                  # kept
    (7, LONG_A.replace("week", "year"), "en"),  # near dup of 1 (wave 1!)
    (8, LONG_A.replace("week", "month"), "en"),
    # ^ exact dup of doc 4 — which was near-DROPPED in wave 1; the
    #   hash index must still catch it (first-seen-wins semantics)
]


def _tables(tmp_path):
    names = ("corpus", "funnel", "hash", "seen", "bucket", "pairs")
    return {n: SnapshotTable(str(tmp_path / n)) for n in names}


def _run(spark, tmp_path, waves):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    t = _tables(tmp_path)
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            wave, "doc_id long, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(landing)
        run_streaming_corpus_prep(
            spark, landing, ckpt,
            corpus_table=t["corpus"], funnel_table=t["funnel"],
            hash_table=t["hash"], seen_table=t["seen"],
            bucket_table=t["bucket"], pairs_table=t["pairs"],
            min_tokens=10, max_avg_token_len=8.0, near_threshold=0.5,
        )
    return t


def test_stream_funnel_matches_batch(spark, tmp_path):
    t = _run(spark, tmp_path, [WAVE1, WAVE2])
    stream_stages = {
        r["doc_id"]: r["stage"]
        for r in t["funnel"].read(spark).collect()
    }
    batch = corpus_prep_funnel(
        spark.createDataFrame(WAVE1 + WAVE2,
                              "doc_id long, text string, lang string"),
        min_tokens=10, max_avg_token_len=8.0, near_threshold=0.5)
    batch_stages = {r["doc_id"]: r["stage"] for r in batch.collect()}

    assert set(stream_stages) == set(batch_stages) == set(range(1, 9))
    for d in sorted(batch_stages):
        s, b = stream_stages[d], batch_stages[d]
        if b.startswith("kept_"):
            assert s == b, (d, s, b)   # identical deterministic split
        else:
            assert s == b, (d, s, b)

    kept = t["corpus"].read(spark).collect()
    assert {r["doc_id"] for r in kept} == {1, 6}
    doc6 = [r for r in kept if r["doc_id"] == 6][0]
    assert "<EMAIL>" in doc6["text"]          # redacted on the way out


def test_stream_replay_is_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    t = _tables(tmp_path)
    spark.createDataFrame(
        WAVE1, "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("append").parquet(landing)

    for attempt, ckpt in enumerate(("ck1", "ck1-replay")):
        if attempt:  # lose the checkpoint -> batch 0 fully replays
            shutil.rmtree(str(tmp_path / "ck1-replay"),
                          ignore_errors=True)
        run_streaming_corpus_prep(
            spark, landing, str(tmp_path / ckpt),
            corpus_table=t["corpus"], funnel_table=t["funnel"],
            hash_table=t["hash"], seen_table=t["seen"],
            bucket_table=t["bucket"], pairs_table=t["pairs"],
            min_tokens=10, max_avg_token_len=8.0, near_threshold=0.5,
        )
    # every table holds exactly one copy of the batch
    assert t["corpus"].read(spark).count() == 1          # doc 1
    assert t["funnel"].read(spark).count() == len(WAVE1)
    assert t["seen"].read(spark).groupBy("doc_id").count() \
        .where(F.col("count") > 1).count() == 0


def test_partial_replay_recovers_kept_docs(spark, tmp_path, monkeypatch):
    """A crash at any of the batch's six appends, or just before its
    commit, leaves no table holding the batch; the replay then
    classifies against the same history and commits doc 1 once."""
    from zzzarchived_arxiv_fulltext_spark.sources.tables import Wave

    landing = str(tmp_path / "landing")
    t = _tables(tmp_path)
    spark.createDataFrame(
        WAVE1, "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("append").parquet(landing)

    def run(ckpt):
        run_streaming_corpus_prep(
            spark, landing, str(tmp_path / ckpt),
            corpus_table=t["corpus"], funnel_table=t["funnel"],
            hash_table=t["hash"], seen_table=t["seen"],
            bucket_table=t["bucket"], pairs_table=t["pairs"],
            min_tokens=10, max_avg_token_len=8.0, near_threshold=0.5,
        )

    append, commit = Wave.append, Wave.commit
    for crash_at in range(7):  # appends 0-5, then the commit
        calls = []

        def failing_append(self, table, df, crash_at=crash_at):
            calls.append(table)
            if len(calls) > crash_at:
                raise RuntimeError("simulated crash")
            return append(self, table, df)

        def failing_commit(self):
            raise RuntimeError("simulated crash before commit")

        with monkeypatch.context() as m:
            m.setattr(Wave, "append", failing_append)
            m.setattr(Wave, "commit",
                      failing_commit if crash_at == 6 else commit)
            with pytest.raises(Exception):
                run(f"ck-crash-{crash_at}")
        assert len(calls) == min(crash_at + 1, 6)
        assert not any(table.snapshots() for table in t.values())

    # replay with a fresh checkpoint: batch 0 reruns fully
    run("ck-replay")
    kept = t["corpus"].read(spark).collect()
    assert {r["doc_id"] for r in kept} == {1}      # doc 1 recovered
    assert t["funnel"].read(spark).count() == len(WAVE1)
    # and no table holds duplicate rows for the batch
    assert t["seen"].read(spark).groupBy("doc_id").count() \
        .where(F.col("count") > 1).count() == 0
