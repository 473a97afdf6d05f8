"""Incremental dedup == batch dedup, without recomputing history."""

import pytest
from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.operators.dedup import (
    near_duplicates_minhash,
)
from zzzarchived_arxiv_fulltext_spark.plans.incremental_dedup import (
    run_dedup_incremental,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _text(i: int) -> str:
    # 16 words, deterministic, distinct per i
    return " ".join(_WORDS[(i * 7 + k * 3) % len(_WORDS)]
                    for k in range(16)) + f" marker{i}"


def _frames(spark):
    wave1 = [(i, _text(i)) for i in range(10)]
    wave1[5] = (5, _text(3))                       # exact dup inside wave1
    wave2 = [
        (10, _text(2)),                            # cross-wave exact dup
        (11, _text(4) + " extra tail words here"),  # cross-wave near dup
        (12, _text(12)), (13, _text(13)),
    ]
    schema = "doc_id long, text string"
    return (spark.createDataFrame(wave1, schema),
            spark.createDataFrame(wave2, schema))


def _pairs(df) -> set:
    return {(r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in df.collect()}


def test_incremental_matches_batch(spark, tmp_path):
    w1, w2 = _frames(spark)
    full = w1.unionByName(w2)
    batch = _pairs(near_duplicates_minhash(full, threshold=0.5))
    assert batch  # the planted dups are found at all

    buckets = SnapshotTable(str(tmp_path / "buckets"))
    pairs_t = SnapshotTable(str(tmp_path / "pairs"))

    inc1 = _pairs(run_dedup_incremental(
        spark, w1, corpus=w1, bucket_table=buckets,
        pairs_table=pairs_t, threshold=0.5))
    # first increment == batch over wave 1 only
    assert inc1 == _pairs(near_duplicates_minhash(w1, threshold=0.5))

    inc2 = _pairs(run_dedup_incremental(
        spark, w2, corpus=full, bucket_table=buckets,
        pairs_table=pairs_t, threshold=0.5))
    # cross-wave dups found WITHOUT re-signing wave 1
    assert (2, 10, 1.0) in inc2

    assert inc1 | inc2 == batch
    # committed pair history equals the batch result too
    assert _pairs(pairs_t.read(spark)) == batch
    # the bucket index grew by exactly the delta docs each time
    per_doc_rows = 4  # bands
    assert buckets.read(spark).count() == (10 + 4) * per_doc_rows


def test_streaming_near_dedup_service(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.streaming.stream_dedup import (
        run_streaming_near_dedup,
    )

    w1, w2 = _frames(spark)
    landing = str(tmp_path / "landing")
    corpus_t = SnapshotTable(str(tmp_path / "corpus"))
    buckets_t = SnapshotTable(str(tmp_path / "buckets"))
    pairs_t = SnapshotTable(str(tmp_path / "pairs"))

    w1.coalesce(1).write.mode("append").parquet(landing)
    run_streaming_near_dedup(
        spark, landing, str(tmp_path / "ckpt"), corpus_t, buckets_t,
        pairs_t, threshold=0.5)
    assert corpus_t.read(spark).count() == 10

    w2.coalesce(1).write.mode("append").parquet(landing)
    run_streaming_near_dedup(
        spark, landing, str(tmp_path / "ckpt"), corpus_t, buckets_t,
        pairs_t, threshold=0.5)
    assert corpus_t.read(spark).count() == 14

    # the committed pair history equals a batch run over everything
    batch = _pairs(near_duplicates_minhash(w1.unionByName(w2),
                                           threshold=0.5))
    assert _pairs(pairs_t.read(spark)) == batch

    # restart replay is exactly-once (ADVICE r3): blow away the
    # checkpoint so the stream REPLAYS every landed file with fresh
    # batch ids; the stream_batch_id stamps in the table manifests
    # must dedupe the appends — no table grows
    import shutil

    before = (corpus_t.read(spark).count(), buckets_t.read(spark).count(),
              _pairs(pairs_t.read(spark)))
    shutil.rmtree(str(tmp_path / "ckpt"))
    run_streaming_near_dedup(
        spark, landing, str(tmp_path / "ckpt"), corpus_t, buckets_t,
        pairs_t, threshold=0.5)
    after = (corpus_t.read(spark).count(), buckets_t.read(spark).count(),
             _pairs(pairs_t.read(spark)))
    assert after == before


def test_incremental_dedup_commit_meta_is_idempotent(spark, tmp_path):
    """An increment's bucket and pair rows commit as one wave: a
    crashed attempt leaves neither, its retry finds the same pairs,
    and a replay of the committed increment is caught by the wave
    check."""
    from zzzarchived_arxiv_fulltext_spark.sources.tables import Wave

    w1, w2 = _frames(spark)
    buckets = SnapshotTable(str(tmp_path / "buckets"))
    pairs = SnapshotTable(str(tmp_path / "pairs"))
    meta = {"stream_batch_id": 0}

    crashed = _pairs(run_dedup_incremental(
        spark, w1, corpus=w1, bucket_table=buckets, pairs_table=pairs,
        threshold=0.5, wave=Wave(meta)))
    assert buckets.snapshots() == [] and pairs.snapshots() == []

    wave = Wave(meta)
    retried = _pairs(run_dedup_incremental(
        spark, w1, corpus=w1, bucket_table=buckets, pairs_table=pairs,
        threshold=0.5, wave=wave))
    wave.commit()
    assert retried == crashed
    assert _pairs(pairs.read(spark)) == retried
    n_buckets = buckets.read(spark).count()
    assert Wave(meta).committed(buckets) and Wave(meta).committed(pairs)

    # a NEW increment still appends
    assert not Wave({"stream_batch_id": 1}).committed(buckets)
    run_dedup_incremental(spark, w2, corpus=w1.unionByName(w2),
                          bucket_table=buckets, pairs_table=pairs,
                          threshold=0.5)
    assert buckets.read(spark).count() > n_buckets


def test_incremental_second_run_reads_only_bucket_index(spark, tmp_path):
    """The history side of the candidate join is the bucket INDEX —
    historical text is touched only for verified candidate ids."""
    w1, w2 = _frames(spark)
    buckets = SnapshotTable(str(tmp_path / "buckets"))
    run_dedup_incremental(spark, w1, corpus=w1, bucket_table=buckets,
                          threshold=0.5)

    # corpus lookups during increment 2 are satisfied by a frame that
    # ONLY contains the candidate ids — anything else would fail fast
    candidates_only = w1.where(F.col("doc_id").isin(2, 4))
    out = run_dedup_incremental(
        spark, w2, corpus=candidates_only, bucket_table=buckets,
        threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (2, 10) in got and (4, 11) in got


def test_incremental_string_ids_with_commit_meta(spark, tmp_path):
    """The sf1-soak regression: extraction doc_ids are STRINGS, and a
    stamped wave 1 reads the committed bucket index through a forced
    schema — which must inherit the corpus id type, not assume long
    (least(string, bigint) analysis error otherwise)."""
    w1, w2 = _frames(spark)
    as_str = lambda df: df.select(  # noqa: E731
        F.concat(F.lit("doc-"), F.format_string("%04d", "doc_id"))
        .alias("doc_id"), "text")
    w1s, w2s = as_str(w1), as_str(w2)
    full = w1s.unionByName(w2s)

    buckets = SnapshotTable(str(tmp_path / "buckets"))
    run_dedup_incremental(spark, w1s, corpus=w1s, bucket_table=buckets,
                          threshold=0.5)
    inc2 = _pairs(run_dedup_incremental(
        spark, w2s, corpus=full, bucket_table=buckets,
        threshold=0.5))
    assert ("doc-0002", "doc-0010", 1.0) in inc2


def test_cross_join_hot_bucket_cap(spark, tmp_path):
    """The candidate join against the committed index must honor
    max_bucket_size, counted over a bucket's delta + history members:
    a (band, bucket) made hot by its HISTORY rows is excluded from
    candidate generation (the sf1 soak disk-fill), while normal
    buckets keep matching; cap=None restores the exhaustive join."""
    boiler = "common boilerplate words repeated across the whole fleet"
    hist = spark.createDataFrame(
        [(i, boiler) for i in range(6)] + [(100, _text(1))],
        "doc_id long, text string")
    buckets = SnapshotTable(str(tmp_path / "buckets"))
    run_dedup_incremental(spark, hist, corpus=hist, bucket_table=buckets,
                          max_bucket_size=None)

    corpus = hist.unionByName(spark.createDataFrame(
        [(200, boiler), (201, _text(1))], "doc_id long, text string"))
    delta = corpus.where("doc_id >= 200")

    # capped: the boilerplate bucket (1 delta + 6 history docs > cap
    # 2) is dropped, so 200 pairs with nothing; 201 still matches 100.
    capped = _pairs(run_dedup_incremental(
        spark, delta, corpus=corpus, bucket_table=buckets,
        max_bucket_size=2))
    assert capped == {(100, 201, 1.0)}

    # uncapped: 200 matches all six boilerplate docs.
    full = _pairs(run_dedup_incremental(
        spark, delta, corpus=corpus, bucket_table=buckets,
        max_bucket_size=None))
    assert {(i, 200, 1.0) for i in range(6)} <= full
    assert (100, 201, 1.0) in full


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_incremental_equals_batch_at_cap_boundary(spark, tmp_path, id_type):
    """Each wave's pairs are the batch pairs over every wave so far
    that touch the wave: the cap counts a bucket's new + old members.
    Planted at cap 2, identical texts sharing every band bucket:
    group x holds 2 old + 1 new docs and group y 3 old + 2 new, so
    both are hot after wave 2 (a per-side count would pair the new x
    doc with both old ones, and the two new y docs with each other);
    group z (1 old + 1 new) still pairs."""
    def text(group):
        return " ".join(f"{group}{k}" for k in range(16))

    groups = {"x": ([1, 2], [3]), "y": ([11, 12, 13], [14, 15]),
              "z": ([21], [22])}
    key = (lambda i: i) if id_type == "long" else (lambda i: f"d{i:03d}")
    waves = [spark.createDataFrame(
        [(key(i), text(g)) for g, ids in groups.items() for i in ids[w]],
        f"doc_id {id_type}, text string") for w in (0, 1)]

    buckets = SnapshotTable(str(tmp_path / "buckets"))
    seen, wants = None, []
    for k, wave in enumerate(waves):
        seen = wave if seen is None else seen.unionByName(wave)
        new_ids = {r["doc_id"] for r in wave.collect()}
        want = {p for p in _pairs(near_duplicates_minhash(
                    seen, threshold=0.5, max_bucket_size=2))
                if new_ids & {p[0], p[1]}}
        got = _pairs(run_dedup_incremental(
            spark, wave, corpus=seen, bucket_table=buckets,
            threshold=0.5, max_bucket_size=2))
        assert got == want
        wants.append(want)
    # wave 1 pairs x (2 members); wave 2 pairs only z
    assert wants == [{(key(1), key(2), 1.0)}, {(key(21), key(22), 1.0)}]
    assert buckets.read(spark).count() == 10 * 4  # index stays complete
