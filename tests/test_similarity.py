"""Similarity search tests: brute-force exactness + ANN recall."""

import pytest
from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    embedding_near_duplicates,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_brute_force_topk_shape_and_order(emb):
    queries = emb.where("vec_id < 3")
    top = brute_force_topk(emb, queries, k=5).collect()
    assert len(top) == 15
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == [1, 2, 3, 4, 5]
        coss = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert coss == sorted(coss, reverse=True)


def test_ann_recall_vs_brute_force(emb):
    # The synthetic embeddings are near-random (top-5 cosine ~0.3), the
    # hardest case for hyperplane LSH: recall comes from many tables
    # with few planes each. 16x4 measured ~0.86 on this corpus.
    queries = emb.where("vec_id < 10")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ann_topk(emb, queries, k=5, dim=64, tables=16, planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"ANN recall too low: {recall}"


def test_embedding_near_duplicates_finds_planted_pair(spark, emb):
    # plant an exact duplicate vector under a new id
    dup = emb.where("vec_id = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding", "label",
    )
    with_dup = emb.unionByName(dup)
    pairs = embedding_near_duplicates(
        with_dup, threshold=0.999, dim=64, tables=6, planes=8
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 100000 for r in pairs)


def test_ivf_recall_vs_brute_force(emb, spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    centroids = train_ivf_centroids(emb, n_centroids=8, iterations=4)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    queries = emb.where("vec_id < 10")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, centroids, k=5, n_probes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_ivf_centroids_deterministic(emb):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        train_ivf_centroids,
    )

    c1 = train_ivf_centroids(emb, n_centroids=4, iterations=2)
    c2 = train_ivf_centroids(emb, n_centroids=4, iterations=2)
    assert c1 == c2


def test_quantize_embeddings_roundtrip_and_scales(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        dimension_scales,
        quantize_embeddings,
    )

    rows = [(1, [1.27, -0.5, 0.0, 0.001]),
            (2, [-1.27, 0.25, 0.0, -0.001]),
            (3, [0.635, 0.5, 0.0, 0.0005])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scales = dimension_scales(df, dim=4)
    # dim 0: maxabs 1.27 → scale 0.01; dim 2 all-zero → the exact
    # documented epsilon floor max(max|v|, 1e-12)/127
    assert abs(scales[0] - 1.27 / 127) < 1e-12
    assert scales[2] == 1e-12 / 127.0
    got = {r["vec_id"]: r for r in
           quantize_embeddings(df, dim=4).collect()}
    assert got[1]["qvec"][0] == 127       # the max element hits +127
    assert got[2]["qvec"][0] == -127
    assert got[3]["qvec"][0] == 64        # 0.635/0.01 = 63.5 → half-up
    assert all(-127 <= q <= 127 for r in got.values() for q in r["qvec"])
    # reconstruction error is bounded by half a step per dim
    for r in got.values():
        assert r["rmse"] < max(scales)


def test_quantize_with_training_scales_is_delta_compatible(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        dimension_scales,
        quantize_embeddings,
    )

    base = spark.createDataFrame(
        [(i, [float(i % 5) - 2.0] * 4) for i in range(20)],
        "vec_id long, embedding array<double>")
    delta = spark.createDataFrame(
        [(100, [1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>")
    scales = dimension_scales(base, dim=4)
    a = quantize_embeddings(delta, scales=scales, dim=4).collect()[0]
    b = quantize_embeddings(delta, scales=scales, dim=4).collect()[0]
    assert a["qvec"] == b["qvec"]  # same training scales → same codes


def test_assign_nearest_centroid_parity_and_ties(spark):
    import numpy as np

    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        _nearest_centroid_udf,
        assign_nearest_centroid,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    cents = [[float(x) for x in rng.randn(16)] for _ in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    jvm = {r["vec_id"]: r["centroid_id"]
           for r in assign_nearest_centroid(df, cents).collect()}
    udf = _nearest_centroid_udf(cents)
    prod = {r["vec_id"]: r["cid"] for r in
            df.select("vec_id", udf("embedding").alias("cid")).collect()}
    assert jvm == prod

    # exact tie (equidistant vector) -> lowest centroid id, both paths
    tie = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<float>")
    tc = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    assert assign_nearest_centroid(tie, tc).collect()[0]["centroid_id"] == 0
    assert tie.select(_nearest_centroid_udf(tc)("embedding")
                      .alias("c")).collect()[0]["c"] == 0


def test_semantic_near_duplicates_cluster_scoped(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        semantic_near_duplicates,
    )

    cents = [[1.0, 0.0], [100.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [2.0, 0.0]),    # cluster 0
        (2, [2.0, 0.0]),    # exact dup of 1, cluster 0
        # cosine 1.0 with 1 and 2, but its magnitude assigns it to
        # cluster 1 — SemDeDup never emits cross-cluster pairs
        (3, [60.0, 0.0]),
        (4, [0.0, 5.0]),    # cluster 2, alone
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {(r["id_a"], r["id_b"]): r["cos"]
           for r in semantic_near_duplicates(
               df, cents, threshold=0.95).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


def test_semantic_near_duplicates_hot_cluster_cap(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        semantic_near_duplicates,
    )

    rows = [(i, [1.0, float(i) * 1e-4]) for i in range(6)]  # all c0
    rows += [(10, [0.0, 1.0]), (11, [0.0, 1.0])]            # c1 pair
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    capped = semantic_near_duplicates(
        df, cents, threshold=0.99, max_cluster_size=5).collect()
    # cluster 0 (6 members) exceeds the cap: only the c1 pair survives
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(10, 11)]
    uncapped = semantic_near_duplicates(
        df, cents, threshold=0.99, max_cluster_size=None)
    assert uncapped.where("id_a < 10").count() > 0


def test_hashed_doc_vectors_feed_semdedup(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        hashed_doc_vectors,
        semantic_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta"),          # exact dup of 1
         (3, "totally different words here"),
         (4, "alpha beta gamma delta epsilon")],  # near but not exact
        "doc_id int, text string")
    vecs = hashed_doc_vectors(docs, dim=32, id_col="doc_id")
    rows = {r["doc_id"]: r["embedding"] for r in vecs.collect()}
    assert all(len(v) == 32 for v in rows.values())
    assert rows[1] == rows[2]          # identical text → identical vector
    # unit norm
    assert abs(sum(x * x for x in rows[1]) - 1.0) < 1e-9
    cents = [rows[1], rows[3]]
    pairs = semantic_near_duplicates(
        vecs.withColumnRenamed("doc_id", "vec_id"), cents,
        threshold=0.999)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


def _nearest(v, cents):
    import math

    d = [math.fsum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
    return d.index(min(d))


def _semdedup_reference(new, old, cents, threshold, cap):
    """Pure-Python SemDeDup: argmin assignment, ``math.fsum`` dot
    products, every within-cluster pair with a new side, no pairs from
    clusters whose new + old membership exceeds ``cap``."""
    import itertools
    import math

    clusters = {}
    for is_new, rows in ((True, new), (False, old)):
        for i, v in rows:
            clusters.setdefault(_nearest(v, cents), []).append(
                (i, v, is_new))
    out = {}
    for members in clusters.values():
        if cap is not None and len(members) > cap:
            continue
        for (ia, va, na), (ib, vb, nb) in itertools.combinations(members, 2):
            if not (na or nb) or ia == ib:
                continue
            cos = math.fsum(x * y for x, y in zip(va, vb)) / math.sqrt(
                math.fsum(x * x for x in va) * math.fsum(y * y for y in vb))
            if cos >= threshold:
                out[(min(ia, ib), max(ia, ib))] = cos
    return out


@pytest.mark.parametrize("id_type", ["int", "string"])
@pytest.mark.parametrize("capped", [False, True])
def test_semdedup_matches_python_reference(spark, tmp_path, id_type,
                                           capped):
    """Batch and two incremental waves against the in-test reference
    on one planted fixture: equal pair sets, ``cos`` within 1e-6."""
    import collections
    import random

    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        semantic_near_duplicates,
    )
    from zzzarchived_arxiv_fulltext_spark.plans.incremental_semdedup import (
        run_semdedup_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import (
        SnapshotTable,
    )

    rnd = random.Random(7)
    rows = []
    for i in range(120):
        base = [rnd.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 7 == 0:  # planted near-dup with a tiny perturbation
            rows.append((1000 + i,
                         [x + rnd.uniform(-1e-4, 1e-4) for x in base]))
    cents = [v for i, v in rows if i < 4]
    # wave 0: bases 0-59 and the twins of 0-29; the twins of 30-59
    # pair across waves, through the index
    in_wave0 = [i % 1000 < (60 if i < 1000 else 30) for i, _ in rows]
    if id_type == "string":  # string order differs from int order
        rows = [(f"d{i}", v) for i, v in rows]
    waves = [[r for r, w in zip(rows, in_wave0) if w == first]
             for first in (True, False)]
    cap = None
    if capped:  # only the largest cluster goes over the cap
        sizes = sorted(collections.Counter(
            _nearest(v, cents) for _, v in rows).values())
        cap = sizes[-1] - 1
        assert sizes[-2] <= cap
    schema = f"vec_id {id_type}, embedding array<double>"

    def check(got, want):
        assert want  # non-vacuous
        got = {(r["id_a"], r["id_b"]): r["cos"] for r in got.collect()}
        assert set(got) == set(want)
        for k, cos in want.items():
            assert abs(got[k] - cos) <= 1e-6, (k, got[k], cos)

    batch = _semdedup_reference(rows, [], cents, 0.95, cap)
    if capped:
        assert batch != _semdedup_reference(rows, [], cents, 0.95, None)
    check(semantic_near_duplicates(
        spark.createDataFrame(rows, schema), cents, threshold=0.95,
        max_cluster_size=cap), batch)

    table = SnapshotTable(str(tmp_path / "idx"))
    old = []
    for k, wave in enumerate(waves):
        check(run_semdedup_incremental(
            spark, spark.createDataFrame(wave, schema), table, cents,
            threshold=0.95,
            max_cluster_size=cap),
            _semdedup_reference(wave, old, cents, 0.95, cap))
        old += wave
