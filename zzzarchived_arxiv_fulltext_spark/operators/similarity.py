"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k (the correctness baseline): broadcast the
  query set, JVM-side dot products via zip_with/aggregate, window
  top-k — no Python in the loop;
- LSH-bucketed ANN (the scale path): deterministic random-hyperplane
  signatures (seeded, engine-independent), candidates from bucket
  equi-joins, exact cosine only within buckets. Multi-probe via
  several independent tables keeps recall high without widening any
  single join.

At 100 TB the brute-force path is a cross join — never run it on the
full corpus; it exists to verify the ANN path's recall on samples.
"""

import hashlib
import math
from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .dedup import drop_hot_keys


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<float|double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    (query_id, neighbor_id, cos) — queries are broadcast; ties broken
    by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cn", l2_norm(F.col("cvec")))
    # norms once per vector, dot only inside the cross join — the
    # O(|corpus|·|queries|·dim) stage sheds two of its three folds
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cos, 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# LSH ANN
# --------------------------------------------------------------------------


def _hyperplane(table: int, plane: int, dim: int) -> List[float]:
    """Deterministic pseudo-random unit-free hyperplane.

    Components derived from md5 so signatures are reproducible across
    engines and sessions (no RNG state, no numpy dependency here).
    """
    out = []
    for d in range(dim):
        h = hashlib.md5(f"srp|{table}|{plane}|{d}".encode()).hexdigest()
        u = int(h[:12], 16) / float(1 << 48)  # [0, 1)
        out.append(math.sqrt(-2.0 * math.log(max(u, 1e-12)))
                   * math.cos(2.0 * math.pi
                              * (int(h[12:24], 16) / float(1 << 48))))
    return out


def _srp_buckets_udf(tables: int, planes: int, dim: int):
    """All-tables SRP bucketing as one numpy matmul per Arrow batch.

    Bit ``p`` of a row's bucket in table ``t`` is set when its dot
    product with the seeded hyperplane ``_hyperplane(t, p, dim)`` is
    >= 0. One (batch×dim)·(dim×tables·planes) matmul computes every
    bit of every table at once, instead of tables×planes×dim scalar
    ops per row through Catalyst lambdas (measured ~10× slower on the
    bench corpus).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mat = np.array(
        [_hyperplane(t, p, dim) for t in range(tables) for p in range(planes)],
        dtype=np.float64,
    ).T  # dim × (tables·planes)
    weights = (1 << np.arange(planes, dtype=np.int64))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(x) == 0:
            return pd.Series([], dtype=object)
        bits = (x @ mat) >= 0  # batch × (tables·planes)
        b = bits.reshape(len(x), tables, planes) @ weights  # batch × tables
        return pd.Series(list(b.astype("int32")))

    return buckets


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    tables: int = 4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: union of per-table bucket joins, exact cosine
    on candidates, window top-k. Never goes quadratic: each join is an
    equi-join on (table, bucket)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cn", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec")))

    buckets_udf = _srp_buckets_udf(tables, planes, dim)

    def with_buckets(df: DataFrame, vec: str) -> DataFrame:
        return (
            df.withColumn("_b", buckets_udf(F.col(vec)))
            .select("*", F.posexplode("_b").alias("tbl", "bucket"))
            .drop("_b")
        )

    cb = with_buckets(c, "cvec")
    qb = with_buckets(q, "qvec")
    candidates = (
        cb.join(F.broadcast(qb), on=["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qvec", "cvec", "qn", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # norms hoisted to once per vector (before bucket explosion);
    # candidates evaluate only the dot
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    scored = candidates.select(
        "query_id", "neighbor_id",
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    tables: int = 4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine (LSH-bucketed).

    (id_a, id_b, cos) with cos >= threshold, id_a < id_b.
    """
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    # norm hoisted to one-per-vector (same O(pairs·dim) saving as the
    # SemDeDup join); dot/(na·nb) is bit-identical to
    # dot/(l2_norm(a)·l2_norm(b))
    ).withColumn("nrm", l2_norm(F.col("vec")))
    buckets_udf = _srp_buckets_udf(tables, planes, dim)
    b = (
        v.withColumn("_b", buckets_udf(F.col("vec")))
        .select("id", "vec", "nrm",
                F.posexplode("_b").alias("tbl", "bucket"))
    )
    a, bb = b.alias("a"), b.alias("b")
    cos = (dot(F.col("a.vec"), F.col("b.vec"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    return (
        a.join(bb, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("cos") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 5,
    sample_fraction: float = 1.0,
    vec_col: str = "embedding",
    dim: int = 64,
    init=None,
):
    """K-means centroids trained distributed; returns a python list.

    Init is deterministic (md5-seeded pseudo-Gaussian vectors, same
    family as the SRP planes) unless ``init`` passes an explicit k×dim
    warm-start matrix (e.g. previously committed centroids, so an
    incremental re-train continues from the served state instead of
    re-clustering from scratch); each Lloyd iteration is one
    assign+groupBy pass over the (optionally sampled) corpus — no
    driver-side data beyond the k×dim centroid matrix.
    """
    import numpy as np

    if init is not None:
        centroids = np.asarray(init, dtype=np.float64)
        if centroids.shape != (n_centroids, dim):
            raise ValueError(
                f"init shape {centroids.shape} != ({n_centroids}, {dim})")
    else:
        centroids = np.array(
            [_hyperplane(1000 + c, 0, dim) for c in range(n_centroids)],
            dtype=np.float64,
        )
    sample = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=42)

    for _ in range(iterations):
        assign = _nearest_centroid_udf(centroids)
        sums = (
            sample.withColumn("c", assign(F.col("v")))
            .groupBy("c")
            .agg(
                F.array(*[
                    F.sum(F.element_at("v", d + 1)) for d in range(dim)
                ]).alias("vecsum"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = centroids.copy()
        for row in sums:
            c = row["c"]
            new[c] = np.asarray(row["vecsum"]) / row["n"]
        centroids = new
    return [list(map(float, c)) for c in centroids]


def _nearest_centroid_udf(centroids):
    """pandas UDF: vector → nearest centroid id (numpy matmul batch)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(centroids, dtype=np.float64)  # k × dim

    @pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        # squared L2: |x|^2 - 2 x·c + |c|^2 ; |x|^2 constant per row
        d = -2.0 * (x @ mat.T) + (mat * mat).sum(axis=1)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    n_probes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: exact cosine only within the query's nearest
    ``n_probes`` clusters. Candidate volume ≈ N·probes/k_centroids;
    the cluster assignment is the partition/bucketing key at scale.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(centroids, dtype=np.float64)
    probes = n_probes

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_clusters(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        d = -2.0 * (x @ mat.T) + (mat * mat).sum(axis=1)
        order = np.argsort(d, axis=1)[:, :probes]
        return pd.Series([row.astype("int32").tolist() for row in order])

    assign = _nearest_centroid_udf(centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cluster", assign(F.col("cvec"))
    ).withColumn("cn", l2_norm(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qn", l2_norm(F.col("qvec"))
    ).withColumn("cluster", F.explode(probe_clusters(F.col("qvec"))))

    # norms once per vector, before the probe explode; candidates
    # evaluate only the dot
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.join(F.broadcast(q), on="cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cos, 6).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def dimension_scales(df: DataFrame, vec_col: str = "embedding",
                     dim: int = 64):
    """Per-dimension symmetric int8 scales: max|v| / 127 per dim,
    floored at 1e-12 so a constant-zero dimension cannot divide by
    zero. One map-side-combinable aggregate; the result is ``dim``
    doubles of bounded driver metadata (same class as IVF centroids).
    """
    v = F.col(vec_col).cast("array<double>")
    maxabs = df.agg(*[
        F.max(F.abs(F.element_at(v, d + 1))).alias(f"m{d}")
        for d in range(dim)
    ]).first()
    return [max(float(maxabs[f"m{d}"] or 0.0), 1e-12) / 127.0
            for d in range(dim)]


def quantize_embeddings(df: DataFrame, scales=None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int = 64) -> DataFrame:
    """Symmetric per-dimension int8 quantization — the 4× memory/IO
    shrink that makes a 10^12-vector ANN corpus servable (float32 →
    int8 with per-dim scale recovery).

    q_d = clamp(round(v_d / scale_d), ±127); the reconstruction
    v' = q_d * scale_d and per-vector RMSE are emitted alongside so a
    pipeline can gate on quantization loss. ``scales`` defaults to
    :func:`dimension_scales` of the input (pass the TRAINING corpus
    scales when quantizing deltas so increments stay compatible).
    Everything after the bounded scale aggregate is a pure JVM
    projection (zip_with/aggregate) — no Python, no shuffle.

    Returns (id, qvec array<int>, rmse double).
    """
    if scales is None:
        scales = dimension_scales(df, vec_col=vec_col, dim=dim)
    lit_scales = F.array(*[F.lit(float(s)) for s in scales])
    v = F.col(vec_col).cast("array<double>")
    q = F.zip_with(
        v, lit_scales,
        lambda x, s: F.greatest(
            F.least(F.round(x / s, 0), F.lit(127.0)),
            F.lit(-127.0)).cast("int"))
    err2 = F.zip_with(
        v, F.zip_with(q, lit_scales, lambda qq, s: qq * s),
        lambda x, r: (x - r) * (x - r))
    rmse = F.sqrt(
        F.aggregate(err2, F.lit(0.0), lambda acc, e: acc + e)
        / F.size(v))
    return df.select(
        F.col(id_col),
        q.alias("qvec"),
        F.round(rmse, 9).alias("rmse"),
    )


def _centroid_dists(centroids, vec_col: str):
    """(vector-as-double column, per-centroid squared-L2 array) — the
    shared inlined-centroid assignment expression (deterministic
    left-to-right DOUBLE folds; argmin = first position of the min)."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    cent = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])
    v = F.col(vec_col).cast("array<double>")
    dists = F.transform(
        cent,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x),
    )
    return v, dists


def assign_nearest_centroid(df: DataFrame, centroids,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            dist_col: str = "dist_sq") -> DataFrame:
    """(id, centroid_id, dist_sq): exact nearest centroid per vector —
    the k-means assignment step as a pure JVM projection.

    ``centroids`` is a k×dim list of lists (the bounded-metadata
    contract of ``train_ivf_centroids`` / ``plans.ivf_index``). The
    centroid table is inlined as an array literal, so assignment is a
    single whole-stage-codegen projection: per row, one
    transform/zip_with/aggregate pass computes all k squared L2
    distances in DOUBLE left-to-right array order (deterministic
    bits), argmin = first position of the min (ties break to the
    lowest centroid id, matching ``_nearest_centroid_udf``'s numpy
    argmin). No shuffle, no Python, no join — the scan streams
    through codegen at any corpus size; k×dim only widens the
    projected expression, and stays bounded by the same metadata
    contract that bounds driver memory in training.

    For k beyond a few hundred (expression-size limits), route
    through ``_nearest_centroid_udf`` instead — same semantics, one
    matmul per Arrow batch; a pytest pins the parity.
    """
    v, dists = _centroid_dists(centroids, vec_col)
    return df.select(
        F.col(id_col),
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int").alias("centroid_id"),
        F.array_min(dists).alias(dist_col),
    )


def assign_clusters(df: DataFrame, centroids,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """(id, centroid_id, vector as array<double>): the SemDeDup
    assignment step as ONE zero-shuffle projection. The centroid table
    is inlined (:func:`assign_nearest_centroid`'s expression), so the
    nearest centroid is computed in the same projection that carries
    the vector — no join back on the id to re-attach it."""
    v, dists = _centroid_dists(centroids, vec_col)
    return df.select(
        F.col(id_col),
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int").alias("centroid_id"),
        v.alias(vec_col),
    )


def cluster_pairs(
    new: DataFrame,
    old: Optional[DataFrame],
    threshold: float,
    max_cluster_size: Optional[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_a, id_b, cos) for every unordered pair of members sharing a
    ``centroid_id`` with ``id_a < id_b``, cosine >= ``threshold``
    (rounded to 6 places), and at least one side in ``new``.

    ``new`` and ``old`` are (id, centroid_id, array<double> vector)
    frames, as :func:`assign_clusters` makes them; ``old`` (committed
    history, or None) contributes pair partners only, so only the
    clusters ``new`` touches are read into the kernel.

    A cluster whose membership (new + old) exceeds ``max_cluster_size``
    yields no pairs (``dedup.drop_hot_keys``, the cap of every pair
    join); None disables it.

    The pair kernel is one ``applyInPandas`` per cluster: its members
    cross the Arrow boundary once, and a numpy GEMM of the new rows
    against all rows scores every candidate in native code; only pairs
    >= threshold come back. Per cluster it holds |new| x |cluster|
    doubles, at most 800 MB at the default cap of 10,000.
    """
    members = new.select("centroid_id", id_col, vec_col,
                         F.lit(True).alias("_new"))
    if old is not None:
        touched = new.select("centroid_id").distinct()
        members = members.unionByName(
            old.join(F.broadcast(touched), on="centroid_id",
                     how="left_semi")
            .select("centroid_id", id_col, vec_col,
                    F.lit(False).alias("_new")))
    # one explicit exchange on the cluster key, shared by the cap's
    # count and the kernel's grouping
    members = members.repartition("centroid_id")
    members, _ = drop_hot_keys(members, ["centroid_id"], max_cluster_size)
    id_type = new.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def kernel(pdf):
        import numpy as np

        ids = pdf[id_col].to_numpy()
        is_new = pdf["_new"].to_numpy(dtype=bool)
        mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        rows = np.flatnonzero(is_new)
        gram = unit[rows] @ unit.T  # |new| x |cluster|
        r, j = np.nonzero(gram >= thr)
        a, b = ids[rows[r]], ids[j]
        # a new-new pair is scored from both ends: keep one; a
        # new-old pair is scored once
        keep = np.where(is_new[j], a < b, a != b)
        a, b = a[keep], b[keep]
        return pd.DataFrame({
            "id_a": np.where(a < b, a, b),
            "id_b": np.where(a < b, b, a),
            "cos": np.round(gram[r[keep], j[keep]], 6),
        })

    return (
        members.groupBy("centroid_id")
        .applyInPandas(kernel,
                       f"id_a {id_type}, id_b {id_type}, cos double")
    )


def semantic_near_duplicates(
    df: DataFrame,
    centroids,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: Optional[int] = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: (id_a, id_b, cos)
    with ``id_a < id_b``, cosine >= ``threshold``, and BOTH vectors
    assigned to the same k-means cluster.

    The cluster partition (Abbas et al., SemDeDup) is what makes
    embedding dedup tractable at corpus scale: pairwise cosine runs
    only WITHIN a cluster, so total candidate work is sum(c_i^2)
    instead of n^2 — with balanced clusters that is n^2/k. Assignment
    is :func:`assign_clusters`; pairs come from :func:`cluster_pairs`
    with every row new, which shuffles once on ``centroid_id``.

    ``max_cluster_size`` bounds the degenerate case (one cluster
    swallowing the corpus → n^2 again): clusters larger than the cap
    are excluded from pair generation. Pass ``None`` to disable. Chain
    the pairs into ``plans.dedup_job.connected_keep_list`` (or drop
    ``id_b`` greedily) for the keeper election.
    """
    return cluster_pairs(
        assign_clusters(df, centroids, vec_col=vec_col, id_col=id_col),
        None, threshold, max_cluster_size, vec_col=vec_col, id_col=id_col)


def hashed_doc_vectors(df: DataFrame, dim: int = 64,
                       text_col: str = "text", id_col: str = "doc_id",
                       normalize: bool = True) -> DataFrame:
    """(id, embedding: array<double>): feature-hashed bag-of-words
    document vectors — v[b] = term frequency of md5 bucket b,
    optionally L2-normalized.

    The model-free embedding: every similarity operator in this
    module (brute-force cosine, LSH/IVF ANN, SemDeDup, quantization)
    works on these vectors with no external model, which is often all
    corpus-dedup needs (near-identical texts share bucket profiles).
    Deterministic in the text alone — the same md5 ``hash_bucket``
    family as DSIR and the classifier, so the three share features.

    Scale shape: one explode + ONE map-side-combinable aggregation
    computing all ``dim`` bucket counts as conditional sums (the
    simhash bit-sum pattern — whole-stage codegen, no per-token rows
    survive the map side), then a pure projection builds the dense
    array. The previous shape paid a second exchange for a
    (id, bucket) pre-aggregation plus a map build; a nested
    higher-order-function histogram was tried and measured 3x SLOWER
    than even that (HOFs are interpreted, not codegen'd). ``dim``
    widens the aggregate expression, so like the inlined-centroid
    assignment this is for feature-hashing dims up to a few hundred
    (the contract everywhere in this module).
    """
    from .sampling import hash_bucket

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "),
                     lambda t: t != F.lit(""))
        ).alias("_tok"),
    )
    counts = (
        toks.select(id_col, hash_bucket(F.col("_tok"), dim).alias("_b"))
        .groupBy(id_col)
        .agg(F.count("*").cast("double").alias("_n"),
             *[F.sum(F.when(F.col("_b") == b, 1).otherwise(0))
               .cast("double").alias(f"_c{b}") for b in range(dim)])
    )
    vec = F.array(*[F.col(f"_c{b}") / F.col("_n") for b in range(dim)])
    if normalize:
        norm = F.sqrt(F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x * x))
        vec = F.transform(vec, lambda x: x / norm)
    return counts.select(F.col(id_col), vec.alias("embedding"))
