"""Deterministic corpus sampling and dataset splits.

Training-data pipelines need REPRODUCIBLE sampling: the same document
must land in the same split on every run, every engine, every cluster
size — RNG-based ``df.sample`` cannot promise that across engines or
re-partitions. These operators assign by md5 hash bucket of a key
column instead (the engine-portable family used throughout), so:

- a 10% sample is the same 10% forever (stable under corpus growth:
  new docs join it iff their hash lands in the range);
- train/val/test assignment never leaks a document across splits even
  when the corpus is re-partitioned, deduplicated, or extended;
- everything is a pure JVM projection (conv(md5)) — no Python, no
  shuffle, Catalyst pipelines it with the scan.
"""

from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

HASH_BUCKETS = 1 << 20


def hash_bucket(key: Column, buckets: int = HASH_BUCKETS) -> Column:
    """Stable bucket in [0, buckets): first 8 md5 hex chars mod buckets."""
    h32 = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
    return F.pmod(h32.cast("bigint"), F.lit(buckets))


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    buckets: int = HASH_BUCKETS,
) -> DataFrame:
    """Content-stable sample: rows whose key hashes under the cut."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(fraction * buckets)
    return df.where(hash_bucket(F.col(key_col), buckets) < cut)


def split_boundaries(weights: Dict[str, float],
                     buckets: int = HASH_BUCKETS) -> List[Tuple[str, int]]:
    """Cumulative (name, upper_bound) boundaries for the weight map."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bounds, acc = [], 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        bounds.append((name, int(acc * buckets)))
    bounds.append((names[-1], buckets))  # last split absorbs rounding
    return bounds


def stratified_sample(
    df: DataFrame,
    rates: Dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    buckets: int = HASH_BUCKETS,
) -> DataFrame:
    """Per-stratum content-stable sampling (training-mix construction).

    ``rates`` maps stratum value → keep fraction; strata not listed
    use ``default_rate``. Same stability guarantees as
    :func:`deterministic_sample`, per stratum.
    """
    cut = F.lit(int(default_rate * buckets))
    for value, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {value!r} must be in [0, 1]")
        cut = F.when(F.col(strata_col) == value,
                     F.lit(int(rate * buckets))).otherwise(cut)
    return df.where(hash_bucket(F.col(key_col), buckets) < cut)


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _order_bucket(df: DataFrame, id_col: str, prefix_len: int,
                  numeric_buckets: int):
    """An ORDER-PRESERVING coarse bucket of the id column.

    The bucket function g must satisfy a < b ⇒ g(a) <= g(b), so that
    (bucket asc, id asc) equals global id order exactly:

    - string ids: the first ``prefix_len`` characters (lexicographic
      order is preserved by fixed-length prefixes);
    - integral ids: fixed-width blocks of the [min, max] range (one
      tiny min/max aggregate picks the width).

    Returns (bucket_column, spark_type_ddl) or None when the id type
    has no cheap order-preserving bucketing (falls back to the global
    window).
    """
    dtype = dict(df.dtypes)[id_col]
    id_ = F.col(id_col)
    if dtype == "string":
        return (F.coalesce(F.substring(id_, 1, prefix_len), F.lit("")),
                "string")
    if dtype in _INTEGRAL_TYPES:
        row = df.agg(F.min(id_), F.max(id_)).first()
        lo, hi = row[0], row[1]
        if lo is None:  # empty input: any constant bucket works
            return F.lit(0).cast("bigint"), "bigint"
        block = max(1, -(-(hi - lo + 1) // numeric_buckets))  # ceil
        # integer DIV, not floor(double /): exact for the full int64
        # range (double division loses order above 2^53)
        bucket = F.expr(
            f"CAST((CAST(`{id_col}` AS BIGINT) - ({lo})) DIV {block} "
            f"AS BIGINT)")
        return F.coalesce(bucket, F.lit(-1)), "bigint"
    return None


def _bucketed_running_sum(staged: DataFrame, bucket_col: str,
                          n_col: str, order_cols,
                          out_col: str = "_run"):
    """EXCLUSIVE global running sum of ``n_col`` in (bucket, order)
    order WITHOUT a global sort — the shared two-pass machinery under
    :func:`shard_by_token_budget` and :func:`pack_sequences`.

    Pass 1 aggregates per-bucket totals (map-side combined) whose
    cumulative offsets are bounded driver metadata broadcast back;
    pass 2 runs the within-bucket running sum as a bucket-partitioned
    window (never SinglePartition). Python's str sort (code points)
    matches Spark's UTF-8 binary string order, so the driver-side
    cumsum is ordered identically to the executor-side windows.
    Returns ``staged`` + ``out_col`` (None when staged is empty);
    triggers one bounded aggregate action.
    """
    totals = staged.groupBy(bucket_col).agg(
        F.sum(n_col).alias("_t")).collect()
    totals.sort(key=lambda r: r[bucket_col])
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r[bucket_col], acc))
        acc += r["_t"]
    if not offsets:
        return None
    bucket_type = staged.schema[bucket_col].dataType.simpleString()
    offsets_df = staged.sparkSession.createDataFrame(
        offsets, f"`{bucket_col}` {bucket_type}, _bps_off long")
    w = Window.partitionBy(bucket_col).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    within = F.sum(n_col).over(w) - F.col(n_col)
    return (
        staged.join(F.broadcast(offsets_df), bucket_col)
        .withColumn(out_col, F.col("_bps_off") + within)
        .drop("_bps_off")
    )


def shard_by_token_budget(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "shard",
    prefix_len: int = 3,
    numeric_buckets: int = 1 << 16,
) -> DataFrame:
    """Assign documents to ~``budget_tokens``-sized output shards.

    The pretraining-shard writer's primitive: documents in id order
    accumulate whitespace-token counts, and a document's shard is its
    exclusive prefix sum divided by the budget — deterministic under
    any partitioning, so re-running materializes identical shards.

    Scale design — a two-pass partitioned prefix sum, never a global
    sort: ids are grouped into ORDER-PRESERVING buckets (string
    prefixes / numeric blocks, see :func:`_order_bucket`), pass one
    aggregates per-bucket token totals (map-side combined; the
    cumulative offsets are bounded driver metadata, like IVF
    centroids), pass two runs the running sum WITHIN each bucket
    (``Window.partitionBy`` — a hash shuffle on the bucket key, no
    single-partition exchange) and adds the broadcast bucket offset.
    Identical output to ``sum() OVER (ORDER BY id)`` because bucket
    order refines to global id order. Degenerate distributions (all
    ids sharing one prefix) collapse to one bucket — widen
    ``prefix_len`` for such corpora. Triggers one small aggregate
    action per call (two for integral ids).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    n_tokens = F.size(F.split(F.col(text_col), " "))

    bucketing = _order_bucket(df, id_col, prefix_len, numeric_buckets)
    if bucketing is None:  # exotic id type: correct-but-global fallback
        w = Window.orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        running = F.sum(n_tokens).over(w) - n_tokens
        return df.withColumn(
            shard_col, F.floor(running / budget_tokens).cast("int")
        ).withColumn("n_tokens", n_tokens)

    bucket_expr, _bucket_type = bucketing
    staged = (df.withColumn("_tb_bucket", bucket_expr)
                .withColumn("_tb_n", n_tokens))
    placed = _bucketed_running_sum(
        staged, "_tb_bucket", "_tb_n", [id_col], out_col="_tb_run")
    if placed is None:
        return (df.withColumn(shard_col, F.lit(0))
                  .withColumn("n_tokens", n_tokens))
    return (
        placed
        .withColumn(
            shard_col,
            F.floor(F.col("_tb_run") / budget_tokens).cast("int"))
        .withColumn("n_tokens", F.col("_tb_n"))
        .select(*df.columns, shard_col, "n_tokens")
    )


def deterministic_shuffle(
    df: DataFrame,
    seed: str = "0",
    key_col: str = "doc_id",
    shuffle_col: str = "shuffle_key",
) -> DataFrame:
    """Seeded, engine-portable corpus shuffle for training order.

    Adds a content-stable shuffle key (md5 of seed:key) and returns
    the frame ordered by it — a distributed RANGE sort, no global
    window, no RNG; the same seed reproduces the same order on any
    engine, partitioning, or rerun. Different seeds give independent
    orders (epoch reshuffling = seed bump).
    """
    h = F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col(key_col).cast("string")))
    return df.withColumn(shuffle_col, h).orderBy(shuffle_col, key_col)


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, len_bucket): power-of-two token-length buckets.

    The batching primitive for padded training: grouping same-bucket
    documents bounds padding waste at 2x. Pure JVM projection.
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.floor(F.log2(n_tokens)).cast("int").alias("len_bucket"),
    )


def hash_split(
    df: DataFrame,
    weights: Dict[str, float],
    key_col: str = "doc_id",
    buckets: int = HASH_BUCKETS,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hash-bucket range.

    ``weights`` is an ordered {name: weight} map (normalized to 1).
    Assignment is a pure expression of the key, so it is stable under
    re-partitioning, incremental appends, and engine swaps.
    """
    bucket = hash_bucket(F.col(key_col), buckets)
    bounds = split_boundaries(weights, buckets)
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(bucket < upper, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``k`` rows
    (inclusion probability proportional to ``weight_col``).

    Efraimidis–Spirakis A-ES keys: u = stable hash-uniform in (0,1),
    key = ln(u) / w; the k LARGEST keys win — one expression plus a
    distributed top-k (``orderBy().limit(k)`` plans as
    TakeOrderedAndProject: per-partition heaps + a k-row merge, never
    a global sort). Deterministic in (key_col, seed), so resumable
    and engine-portable. Rows with non-positive or NULL weight are
    excluded (zero inclusion probability).
    """
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed),
                                      F.col(key_col).cast("string"))),
                    1, 8), 16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float((1 << 32) + 1))  # (0, 1)
    es_key = F.log(u) / F.col(weight_col)
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_es_key", es_key)
        # key_col tie-break: duplicate key values share an md5-derived
        # _es_key, and without it the boundary pick is partition-order
        # dependent — breaking the deterministic/resumable contract
        .orderBy(F.desc("_es_key"), F.col(key_col))
        .limit(k)
        .drop("_es_key")
    )


def sample_tokens_per_stratum(
    df: DataFrame,
    budgets: dict,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Training-mix construction by TOKEN budget: per stratum, keep
    documents in deterministic hash order until the stratum's token
    budget is reached (mix ratios are specified in tokens, not doc
    counts — a 70/20/10 doc mix is meaningless when domains have
    different document lengths).

    One shuffle on the stratum key; the running sum is a window WITHIN
    each stratum partition (never SinglePartition). Hash order makes
    the kept set stable under repartitioning and growth: adding new
    documents only changes the selection near the budget boundary.
    Documents whose whole length fits inside the budget are kept
    (doc granularity — the budget is a floor-undershoot, never split
    mid-document). Strata without a budget entry are dropped.
    """
    order = F.md5(F.concat_ws("|", F.lit(seed),
                              F.col(id_col).cast("string")))
    n_tokens = F.size(F.filter(F.split(F.col(text_col), " "),
                               lambda w: w != F.lit("")))
    # id tie-break: duplicate ids share a hash key; the kept set must
    # not depend on partition layout
    w = (Window.partitionBy(stratum_col).orderBy(order, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    budget = F.lit(None).cast("long")
    for k, v in sorted(budgets.items()):
        budget = F.when(F.col(stratum_col) == k, F.lit(int(v))) \
            .otherwise(budget)
    return (
        df.withColumn("_nt", n_tokens)
        .withColumn("_cum", F.sum("_nt").over(w))
        .where(F.col("_cum") <= budget)
        .drop("_cum")
        .withColumnRenamed("_nt", "n_tokens")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents in deterministic
    hash order are concatenated and cut into fixed ``seq_len``-token
    training sequences (boundaries fall mid-document — the standard
    pretraining packing, zero padding waste except the final tail).

    Scale design — the two-pass partitioned prefix sum again, never a
    global sort: the order key is md5(seed|id) and the bucket is its
    2-hex-char prefix (256 order-preserving buckets; offsets are
    bounded driver metadata). Each document maps to its global token
    interval [start, start+n); it explodes into one row per sequence
    window it overlaps (a document touches ceil(n/seq_len)+1 windows
    at most), carrying ONLY the token slice that lands in that
    window; one shuffle groups slices by window id. Deterministic in
    (id, seed): re-running materializes identical sequences, and the
    window id is a stable global address (resume = skip committed
    windows).

    Returns (seq_id, n_docs, n_tokens, seq_text, complete) — the
    final partial window has complete = 0.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    tokens = F.filter(F.split(F.col(text_col), " "),
                      lambda w: w != F.lit(""))
    key = F.md5(F.concat_ws("|", F.lit(seed),
                            F.col(id_col).cast("string")))
    staged = (
        df.select(F.col(id_col).alias("id"), tokens.alias("_ws"),
                  key.alias("_k"))
        .withColumn("_nt", F.size("_ws"))
        .where(F.col("_nt") > 0)
        .withColumn("_bucket", F.substring("_k", 1, 2))
    )
    # order = (key, id): the id tie-break makes duplicate ids (same
    # md5 key) deterministic too — window addresses must never depend
    # on partition layout
    placed = _bucketed_running_sum(
        staged, "_bucket", "_nt", ["_k", "id"], out_col="_start")
    if placed is None:
        return df.sparkSession.createDataFrame(
            [], "seq_id long, n_docs long, n_tokens long, "
                "seq_text string, complete int")
    L = F.lit(seq_len)
    win = F.explode(F.sequence(
        F.floor(F.col("_start") / L),
        F.floor((F.col("_start") + F.col("_nt") - 1) / L))).alias("_win")
    pieces = placed.select("_ws", "_nt", "_start", win).select(
        F.col("_win"),
        F.col("_start"),
        F.greatest(F.col("_win") * L, F.col("_start")).alias("_from"),
        F.least((F.col("_win") + 1) * L,
                F.col("_start") + F.col("_nt")).alias("_to"),
        "_ws",
    ).select(
        "_win", "_start",
        ((F.col("_to") - F.col("_from"))).alias("_len"),
        F.array_join(
            F.slice("_ws",
                    (F.col("_from") - F.col("_start") + 1).cast("int"),
                    (F.col("_to") - F.col("_from")).cast("int")),
            " ").alias("_piece"),
    )
    return (
        pieces.groupBy(F.col("_win").alias("seq_id"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_len").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("_start"), F.col("_piece")))),
                    lambda s: s["_piece"]),
                " ").alias("seq_text"),
        )
        .withColumn("complete",
                    (F.col("n_tokens") == seq_len).cast("int"))
    )


def mixture_weights(
    df: DataFrame,
    targets: Dict[str, float],
    stratum_col: str = "lang",
    text_col: str = "text",
    cap: float = 10.0,
) -> DataFrame:
    """Per-stratum sampling weights that steer the corpus toward a
    target token mixture (DoReMi-style domain reweighting input).

    For each stratum: actual token share, normalized target share,
    and ``weight = min(target/actual, cap)`` — the per-document
    sampling multiplier that makes the expected post-sampling mix hit
    the target (weight > 1 means the stratum must be upsampled /
    epoch-repeated; the cap bounds repetition of tiny strata, the
    standard guard against over-epoching rare domains). Strata absent
    from ``targets`` get target share 0 → weight 0 (dropped).

    One map-side-combinable aggregation over the corpus; the
    stratum-count result is bounded metadata, never data-scaled.

    Returns (stratum, n_docs, n_tokens, actual_share, target_share,
    weight) sorted by stratum.
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    total_target = float(sum(targets.values()))
    if total_target <= 0:
        raise ValueError("targets must sum to a positive value")
    norm = {k: float(v) / total_target for k, v in targets.items()}

    n_tokens = F.size(F.split(F.col(text_col), " "))
    per = (
        df.select(F.col(stratum_col).alias("stratum"),
                  n_tokens.alias("_t"))
        .groupBy("stratum")
        .agg(F.count("*").alias("n_docs"),
             F.sum("_t").alias("n_tokens"))
    )
    # corpus total as a broadcast scalar join, not an empty-partition
    # window (which would force a SinglePartition exchange)
    total_df = per.agg(F.sum("n_tokens").alias("_total"))
    per = per.crossJoin(F.broadcast(total_df))
    target_expr = F.lit(0.0)
    for k, v in sorted(norm.items()):
        target_expr = F.when(F.col("stratum") == k, F.lit(v)) \
            .otherwise(target_expr)
    actual = F.col("n_tokens") / F.col("_total")
    # weight derives from the RAW ratio (rounding only at the output
    # boundary) so the result is a pure function of the token counts
    return (
        per.withColumn("actual_share", F.round(actual, 6))
        .withColumn("target_share", F.round(target_expr, 6))
        .withColumn(
            "weight",
            F.round(F.least(target_expr / actual, F.lit(cap)), 6))
        .select("stratum", "n_docs", "n_tokens", "actual_share",
                "target_share", "weight")
        .orderBy("stratum")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: Dict[str, float],
    id_col: str = "doc_id",
    split_col: str = "split",
    buckets: int = HASH_BUCKETS,
    max_iterations: int = 10,
) -> DataFrame:
    """Train/val/test split that never puts two (near-)duplicates in
    different splits: documents are first grouped into duplicate
    clusters (connected components of ``pairs``), then the WHOLE
    cluster is assigned by the hash bucket of its canonical (min) id.

    A plain per-document ``hash_split`` leaks evaluation data
    whenever a near-duplicate of a test document survives in train —
    the classic benchmark-contamination path *within* a corpus. Keying
    the split on the cluster label closes it: every member shares the
    label, so every member shares the split.

    ``pairs`` is any (id_a, id_b) duplicate-pair frame (e.g. from
    ``plans.dedup_job.duplicate_pairs``); documents with no pair form
    singleton clusters keyed by their own id — for them the output is
    bit-identical to ``hash_split``, so turning leakage safety on
    never reshuffles the un-duplicated majority of the corpus.

    Scale shape: the component fixpoint is the all-DataFrame label
    propagation from ``connected_keep_list`` (converges in
    O(cluster diameter) rounds, bounded pair degree, a checkpoint
    per round); the split itself stays a pure JVM projection of the
    cluster label. Returns ``df`` + (cluster, split) columns.
    """
    from ..plans.dedup_job import connected_keep_list

    labels = connected_keep_list(
        pairs, df, id_col=id_col, max_iterations=max_iterations
    ).select(F.col("id").alias(id_col), "cluster")
    clustered = (
        df.join(labels, on=id_col, how="left")
        .withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
    )
    bucket = hash_bucket(F.col("cluster"), buckets)
    bounds = split_boundaries(weights, buckets)
    expr = F.lit(bounds[-1][0])
    for name, upper in reversed(bounds[:-1]):
        expr = F.when(bucket < upper, F.lit(name)).otherwise(expr)
    return clustered.withColumn(split_col, expr)


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): per-document
    importance log-weight ``log p_target(x) - log p_raw(x)`` under
    hashed-unigram bag-of-words language models.

    Both models are multinomials over ``buckets`` hashed token
    features (the stable md5 ``hash_bucket``) with add-``smoothing``
    estimation; a document's log-weight is the sum over its tokens of
    the per-bucket log-probability ratio. Selecting the top-weighted
    raw documents (or gumbel-resampling on the weights) tilts the raw
    corpus toward the target distribution — the published recipe for
    pretraining-data selection against a quality target.

    Scale shape: token counts are map-side-combinable aggregations;
    both models are <= ``buckets`` rows and broadcast into the scoring
    join, so the raw corpus is read once and never shuffled on
    anything wider than (doc, bucket). Returns (id, n_tokens,
    log_weight), one row per raw document (empty docs score 0.0).
    """

    def bucket_counts(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col),
            F.explode(
                F.filter(F.split(F.col(text_col), " "),
                         lambda t: t != F.lit(""))
            ).alias("_tok"),
        )
        return toks.select(
            id_col, hash_bucket(F.col("_tok"), buckets).alias("_b")
        ).groupBy(id_col, "_b").agg(F.count("*").alias("_c"))

    def model(df: DataFrame):
        counts = (
            bucket_counts(df).groupBy("_b")
            .agg(F.sum("_c").alias("_n"))
        )
        total = counts.agg(F.sum("_n").alias("_t"))
        return counts, total

    t_counts, t_total = model(target)
    r_counts, r_total = model(raw)
    # one tiny frame: bucket -> log(p_target/p_raw); missing buckets
    # fall back to the smoothing mass of each model
    ratio = (
        t_counts.withColumnRenamed("_n", "_nt")
        .join(r_counts.withColumnRenamed("_n", "_nr"), on="_b",
              how="full")
        .crossJoin(t_total.withColumnRenamed("_t", "_tt"))
        .crossJoin(r_total.withColumnRenamed("_t", "_tr"))
        .select(
            "_b",
            (
                F.log((F.coalesce("_nt", F.lit(0)) + smoothing)
                      / (F.col("_tt") + smoothing * buckets))
                - F.log((F.coalesce("_nr", F.lit(0)) + smoothing)
                        / (F.col("_tr") + smoothing * buckets))
            ).alias("_lr"),
        )
    )
    doc = bucket_counts(raw)
    scored = (
        doc.join(F.broadcast(ratio), on="_b")
        .groupBy(id_col)
        .agg(F.sum("_c").alias("n_tokens"),
             F.sum(F.col("_c") * F.col("_lr")).alias("_w"))
    )
    return (
        raw.select(id_col).distinct()
        .join(scored, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long")
            .alias("n_tokens"),
            F.round(F.coalesce("_w", F.lit(0.0)), 6).alias("log_weight"),
        )
    )
