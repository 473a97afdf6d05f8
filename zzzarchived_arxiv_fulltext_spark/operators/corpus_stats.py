"""Corpus-statistics operators: repetition metrics, intra-document
line dedup, TF-IDF term weighting, unigram surprisal scoring.

The second tier of training-data quality filtering (after the
per-document heuristics in ``text_metrics.quality_scores``): metrics
that look at REPETITION and at CORPUS-level term statistics — the
filter family popularized by the Gopher/MassiveText rules (Rae et
al. 2021, public) and standard TF-IDF weighting.

Scale shape: everything is explode → map-side-combinable groupBy →
join back; no per-row Python, no window without a partition key, no
driver-side data beyond bounded metadata. Corpus-derived tables
(vocabularies, bigram counts) carry NO forced broadcast hints:
unigram vocabularies are usually broadcast-sized by Heaps' law and
AQE converts those joins to broadcast at runtime when they fit, but
bigram tables grow near-linearly with the corpus and a forced hint
would OOM the driver at scale.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import reuse


def _words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition statistics (Gopher-style filters).

    (id, n_words, distinct_word_ratio, top_word_fraction,
    top_bigram_fraction): the share of the document taken by its most
    frequent word / word-bigram. Machine-generated and boilerplate
    text scores high; the standard cut is ~0.2 for the top bigram.

    Words and bigrams ride ONE explode (tagged by kind) through one
    (doc, kind, term) count and one per-doc rollup — a single scan,
    two map-side-combinable shuffles, NO join (the earlier
    two-pipeline version scanned and shuffled the corpus twice and
    joined the halves back).
    """
    # the split array is aliased in its OWN projection: inlining
    # split(text) into a transform lambda re-splits the whole text per
    # element — O(words²·len) per row; lethal on megabyte documents
    ws = F.col("_ws")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - 2, F.lit(0))),
        lambda k: F.array_join(F.slice(ws, k + 1, 2), " "),
    )
    items = F.concat(
        F.transform(ws, lambda w: F.struct(
            F.lit(0).alias("kind"), w.alias("t"))),
        F.transform(bigrams, lambda g: F.struct(
            F.lit(1).alias("kind"), g.alias("t"))),
    )
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("_ws"),
    ).select("id", F.explode(items).alias("it")
             ).select("id", F.col("it.kind").alias("kind"),
                      F.col("it.t").alias("t"))
    counts = exploded.groupBy("id", "kind", "t").agg(
        F.count("*").alias("c"))
    is_w = F.col("kind") == 0
    stats = counts.groupBy("id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.count(F.when(is_w, F.lit(1))).alias("n_distinct"),
        F.max(F.when(is_w, F.col("c"))).alias("top_word_c"),
        F.sum(F.when(~is_w, F.col("c"))).alias("n_bigrams"),
        F.max(F.when(~is_w, F.col("c"))).alias("top_bigram_c"),
    )
    return stats.select(
        "id",
        "n_words",
        F.round(F.col("n_distinct") / F.col("n_words"), 6)
        .alias("distinct_word_ratio"),
        F.round(F.col("top_word_c") / F.col("n_words"), 6)
        .alias("top_word_fraction"),
        F.round(F.col("top_bigram_c") / F.col("n_bigrams"), 6)
        .alias("top_bigram_fraction"),
    )


def dedup_doc_lines(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n") -> DataFrame:
    """Drop repeated lines WITHIN each document, keeping first
    occurrences in order (header/footer boilerplate cleanup).

    Pure JVM projection: ``array_distinct`` preserves first-occurrence
    order, so the whole pass pipelines with the scan — no shuffle.
    """
    deduped = F.array_join(
        F.array_distinct(F.split(F.col(text_col), sep)), sep)
    return df.select(
        F.col(id_col),
        deduped.alias("text"),
        (F.size(F.split(F.col(text_col), sep))
         - F.size(F.array_distinct(F.split(F.col(text_col), sep))))
        .alias("n_lines_dropped"),
    )


def tf_idf_top_terms(df: DataFrame, k: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    (id, term, tf, df, score, rank) with score = tf * ln(N / df),
    ties broken by term. The document-frequency side is a distinct
    (doc, term) aggregation joined back — usually broadcast-sized by
    Heaps' law, but the hint is left to AQE (which broadcasts at
    runtime when it fits) rather than forced, so a pathological
    vocabulary cannot OOM the driver; the per-doc top-k is a window
    over (id) only.
    """
    words = _words(df, text_col, id_col)
    n_docs = df.count()
    tf = words.groupBy("id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, on="w")
        .select(
            "id", F.col("w").alias("term"), "tf", "df",
            F.round(F.col("tf") * F.log(n_docs / F.col("df")), 6)
            .alias("score"),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("id").orderBy(
                F.desc("score"), F.asc("term"))),
    )
    return ranked.where(F.col("rank") <= k)


def percentile_ranks(df: DataFrame, value_col: str,
                     id_col: str = "doc_id",
                     rank_col: str = "pct_rank",
                     num_buckets: int = 64,
                     rounded: bool = True) -> DataFrame:
    """Exact percent_rank of ``value_col`` for every row — WITHOUT a
    global sort and WITHOUT collecting the value histogram.

    ``percent_rank() OVER (ORDER BY v)`` is a single-partition window
    at corpus scale, and a driver-side histogram CDF is row-scale for
    continuous columns. This uses the two-pass partitioned prefix-sum
    pattern (same as ``shard_by_token_budget``): (1) a bounded
    (min, max, n) aggregate fixes ``num_buckets`` equal-width,
    order-preserving value buckets; (2) the distinct-value histogram
    is cumulated WITHIN each bucket by a bucket-partitioned window
    (never SinglePartition) while the per-bucket totals — at most
    ``num_buckets`` rows of driver metadata — prefix-sum into bucket
    offsets; (3) below(v) = offset(bucket) + within-bucket cumsum
    joins back onto the rows. rank(v) = count(x < v) / (n - 1),
    exactly SQL's percent_rank with min-rank tie semantics.

    ``value_col`` must be numeric (bucket boundaries are arithmetic).
    NULL values are excluded from the distribution and surface with a
    NULL rank; rows are never dropped. Triggers two bounded aggregate
    actions (the stats row + ≤num_buckets totals).
    """
    vals = df.where(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    stats = vals.agg(
        F.min(v).alias("lo"), F.max(v).alias("hi"),
        F.count("*").alias("n")).first()
    keep_null_rank = df.select(
        F.col(id_col), F.col(value_col),
        F.lit(None).cast("double").alias(rank_col))
    if not stats["n"]:
        return keep_null_rank
    lo, hi, total = float(stats["lo"]), float(stats["hi"]), stats["n"]
    width = (hi - lo) / num_buckets
    if width <= 0:  # single distinct value → all ranks are 0.0
        width = 1.0
    bucket = F.least(
        F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(num_buckets - 1),
    )
    hist = vals.groupBy(
        bucket.alias("_b"), F.col(value_col).alias("_v")
    ).agg(F.count("*").alias("_c"))
    # pass 1: per-bucket totals → offsets (≤ num_buckets rows of
    # driver metadata — the ONLY collect, bounded by construction)
    btot = {r["_b"]: r["_t"] for r in hist.groupBy("_b").agg(
        F.sum("_c").alias("_t")).collect()}
    offsets, running = [], 0
    for b in range(num_buckets):
        if b in btot:
            offsets.append((b, running))
            running += btot[b]
    off_df = df.sparkSession.createDataFrame(
        offsets, "_b int, _offset long")
    win = (Window.partitionBy("_b").orderBy("_v")
           .rowsBetween(Window.unboundedPreceding, -1))
    cdf = (
        hist
        .withColumn("_below_local",
                    F.coalesce(F.sum("_c").over(win), F.lit(0)))
        .join(F.broadcast(off_df), on="_b")
        .select("_v",
                (F.col("_offset") + F.col("_below_local")).alias("_below"))
    )
    denom = float(max(total - 1, 1))
    rank = F.col("_below") / F.lit(denom)
    # rounded=False keeps full precision for downstream arithmetic
    # (e.g. bucket = floor(rank * k): rounding first moves documents
    # across bucket boundaries exactly at the 1/k cut points)
    if rounded:
        rank = F.round(rank, 6)
    return (
        df.join(cdf, on=df[value_col] == cdf["_v"], how="left")
        .select(F.col(id_col), F.col(value_col),
                rank.alias(rank_col))
    )


def slice_divergence(df: DataFrame, slice_col: str = "lang",
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """KL(slice || corpus) over unigram distributions, per slice.

    The training-mix drift detector: how far each corpus slice
    (language, source, time bucket — any column) diverges from the
    overall token distribution. Finite by construction (every slice's
    vocabulary is a subset of the corpus vocabulary). Two map-side-
    combinable aggregations and one join of the corpus unigram table
    (no forced broadcast — AQE broadcasts at runtime when it fits).
    """
    words = df.select(
        F.col(slice_col).alias("s"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    slice_counts = words.groupBy("s", "w").agg(F.count("*").alias("c"))
    slice_totals = slice_counts.groupBy("s").agg(
        F.sum("c").alias("t"))
    global_counts = slice_counts.groupBy("w").agg(
        F.sum("c").alias("gc"))
    global_total = global_counts.agg(F.sum("gc")).first()[0]
    p_s = F.col("c") / F.col("t")
    p_g = F.col("gc") / F.lit(float(global_total))
    return (
        slice_counts
        .join(slice_totals, on="s")
        .join(global_counts, on="w")
        .groupBy("s")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p_g)), 6)
            .alias("kl_divergence"),
        )
        .withColumnRenamed("s", slice_col)
    )


def bigram_surprisal(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Mean bigram CONDITIONAL surprisal per document:
    -(1/m) * sum(ln(c(w_prev w) / c(w_prev))) over adjacent pairs,
    with counts from the corpus itself — the word-order-aware upgrade
    of :func:`unigram_surprisal` (a unigram model cannot tell shuffled
    text from prose; this can). Corpus bigram/unigram tables are
    map-side-combined counts joined back onto the exploded pairs with
    NO forced broadcast: bigram vocabulary grows near-linearly with
    corpus size (unlike unigrams/Heaps), so a broadcast hint is a
    driver OOM at scale — AQE converts the join to broadcast at
    runtime only when the built side actually fits.
    """
    # alias-projected split (never inline split(text) in a transform
    # lambda: it re-splits per element — O(words²·len) on giant docs)
    ws = F.col("_ws")
    pairs = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - 2, F.lit(0))),
        lambda k: F.struct(
            F.element_at(ws, k + 1).alias("w1"),
            F.element_at(ws, k + 2).alias("w2"),
        ),
    )
    # The pair table is materialized once: it has three consumers
    # (the join probe side, the bigram count table and — via the
    # recomputed bigram aggregation — the unigram table), and nothing
    # dedupes them lazily. The count-table joins broadcast in the
    # small-data regime, so there is no common shuffle for
    # ReuseExchange; column pruning gives the probe (with id) and the
    # agg branches (without) different canonical subtrees, so AQE
    # stage reuse cannot fire either — the executed plan ran
    # scan+split+explode 3x. One eager checkpoint trades a local
    # write of the pairs (~2 words/token, same order as the probe-side
    # shuffle the join needs anyway at scale) for two full
    # scan+split+explode re-evaluations. An explicit
    # repartition(w1,w2) variant — shared-exchange pattern — was also
    # measured: it did NOT dedupe (pruning, above) and benched slower
    # than this.
    exploded = reuse(
        df.select(F.col(id_col).alias("id"),
                  F.split(F.col(text_col), " ").alias("_ws"))
        .where(F.size(ws) >= 2)
        .select("id", F.explode(pairs).alias("p"))
        .select("id", "p.w1", "p.w2")
    )
    bigrams = exploded.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    unigrams = bigrams.groupBy("w1").agg(F.sum("bc").alias("uc"))
    return (
        exploded
        .join(bigrams, on=["w1", "w2"])
        .join(unigrams, on="w1")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("bc") / F.col("uc"))), 6)
            .alias("mean_bigram_surprisal"),
        )
    )


def zipf_slope(df: DataFrame, top_n: int = 1000,
               text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the top-``top_n`` vocabulary terms: the
    log-log slope of frequency vs rank (natural prose ≈ -1; template/
    machine-generated corpora drift far from it — a corpus-level
    sanity metric for training mixes).

    One map-side-combined vocabulary count, a distributed top-n
    (``orderBy().limit`` plans as TakeOrderedAndProject — per-partition
    heaps, never a global sort), ranks assigned by window over the
    BOUNDED top-n frame only, then one regr_slope/intercept aggregate.
    Ties broken by term so ranks are deterministic.
    """
    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("c"))
    )
    top = vocab.orderBy(F.desc("c"), F.asc("w")).limit(top_n)
    ranked = top.withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("c"), F.asc("w"))))
    lr, lc = F.log(F.col("r").cast("double")), F.log(F.col("c").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
    )


def bpe_pair_stats(df: DataFrame, top_n: int = 50,
                   text_col: str = "text") -> DataFrame:
    """Adjacent character-pair statistics over the word vocabulary,
    weighted by word frequency — the counting step of a BPE
    tokenizer-training iteration (the top pair is the next merge).

    Scale shape: the corpus collapses to its VOCABULARY first (one
    map-side-combinable count — Heaps' law makes this sublinear in
    corpus size), pairs explode only from the vocab (bounded by
    Σ|word|), and the final top-n is per-partition heaps
    (TakeOrderedAndProject). The corpus text is scanned exactly once.
    """
    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w").agg(F.count("*").alias("c"))
    )
    pairs = vocab.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"),
        F.col("c"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_n)
    )


def drop_global_boilerplate(df: DataFrame, min_docs: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            sep: str = "\n") -> DataFrame:
    """Remove lines that appear in >= ``min_docs`` DISTINCT documents
    (cross-document boilerplate: nav bars, footers, cookie banners —
    the CCNet/RefinedWeb line-dedup rule).

    Per-line document counts are one map-side-combinable aggregation;
    the heavy-hitter line set joins back as a left-anti (small by
    construction — at most total_lines/min_docs entries, AQE
    broadcasts it); documents are rebuilt in original line order from
    collected (pos, line) structs. Every input document survives
    (possibly with empty text).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(boiler, on="line", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ), sep,
        ).alias("_text"),
        F.count("*").alias("_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep)).alias("_total"),
    )
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            (F.col("_total") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("int").alias("n_lines_dropped"),
        )
    )


def unigram_surprisal(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Mean unigram surprisal per document (an LM-free perplexity
    proxy): -(1/n) * sum(ln(p(w))) with p(w) from the corpus itself.

    Documents made of globally-common words score LOW (predictable);
    rare-token-heavy documents score HIGH — the cheap first-pass
    quality/outlier signal before any neural scoring. The unigram
    table is one map-side-combined count joined back onto the
    exploded words (no forced broadcast — AQE decides at runtime).
    """
    words = _words(df, text_col, id_col)
    vocab = words.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c")).first()[0]
    return (
        words.join(vocab, on="w")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg(-F.log(F.col("c") / F.lit(float(total)))), 6)
            .alias("mean_surprisal"),
        )
    )


def corpus_diff(old: DataFrame, new: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Content-level diff between two corpus versions: per-document
    status ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    md5 content hash — the audit step between dataset releases
    (pairs with ``sources.tables.read_as_of`` for snapshot inputs).

    Each side collapses to (id, hash) in the scan projection, so the
    full-outer join shuffles two narrow columns, never document
    payloads. Map-side combinable if ids are unique (they are by
    contract).
    """
    o = old.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("_oh"))
    n = new.select(F.col(id_col).alias("id"),
                   F.md5(F.col(text_col)).alias("_nh"))
    return (
        o.join(n, on="id", how="full_outer")
        .select(
            "id",
            F.when(F.col("_oh").isNull(), F.lit("added"))
            .when(F.col("_nh").isNull(), F.lit("removed"))
            .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
            .otherwise(F.lit("unchanged")).alias("status"),
        )
    )


def _token_pairs(df, text_col: str, id_col: str):
    """(id, prev, cur) token bigram rows; prev NULL on doc-initial.

    Alias-projected split (see word_shingles: an inlined split in a
    lambda is O(words²·len) per row on giant documents).
    """
    ws = F.col("_ws")
    ps = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 1),
        lambda k: F.struct(
            F.when(k > 0, F.element_at(ws, k)).alias("prev"),
            F.element_at(ws, k + 1).alias("cur"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"),
                  F.split(F.col(text_col), " ").alias("_ws"))
        .where(F.size(ws) >= 1)
        .select("id", F.explode(ps).alias("p"))
        .select("id", "p.prev", "p.cur")
    )


def lm_perplexity(train: DataFrame, score: DataFrame, lam: float = 0.7,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """CCNet-style LM quality scoring: per-document perplexity under
    an interpolated bigram model trained on a REFERENCE corpus.

    Unlike :func:`unigram_surprisal`/:func:`bigram_surprisal` (which
    score a corpus against itself), this is the cross-corpus filter
    shape: train counts on a trusted reference (e.g. Wikipedia), score
    the crawl, keep the low-perplexity head. Per token:

        p(w | prev) = lam * c(prev w)/c(prev ·)  +
                      (1 - lam) * (c(w) + 1)/(T + V)

    (bigram term 0 for document-initial tokens and unseen contexts;
    the add-one unigram floor keeps every probability positive, so
    out-of-vocabulary tokens raise perplexity instead of zeroing it).
    ppl = exp(-mean ln p). Lower = more reference-like.

    Scale: train-side count tables are map-side-combined aggregates
    joined back onto the exploded score-side pairs with NO forced
    broadcast (bigram vocabulary grows near-linearly with the
    reference size — AQE broadcasts at runtime only when it fits).

    Returns (id, n_tokens, ppl).
    """
    if not 0.0 <= lam < 1.0:
        raise ValueError("lam must be in [0, 1)")

    def pairs(df):
        return _token_pairs(df, text_col, id_col)

    # materialize the train-side explode once: it feeds the bigram
    # and unigram count tables AND the vocab-size driver scalar (an
    # action at build time) — without this the reference corpus is
    # re-exploded per consumer. The reference corpus is the SMALL
    # side of this operator by construction (CCNet trains on trusted
    # text, scores the crawl), so its token pairs are materializable.
    tp = reuse(pairs(train))
    bigrams = (tp.where(F.col("prev").isNotNull())
               .groupBy("prev", "cur").agg(F.count("*").alias("bc")))
    contexts = bigrams.groupBy("prev").agg(F.sum("bc").alias("uc"))
    unigrams = tp.groupBy("cur").agg(F.count("*").alias("c"))
    stats = unigrams.agg(
        F.sum("c").alias("t"), F.count("*").alias("v")).first()
    if stats["t"] is None:
        raise ValueError("train corpus is empty — cannot fit the LM")
    t_plus_v = float(stats["t"] + stats["v"])

    sp = pairs(score)
    p_bigram = F.coalesce(F.col("bc") / F.col("uc"), F.lit(0.0))
    p_unigram = (F.coalesce(F.col("c"), F.lit(0)) + 1.0) / F.lit(t_plus_v)
    p = F.lit(lam) * p_bigram + F.lit(1.0 - lam) * p_unigram
    return (
        sp.join(bigrams, on=["prev", "cur"], how="left")
        .join(contexts, on="prev", how="left")
        .join(unigrams, on="cur", how="left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.exp(-F.avg(F.log(p))), 6).alias("ppl"),
        )
    )


def perplexity_buckets(scored: DataFrame, k: int = 3,
                       ppl_col: str = "ppl",
                       id_col: str = "id") -> DataFrame:
    """CCNet's head/middle/tail split: cut documents into ``k``
    near-equal-frequency buckets by perplexity (bucket 1 = most
    reference-like). Built on :func:`percentile_ranks` (the two-pass
    partitioned CDF) rather than ``ntile() OVER (ORDER BY ppl)`` —
    a global-order window is a SinglePartition exchange at corpus
    scale. Tied perplexities share a bucket (min-rank semantics).
    Adds ``ppl_bucket``."""
    # percentile_ranks triggers two bounded aggregate ACTIONS plus the
    # final join; without materialization each action recomputes the
    # whole upstream scoring pipeline (the LM joins) from scratch
    scored = reuse(scored)
    ranked = percentile_ranks(scored, ppl_col, id_col=id_col,
                              rank_col="_pr", rounded=False)
    bucket = F.least(F.floor(F.col("_pr") * k) + 1, F.lit(k))
    out = scored.join(
        ranked.select(F.col(id_col),
                      bucket.cast("int").alias("ppl_bucket")),
        on=id_col)
    return out


def corpus_report(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", lang_col: str = "lang",
                  source_col: str = "source") -> DataFrame:
    """Corpus datasheet in long format: (metric, value) rows — the
    release-notes summary a dataset card needs (size, token counts,
    length profile, language composition), computed in two map-side-
    combinable aggregations and emitted long so the schema never
    changes when languages come and go.

    Metrics: n_docs, n_tokens, mean_tokens, max_tokens, mean_chars,
    n_langs, n_sources, plus one ``lang_share:<lang>`` row per
    observed language (document share). All values double.
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    agg = df.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(n_tokens).cast("double").alias("n_tokens"),
        F.round(F.avg(n_tokens), 6).alias("mean_tokens"),
        F.max(n_tokens).cast("double").alias("max_tokens"),
        F.round(F.avg(F.length(F.col(text_col))), 6).alias("mean_chars"),
        F.count_distinct(F.col(lang_col)).cast("double").alias("n_langs"),
        F.count_distinct(F.col(source_col)).cast("double")
        .alias("n_sources"),
    )
    names = ["n_docs", "n_tokens", "mean_tokens", "max_tokens",
             "mean_chars", "n_langs", "n_sources"]
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    scalars = agg.selectExpr(
        f"stack({len(names)}, {stack}) AS (metric, value)")
    per_lang = df.groupBy(F.col(lang_col).alias("_l")).agg(
        F.count("*").alias("_c"))
    total = per_lang.agg(F.sum("_c").alias("_t"))
    shares = (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            F.concat(F.lit("lang_share:"), F.col("_l")).alias("metric"),
            F.round(F.col("_c") / F.col("_t"), 6).alias("value"),
        )
    )
    return scalars.unionByName(shares).orderBy("metric")


def bpe_train_merges(df: DataFrame, n_merges: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """The ITERATIVE half of BPE tokenizer training: ``n_merges``
    rounds of (count adjacent symbol pairs → take the most frequent →
    merge its occurrences left-to-right, non-overlapping) over
    whitespace-tokenized symbol sequences, ties broken
    lexicographically. :func:`bpe_pair_stats` is one counting step;
    this runs the actual merge loop and returns the learned table —
    (round, left, right, pair_count) — the artifact a tokenizer ships.

    Scale per round: one map-side-combinable pair count over the
    corpus, a ``TakeOrderedAndProject`` top-1 (bounded driver
    metadata, like IVF centroids), and one O(n) pure-JVM string
    rewrite: every token is wrapped in OPEN/CLOSE sentinels
    (``\\x01tok\\x02``) so merging pair (l, r) is one literal
    ``replace('\\x01l\\x02\\x01r\\x02' → '\\x01lr\\x02')``. Adjacent
    matches share NO characters (each consumes whole wrapped tokens),
    so Java's sequential replace is exactly the left-to-right
    non-overlapping BPE pass — a run of identical (or empty) tokens
    pairs up without cascading. An earlier array-fold version copied
    the whole accumulator per element — O(n²) per document per round.
    No growing lineage (a checkpoint per round, same discipline as
    ``page_rank``). Adjacent pairs are counted WITH overlap (the
    common BPE implementation choice); the sentinel bytes are
    scrubbed from input text (they cannot occur in real tokens).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    B1, B2 = "\x01", "\x02"
    clean = F.replace(
        F.replace(F.col(text_col), F.lit(B1), F.lit("")),
        F.lit(B2), F.lit(""))
    seq0 = F.concat(
        F.lit(B1),
        F.array_join(F.split(clean, " "), B2 + B1),
        F.lit(B2))
    state = df.select(F.col(id_col).alias("id"), seq0.alias("seq"))

    def tokens(col):
        # strip the outer open/close sentinels, split on the inner
        # close+open pairs
        return F.split(
            F.substring(F.col(col), 2,
                        F.length(F.col(col)) - 2), B2 + B1)

    def adjacent_pairs(ts):
        # sequence(1, 0) counts DOWN in Spark, so a sub-2-token array
        # must short-circuit to an empty pair list
        return F.when(
            F.size(ts) < 2,
            F.expr("CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>)"),
        ).otherwise(F.expr(
            "transform(sequence(1, size(__ts) - 1),"
            " i -> struct(__ts[i - 1] AS l, __ts[i] AS r))"))

    merges = []
    for rnd in range(1, n_merges + 1):
        with_ts = state.withColumn("__ts", tokens("seq"))
        top = (
            with_ts.select(
                F.explode(adjacent_pairs(F.col("__ts"))).alias("p"))
            .groupBy("p.l", "p.r").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .first()
        )
        if top is None:
            break
        l, r, c = top["l"], top["r"], int(top["c"])
        merges.append((rnd, l, r, c))
        state = reuse(state.select(
            "id",
            F.replace(F.col("seq"),
                      F.lit(B1 + l + B2 + B1 + r + B2),
                      F.lit(B1 + l + r + B2)).alias("seq"),
        ))

    return df.sparkSession.createDataFrame(
        merges, "round int, left string, right string, pair_count long")


def bpe_encode(df: DataFrame, merges, text_col: str = "text",
               id_col: str = "doc_id", out_col: str = "bpe_tokens",
               max_jvm_merges: int = 64) -> DataFrame:
    """Apply a trained BPE merge table (the SERVE half of
    :func:`bpe_train_merges`): tokens are whitespace symbols; each
    (left, right) merge rewrites every adjacent occurrence
    left-to-right non-overlapping, in rank order — the standard BPE
    encode loop. ``merges`` is the training output DataFrame
    (round, left, right[, pair_count]) or a list of (left, right).

    Returns ``df`` with ``out_col`` = array<string> of encoded tokens
    and ``n_bpe_tokens``. The merge table is tokenizer metadata —
    bounded by construction (vocab-size rows, like IVF centroids), so
    collecting it to the driver is not a scale hazard.

    Plan shape: with a small table (<= ``max_jvm_merges``) the whole
    chain stays JVM-side — one sentinel-wrapped literal replace per
    merge, no Python. Bigger tables switch to one Arrow-batched pandas
    UDF applying the same replace chain per batch (one crossing, the
    chain runs in C-speed str.replace) — identical semantics, proven
    by the parity test.
    """
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("round").select("left", "right").collect()
        pairs = [(r["left"], r["right"]) for r in rows]
    else:
        pairs = [(left, right) for left, right in merges]
    B1, B2 = "\x01", "\x02"
    clean = F.replace(
        F.replace(F.col(text_col), F.lit(B1), F.lit("")),
        F.lit(B2), F.lit(""))
    # empty strings are not symbols: split("") yields [""] and doubled
    # spaces yield "" mid-array, which inflated n_bpe_tokens (an empty
    # doc "encoded" to 1 token and skewed fertility — ADVICE r6)
    symbols = F.filter(F.split(clean, " "), lambda t: t != F.lit(""))
    seq = F.concat(
        F.lit(B1), F.array_join(symbols, B2 + B1), F.lit(B2))

    if len(pairs) <= max_jvm_merges:
        for left, right in pairs:
            seq = F.replace(
                seq,
                F.lit(B1 + left + B2 + B1 + right + B2),
                F.lit(B1 + left + right + B2))
        encoded = seq
    else:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def apply_merges(seqs: pd.Series) -> pd.Series:
            def enc(s):
                for left, right in pairs:
                    s = s.replace(B1 + left + B2 + B1 + right + B2,
                                  B1 + left + right + B2)
                return s
            return seqs.map(enc)

        encoded = apply_merges(seq)

    toks = F.when(
        F.length(encoded) <= 2,  # no symbols at all (empty document)
        F.expr("cast(array() as array<string>)"),
    ).otherwise(F.split(
        F.substring(encoded, 2, F.length(encoded) - 2), B2 + B1))
    return df.withColumn(out_col, toks).withColumn(
        "n_bpe_tokens", F.size(out_col).cast("long"))


def stupid_backoff_scores(train: DataFrame, score: DataFrame,
                          alpha: float = 0.4,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Web-scale LM scoring with stupid backoff (Brants et al. 2007):
    per token

        S(w | prev) = c(prev w) / c(prev ·)        if the bigram is seen
                      alpha * (c(w) + 1) / (T + V)  otherwise

    — a hard backoff with a fixed penalty instead of interpolation.
    At trillion-token training scale this is the published trade: no
    normalization pass, no discount estimation, one count table per
    order, and quality within a hair of Kneser-Ney. The add-one
    unigram floor keeps OOV tokens finite (they are penalized, not
    zeroed). Scores are NOT probabilities; the per-document summary
    is the mean log-score (higher = more reference-like), comparable
    across documents of any length.

    Same scale shape as :func:`lm_perplexity`: map-side-combined
    count tables joined onto the exploded score side with no forced
    broadcast. Returns (id, n_tokens, avg_logscore).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    tp = _token_pairs(train, text_col, id_col)
    bigrams = (tp.where(F.col("prev").isNotNull())
               .groupBy("prev", "cur").agg(F.count("*").alias("bc")))
    contexts = bigrams.groupBy("prev").agg(F.sum("bc").alias("uc"))
    unigrams = tp.groupBy("cur").agg(F.count("*").alias("c"))
    stats = unigrams.agg(
        F.sum("c").alias("t"), F.count("*").alias("v")).first()
    if stats["t"] is None:
        raise ValueError("train corpus is empty — cannot fit the LM")
    t_plus_v = float(stats["t"] + stats["v"])

    sp = _token_pairs(score, text_col, id_col)
    backoff = F.lit(alpha) * (
        (F.coalesce(F.col("c"), F.lit(0)) + 1.0) / F.lit(t_plus_v))
    s_tok = F.when(F.col("bc").isNotNull(),
                   F.col("bc") / F.col("uc")).otherwise(backoff)
    return (
        sp.join(bigrams, on=["prev", "cur"], how="left")
        .join(contexts, on="prev", how="left")
        .join(unigrams, on="cur", how="left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(s_tok)), 6).alias("avg_logscore"),
        )
    )


def tokenizer_fertility(df: DataFrame, merges,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        lang_col: str = "lang") -> DataFrame:
    """(lang, n_docs, n_words, n_bpe_tokens, fertility): how many
    subword tokens the tokenizer spends per whitespace word, per
    language — THE acceptance metric for a multilingual vocabulary
    (a tokenizer trained on English famously shatters other scripts
    into characters; fertility quantifies exactly that before a
    vocabulary ships).

    Reuses :func:`bpe_encode` (JVM replace chain / Arrow batch per its
    own size switch); the summary is one map-side-combinable
    aggregation per language. Empty documents contribute zero to both
    numerators.
    """
    words = F.size(F.filter(F.split(F.col(text_col), " "),
                            lambda w: w != F.lit("")))
    enc = bpe_encode(df, merges, text_col=text_col, id_col=id_col)
    return (
        enc.select(F.col(lang_col), words.alias("_w"),
                   F.col("n_bpe_tokens").alias("_b"))
        .groupBy(lang_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("n_words"),
            F.sum("_b").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("_b") / F.greatest(F.sum("_w"), F.lit(1)), 6)
            .alias("fertility"),
        )
    )
