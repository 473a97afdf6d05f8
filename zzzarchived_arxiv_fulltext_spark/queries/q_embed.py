"""Split from the original single-module battery (VERDICT r5 #7).

Imported by ``queries/__init__`` in registration order; every query
registers into the shared ``QUERIES``/``ORACLES`` dicts at import.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import sorted_output
from ._registry import ORACLES, QUERIES, _docs, _events, _register
from .q_textstats import _DECON_ORACLE  # noqa: E402

__all__ = ["QUERIES", "ORACLES"]

# --------------------------------------------------------------------------
# Embedding near-duplicates (LSH-bucketed) vs a brute-force oracle:
# at threshold 0.999 the only qualifying pairs are the planted exact
# duplicates, which collide in every LSH table deterministically —
# so the bucketed result equals the DuckDB all-pairs scan.
# --------------------------------------------------------------------------

_EMB_NEAR_DUP_ORACLE = """
    WITH c AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 500000 AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM c a JOIN c b ON a.id < b.id
    )
    SELECT id_a, id_b, cos FROM scored
    WHERE cos >= 0.999 ORDER BY id_a, id_b
    """


@_register("embedding_near_duplicates", _EMB_NEAR_DUP_ORACLE)
def q_embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.where("vec_id < 3").select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding", "label"
    )
    return embedding_near_duplicates(
        emb.unionByName(planted), threshold=0.999, dim=64,
        tables=6, planes=8,
    )


# --------------------------------------------------------------------------
# Corpus statistics: repetition metrics (Gopher-style filters),
# intra-document line dedup, TF-IDF term weighting, unigram surprisal.
# --------------------------------------------------------------------------


@_register(
    "repetition_metrics",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (SELECT doc_id, unnest(ws) AS w FROM d),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
    wstats AS (
      SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
             max(c) AS top_word_c
      FROM wc GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      FROM d, UNNEST(range(1, greatest(len(ws), 2))) AS t(i)
    ),
    gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    gstats AS (
      SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram_c
      FROM gc GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(w.n_words AS BIGINT) AS n_words,
           round(w.n_distinct / w.n_words, 6) AS distinct_word_ratio,
           round(w.top_word_c / w.n_words, 6) AS top_word_fraction,
           round(g.top_bigram_c / g.n_bigrams, 6) AS top_bigram_fraction
    FROM wstats w JOIN gstats g USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus_stats import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id")


@_register(
    "dedup_doc_lines",
    """
    SELECT doc_id,
           text || chr(10) || 'dup line' || chr(10) || 'tail line' AS text,
           2 AS n_lines_dropped
    FROM documents ORDER BY doc_id
    """,
)
def q_dedup_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted multi-line construction: the doc's own text appears
    twice and a boilerplate line twice; first occurrences survive in
    order, so the result is closed-form."""
    from ..operators.corpus_stats import dedup_doc_lines

    planted = F.concat_ws(
        "\n", F.col("text"), F.lit("dup line"), F.lit("dup line"),
        F.col("text"), F.lit("tail line"))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return dedup_doc_lines(docs)


@_register(
    "global_line_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             text || chr(10) || 'shared ' || (doc_id % 7)::VARCHAR
                  || chr(10) || 'tail line' AS text
      FROM documents
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
    l AS (
      SELECT doc_id, i - 1 AS idx, ls[i] AS line
      FROM s, UNNEST(range(1, len(ls) + 1)) AS t(i)
    ),
    r AS (
      SELECT doc_id, idx, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, idx) AS rn,
             length(line) >= 1 AS elig
      FROM l
    ),
    kept AS (SELECT doc_id, idx, line FROM r WHERE NOT elig OR rn = 1),
    agg AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    orig AS (
      SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM d
    )
    SELECT o.doc_id, coalesce(a.text, '') AS text,
           (o.n_lines - coalesce(a.n_kept, 0))::BIGINT AS n_lines_dropped
    FROM orig o LEFT JOIN agg a USING (doc_id)
    ORDER BY o.doc_id
    """,
)
def q_global_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup, first occurrence wins.

    Planted construction: every doc gains a 'shared k' line (k =
    doc_id % 7, so ~1/7 of the corpus shares each) and a 'tail line'
    shared by ALL docs; only the lowest-(doc_id, idx) copy of each
    repeated line survives. The oracle replays the full pipeline in
    SQL (window keeper election + reassembly), so organic text
    collisions dedup identically in both engines.
    """
    from ..operators.dedup import dedup_lines_global

    planted = F.concat_ws(
        "\n", F.col("text"),
        F.concat(F.lit("shared "), (F.col("doc_id") % 7).cast("string")),
        F.lit("tail line"))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return sorted_output(dedup_lines_global(docs), "doc_id")


@_register(
    "mixture_reweighting",
    """
    WITH per AS (
      SELECT lang AS stratum, count(*) AS n_docs,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM per),
    tgt AS (
      SELECT stratum,
             CASE stratum WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
                          WHEN 'fr' THEN 0.2 ELSE 0.0 END AS target_share
      FROM per
    )
    SELECT p.stratum, p.n_docs, p.n_tokens,
           round(p.n_tokens / (SELECT t FROM tot), 6) AS actual_share,
           round(g.target_share, 6)::DOUBLE AS target_share,
           round(least(g.target_share
                       / (p.n_tokens / (SELECT t FROM tot)), 10.0), 6)
             AS weight
    FROM per p JOIN tgt g USING (stratum)
    ORDER BY p.stratum
    """,
)
def q_mixture_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting input: per-language token
    shares vs a 50/30/20 en/de/fr target; weight = capped
    target/actual sampling multiplier (0 for strata outside the
    target mix)."""
    from ..operators.sampling import mixture_weights

    return mixture_weights(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.3, "fr": 0.2},
        stratum_col="lang")


@_register(
    "tfidf_top_terms",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM d),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY doc_id, w),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, dfreq.df,
             round(tf.tf * ln((SELECT count(*) FROM d) / dfreq.df), 6)
               AS score
      FROM tf JOIN dfreq USING (w)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, rank
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus_stats import tf_idf_top_terms

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return tf_idf_top_terms(docs, k=3).withColumnRenamed("id", "doc_id")


@_register(
    "unigram_surprisal",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    t AS (SELECT sum(c) AS total FROM v)
    SELECT doc_id, count(*) AS n_words,
           round(avg(-ln(v.c / (SELECT total FROM t))), 6)
             AS mean_surprisal
    FROM w JOIN v USING (w)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus_stats import unigram_surprisal

    return unigram_surprisal(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id")


_LM_PPL_ORACLE_CTES = """
    WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
    sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
    tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr),
    tp AS (
      SELECT doc_id, CASE WHEN i > 1 THEN ws[i - 1] END AS prev,
             ws[i] AS cur
      FROM tw, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    bg AS (SELECT prev, cur, count(*) AS bc FROM tp
           WHERE prev IS NOT NULL GROUP BY prev, cur),
    ctx AS (SELECT prev, sum(bc) AS uc FROM bg GROUP BY prev),
    ug AS (SELECT cur, count(*) AS c FROM tp GROUP BY cur),
    st AS (SELECT (sum(c) + count(*))::DOUBLE AS tv FROM ug),
    sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sc),
    sp AS (
      SELECT doc_id, CASE WHEN i > 1 THEN ws[i - 1] END AS prev,
             ws[i] AS cur
      FROM sw, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    j AS (
      SELECT sp.doc_id,
             0.7::DOUBLE * coalesce(bg.bc / ctx.uc, 0.0)
             + (1.0::DOUBLE - 0.7::DOUBLE)
               * ((coalesce(ug.c, 0) + 1.0) / (SELECT tv FROM st)) AS p
      FROM sp LEFT JOIN bg ON sp.prev = bg.prev AND sp.cur = bg.cur
              LEFT JOIN ctx ON sp.prev = ctx.prev
              LEFT JOIN ug ON sp.cur = ug.cur
    ),
    scored AS (
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             round(exp(-avg(ln(p))), 6) AS ppl
      FROM j GROUP BY doc_id
    )
"""


@_register(
    "lm_perplexity_scores",
    _LM_PPL_ORACLE_CTES + """
    SELECT doc_id, n_tokens, ppl FROM scored ORDER BY doc_id
    """,
)
def q_lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus LM scoring: a quarter of doc_ids is the
    reference (training) corpus, a disjoint quarter is scored.
    The oracle replays the interpolated-bigram model end to end."""
    from ..operators.corpus_stats import lm_perplexity

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 4 == 0)
    score = docs.where(F.col("doc_id") % 4 == 2)
    return sorted_output(
        lm_perplexity(train, score, lam=0.7).withColumnRenamed("id", "doc_id"),
        "doc_id")


@_register(
    "ccnet_perplexity_buckets",
    _LM_PPL_ORACLE_CTES + """
    , ranked AS (
      SELECT doc_id, n_tokens, ppl,
             percent_rank() OVER (ORDER BY ppl) AS pr
      FROM scored
    )
    SELECT doc_id, n_tokens, ppl,
           least(floor(pr * 3) + 1, 3)::INT AS ppl_bucket
    FROM ranked ORDER BY doc_id
    """,
)
def q_ccnet_perplexity_buckets(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Head/middle/tail perplexity terciles over the scored half of
    the corpus — the CCNet keep-the-head filter input. Bucketing runs
    on the two-pass partitioned CDF (no global-order window); the
    oracle's percent_rank has identical min-rank tie semantics."""
    from ..operators.corpus_stats import lm_perplexity, perplexity_buckets

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 4 == 0)
    score = docs.where(F.col("doc_id") % 4 == 2)
    scored = lm_perplexity(train, score, lam=0.7)
    return sorted_output(
        perplexity_buckets(scored, k=3).withColumnRenamed("id", "doc_id"),
        "doc_id")


@_register(
    "robots_noindex_filter",
    """
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 5 IN (2, 3) ORDER BY doc_id
    """,
)
def q_robots_noindex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level consent filter: pages rendered with planted robots
    metas — doc_id%5==0 'noindex, follow', 1 'NONE', 4
    'NoIndex,nofollow' are dropped (case-insensitive, 'none' implies
    noindex); 2 'index, follow' and 3 (no robots meta) survive."""
    from ..operators.weblinks import drop_noindex_pages

    k = F.col("doc_id") % 5
    meta = (
        F.when(k == 0, F.lit('<meta name="robots" content="noindex, follow">'))
        .when(k == 1, F.lit('<meta name="ROBOTS" content="NONE">'))
        .when(k == 2, F.lit('<meta name="robots" content="index, follow">'))
        .when(k == 4, F.lit('<meta name="robots" content="NoIndex,nofollow">'))
        .otherwise(F.lit(""))
    )
    page = F.concat(
        F.lit("<html><head>"), meta,
        F.lit("</head><body><p>"), F.col("text"),
        F.lit("</p></body></html>"))
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", page.alias("html"))
    return sorted_output(
        drop_noindex_pages(docs).select("doc_id", "lang"), "doc_id")


@_register(
    "global_boilerplate_removal",
    """
    WITH d AS (
      SELECT doc_id,
             text || chr(10) || 'shared boilerplate footer' || chr(10) ||
             CASE WHEN doc_id % 2 = 0 THEN 'even footer'
                  ELSE 'unique tail ' || doc_id END AS text
      FROM documents
    ),
    l AS (
      SELECT doc_id, i AS pos, ls[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
           UNNEST(range(1, len(ls) + 1)) AS t(i)
    ),
    b AS (
      SELECT line FROM (
        SELECT line, count(DISTINCT doc_id) AS nd FROM l GROUP BY line
      ) WHERE nd >= 3
    ),
    k AS (SELECT l.* FROM l ANTI JOIN b USING (line))
    SELECT d.doc_id,
           coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
           CAST(len(string_split(d.text, chr(10))) - count(k.line) AS INT)
             AS n_lines_dropped
    FROM d LEFT JOIN k USING (doc_id)
    GROUP BY d.doc_id, d.text
    ORDER BY d.doc_id
    """,
)
def q_global_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal (CCNet-style): a footer
    planted into every document and another into every even document
    both vanish; per-document unique tails survive. The oracle
    simulates the same rule, so incidental cross-document text
    collisions in the base corpus are captured identically."""
    from ..operators.corpus_stats import drop_global_boilerplate

    planted = F.concat(
        F.col("text"), F.lit("\nshared boilerplate footer\n"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("even footer"))
        .otherwise(F.concat(F.lit("unique tail "), F.col("doc_id"))),
    )
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return drop_global_boilerplate(docs, min_docs=3)


@_register(
    "mixed_format_ingestion",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN 'pdf' WHEN 1 THEN 'html' ELSE 'text'
           END AS format,
           text
    FROM documents ORDER BY doc_id
    """,
)
def q_mixed_format_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixed-crawl round trip: each document's text is
    packaged as real PDF bytes, a real HTML page, or plain UTF-8 by
    doc_id, then the format-sniffing router parses it back — the
    recovered text must equal the original for every format."""
    import pandas as pd

    from ..functions.pdf_text import make_simple_pdf
    from ..sources.ingest_router import raw_to_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def build(batches):
        for b in batches:
            payloads = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                k = int(doc_id) % 3
                if k == 0:
                    payloads.append(make_simple_pdf([[text]]))
                elif k == 1:
                    payloads.append(
                        ("<html><head><title>t</title></head><body>"
                         f"<p>{text}</p></body></html>").encode())
                else:
                    payloads.append(text.encode())
            yield pd.DataFrame({"doc_id": b["doc_id"].astype(str),
                                "payload": payloads})

    raw = docs.mapInPandas(build, schema="doc_id string, payload binary")
    routed = raw_to_spans(raw)
    return routed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "format",
        F.array_join(
            F.transform(F.col("spans"), lambda s: s["text"]), "\n"
        ).alias("text"),
    )


@_register(
    "deterministic_shuffle",
    """
    SELECT doc_id, md5('ep1:' || doc_id::VARCHAR) AS shuffle_key
    FROM documents ORDER BY shuffle_key, doc_id
    """,
)
def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_shuffle

    return deterministic_shuffle(
        _docs(spark, sf_dir).select("doc_id"), seed="ep1")


@_register(
    "length_bucket_stats",
    """
    WITH b AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             CAST(floor(log2(len(string_split(text, ' ')))) AS INT)
               AS len_bucket
      FROM documents
    )
    SELECT len_bucket, count(*) AS n_docs,
           min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
    FROM b GROUP BY len_bucket ORDER BY len_bucket
    """,
)
def q_length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import length_buckets

    return (
        length_buckets(_docs(spark, sf_dir))
        .groupBy("len_bucket")
        .agg(F.count("*").alias("n_docs"),
             F.min("n_tokens").alias("min_tokens"),
             F.max("n_tokens").alias("max_tokens"))
    )


@_register(
    "language_slice_divergence",
    """
    WITH w AS (SELECT lang AS s, unnest(string_split(text, ' ')) AS w
               FROM documents),
    sc AS (SELECT s, w, count(*) AS c FROM w GROUP BY s, w),
    st AS (SELECT s, sum(c) AS t FROM sc GROUP BY s),
    gc AS (SELECT w, sum(c) AS gc FROM sc GROUP BY w),
    gt AS (SELECT sum(gc) AS total FROM gc)
    SELECT sc.s AS lang,
           CAST(sum(sc.c) AS BIGINT) AS n_tokens,
           round(sum((sc.c / st.t)
                     * ln((sc.c / st.t)
                          / (gc.gc / (SELECT total FROM gt)))), 6)
             AS kl_divergence
    FROM sc JOIN st USING (s) JOIN gc USING (w)
    GROUP BY sc.s ORDER BY lang
    """,
)
def q_language_slice_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus_stats import slice_divergence

    return slice_divergence(_docs(spark, sf_dir), slice_col="lang")


# containment variant of the decontamination check: the fraction of a
# benchmark doc's fingerprints found in each corpus doc. The planted
# benchmark docs are substrings of their sources, so containment ≈ 1
# for the true pairs.
_CONTAINMENT_ORACLE = _DECON_ORACLE.replace(
    """    SELECT c.doc_id AS doc_id, b.doc_id AS benchmark_id,
           count(*) AS shared_fingerprints
    FROM fps_c c JOIN fps_b b ON c.fp = b.fp
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY 1, 2
    """,
    """    , sizes AS (SELECT doc_id, count(*) AS nb FROM fps_b GROUP BY doc_id)
    SELECT c.doc_id AS doc_id, b.doc_id AS benchmark_id,
           count(*) AS shared_fingerprints,
           round(count(*) / any_value(s.nb), 6) AS containment
    FROM fps_c c JOIN fps_b b ON c.fp = b.fp
    JOIN sizes s ON s.doc_id = b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY 1, 2
    """,
)
assert "containment" in _CONTAINMENT_ORACLE  # the replace must hit


@_register("benchmark_containment", _CONTAINMENT_ORACLE)
def q_benchmark_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_metrics import cross_fingerprint_overlap

    docs = _docs(spark, sf_dir)
    corpus = docs.where("doc_id < 300").select("doc_id", "text")
    bench = docs.where("doc_id < 5").select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.substring("text", 50, 200).alias("text"),
    )
    return cross_fingerprint_overlap(corpus, bench, min_shared=3,
                                     with_containment=True)


@_register(
    "event_sequence_funnel",
    """
    WITH s1 AS (
      SELECT user_id, event_type, ts,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS p1
      FROM events
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > p1 THEN ts END)
                  OVER (PARTITION BY user_id) AS p2 FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > p2 THEN ts END)
                  OVER (PARTITION BY user_id) AS p3 FROM s2
    ),
    s4 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > p3 THEN ts END)
                  OVER (PARTITION BY user_id) AS p4 FROM s3
    ),
    agg AS (
      SELECT user_id, any_value(p1) AS p1, any_value(p2) AS p2,
             any_value(p3) AS p3, any_value(p4) AS p4
      FROM s4 GROUP BY user_id
    )
    SELECT user_id,
           coalesce(epoch_us(p1), -1) AS step_1_us,
           coalesce(epoch_us(p2), -1) AS step_2_us,
           coalesce(epoch_us(p3), -1) AS step_3_us,
           coalesce(epoch_us(p4), -1) AS step_4_us,
           CAST((p1 IS NOT NULL)::INT + (p2 IS NOT NULL)::INT
                + (p3 IS NOT NULL)::INT + (p4 IS NOT NULL)::INT AS INT)
             AS steps_completed
    FROM agg ORDER BY user_id
    """,
)
def q_event_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→view→click→purchase funnel per user — one key
    shuffle for the whole chain."""
    from ..operators.temporal import sequence_funnel

    out = sequence_funnel(
        _events(spark, sf_dir),
        steps=("signup", "view", "click", "purchase"),
    )
    cols = [F.col("user_id")]
    for i in range(1, 5):
        cols.append(
            F.coalesce(
                F.unix_micros(F.col(f"step_{i}_ts").cast("timestamp")),
                F.lit(-1)).alias(f"step_{i}_us"))
    cols.append("steps_completed")
    return out.select(*cols)


@_register(
    "cohort_retention",
    """
    WITH first_signup AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
      SELECT e.user_id,
             CAST(date_trunc('day', f.signup_ts) AS DATE) AS cohort_day,
             CAST(floor(date_diff('day',
                                  CAST(date_trunc('day', f.signup_ts) AS DATE),
                                  CAST(date_trunc('day', e.ts) AS DATE))
                        / 7.0) AS INT) AS week_offset
      FROM events e JOIN first_signup f USING (user_id)
      WHERE e.ts >= f.signup_ts
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, week_offset,
           count(DISTINCT user_id) AS active_users
    FROM activity GROUP BY 1, 2
    ORDER BY cohort_day, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-signup day, counted
    distinct in each 7-day offset bucket of later activity."""
    ev = _events(spark, sf_dir)
    first_signup = (
        ev.where("event_type = 'signup'")
        .groupBy("user_id").agg(F.min("ts").alias("signup_ts"))
    )
    activity = (
        ev.join(first_signup, on="user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .select(
            "user_id",
            F.date_trunc("day", "signup_ts").cast("date")
            .alias("cohort_day"),
            F.floor(
                F.datediff(F.date_trunc("day", "ts").cast("date"),
                           F.date_trunc("day", "signup_ts").cast("date"))
                / 7).cast("int").alias("week_offset"),
        )
    )
    return (
        activity.groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
        # string, not DATE: the driver's value-hash canonicalizer
        # handles scalar types only, so temporal output columns must
        # be cast (DATE -> string, TIMESTAMP -> epoch micros)
        .withColumn("cohort_day", F.col("cohort_day").cast("string"))
    )


@_register(
    "daily_revenue_moving_avg",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             sum(value)::DOUBLE AS revenue
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day, round(revenue, 6) AS revenue,
           round(avg(revenue) OVER (
             ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                               AND CURRENT ROW), 6) AS revenue_7d_ma
    FROM daily ORDER BY day
    """,
)
def q_daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue with a 7-day trailing moving average.

    The window runs over the DAILY AGGREGATE (calendar-bounded — a few
    thousand rows regardless of corpus size), so the unpartitioned
    range window is metadata-scale, not data-scale."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.where("event_type = 'purchase'")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum("value").cast("double").alias("revenue"))
    )
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),  # scalar-safe output
        F.round("revenue", 6).alias("revenue"),
        F.round(F.avg("revenue").over(w), 6).alias("revenue_7d_ma"),
    )


@_register(
    "props_json_stats",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS k_sum,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6)
             AS k_avg,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the events.props JSON column parsed
    with a declared schema (from_json — Catalyst-native, pushdown-
    friendly) and aggregated per event type."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType())])
    ev = _events(spark, sf_dir).withColumn(
        "k", F.from_json("props", schema)["k"])
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.round(F.avg("k"), 6).alias("k_avg"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


@_register(
    "html_metadata_extraction",
    """
    SELECT doc_id,
           'doc ' || doc_id AS title,
           lang,
           'https://example.org/' || doc_id AS canonical,
           2 AS n_links,
           1 AS n_images
    FROM documents ORDER BY doc_id
    """,
)
def q_html_metadata_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip: each document rendered as a full HTML page with
    known metadata, parsed back by the stdlib metadata extractor."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.html_extract import html_metadata

    page = F.concat(
        F.lit("<html lang=\""), F.col("lang"),
        F.lit("\"><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit("</title><link rel=\"canonical\" href="
              "\"https://example.org/"), F.col("doc_id").cast("string"),
        F.lit("\"></head><body><p>"), F.col("text"),
        F.lit("</p><a href=\"/a\">one</a><a href=\"/b\">two</a>"
              "<img src=\"x.png\"/></body></html>"),
    )

    @pandas_udf("title string, lang string, canonical string, "
                "n_links int, n_images int")
    def meta_udf(pages: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([html_metadata(p) for p in pages])[
            ["title", "lang", "canonical", "n_links", "n_images"]]

    return (
        _docs(spark, sf_dir)
        .select("doc_id", meta_udf(page).alias("m"))
        .select("doc_id", "m.title", "m.lang", "m.canonical",
                "m.n_links", "m.n_images")
    )


@_register(
    "bigram_surprisal",
    """
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    e AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      FROM s, UNNEST(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    b AS (SELECT w1, w2, count(*) AS bc FROM e GROUP BY w1, w2),
    u AS (SELECT w1, sum(bc) AS uc FROM b GROUP BY w1)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-ln(b.bc / u.uc)), 6) AS mean_bigram_surprisal
    FROM e JOIN b USING (w1, w2) JOIN u USING (w1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus_stats import bigram_surprisal

    return bigram_surprisal(_docs(spark, sf_dir)).withColumnRenamed(
        "id", "doc_id")


@_register(
    "length_percentile_ranks",
    """
    SELECT doc_id, n_chars,
           round(percent_rank() OVER (ORDER BY n_chars), 6) AS pct_rank
    FROM documents ORDER BY doc_id
    """,
)
def q_length_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percent_rank without a global sort: value-histogram CDF
    broadcast back onto the rows (operators/corpus_stats.py)."""
    from ..operators.corpus_stats import percentile_ranks

    return percentile_ranks(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "n_chars")


@_register(
    "session_windows_native",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           count(*) AS n_events
    FROM islands GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def q_session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst's native session_window (30-minute gap) vs the classic
    gaps-and-islands SQL — the declarative twin of the custom stateful
    sessionizer in streaming/sessionize.py."""
    ev = _events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.count("*").alias("n_events"),
        )
        .drop("session_window")
    )


@_register(
    "flatten_props_json",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events ORDER BY event_id
    """,
)
def q_flatten_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-inferred JSON flattening: the props column becomes a
    typed top-level field with no declared schema anywhere."""
    from ..operators.semistructured import flatten_json

    ev = _events(spark, sf_dir).select("event_id", "event_type", "props")
    return flatten_json(ev, "props")


@_register(
    "user_event_pivot",
    """
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per user, one count column per event type.
    Explicit pivot values keep the plan a single pass (no distinct-
    values pre-query) — the scale-correct pivot form."""
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


@_register(
    "event_grouping_sets",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(epoch_us(ts) // 3600000000, -1) AS hour_bucket,
           count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type, epoch_us(ts) // 3600000000),
                            (event_type), ())
    ORDER BY event_type, hour_bucket
    """,
)
def q_event_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregation in ONE pass via grouping sets:
    (type, hour), (type), and the grand total."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / F.lit(3600000000)).cast("long").alias("hour_bucket"),
    )
    return (
        ev.groupingSets(
            [["event_type", "hour_bucket"], ["event_type"], []],
            "event_type", "hour_bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("hour_bucket", F.lit(-1)).alias("hour_bucket"),
            "n",
        )
    )




@_register(
    "kmeans_assign",
    """
    WITH c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    d AS (
      SELECT vec_id, cid,
             list_sum(list_transform(range(1, len(v) + 1),
               i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
      FROM v, c
    )
    SELECT vec_id, cid AS centroid_id FROM d
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist, cid) = 1
    ORDER BY vec_id
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-means assignment with the first 8 vectors as fixed
    centroids: the JVM projection path (inlined centroid array,
    double left-fold distances) must agree with the oracle's explicit
    cross-join argmin; ties break to the lowest centroid id. The
    pandas-UDF production path is pinned to this operator by pytest
    parity."""
    from ..operators.similarity import assign_nearest_centroid

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [
        list(map(float, r["embedding"]))
        for r in emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id").collect()
    ]
    return sorted_output(
        assign_nearest_centroid(emb, cents)
        .select("vec_id", F.col("centroid_id").cast("long")
                .alias("centroid_id")),
        "vec_id")


@_register(
    "semdedup_pairs",
    """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    allv AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 10000, v FROM base WHERE vec_id % 10 = 0
    ),
    c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 8),
    d AS (
      SELECT allv.vec_id, cid,
             list_sum(list_transform(range(1, len(v) + 1),
               i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
      FROM allv, c
    ),
    a AS (
      SELECT vec_id, cid FROM d
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cid) = 1
    ),
    p AS (
      SELECT x.vec_id AS ia, y.vec_id AS ib,
             list_sum(list_transform(range(1, len(vx.v) + 1),
               i -> vx.v[i] * vy.v[i]))
             / (sqrt(list_sum(list_transform(vx.v, z -> z * z)))
                * sqrt(list_sum(list_transform(vy.v, z -> z * z))))
               AS cos
      FROM a x
      JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN allv vx ON vx.vec_id = x.vec_id
      JOIN allv vy ON vy.vec_id = y.vec_id
    )
    SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b,
           round(cos, 6) AS cos
    FROM p WHERE cos >= 0.9
    ORDER BY id_a, id_b
    """,
)
def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on planted twins: every 10th vector gains an exact
    copy at id+10000 — same direction, same cluster by construction —
    so the within-cluster cosine pass must find exactly those pairs
    (the corpus's natural max within-cluster cosine is ~0.49, far
    under the 0.9 gate). Exercises the real assignment projection +
    per-cluster GEMM kernel against the oracle's explicit argmin +
    cross-join."""
    from ..operators.similarity import semantic_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    twins = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    allv = emb.select("vec_id", "embedding").unionByName(twins)
    cents = [
        list(map(float, r["embedding"]))
        for r in emb.where(F.col("vec_id") < 8)
        .orderBy("vec_id").collect()
    ]
    return sorted_output(
        semantic_near_duplicates(allv, cents, threshold=0.9)
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"), "cos"),
        "id_a", "id_b",
    )


@_register(
    "hashed_doc_vectors",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    bk AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 AS b
      FROM tok
    ),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(c)::DOUBLE AS n FROM cnt GROUP BY 1),
    tf AS (
      SELECT cnt.doc_id, b, c / n AS v
      FROM cnt JOIN tot USING (doc_id)
    ),
    nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS l2 FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           count(*)::BIGINT AS nnz,
           round(sum((v / l2) * (v / l2)), 6) AS unit_norm_sq,
           round(sum((v / l2) * (b + 1)), 6) AS probe
    FROM tf JOIN nrm USING (doc_id)
    GROUP BY tf.doc_id
    ORDER BY tf.doc_id
    """,
)
def q_hashed_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document vectors (dim=32, L2-normalized),
    verified through scalar projections: nnz, the unit-norm check,
    and a linear probe sum(v[b]*(b+1)) that pins EVERY component —
    a wrong value in any coordinate shifts the probe. Computed from
    the actual array column, so the dense-vector build (map lookup +
    JVM transform) is what's under test."""
    from ..operators.similarity import hashed_doc_vectors

    vecs = hashed_doc_vectors(_docs(spark, sf_dir), dim=32)
    v = F.col("embedding")
    probe = F.aggregate(
        F.zip_with(v, F.sequence(F.lit(1), F.lit(32)),
                   lambda x, i: x * i.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    nnz = F.size(F.filter(v, lambda x: x > 0))
    norm_sq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return sorted_output(vecs.select(
        "doc_id",
        nnz.cast("long").alias("nnz"),
        F.round(norm_sq, 6).alias("unit_norm_sq"),
        F.round(probe, 6).alias("probe"),
    ), "doc_id")


@_register(
    "stupid_backoff_scores",
    """
    WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
    sc AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 2),
    tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr),
    tp AS (
      SELECT doc_id, CASE WHEN i > 1 THEN ws[i - 1] END AS prev,
             ws[i] AS cur
      FROM tw, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    bg AS (SELECT prev, cur, count(*) AS bc FROM tp
           WHERE prev IS NOT NULL GROUP BY prev, cur),
    ctx AS (SELECT prev, sum(bc) AS uc FROM bg GROUP BY prev),
    ug AS (SELECT cur, count(*) AS c FROM tp GROUP BY cur),
    st AS (SELECT (sum(c) + count(*))::DOUBLE AS tv FROM ug),
    sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sc),
    sp AS (
      SELECT doc_id, CASE WHEN i > 1 THEN ws[i - 1] END AS prev,
             ws[i] AS cur
      FROM sw, UNNEST(range(1, len(ws) + 1)) AS t(i)
    ),
    j AS (
      SELECT sp.doc_id,
             CASE WHEN bg.bc IS NOT NULL THEN bg.bc / ctx.uc
                  ELSE 0.4::DOUBLE * ((coalesce(ug.c, 0) + 1.0)
                                      / (SELECT tv FROM st)) END AS s
      FROM sp LEFT JOIN bg ON sp.prev = bg.prev AND sp.cur = bg.cur
              LEFT JOIN ctx ON sp.prev = ctx.prev
              LEFT JOIN ug ON sp.cur = ug.cur
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(avg(ln(s)), 6) AS avg_logscore
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_stupid_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff LM scoring on the same train/score quarter split
    as the interpolated CCNet twin: seen bigrams score by raw
    conditional frequency, unseen ones back off to alpha=0.4 times the
    add-one unigram — the whole hard-backoff decision replayed in
    SQL per token."""
    from ..operators.corpus_stats import stupid_backoff_scores

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 4 == 0)
    score = docs.where(F.col("doc_id") % 4 == 2)
    return sorted_output(
        stupid_backoff_scores(train, score, alpha=0.4)
        .withColumnRenamed("id", "doc_id"),
        "doc_id")
