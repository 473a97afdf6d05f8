"""Split from the original single-module battery (VERDICT r5 #7).

Imported by ``queries/__init__`` in registration order; every query
registers into the shared ``QUERIES``/``ORACLES`` dicts at import.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import sorted_output
from ._registry import ORACLES, QUERIES, _docs, _events, _register
from .q_textpipe import _pair_corpus  # noqa: E402
from .q_textpipe import _SHINGLE_SQL  # noqa: E402

__all__ = ["QUERIES", "ORACLES"]

# --------------------------------------------------------------------------
# MinHash LSH candidate pairs (engine-portable hash family)
# --------------------------------------------------------------------------

_MH_HASHES = 8
_MH_BANDS = 4


def _buckets_sql() -> str:
    """The ``sig`` and ``buckets`` CTEs: min-hashes per doc, then one
    (id, band, bucket) row per band, as ``dedup.band_buckets``."""
    mins = ", ".join(
        f"min(md5('{s}|' || shingle)) AS h{s}" for s in range(_MH_HASHES)
    )
    rows = _MH_HASHES // _MH_BANDS
    buckets = " UNION ALL ".join(
        "SELECT id, {} AS band, md5({}) AS bucket FROM sig".format(
            b, " || '|' || ".join(f"h{b * rows + r}" for r in range(rows)))
        for b in range(_MH_BANDS))
    return f"""sig AS (SELECT doc_id AS id, {mins} FROM sh GROUP BY doc_id),
    buckets AS ({buckets})"""


def _minhash_sql() -> str:
    return _SHINGLE_SQL + f""",
    {_buckets_sql()}
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ORDER BY id_a, id_b
    """


@_register("minhash_lsh_pairs", _minhash_sql())
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures, word_shingles

    docs = _pair_corpus(spark, sf_dir)
    sigs = minhash_signatures(word_shingles(docs, n=3), num_hashes=_MH_HASHES)
    return lsh_candidate_pairs(sigs, bands=_MH_BANDS)


# --------------------------------------------------------------------------
# SimHash (16-bit, engine-portable md5 bit extraction)
# --------------------------------------------------------------------------


def _simhash_sql(bits: int = 16) -> str:
    sums = ", ".join(
        "sum(2 * ((strpos('0123456789abcdef', substr(md5(w), "
        f"{b // 4 + 1}, 1)) - 1 >> {3 - b % 4}) & 1) - 1) AS s{b}"
        for b in range(bits)
    )
    value = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    sums AS (SELECT id, {sums} FROM toks GROUP BY id)
    SELECT id, CAST({value} AS BIGINT) AS simhash FROM sums ORDER BY id
    """


@_register("simhash_16", _simhash_sql())
def q_simhash_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), bits=16)


# --------------------------------------------------------------------------
# Brute-force cosine top-k over embeddings
# --------------------------------------------------------------------------


@_register(
    "cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT qid, nid,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))), 6) AS cos
      FROM q, c WHERE qid <> nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid AS query_id, nid AS neighbor_id, cos, rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(emb, emb.where("vec_id < 3"), k=5)


@_register(
    "embedding_quantization",
    """
    WITH d AS (
      SELECT vec_id, i, embedding[i]::DOUBLE AS v
      FROM embeddings, UNNEST(range(1, 65)) AS t(i)
    ),
    s AS (
      SELECT i, greatest(max(abs(v)), 1e-12) / 127.0 AS scale
      FROM d GROUP BY i
    ),
    q AS (
      SELECT vec_id, v, scale,
             greatest(least(round(v / scale, 0), 127.0), -127.0) AS qv
      FROM d JOIN s USING (i)
    )
    SELECT vec_id, max(abs(qv))::INT AS max_abs_q,
           round(sqrt(sum((v - qv * scale) * (v - qv * scale)) / 64), 9)
             AS rmse
    FROM q GROUP BY vec_id ORDER BY vec_id
    """,
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (4x ANN memory shrink) with per-vector reconstruction
    RMSE; the oracle replays scale fitting + clamped rounding in SQL.
    Driver output is the scalar-safe summary (arrays stay internal)."""
    from ..operators.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = quantize_embeddings(emb)
    return sorted_output(out.select(
        "vec_id",
        F.array_max(F.transform("qvec", lambda x: F.abs(x)))
        .alias("max_abs_q"),
        "rmse",
    ), "vec_id")


@_register(
    "bpe_merge_training",
    """
    WITH m AS (SELECT sum(doc_id % 3 + 2)::BIGINT AS c FROM documents)
    SELECT v.rnd::INT AS round, v.l AS "left", v.r AS "right",
           (SELECT c FROM m) AS pair_count
    FROM (VALUES (1, 'p', 'q'), (2, 'pq', 'r'), (3, 'pqr', 's'))
         AS v(rnd, l, r)
    ORDER BY round
    """,
)
def q_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training on a planted closed form: every
    doc is 'p q r s' repeated (doc_id % 3 + 2) times, so the learned
    merges are provably (p,q) then (pq,r) then (pqr,s), each with
    pair count = sum over docs of the repeat factor, with the
    lexicographic tie-break exercised in every round."""
    from ..operators.corpus_stats import bpe_train_merges

    reps = (F.col("doc_id") % 3 + 2).cast("int")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(F.array_repeat(F.lit("p q r s"), reps), " ")
        .alias("text"))
    return bpe_train_merges(docs, n_merges=3)


@_register(
    "script_profile_triage",
    r"""
    WITH d AS (
      SELECT doc_id,
             text || repeat('ж', doc_id % 4) || repeat('中', doc_id % 3)
               AS text
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(text) AS n_chars,
        length(regexp_extract_all(text, '\p{Latin}'))::INT AS n_latin,
        length(regexp_extract_all(text, '\p{Cyrillic}'))::INT AS n_cyrillic,
        length(regexp_extract_all(text, '\p{Han}'))::INT AS n_han,
        length(regexp_extract_all(text, '\p{Arabic}'))::INT AS n_arabic,
        length(regexp_extract_all(text, '\p{Devanagari}'))::INT
          AS n_devanagari,
        length(regexp_extract_all(text, '\p{Greek}'))::INT AS n_greek,
        length(regexp_extract_all(text, '\p{Hangul}'))::INT AS n_hangul,
        length(regexp_extract_all(text, '\p{Hiragana}'))::INT AS n_hiragana,
        length(regexp_extract_all(text, '\p{Katakana}'))::INT AS n_katakana
      FROM d
    )
    SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_devanagari,
           n_greek, n_hangul, n_hiragana, n_katakana,
           (n_chars - (n_latin + n_cyrillic + n_han + n_arabic
                       + n_devanagari + n_greek + n_hangul + n_hiragana
                       + n_katakana))::INT AS n_other,
           CASE
             WHEN greatest(n_latin, n_cyrillic, n_han, n_arabic,
                           n_devanagari, n_greek, n_hangul, n_hiragana,
                           n_katakana) = 0 THEN 'none'
             WHEN n_arabic = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'arabic'
             WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'cyrillic'
             WHEN n_devanagari = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'devanagari'
             WHEN n_greek = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'greek'
             WHEN n_han = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'han'
             WHEN n_hangul = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'hangul'
             WHEN n_hiragana = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'hiragana'
             WHEN n_katakana = greatest(n_latin, n_cyrillic, n_han,
                  n_arabic, n_devanagari, n_greek, n_hangul,
                  n_hiragana, n_katakana) THEN 'katakana'
             ELSE 'latin'
           END AS dominant_script
    FROM c ORDER BY doc_id
    """,
)
def q_script_profile_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode writing-system composition with planted Cyrillic/Han
    suffixes (doc_id % 4 / % 3 chars) so non-Latin counts are
    exercised; the oracle replays the per-script regexp counts and
    the lexicographic-smallest dominant-script tie-break in RE2."""
    from ..operators.text_metrics import script_profile

    planted = F.concat(
        F.col("text"),
        F.repeat(F.lit("ж"), (F.col("doc_id") % 4).cast("int")),
        F.repeat(F.lit("中"), (F.col("doc_id") % 3).cast("int")))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return sorted_output(
        script_profile(docs).withColumnRenamed("id", "doc_id"), "doc_id")


@_register(
    "license_detection",
    """
    SELECT doc_id,
      (doc_id % 9 = 7) AS has_all_rights_reserved,
      (doc_id % 9 = 5) AS has_apache_2,
      (doc_id % 9 = 0) AS has_cc_by,
      (doc_id % 9 = 2) AS has_cc_by_nc,
      (doc_id % 9 = 1) AS has_cc_by_sa,
      (doc_id % 9 = 3) AS has_cc0,
      (doc_id % 9 = 6) AS has_gpl,
      (doc_id % 9 = 4) AS has_mit,
      CASE doc_id % 9
        WHEN 0 THEN 'cc-by' WHEN 1 THEN 'cc-by-sa'
        WHEN 2 THEN 'cc-by-nc' WHEN 3 THEN 'cc0' WHEN 4 THEN 'mit'
        WHEN 5 THEN 'apache-2' WHEN 6 THEN 'gpl'
        WHEN 7 THEN 'all-rights-reserved' ELSE '' END
        AS license_summary
    FROM documents ORDER BY doc_id
    """,
)
def q_license_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License/provenance tagging on planted declarations — each
    doc_id % 9 class carries exactly one marker phrase (including the
    CC-BY-SA / CC-BY-NC phrases that must NOT also tag as plain
    CC-BY), class 8 none; the oracle is the closed form."""
    from ..operators.quality_rules import license_tags

    k = F.col("doc_id") % 9
    planted = (
        F.when(k == 0, F.lit("Licensed under Creative Commons Attribution 4.0"))
        .when(k == 1, F.lit("CC-BY-SA 3.0 applies to this work"))
        .when(k == 2, F.lit("Shared under CC BY-NC terms"))
        .when(k == 3, F.lit("Released as CC0 public domain dedication"))
        .when(k == 4, F.lit("Distributed under the MIT license"))
        .when(k == 5, F.lit("Apache License, Version 2.0"))
        .when(k == 6, F.lit("GNU General Public License v3"))
        .when(k == 7, F.lit("Copyright 2020. All rights reserved."))
        .otherwise(F.lit("no marker text in this document")))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return (license_tags(docs)
            .withColumnRenamed("id", "doc_id").orderBy("doc_id"))


@_register(
    "blocklisted_term_tagging",
    """
    SELECT doc_id,
      (doc_id % 3)::INT AS n_blocklisted,
      round((doc_id % 3) / (4.0 + (doc_id % 3)), 6) AS blocklisted_frac
    FROM documents ORDER BY doc_id
    """,
)
def q_blocklisted_term_tagging(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Wordlist tagger on planted terms: doc_id % 3 whole-word hits
    per doc plus one 'badwording' decoy that the word boundary must
    NOT count; closed-form oracle."""
    from ..operators.quality_rules import flag_blocklisted_terms

    k = (F.col("doc_id") % 3).cast("int")
    planted = F.concat(
        F.lit("clean text here"),
        F.repeat(F.lit(" badword"), k),
        F.lit(" badwording"))
    docs = _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    return (flag_blocklisted_terms(docs, ["badword", "otherbad"])
            .withColumnRenamed("id", "doc_id")
            .withColumn("n_blocklisted", F.col("n_blocklisted").cast("int"))
            .orderBy("doc_id"))


@_register(
    "corpus_datasheet",
    """
    WITH t AS (
      SELECT len(string_split(text, ' ')) AS nt, length(text) AS nc,
             lang, source
      FROM documents
    )
    SELECT metric, value FROM (
      SELECT 'n_docs' AS metric, count(*)::DOUBLE AS value FROM t
      UNION ALL SELECT 'n_tokens', sum(nt)::DOUBLE FROM t
      UNION ALL SELECT 'mean_tokens', round(avg(nt), 6) FROM t
      UNION ALL SELECT 'max_tokens', max(nt)::DOUBLE FROM t
      UNION ALL SELECT 'mean_chars', round(avg(nc), 6) FROM t
      UNION ALL SELECT 'n_langs', count(DISTINCT lang)::DOUBLE FROM t
      UNION ALL SELECT 'n_sources', count(DISTINCT source)::DOUBLE FROM t
      UNION ALL
      SELECT 'lang_share:' || lang,
             round(count(*) / (SELECT count(*) FROM t), 6)
      FROM t GROUP BY lang
    ) ORDER BY metric
    """,
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary in long (metric, value) format — size,
    token/length profile, language composition — two bounded
    aggregations, schema stable as languages come and go."""
    from ..operators.corpus_stats import corpus_report

    return corpus_report(_docs(spark, sf_dir))




# --------------------------------------------------------------------------
# exact-substring dedup: duplicated n-gram window coverage
# --------------------------------------------------------------------------

_DUPWIN_TAIL = (
    " this shared boilerplate tail sentence plants duplicated windows"
    " for coverage measurement"
)

@_register(
    "duplicated_window_coverage",
    f"""
    WITH d AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
                          THEN '{_DUPWIN_TAIL}' ELSE '' END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS words FROM d),
    w AS (
      SELECT doc_id, pos,
             array_to_string(words[pos + 1:pos + 5], ' ') AS gram
      FROM t, UNNEST(range(0, greatest(len(words) - 4, 0))) AS u(pos)
    ),
    g AS (SELECT gram FROM w GROUP BY gram HAVING count(*) >= 2),
    p AS (SELECT w.doc_id, w.pos FROM w JOIN g USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos >= coalesce(
                    max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), -100000) + 5
                  THEN 1 ELSE 0 END AS new_isl
      FROM p
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isl_id
      FROM isl
    ),
    cov AS (
      SELECT doc_id, sum(cnt)::BIGINT AS n_dup_windows,
             sum(mx - mn + 5)::BIGINT AS dup_tokens
      FROM (SELECT doc_id, isl_id, min(pos) AS mn, max(pos) AS mx,
                   count(*) AS cnt
            FROM isl2 GROUP BY doc_id, isl_id)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           greatest(len(words) - 4, 0)::BIGINT AS n_windows,
           coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
           coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
           round(coalesce(dup_tokens, 0) / len(words), 6) AS dup_fraction
    FROM t LEFT JOIN cov USING (doc_id) ORDER BY doc_id
    """,
)
def q_duplicated_window_coverage(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (suffix-array-style duplicated
    n-token windows, interval-union coverage per doc); a shared tail
    planted on every 4th doc guarantees cross-doc duplicated windows
    exist, and natural corpus repeats are measured identically by
    both engines."""
    from ..operators.dedup import duplicated_window_coverage

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(_DUPWIN_TAIL)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return sorted_output(duplicated_window_coverage(docs, n=5), "doc_id")


# --------------------------------------------------------------------------
# BPE encode (serve half of bpe_merge_training)
# --------------------------------------------------------------------------

@_register(
    "bpe_encode_apply",
    """
    WITH d AS (
      SELECT doc_id, (doc_id % 3 + 2)::INT AS reps,
             doc_id % 2 = 0 AS tail
      FROM documents
    )
    SELECT doc_id,
           (4 * reps + CASE WHEN tail THEN 2 ELSE 0 END)::BIGINT
             AS n_raw_tokens,
           (2 * reps + CASE WHEN tail THEN 1 ELSE 0 END)::BIGINT
             AS n_bpe_tokens,
           rtrim(repeat('pqr s ', reps))
             || CASE WHEN tail THEN ' pq' ELSE '' END AS encoded
    FROM d ORDER BY doc_id
    """,
)
def q_bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding with a fixed merge table [(p,q), (pq,r)] on a planted
    closed form: 'p q r s' x reps (+ ' p q' tail on even ids, which
    exercises the partial second merge and the no-merge-across-
    occurrence boundary)."""
    from ..operators.corpus_stats import bpe_encode

    reps = (F.col("doc_id") % 3 + 2).cast("int")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.array_join(F.array_repeat(F.lit("p q r s"), reps), " "),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(" p q")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = bpe_encode(docs, [("p", "q"), ("pq", "r")])
    return out.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_raw_tokens"),
        F.col("n_bpe_tokens"),
        F.array_join("bpe_tokens", " ").alias("encoded"),
    ).orderBy("doc_id")


@_register(
    "exact_substring_cut",
    f"""
    WITH d AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
                          THEN '{_DUPWIN_TAIL}' ELSE '' END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS words FROM d),
    w AS (
      SELECT doc_id, pos,
             array_to_string(words[pos + 1:pos + 5], ' ') AS gram,
             doc_id * 1000000 + pos AS site_key
      FROM t, UNNEST(range(0, greatest(len(words) - 4, 0))) AS u(pos)
    ),
    g AS (SELECT gram, min(site_key) AS keeper
          FROM w GROUP BY gram HAVING count(*) >= 2),
    v AS (SELECT w.doc_id, w.pos
          FROM w JOIN g USING (gram) WHERE w.site_key <> g.keeper),
    r AS (SELECT DISTINCT doc_id, pos + k AS idx
          FROM v, UNNEST(range(0, 5)) AS u(k)),
    tok AS (
      SELECT doc_id, i AS idx, words[i + 1] AS word
      FROM t, UNNEST(range(0, len(words))) AS u(i)
    ),
    kept AS (
      SELECT tok.doc_id, tok.idx, tok.word
      FROM tok LEFT JOIN r USING (doc_id, idx)
      WHERE r.idx IS NULL
    ),
    c AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS text
      FROM kept GROUP BY doc_id
    ),
    nrem AS (SELECT doc_id, count(*) AS n_removed FROM r GROUP BY doc_id)
    SELECT t.doc_id, coalesce(c.text, '') AS text,
           len(t.words)::BIGINT AS n_tokens,
           coalesce(nrem.n_removed, 0)::BIGINT AS n_tokens_removed
    FROM t LEFT JOIN c USING (doc_id) LEFT JOIN nrem USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q_exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal half of exact-substring dedup: duplicated 5-token
    windows are cut everywhere except the corpus-wide keeper site
    (min doc_id*1e6+pos); the planted shared tail on every 4th doc
    guarantees real cross-doc duplication, and natural corpus repeats
    are resolved identically by both engines."""
    from ..operators.dedup import cut_duplicated_windows

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(_DUPWIN_TAIL)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return sorted_output(cut_duplicated_windows(docs, n=5), "doc_id")


def _dedup_eval_sql() -> str:
    return _SHINGLE_SQL + f""",
    {_buckets_sql()},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN sizes sa ON sa.doc_id = a.doc_id
      JOIN sizes sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
      HAVING count(*)::DOUBLE / (sa.n + sb.n - count(*)) >= 0.7
    ),
    m AS (
      SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
             (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
             (SELECT count(*) FROM truth JOIN cand
                USING (id_a, id_b))::BIGINT AS tp
    )
    SELECT n_truth, n_candidates, tp,
           n_truth - tp AS fn,
           n_candidates - tp AS fp,
           round(tp::DOUBLE / greatest(n_candidates, 1), 6) AS precision,
           round(tp::DOUBLE / greatest(n_truth, 1), 6) AS recall
    FROM m
    """


@_register("dedup_candidate_eval", _dedup_eval_sql())
def q_dedup_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning report on the planted pair corpus: exact-Jaccard
    ground truth at 0.7 vs the 8-hash/4-band candidate set — both
    the truth join and the banding simulated fully in SQL, so the
    precision/recall arithmetic is pinned end to end."""
    from ..operators.dedup import dedup_candidate_eval

    return dedup_candidate_eval(
        _pair_corpus(spark, sf_dir), threshold=0.7, n=3,
        num_hashes=_MH_HASHES, bands=_MH_BANDS,
    ).select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("fp").cast("long").alias("fp"),
        "precision", "recall",
    )


@_register(
    "tokenizer_fertility",
    """
    WITH d AS (
      SELECT lang, (doc_id % 3 + 2)::INT AS reps,
             doc_id % 2 = 0 AS tail
      FROM documents
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(4 * reps + CASE WHEN tail THEN 2 ELSE 0 END)::BIGINT
             AS n_words,
           sum(2 * reps + CASE WHEN tail THEN 1 ELSE 0 END)::BIGINT
             AS n_bpe_tokens,
           round(sum(2 * reps + CASE WHEN tail THEN 1 ELSE 0 END)
                 / greatest(sum(4 * reps
                                + CASE WHEN tail THEN 2 ELSE 0 END),
                            1)::DOUBLE, 6) AS fertility
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility on the bpe_encode_apply planted corpus
    ('p q r s' x reps + partial tail on even ids, merges [(p,q),
    (pq,r)]): words and subword counts both have closed forms, so the
    language-grouped ratio is pinned exactly."""
    from ..operators.corpus_stats import tokenizer_fertility

    reps = (F.col("doc_id") % 3 + 2).cast("int")
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.concat(
            F.array_join(F.array_repeat(F.lit("p q r s"), reps), " "),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(" p q")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return sorted_output(
        tokenizer_fertility(docs, [("p", "q"), ("pq", "r")]), "lang")
