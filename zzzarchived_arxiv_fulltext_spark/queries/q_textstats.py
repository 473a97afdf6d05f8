"""Split from the original single-module battery (VERDICT r5 #7).

Imported by ``queries/__init__`` in registration order; every query
registers into the shared ``QUERIES``/``ORACLES`` dicts at import.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import sorted_output
from ._registry import ORACLES, QUERIES, _docs, _events, _register

__all__ = ["QUERIES", "ORACLES"]

# --------------------------------------------------------------------------
# Language ID + token stats (training-data text analysis)
# --------------------------------------------------------------------------


def _lang_sql() -> str:
    from ..operators.text_metrics import _LANG_MARKERS

    selects = []
    for lang, markers in _LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}.0"
            for m in markers
        )
        selects.append(f"SELECT doc_id, '{lang}' AS lang, ({terms}) AS score "
                       "FROM padded")
    union = " UNION ALL ".join(selects)
    return f"""
    WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p
                    FROM documents),
    scores AS ({union}),
    ranked AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang DESC) AS rn
      FROM scores
    )
    SELECT doc_id, lang AS predicted_lang, round(score, 6) AS lang_score
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """


@_register("language_id", _lang_sql())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_metrics import language_id

    return language_id(_docs(spark, sf_dir))


@_register(
    "token_stats",
    r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS bpe_tokens,
           length(text) AS n_chars
    FROM documents ORDER BY doc_id
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_metrics import token_stats

    return token_stats(_docs(spark, sf_dir))


# --------------------------------------------------------------------------
# ANN oracles via planted exact duplicates: three copies of each query
# vector are planted into the corpus (ids +900000/+910000/+920000).
# Identical vectors land in identical LSH buckets / IVF clusters
# deterministically, so the approximate top-3 EQUALS the brute-force
# top-3 (three cos=1.0 rows, tie-broken by id) — which IS expressible
# in DuckDB. This turns the whole ANN machinery (bucketing, candidate
# joins, scoring, window top-k) into a hash-checkable query.
# --------------------------------------------------------------------------

_ANN_PLANT_OFFSETS = (900000, 910000, 920000)

_ANN_CORPUS_SQL = """
      SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
""" + " ".join(
    f"""UNION ALL
      SELECT vec_id + {off} AS nid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 5
    """ for off in _ANN_PLANT_OFFSETS
)

_ANN_TOPK_ORACLE = f"""
    WITH corpus AS ({_ANN_CORPUS_SQL}),
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT qid, nid,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))), 6) AS cos
      FROM q, corpus WHERE qid <> nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT qid AS query_id, nid AS neighbor_id, cos, rank
    FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
    """


def _planted_ann_inputs(spark: SparkSession, sf_dir: str):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select("vec_id", "embedding")
    queries = emb.where("vec_id < 5").select("vec_id", "embedding")
    for off in _ANN_PLANT_OFFSETS:
        corpus = corpus.unionByName(
            queries.select((F.col("vec_id") + off).alias("vec_id"),
                           "embedding")
        )
    return corpus, queries


@_register("ann_topk_lsh", _ANN_TOPK_ORACLE)
def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ann_topk

    corpus, queries = _planted_ann_inputs(spark, sf_dir)
    return ann_topk(corpus, queries, k=3, dim=64, tables=16, planes=4)


# Winnowing (k=8 char-grams, window=16, md5 hash family): the k-gram
# hash is the top 60 bits of md5, so the whole scheme — hashes, window
# minima, distinct fingerprints, overlap pairs — has a closed-form
# DuckDB twin.
_WINNOW_ORACLE = """
    WITH docs AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE doc_id < 300
    ),
    pos AS (
      SELECT doc_id, i, L - 7 AS n,
             ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 15))::BIGINT
               AS h
      FROM docs, UNNEST(range(1, L - 7 + 1)) AS t(i)
      WHERE L >= 8
    ),
    wmin AS (
      SELECT doc_id, i, n,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
      FROM pos
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= greatest(n - 15, 1)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fingerprints
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY id_a, id_b
    """


# decontamination: benchmark docs are planted substrings of corpus
# docs (ids +700000), so every benchmark doc must flag its source
_DECON_ORACLE = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
    ),
    bench AS (
      SELECT doc_id + 700000 AS doc_id, substr(text, 50, 200) AS text
      FROM documents WHERE doc_id < 5
    ),
    pos_c AS (
      SELECT doc_id, i, length(text) - 7 AS n,
             ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 15))::BIGINT
               AS h
      FROM corpus, UNNEST(range(1, length(text) - 7 + 1)) AS t(i)
      WHERE length(text) >= 8
    ),
    fps_c AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, i, n,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
        FROM pos_c
      ) WHERE i <= greatest(n - 15, 1)
    ),
    pos_b AS (
      SELECT doc_id, i, length(text) - 7 AS n,
             ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 15))::BIGINT
               AS h
      FROM bench, UNNEST(range(1, length(text) - 7 + 1)) AS t(i)
      WHERE length(text) >= 8
    ),
    fps_b AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, i, n,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
        FROM pos_b
      ) WHERE i <= greatest(n - 15, 1)
    )
    SELECT c.doc_id AS doc_id, b.doc_id AS benchmark_id,
           count(*) AS shared_fingerprints
    FROM fps_c c JOIN fps_b b ON c.fp = b.fp
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY 1, 2
    """


@_register("benchmark_contamination", _DECON_ORACLE)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_metrics import cross_fingerprint_overlap

    docs = _docs(spark, sf_dir)
    corpus = docs.where("doc_id < 300").select("doc_id", "text")
    bench = docs.where("doc_id < 5").select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.substring("text", 50, 200).alias("text"),
    )
    return cross_fingerprint_overlap(corpus, bench, min_shared=3)


@_register("winnowing_fingerprint_overlap", _WINNOW_ORACLE)
def q_winnowing_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_metrics import fingerprint_overlap_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    return fingerprint_overlap_pairs(docs, min_shared=3)


def _blob_lit(b: bytes) -> str:
    return "'" + "".join(f"\\x{c:02x}" for c in b) + "'::BLOB"


def _media_sql() -> str:
    """Closed-form DuckDB twin of the media feature pipeline.

    The synth payloads are deterministic functions of doc_id and the
    fake feature is md5-of-hex-of-payload, so every output column —
    including the feature digest — is SQL-expressible.
    """
    from ..operators.multimodal import (
        VARIANT_DIMS,
        VARIANT_RATES,
        _audio_header_for,
        _video_duration_for,
        jpeg_header,
        mp4_header,
        png_header,
    )

    pay, width, height, depth = [], [], [], []
    chans, rates, durs = [], [], []
    for rem in range(24):
        if rem % 3 == 0:
            w, h, d = VARIANT_DIMS[rem // 6]
            hdr = png_header(w, h, d) if rem % 6 == 0 else jpeg_header(w, h)
            bd = d if rem % 6 == 0 else 8  # JPEG SOF precision is 8
            width.append(f"WHEN doc_id % 24 = {rem} THEN {w}")
            height.append(f"WHEN doc_id % 24 = {rem} THEN {h}")
            depth.append(f"WHEN doc_id % 24 = {rem} THEN {bd}")
        elif rem % 3 == 1:
            hdr = _audio_header_for(rem)
            depth.append(f"WHEN doc_id % 24 = {rem} THEN 16")
            chans.append(f"WHEN doc_id % 24 = {rem} THEN "
                         f"{1 if rem % 6 < 3 else 2}")
            rates.append(f"WHEN doc_id % 24 = {rem} THEN "
                         f"{VARIANT_RATES[rem // 6]}")
        else:
            hdr = mp4_header(_video_duration_for(rem))
            durs.append(f"WHEN doc_id % 24 = {rem} THEN "
                        f"{_video_duration_for(rem)}")
        pay.append(f"WHEN doc_id % 24 = {rem} THEN {_blob_lit(hdr)}")
    pay_case = "CASE " + " ".join(pay) + " END"
    # md5-digest bytes 0..15 as comma-joined ints == the Spark side's
    # round-trip through the float feature (exact byte recovery)
    byte_terms = ", ".join(
        f"(('0x' || substr(mh, {2 * i + 1}, 2))::INT)::VARCHAR"
        for i in range(16)
    )
    return f"""
    WITH media AS (
      SELECT doc_id,
             ({pay_case} || encode(doc_id::VARCHAR)) AS payload
      FROM documents WHERE doc_id < 500
    ),
    hashed AS (
      SELECT doc_id, payload, md5(lower(hex(payload))) AS mh FROM media
    )
    SELECT doc_id::VARCHAR AS doc_id,
           'img://' || doc_id AS media_ref,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
             AS media_type,
           octet_length(payload) AS n_bytes,
           CASE WHEN doc_id % 6 = 0 THEN 'png'
                WHEN doc_id % 3 = 0 THEN 'jpeg'
                WHEN doc_id % 3 = 1 THEN 'riff' ELSE 'mp4ish' END
             AS sniffed_format,
           'decoded' AS decode_status,
           CAST(CASE {' '.join(width)} ELSE -1 END AS INT) AS width,
           CAST(CASE {' '.join(height)} ELSE -1 END AS INT) AS height,
           CAST(CASE {' '.join(depth)} ELSE -1 END AS INT) AS bit_depth,
           CAST(CASE {' '.join(chans)} ELSE -1 END AS INT) AS channels,
           CAST(CASE {' '.join(rates)} ELSE -1 END AS INT) AS sample_rate,
           CAST(CASE {' '.join(durs)} ELSE -1 END AS BIGINT) AS duration_ms,
           md5(concat_ws(',', {byte_terms})) AS feature_digest
    FROM hashed ORDER BY doc_id
    """


@_register("media_feature_extraction", _media_sql())
def q_media_feature_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_media_features, synth_media_table

    docs = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 500)
    feats = extract_media_features(synth_media_table(spark, docs))
    # The fake feature is (md5_byte/255)*2-1 stored as float32 — the
    # byte recovers exactly under round(), giving a scalar digest the
    # driver can hash (array<float> columns break its canonicalizer).
    byte_strs = F.transform(
        F.col("feature"),
        lambda x: F.round((x.cast("double") + F.lit(1.0)) / 2.0 * 255.0)
        .cast("int").cast("string"),
    )
    return feats.select(
        "doc_id", "media_ref", "media_type", "n_bytes", "sniffed_format",
        "decode_status",
        F.coalesce("width", F.lit(-1)).alias("width"),
        F.coalesce("height", F.lit(-1)).alias("height"),
        F.coalesce("bit_depth", F.lit(-1)).alias("bit_depth"),
        F.coalesce("channels", F.lit(-1)).alias("channels"),
        F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
        F.coalesce("duration_ms", F.lit(-1)).cast("long")
        .alias("duration_ms"),
        F.md5(F.concat_ws(",", byte_strs)).alias("feature_digest"),
    )




@_register(
    "latex_math_density",
    """
    WITH t AS (
      SELECT doc_id,
             doc_id % 4 AS a,          -- inline $x+y$ plants
             doc_id % 3 AS e,          -- \\begin{equation} blocks
             doc_id % 2 AS d,          -- $$a-b$$ blocks
             doc_id % 5 AS c,          -- bare \\alpha commands
             length(text) AS l
      FROM documents
    )
    SELECT doc_id,
           a AS n_inline,
           e + d AS n_display,
           2 * e + c AS n_commands,
           round((5.0 * a + 7.0 * d)
                 / (l + 6 * a + 39 * e + 8 * d + 7 * c), 6)
             AS math_char_fraction
    FROM t ORDER BY doc_id
    """,
)
def q_latex_math_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LaTeX math profiling on planted markup: each doc gains
    doc_id%4 inline '$x+y$' spans, doc_id%3 equation environments,
    doc_id%2 '$$a-b$$' display blocks and doc_id%5 bare commands, all
    appended to the (markup-free) base text — so every metric has a
    closed form and the $$-vs-$ disambiguation (display bodies must
    not count as inline) is exercised on every even doc."""
    from ..operators.text_metrics import latex_math_stats

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.expr("repeat(' $x+y$', cast(doc_id % 4 as int))"),
            F.expr(r"repeat(' \\begin{equation} E=mc^2"
                   r" \\end{equation}', cast(doc_id % 3 as int))"),
            F.expr("repeat(' $$a-b$$', cast(doc_id % 2 as int))"),
            F.expr(r"repeat(' \\alpha', cast(doc_id % 5 as int))"),
        ).alias("text"),
    )
    return sorted_output(latex_math_stats(planted), "doc_id")


@_register(
    "quality_classifier_scores",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    bk AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 AS bucket
      FROM tok
    ),
    cnt AS (SELECT doc_id, bucket, count(*) AS c FROM bk GROUP BY 1, 2),
    tf AS (
      SELECT doc_id, bucket,
             c::DOUBLE / sum(c) OVER (PARTITION BY doc_id) AS tf
      FROM cnt
    ),
    lab AS (
      SELECT doc_id, bucket, tf,
             CASE WHEN doc_id % 10 = 0 THEN 1.0 ELSE 0.0 END AS y
      FROM tf
    ),
    nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM lab),
    r1 AS (SELECT DISTINCT doc_id, 0.5 - y AS r FROM lab),
    w1 AS (
      SELECT bucket,
             -sum((0.5 - y) * tf) / (SELECT n FROM nd) AS w
      FROM lab GROUP BY bucket
    ),
    b1 AS (SELECT -sum(r) / (SELECT n FROM nd) AS b FROM r1),
    z2 AS (
      SELECT lab.doc_id, any_value(y) AS y,
             sum(tf * w1.w) AS z
      FROM lab JOIN w1 USING (bucket) GROUP BY lab.doc_id
    ),
    r2 AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-(z + (SELECT b FROM b1)))) - y AS r
      FROM z2
    ),
    w2 AS (
      SELECT lab.bucket,
             any_value(w1.w)
               - sum(r2.r * lab.tf) / (SELECT n FROM nd) AS w
      FROM lab
      JOIN r2 USING (doc_id)
      JOIN w1 ON w1.bucket = lab.bucket
      GROUP BY lab.bucket
    ),
    b2 AS (
      SELECT (SELECT b FROM b1)
               - sum(r) / (SELECT n FROM nd) AS b
      FROM r2
    ),
    zs AS (
      SELECT tf.doc_id, sum(tf.tf * w2.w) AS z
      FROM tf JOIN w2 USING (bucket) GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           round(1.0 / (1.0 + exp(-(coalesce(zs.z, 0.0)
                                    + (SELECT b FROM b2)))), 6)
             AS quality_prob
    FROM documents d LEFT JOIN zs USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_quality_classifier_scores(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """CCNet-style quality classifier, trained AND scored inside the
    query: 2 full-batch gradient steps of logistic regression over 16
    md5-hashed tf features, every 10th document as the positive
    class. The oracle unrolls both steps exactly (w=0 start makes
    step 1 closed-form; step 2 re-scores with w1), so the distributed
    gradient aggregation is pinned to the arithmetic, not just to a
    direction."""
    from ..operators.classifier import (
        labeled_features,
        score_quality,
        train_quality_classifier,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pos = docs.where(F.col("doc_id") % 10 == 0)
    neg = docs.where(F.col("doc_id") % 10 != 0)
    # train and score share ONE materialized feature table (pos ∪ neg
    # IS the scored corpus here) — the feature explode runs once
    feats = labeled_features(pos, neg, buckets=16)
    w, b = train_quality_classifier(pos, neg, buckets=16, steps=2,
                                    lr=1.0, labeled=feats)
    return sorted_output(score_quality(docs, w, b, features=feats), "doc_id")


@_register(
    "kmv_distinct_tokens",
    """
    WITH tok AS (
      SELECT lang,
             unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    h AS (
      SELECT DISTINCT lang,
             ('0x' || substr(md5(tok), 1, 13))::BIGINT
               / 4503599627370496.0 AS h
      FROM tok
    ),
    r AS (
      SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM h
    ),
    a AS (
      SELECT lang, count(*) AS n_seen, max(h) AS kth
      FROM r WHERE rn <= 64 GROUP BY lang
    )
    SELECT lang, n_seen::BIGINT AS n_seen,
           round(kth, 9) AS kth_min,
           round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                      ELSE 63.0 / kth END, 6) AS est_distinct
    FROM a ORDER BY lang
    """,
)
def q_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KMV (k-minimum-values) distinct-token estimate,
    k=64: cardinality sketching that is DETERMINISTIC and
    engine-portable (the k smallest md5 hashes are a pure function of
    the token set), so unlike HyperLogLog the estimate itself is
    oracle-pinned to the digit."""
    from ..operators.sketches import kmv_distinct

    toks = _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), " "),
                     lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    return sorted_output(
        kmv_distinct(toks, "tok", k=64, group_cols=["lang"]), "lang")


@_register(
    "cm_sketch_heavy_hitters",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    sk AS (
      SELECT r.r AS row,
             ('0x' || substr(md5(r.r::VARCHAR || '|' || tok), 1, 8))
               ::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM tok, (SELECT unnest(range(0, 4)) AS r) r
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT DISTINCT tok AS item FROM tok
      WHERE tok IN ('a', 'the', 'row', 'spark', 'zzzz_absent')
      UNION ALL SELECT 'zzzz_absent'
    ),
    pe AS (
      SELECT DISTINCT p.item, r.r AS row,
             ('0x' || substr(md5(r.r::VARCHAR || '|' || p.item), 1, 8))
               ::BIGINT % 512 AS bucket
      FROM probes p, (SELECT unnest(range(0, 4)) AS r) r
    )
    SELECT pe.item,
           min(coalesce(sk.cnt, 0))::BIGINT AS est_count
    FROM pe LEFT JOIN sk USING (row, bucket)
    GROUP BY pe.item
    ORDER BY pe.item
    """,
)
def q_cm_sketch_heavy_hitters(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for probe tokens (plus one
    guaranteed-absent probe whose estimate must be whatever collision
    mass its buckets carry — the documented overestimate semantics),
    the whole depth-4/width-512 sketch simulated in SQL. Deterministic
    because the hash family is md5, not a seeded RNG."""
    from ..operators.sketches import cm_estimate, cm_sketch

    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.filter(F.split(F.col("text"), " "),
                     lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    sketch = cm_sketch(toks, "tok", width=512, depth=4)
    probes = toks.where(
        F.col("tok").isin("a", "the", "row", "spark", "zzzz_absent")
    ).unionByName(
        spark.createDataFrame([("zzzz_absent",)], "tok string"))
    return sorted_output(
        cm_estimate(sketch, probes, "tok", width=512, depth=4), "item")


@_register(
    "kmv_corpus_overlap",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    ha AS (
      SELECT DISTINCT
             ('0x' || substr(md5(tok), 1, 13))::BIGINT
               / 4503599627370496.0 AS h
      FROM tok WHERE doc_id % 2 = 0
      ORDER BY h LIMIT 64
    ),
    hb AS (
      SELECT DISTINCT
             ('0x' || substr(md5(tok), 1, 13))::BIGINT
               / 4503599627370496.0 AS h
      FROM tok WHERE doc_id % 2 = 1
      ORDER BY h LIMIT 64
    ),
    ab AS (
      SELECT coalesce(ha.h, hb.h) AS h,
             CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS ina,
             CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS inb
      FROM ha FULL JOIN hb ON ha.h = hb.h
      ORDER BY 1 LIMIT 64
    ),
    a AS (
      SELECT count(*) AS n_seen, max(h) AS kth,
             sum(ina * inb) AS inter
      FROM ab
    )
    SELECT n_seen::BIGINT AS n_seen,
           round(inter::DOUBLE / n_seen, 6) AS jaccard_est,
           round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                      ELSE 63.0 / kth END, 6) AS union_est,
           round((inter::DOUBLE / n_seen)
                 * CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                        ELSE 63.0 / kth END, 6) AS intersection_est
    FROM a
    """,
)
def q_kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style overlap between the even-doc and odd-doc
    token vocabularies: union top-k with exact membership flags (the
    union's k smallest are within each side's k smallest), Jaccard =
    flagged fraction. The corpus-level contamination screen, pinned
    to the digit by the oracle."""
    from ..operators.sketches import kmv_overlap

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "),
                     lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    return kmv_overlap(
        toks.where(F.col("doc_id") % 2 == 0),
        toks.where(F.col("doc_id") % 2 == 1),
        "tok", k=64)
