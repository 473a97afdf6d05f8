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
# As-of (point-in-time) join: each purchase annotated with the user's
# latest click at or before it — oracled against DuckDB's native
# ASOF JOIN on the identically-deduplicated right side.
# --------------------------------------------------------------------------


@_register(
    "purchases_with_last_click",
    """
    WITH clicks AS (
      SELECT user_id, ts, value, event_id,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'click'
    ),
    c AS (SELECT user_id, ts, value, event_id FROM clicks WHERE rn = 1),
    p AS (SELECT user_id, event_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, epoch_us(p.ts) AS purchase_ts_us,
           p.value::DOUBLE AS purchase_value,
           coalesce(epoch_us(c.ts), -1) AS asof_ts_us,
           coalesce(c.value, -1)::DOUBLE AS asof_value,
           coalesce(c.event_id, -1) AS asof_event_id
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.user_id, p.event_id
    """,
)
def q_purchases_with_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "event_id", "ts", "value")
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "ts", "value", "event_id")
    joined = asof_join(purchases, clicks, key="user_id", ts="ts",
                       right_cols=("value", "event_id"))
    return joined.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_ts_us"),
        F.col("value").cast("double").alias("purchase_value"),
        F.coalesce(F.unix_micros(F.col("asof_ts").cast("timestamp")),
                   F.lit(-1)).alias("asof_ts_us"),
        F.coalesce(F.col("asof_value").cast("double"), F.lit(-1.0))
        .alias("asof_value"),
        F.coalesce("asof_event_id", F.lit(-1)).alias("asof_event_id"),
    )


@_register(
    "purchases_with_recent_click",
    """
    WITH clicks AS (
      SELECT user_id, ts, value, event_id,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'click'
    ),
    c AS (SELECT user_id, ts, value, event_id FROM clicks WHERE rn = 1),
    p AS (SELECT user_id, event_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    j AS (
      SELECT p.user_id, p.event_id, p.ts AS p_ts,
             CASE WHEN p.ts - c.ts <= INTERVAL '600 seconds'
                  THEN c.ts END AS m_ts,
             CASE WHEN p.ts - c.ts <= INTERVAL '600 seconds'
                  THEN c.value END AS m_value
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT user_id, event_id, epoch_us(p_ts) AS purchase_ts_us,
           coalesce(epoch_us(m_ts), -1) AS asof_ts_us,
           coalesce(m_value, -1)::DOUBLE AS asof_value
    FROM j ORDER BY user_id, event_id
    """,
)
def q_purchases_with_recent_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound: the last click only
    counts when it happened within the 600 s attribution window."""
    from ..operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "event_id", "ts", "value")
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "ts", "value", "event_id")
    joined = asof_join(purchases, clicks, key="user_id", ts="ts",
                       right_cols=("value",), tolerance=600)
    return joined.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_ts_us"),
        F.coalesce(F.unix_micros(F.col("asof_ts").cast("timestamp")),
                   F.lit(-1)).alias("asof_ts_us"),
        F.coalesce(F.col("asof_value").cast("double"), F.lit(-1.0))
        .alias("asof_value"),
    )


@_register(
    "clicks_near_purchases",
    """
    WITH p AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s, value
          FROM events WHERE event_type = 'click')
    SELECT p.user_id, p.event_id, p.ts_s AS purchase_ts_s,
           c.event_id AS click_event_id, c.ts_s AS click_ts_s,
           c.value::DOUBLE AS click_value
    FROM p JOIN c ON p.user_id = c.user_id
                 AND c.ts_s BETWEEN p.ts_s - 300 AND p.ts_s
    ORDER BY p.user_id, p.event_id, click_event_id
    """,
)
def q_clicks_near_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: every click in the 5 minutes before each purchase,
    via time-bin bucketing (bounded fan-in, never a per-key cross
    product)."""
    from ..operators.temporal import range_join

    ev = _events(spark, sf_dir).withColumn(
        "ts_s", F.unix_timestamp(F.col("ts").cast("timestamp")))
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", "event_id", "ts_s")
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "event_id", "ts_s", "value")
    pairs = range_join(purchases, clicks, key="user_id", ts="ts_s",
                       lower=-300, upper=0)
    return pairs.select(
        "user_id", "event_id",
        F.col("ts_s").alias("purchase_ts_s"),
        F.col("r_event_id").alias("click_event_id"),
        F.col("r_ts_s").alias("click_ts_s"),
        F.col("r_value").cast("double").alias("click_value"),
    )


# --------------------------------------------------------------------------
# Deterministic sampling / dataset splits (content-stable md5 buckets;
# RNG sampling is not reproducible across engines, hash buckets are)
# --------------------------------------------------------------------------

_SAMPLING_BUCKET_SQL = (
    "('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {b}"
)


def _sampling_sql() -> tuple:
    from ..operators.sampling import HASH_BUCKETS, split_boundaries

    bucket = _SAMPLING_BUCKET_SQL.format(b=HASH_BUCKETS)
    sample = f"""
    SELECT doc_id FROM documents
    WHERE {bucket} < {int(0.1 * HASH_BUCKETS)}
    ORDER BY doc_id
    """
    bounds = split_boundaries({"train": 0.8, "val": 0.1, "test": 0.1})
    cases = " ".join(
        f"WHEN b < {upper} THEN '{name}'" for name, upper in bounds[:-1]
    )
    split = f"""
    SELECT doc_id, CASE {cases} ELSE '{bounds[-1][0]}' END AS split
    FROM (SELECT doc_id, {bucket} AS b FROM documents)
    ORDER BY doc_id
    """
    return sample, split


_SAMPLE_SQL, _SPLIT_SQL = _sampling_sql()


@_register("deterministic_sample_10pct", _SAMPLE_SQL)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), 0.1).select("doc_id")


@_register("train_val_test_split", _SPLIT_SQL)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    return hash_split(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


def _stratified_sql() -> str:
    from ..operators.sampling import HASH_BUCKETS

    bucket = _SAMPLING_BUCKET_SQL.format(b=HASH_BUCKETS)
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {bucket} < CASE lang
      WHEN 'en' THEN {int(0.5 * HASH_BUCKETS)}
      WHEN 'de' THEN {int(0.25 * HASH_BUCKETS)}
      ELSE {int(0.05 * HASH_BUCKETS)} END
    ORDER BY doc_id
    """


@_register("stratified_language_sample", _stratified_sql())
def q_stratified_language_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.25},
        strata_col="lang", default_rate=0.05,
    ).select("doc_id", "lang")


@_register(
    "token_budget_shards",
    """
    SELECT doc_id,
           CAST(floor((sum(n) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n)
                      / 5000.0) AS INT) AS shard,
           n AS n_tokens
    FROM (SELECT doc_id, len(string_split(text, ' ')) AS n
          FROM documents)
    ORDER BY doc_id
    """,
)
def q_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import shard_by_token_budget

    return shard_by_token_budget(
        _docs(spark, sf_dir), budget_tokens=5000
    ).select("doc_id", "shard", "n_tokens")


# --------------------------------------------------------------------------
# End-to-end corpus-prep funnel: quality gate → language filter →
# exact dedup → MinHash near-dup removal → split assignment, one
# (doc_id, stage) row per input document. Exact and near duplicates
# are planted (+10000 copies, +20000 tail-modified copies of
# doc_id<30) so every stage catches real rows.
# --------------------------------------------------------------------------

_NEAR_TAIL = " extra near duplicate tail words appended"


def _corpus_prep_sql() -> str:
    from ..operators.sampling import HASH_BUCKETS, split_boundaries

    hashes, bands, rows = 8, 4, 2
    mins = ", ".join(f"min(md5('{s}|' || shingle)) AS h{s}"
                     for s in range(hashes))
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({cols}) AS bucket FROM sig".format(
            b=b,
            cols=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    bounds = split_boundaries({"train": 0.8, "val": 0.1, "test": 0.1})
    split_case = " ".join(
        f"WHEN b < {upper} THEN '{name}'" for name, upper in bounds[:-1]
    )
    bucket = _SAMPLING_BUCKET_SQL.format(b=HASH_BUCKETS)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 30
      UNION ALL
      SELECT doc_id + 20000, text || '{_NEAR_TAIL}', lang
      FROM documents WHERE doc_id < 30
    ),
    m AS (
      SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS nt,
             length(text) * 1.0 / len(string_split(text, ' ')) AS atl
      FROM corpus
    ),
    d1 AS (SELECT doc_id, 'drop_quality' AS stage FROM m
           WHERE nt < 25 OR atl > 6.0),
    s1 AS (SELECT * FROM m WHERE NOT (nt < 25 OR atl > 6.0)),
    d2 AS (SELECT doc_id, 'drop_lang' AS stage FROM s1 WHERE lang <> 'en'),
    s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
    r AS (SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
          FROM s2),
    d3 AS (SELECT doc_id, 'drop_exact_dup' AS stage FROM r WHERE rn > 1),
    s3 AS (SELECT doc_id, text FROM r WHERE rn = 1),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s3),
    sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
    ),
    sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
    sig AS (SELECT id, {mins} FROM sh GROUP BY id),
    buckets AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
      GROUP BY a.id, b.id
    ),
    nearids AS (
      SELECT DISTINCT i.id_b AS doc_id
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) >= 0.4
    ),
    d4 AS (SELECT s3.doc_id, 'drop_near_dup' AS stage
           FROM s3 SEMI JOIN nearids USING (doc_id)),
    s4 AS (SELECT s3.doc_id FROM s3 ANTI JOIN nearids USING (doc_id)),
    kept AS (
      SELECT doc_id,
             'kept_' || CASE {split_case} ELSE '{bounds[-1][0]}' END AS stage
      FROM (SELECT doc_id, {bucket} AS b FROM s4)
    )
    SELECT doc_id, stage FROM d1
    UNION ALL SELECT * FROM d2
    UNION ALL SELECT * FROM d3
    UNION ALL SELECT * FROM d4
    UNION ALL SELECT * FROM kept
    ORDER BY doc_id
    """


@_register("corpus_prep_funnel", _corpus_prep_sql())
def q_corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.corpus_prep import corpus_prep_funnel

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang") \
        .where("doc_id < 200")
    seeds = docs.where("doc_id < 30")
    exact = seeds.select((F.col("doc_id") + 10000).alias("doc_id"),
                         "text", "lang")
    near = seeds.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat("text", F.lit(_NEAR_TAIL)).alias("text"),
        "lang",
    )
    return corpus_prep_funnel(
        docs.unionByName(exact).unionByName(near)
    )




def _leakage_split_sql() -> str:
    from ..operators.sampling import HASH_BUCKETS, split_boundaries

    bucket = ("('0x' || substr(md5(cluster::VARCHAR), 1, 8))::BIGINT"
              f" % {HASH_BUCKETS}")
    bounds = split_boundaries({"train": 0.8, "val": 0.1, "test": 0.1})
    cases = " ".join(
        f"WHEN b < {upper} THEN '{name}'" for name, upper in bounds[:-1]
    )
    return f"""
    WITH c AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 IN (1, 2)
                  THEN doc_id - doc_id % 10
                  ELSE doc_id END AS cluster
      FROM documents
    )
    SELECT doc_id, cluster,
           CASE {cases} ELSE '{bounds[-1][0]}' END AS split
    FROM (SELECT doc_id, cluster, {bucket} AS b FROM c)
    ORDER BY doc_id
    """


@_register("leakage_safe_split", _leakage_split_sql())
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware split on planted duplicate clusters: docs with
    doc_id % 10 in (1, 2) pair with their decade base, so each cluster
    {base, base+1, base+2} must land in ONE split keyed by md5(base);
    all other docs are singletons and must match plain hash_split
    exactly. The cluster column is the label-propagation output, so
    the oracle also pins the connected-components fixpoint."""
    from ..operators.sampling import leakage_safe_split

    docs = _docs(spark, sf_dir)
    members = docs.where(F.col("doc_id") % 10 <= 2).where(
        F.col("doc_id") % 10 >= 1)
    pairs = members.select(
        (F.col("doc_id") - F.col("doc_id") % 10).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    return sorted_output(
        leakage_safe_split(
            docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "cluster", "split"),
        "doc_id")


@_register(
    "dsir_weights",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '),
                                t -> t != '')) AS tok
      FROM documents
    ),
    bk AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
      FROM tok
    ),
    doc AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
    rc AS (SELECT b, sum(c) AS nr FROM doc GROUP BY 1),
    tc AS (SELECT b, sum(c) AS nt FROM doc
           WHERE doc_id % 10 = 0 GROUP BY 1),
    tt AS (SELECT sum(nt) AS t FROM tc),
    tr AS (SELECT sum(nr) AS t FROM rc),
    r AS (
      SELECT rc.b,
             ln((coalesce(nt, 0) + 1.0)
                / ((SELECT t FROM tt) + 64.0))
             - ln((nr + 1.0) / ((SELECT t FROM tr) + 64.0)) AS lr
      FROM rc LEFT JOIN tc USING (b)
    )
    SELECT doc.doc_id,
           sum(c)::BIGINT AS n_tokens,
           round(sum(c * lr), 6) AS log_weight
    FROM doc JOIN r USING (b)
    GROUP BY doc.doc_id
    ORDER BY doc.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights with every 10th document as the target
    corpus: the full hashed-unigram pipeline (md5 bucket features,
    add-1 smoothed multinomials, per-doc log-ratio sums) simulated
    end-to-end in SQL. Target members should score visibly higher
    than the raw average — but the oracle pins the exact arithmetic,
    not just the ordering."""
    from ..operators.sampling import dsir_importance_weights

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    target = docs.where(F.col("doc_id") % 10 == 0)
    return sorted_output(
        dsir_importance_weights(docs, target, buckets=64), "doc_id")
