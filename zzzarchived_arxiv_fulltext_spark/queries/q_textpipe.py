"""Split from the original single-module battery (VERDICT r5 #7).

Imported by ``queries/__init__`` in registration order; every query
registers into the shared ``QUERIES``/``ORACLES`` dicts at import.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import reuse, sorted_output
from ._registry import ORACLES, QUERIES, _docs, _events, _register

__all__ = ["QUERIES", "ORACLES"]

# --------------------------------------------------------------------------
# Q1 — extraction quality statistic (reference fulltext.py:27-44)
# --------------------------------------------------------------------------

_JUNK_RE = r"(\(cid:\d+\)|lllll|\.\.\.\.\.|\*\*\*\*\*)"


@_register(
    "avg_word_length",
    f"""
    SELECT doc_id,
           round(length(s)
                 / (len(list_filter(regexp_split_to_array(trim(s), '\\s+'),
                                    x -> x <> '')) + 1), 6) AS awl
    FROM (SELECT doc_id, regexp_replace(text, '{_JUNK_RE}', '', 'g') AS s
          FROM documents)
    ORDER BY doc_id
    """,
)
def q_avg_word_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python str.split() yields [] on blank text; filtering empties
    # from the regex split matches that (reference quality gate).
    s = F.regexp_replace(F.col("text"), _JUNK_RE, "")
    n_words = F.size(
        F.filter(F.split(F.trim(s), r"\s+"), lambda x: x != F.lit(""))
    )
    awl = F.length(s) / (n_words + 1)
    return _docs(spark, sf_dir).select(
        "doc_id", F.round(awl, 6).alias("awl")
    )


# --------------------------------------------------------------------------
# V8 — abbreviation expansion (reference psv.py:151-167)
# --------------------------------------------------------------------------

_EXPANSIONS = (
    (r"(?i)Fig[s]?[\.]?\s", "Figure "),
    (r"(?i)Eq[s]?[\.]?\s", "Equation "),
    (r"(?i)Sect[s]?[\.]?\s", "Section "),
    (r"(?i)Ref[s]?[\.]?\s", "Reference "),
    (r"(?i)Prof\.", "Prof"),
    (r"(?i)Dr\.", "Dr"),
)


def _expand_sql(col: str) -> str:
    expr = col
    for pat, repl in _EXPANSIONS:
        # DuckDB takes flags as a 4th arg instead of inline (?i)
        expr = f"regexp_replace({expr}, '{pat[4:]}', '{repl}', 'gi')"
    return expr


@_register(
    "expand_abbreviations",
    f"""
    SELECT doc_id, {_expand_sql("('Fig. 1 shows Eqs. 2 near Sect. 3 by Prof. X Dr. Y Refs. 4: ' || substr(text, 1, 80))")} AS expanded
    FROM documents ORDER BY doc_id
    """,
)
def q_expand_abbreviations(spark: SparkSession, sf_dir: str) -> DataFrame:
    col = F.concat(
        F.lit("Fig. 1 shows Eqs. 2 near Sect. 3 by Prof. X Dr. Y Refs. 4: "),
        F.substring(F.col("text"), 1, 80),
    )
    for pat, repl in _EXPANSIONS:
        col = F.regexp_replace(col, pat, repl)
    return _docs(spark, sf_dir).select("doc_id", col.alias("expanded"))


# --------------------------------------------------------------------------
# V9+V10 — symbol/digit scrub (reference psv.py:170-181)
# --------------------------------------------------------------------------


@_register(
    "scrub_symbols_numbers",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[^\.\w ]', ' ', 'g'),
                 '\_', ' ', 'g'),
               '\d+[\.]?\d+/', ' ', 'g'),
             '\d', ' ', 'g') AS scrubbed
    FROM documents ORDER BY doc_id
    """,
)
def q_scrub_symbols_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    col = F.col("text")
    for pat in (r"[^\.\w ]", r"\_", r"\d+[\.]?\d+/", r"\d"):
        col = F.regexp_replace(col, pat, " ")
    return _docs(spark, sf_dir).select("doc_id", col.alias("scrubbed"))


# --------------------------------------------------------------------------
# V12+V13 — single-letter removal (doubled) + space collapse
# (reference psv.py:196-208)
# --------------------------------------------------------------------------


@_register(
    "single_alpha_spaces",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '\s[a-zA-Z]\s', ' ', 'g'),
                   '\s[a-zA-Z]\s', ' ', 'g'),
                 '\s[a-zA-Z]\.', '.', 'g'),
               '\s+', ' ', 'g'),
             '^\s+', '', 'g') AS cleaned
    FROM documents ORDER BY doc_id
    """,
)
def q_single_alpha_spaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    col = F.col("text")
    for pat, rep in ((r"\s[a-zA-Z]\s", " "), (r"\s[a-zA-Z]\s", " "),
                     (r"\s[a-zA-Z]\.", "."), (r"\s+", " "), (r"^\s+", "")):
        col = F.regexp_replace(col, pat, rep)
    return _docs(spark, sf_dir).select("doc_id", col.alias("cleaned"))


# --------------------------------------------------------------------------
# V15 — sentence cleaning filter (reference psv.py:219-240)
# --------------------------------------------------------------------------


@_register(
    "clean_sentences",
    r"""
    SELECT doc_id, lower(s) AS sentence
    FROM (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(text, '\W', ' ', 'g'),
                                 '\s+', ' ', 'g')) AS s
      FROM documents
      WHERE regexp_matches(substr(text, 1, 1), '\w')
    )
    WHERE length(s) > 3
    ORDER BY doc_id
    """,
)
def q_clean_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"\W", " "), r"\s+", " "
        )
    )
    return (
        _docs(spark, sf_dir)
        .where(F.substring("text", 1, 1).rlike(r"\w"))
        .select("doc_id", F.lower(s).alias("sentence"))
        .where(F.length("sentence") > 3)
    )


# --------------------------------------------------------------------------
# J1 — work dedup via left-anti join (reference controllers.py:140-158)
# --------------------------------------------------------------------------


@_register(
    "pending_after_anti_join",
    """
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents done
      WHERE done.doc_id % 10 < 3 AND done.doc_id = d.doc_id
    )
    ORDER BY d.doc_id
    """,
)
def q_pending_after_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    done = docs.where(F.col("doc_id") % 10 < 3).select("doc_id")
    return docs.join(done, on="doc_id", how="left_anti").select(
        "doc_id", "n_chars"
    )


# --------------------------------------------------------------------------
# J3 — latest-version resolution via window (reference store.py:145-165)
# --------------------------------------------------------------------------


@_register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
        )
    )


# --------------------------------------------------------------------------
# I1/I3/I4 — span explode / stable reassembly. The documents table is
# span-ized with pure SQL expressions (sources/spanize.py), spans are
# deliberately stored in reverse order, and the query must rebuild the
# original text by sorting on offset — proving order never depends on
# arrival/shuffle order. The oracle is the identity (rebuilt == text).
# --------------------------------------------------------------------------


@_register(
    "span_reassembly",
    """
    SELECT doc_id::VARCHAR AS doc_id, text AS rebuilt
    FROM documents ORDER BY doc_id
    """,
)
def q_span_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.spanize import spanized_documents

    spans = spanized_documents(_docs(spark, sf_dir))
    text_spans = F.expr(
        "array_sort(filter(spans, s -> s.kind = 'text'),"
        " (a, b) -> a.offset - b.offset)"
    )
    rebuilt = F.array_join(
        F.transform(text_spans, lambda s: s["text"]), " "
    )
    return spans.select("doc_id", rebuilt.alias("rebuilt"))


# --------------------------------------------------------------------------
# Training-data ops: token counting / quality scoring / fingerprinting
# --------------------------------------------------------------------------


@_register(
    "token_count",
    """
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("n_tokens")
    )


_STOPWORDS = "('the', 'a', 'of', 'in', 'and', 'to')"


@_register(
    "quality_score",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           round(length(text) / len(string_split(text, ' ')), 6)
             AS avg_token_len,
           round(len(list_filter(string_split(text, ' '),
                                 w -> w IN {_STOPWORDS}))
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents ORDER BY doc_id
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ", -1)
    stop = F.size(
        F.filter(
            toks,
            lambda w: w.isin("the", "a", "of", "in", "and", "to"),
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.round(F.length("text") / F.size(toks), 6).alias("avg_token_len"),
        F.round(stop / F.size(toks), 6).alias("stopword_ratio"),
    )


@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[^0-9A-Za-z_]', '', 'g')))
             AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(
            F.lower(F.regexp_replace("text", "[^0-9A-Za-z_]", ""))
        ).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# Exact deduplication: hash-groupBy on content (map-side combinable)
# --------------------------------------------------------------------------


@_register(
    "exact_dedup_groups",
    """
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS representative
    FROM documents
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("representative"),
        )
    )


# --------------------------------------------------------------------------
# Aggregation / windowed-time analytics over the events stream table
# --------------------------------------------------------------------------


@_register(
    "event_hourly_rollup",
    """
    SELECT user_id,
           epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
           count(*) AS n_events,
           sum(value)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY user_id, hour_epoch
    """,
)
def q_event_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(
            "user_id",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Relational coverage: scan→agg (TPC-H Q1 shape) and multi-join rollup,
# exercising partial aggregation and broadcast joins at scale.
# --------------------------------------------------------------------------


@_register(
    "lineitem_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)::BIGINT AS sum_qty,
           sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base_price,
           (sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))))::DOUBLE AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@_register(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           (sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l.l_discount AS DECIMAL(18,2))))::DOUBLE AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# The PSV pandas UDF, oracle-checked: the Spark side runs the REAL
# Arrow-batched UDF (functions.psv.normalize_text_psv); the oracle is
# the equivalent native SQL chain, valid for this corpus because
# documents.text is single-line ASCII (verified: no CR/LF/tab/dots).
# This is the strongest per-round correctness evidence the harness can
# record for the UDF path.
# --------------------------------------------------------------------------

_EXPAND_STEPS_SQL = (
    (r"Fig[s]?[\.]?\s", "Figure "),
    (r"Eq[s]?[\.]?\s", "Equation "),
    (r"Sect[s]?[\.]?\s", "Section "),
    (r"Ref[s]?[\.]?\s", "Reference "),
    (r"Prof\.", "Prof"),
    (r"Dr\.", "Dr"),
)

_SCRUB_STEPS_SQL = (
    (r"[^\.\w ]", " "),
    (r"\_", " "),
    (r"\d+[\.]?\d+/", " "),
    (r"\d", " "),
    (r"\s\w\.\w\.\w\.\s", " "),
    (r"\s\w\.\w\.\s", " "),
    (r"\s\w\.\s", " "),
    (r"\s[a-zA-Z]\s", " "),
    (r"\s[a-zA-Z]\s", " "),
    (r"\s[a-zA-Z]\.", "."),
    (r"\s+", " "),
    (r"^\s+", ""),
)


def _scrub_sql(expr: str) -> str:
    """SQL twin of one tidy line: first-repair hyphen strip, expand,
    scalar scrub chain, second-repair hyphen strip."""
    expr = f"regexp_replace({expr}, '- $', '', 'g')"
    for pat, repl in _EXPAND_STEPS_SQL:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'gi')"
    for pat, repl in _SCRUB_STEPS_SQL:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"regexp_replace({expr}, '- $', '', 'g')"


def _clean_sql(expr: str) -> str:
    """SQL twin of _clean_sentence: must start with \\w; \\W -> ' ';
    collapse; strip; drop <=3 chars; lowercase."""
    cleaned = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"{expr}, '\\W', ' ', 'g'), '\\s+', ' ', 'g'), '^\\s+', '', 'g'),"
        f" '\\s+$', '', 'g')"
    )
    return (
        f"CASE WHEN NOT regexp_matches({expr}, '^\\w') THEN ''"
        f" WHEN length({cleaned}) <= 3 THEN ''"
        f" ELSE lower({cleaned}) END"
    )


def _psv_chain_sql() -> str:
    return _clean_sql(_scrub_sql("text || ' '"))


@_register(
    "psv_normalize_udf",
    f"SELECT doc_id, {_psv_chain_sql()} AS psv FROM documents ORDER BY doc_id",
)
def q_psv_normalize_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.psv import normalize_text_psv

    @pandas_udf("string")
    def psv_udf(texts: pd.Series) -> pd.Series:
        return texts.map(normalize_text_psv)

    return _docs(spark, sf_dir).select("doc_id", psv_udf("text").alias("psv"))


# --------------------------------------------------------------------------
# Multi-line PSV pathology: non-vacuous oracle coverage for the
# STATEFUL text passes (V4 split_on_references incl. the last-heading
# rule and the 50% guard, V5 boilerplate strip incl. the prev-line
# affiliation rule, V7 hyphenation/EOL repair). The driver corpus is
# single-line ASCII, so these passes are no-ops in psv_normalize_udf;
# here each document is wrapped in one of three planted multi-line
# scaffolds whose stateful-pass result is CLOSED FORM (validated
# against the reference semantics, fulltext/process/psv.py:111-148,
# 243-282), reducing the oracle to the already-twinned scalar chain.
# If any of V4/V5/V7 breaks, the expected string changes.
# --------------------------------------------------------------------------

# scaffold A (doc_id%3==0): arXiv stamp dropped, digits+University
# affiliation pair dropped, hyphen + lowercase-continuation rejoin,
# late References heading split off (refs fraction under the guard)
_SCAFFOLD_A = ["arXiv:1701.0001 22 Jan 2017",
               "The measured effect was obtai-",
               "ned without interruption",
               "98765",
               "University of Testing",
               None,  # the document's own text
               "References",
               "[1] junk citation 2001",
               "[2] more junk 1999"]
# scaffold B (%3==1): heading on line 1 of 3 — the refs block would be
# >50% of the doc, so the guard keeps everything (heading included)
_SCAFFOLD_B = ["References", "The guard keeps everything intact", None]
# scaffold C (%3==2): TWO headings — the split must take the LAST one
_SCAFFOLD_C = ["References", "The last heading wins here", None,
               "Bibliography", "[1] junk"]


def _psv_multiline_oracle() -> str:
    exp_a = _clean_sql(
        "'The measured effect was obtained without interruption ' || "
        + _scrub_sql("'98765 ' || text || ' '"))
    exp_b = ("'references' || ' ' || " + _clean_sql(_scrub_sql(
        "'The guard keeps everything intact ' || text || ' '")))
    exp_c = ("'references' || ' ' || " + _clean_sql(_scrub_sql(
        "'The last heading wins here ' || text || ' '")))
    return f"""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN {exp_a}
             WHEN 1 THEN {exp_b}
             ELSE {exp_c}
           END AS psv
    FROM documents ORDER BY doc_id
    """


@_register("psv_multiline_pathology", _psv_multiline_oracle())
def q_psv_multiline_pathology(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.psv import normalize_text_psv

    @pandas_udf("string")
    def psv_udf(texts: pd.Series) -> pd.Series:
        return texts.map(normalize_text_psv)

    def scaffold(pieces) -> F.Column:
        return F.concat_ws(
            "\n", *[F.col("text") if p is None else F.lit(p)
                    for p in pieces])

    wrapped = (
        F.when(F.col("doc_id") % 3 == 0, scaffold(_SCAFFOLD_A))
        .when(F.col("doc_id") % 3 == 1, scaffold(_SCAFFOLD_B))
        .otherwise(scaffold(_SCAFFOLD_C))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", psv_udf(wrapped).alias("psv"))


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact, restricted id range)
# --------------------------------------------------------------------------

def _pair_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 40)
    planted = docs.where(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return base.unionByName(planted)


# the corpus for pair queries: documents 0-39 plus planted copies
# (id+10000) so near-dup detection has guaranteed positives
_PAIR_CORPUS_SQL = """
      SELECT doc_id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 8
"""

_SHINGLE_SQL = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM (""" + _PAIR_CORPUS_SQL + """)
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM words, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


@_register(
    "ngram_jaccard_pairs",
    _SHINGLE_SQL + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*) / (sa.n + sb.n - count(*)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN sizes sa ON sa.doc_id = a.doc_id
    JOIN sizes sb ON sb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
    ORDER BY id_a, id_b
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_jaccard, word_shingles

    docs = _pair_corpus(spark, sf_dir)
    # sh feeds both self-join sides, the size table and the
    # intersection join; all_pairs feeds candidate_ids (twice via the
    # narrowed self-join) plus a semi-join — without materialization
    # the scan+explode subtree is replicated ~14x in the plan.
    sh = reuse(word_shingles(docs, n=3))
    all_pairs = reuse(
        sh.alias("a").join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return exact_jaccard(sh, all_pairs).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )




# --------------------------------------------------------------------------
# Reference-entry extraction + citation edges (operators/references.py)
# --------------------------------------------------------------------------

_REFS_CITED = (
    "lpad(cast((doc_id + i) % 2400 as string), 4, '0') || '.' || "
    "lpad(cast((doc_id * 7 + i) % 10000 as string), 4, '0')"
)


def _planted_refs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with a planted trailing References block: body chunked
    into 10-word lines (so the psv 50% guard never trips), heading,
    then 1 + doc_id % 3 numbered entries each citing a closed-form
    arXiv id. Docs under 4 body lines stay untouched (no block)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("text"), F.split("text", " ").alias("_w"))
    n_par = "int(greatest(ceil(size(_w) / 10.0), 1))"
    planted = F.expr(f"""
      if({n_par} >= 4,
        concat(
          array_join(transform(sequence(0, {n_par} - 1), k ->
            array_join(slice(_w, k * 10 + 1, 10), ' ')), '\\n'),
          '\\nReferences\\n',
          array_join(transform(sequence(1, 1 + cast(doc_id % 3 as int)),
            i -> concat('[', cast(i as string), '] Ref ',
                        cast(i as string), ' of doc ',
                        cast(doc_id as string), ' arXiv:',
                        {_REFS_CITED})), '\\n')),
        text)
    """)
    return docs.select("doc_id", planted.alias("text"))


_REFS_CITED_SQL = (
    "lpad(((doc_id + i) % 2400)::VARCHAR, 4, '0') || '.' || "
    "lpad(((doc_id * 7 + i) % 10000)::VARCHAR, 4, '0')"
)

_REFS_ELIGIBLE_SQL = """
    WITH t AS (
      SELECT doc_id,
             greatest(cast(ceil(len(string_split(text, ' ')) / 10.0)
                           AS BIGINT), 1) AS n_par
      FROM documents
    ),
    e AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM t WHERE n_par >= 4)
"""


@_register(
    "reference_entries",
    _REFS_ELIGIBLE_SQL + f"""
    SELECT doc_id, i::INT AS ref_idx,
           'Ref ' || i || ' of doc ' || doc_id || ' arXiv:'
             || {_REFS_CITED_SQL} AS ref_text
    FROM e, UNNEST(range(1, k + 1)) AS u(i)
    ORDER BY doc_id, ref_idx
    """,
)
def q_reference_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-References-block entry extraction through the real
    line-scan/heading-election/marker-split operator; the planted
    block is closed-form so both engines must recover identical
    (doc_id, ref_idx, ref_text) rows, and short docs prove the
    no-block path emits nothing."""
    from ..operators.references import reference_entries

    return sorted_output(
        reference_entries(_planted_refs_docs(spark, sf_dir)),
        "doc_id", "ref_idx",
    )


@_register(
    "citation_edges",
    _REFS_ELIGIBLE_SQL + f"""
    SELECT doc_id AS src_doc_id,
           {_REFS_CITED_SQL} AS cited_arxiv_id
    FROM e, UNNEST(range(1, k + 1)) AS u(i)
    ORDER BY src_doc_id, cited_arxiv_id
    """,
)
def q_citation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arXiv-id citation-edge mining from the planted reference
    blocks: one regexp pass over the full text; distinct (src, cited)
    pairs match the closed-form plant."""
    from ..operators.references import citation_edges

    return (
        citation_edges(_planted_refs_docs(spark, sf_dir))
        .orderBy("src_doc_id", "cited_arxiv_id")
    )

@_register(
    "section_segments",
    """
    WITH t AS (
      SELECT doc_id, 1 + doc_id % 4 AS n_sec FROM documents
    ),
    secs AS (
      SELECT doc_id, n_sec, i AS sec_idx,
             1 + (doc_id + i) % 3 AS n_lines
      FROM t, UNNEST(range(1, n_sec + 1)) AS u(i)
    )
    SELECT doc_id, sec_idx::INT AS sec_idx,
           CASE WHEN sec_idx % 2 = 1
                THEN sec_idx || '. Heading ' || sec_idx
                ELSE sec_idx || ' Heading ' || sec_idx END AS heading,
           n_lines AS n_lines, 4 * n_lines AS n_words
    FROM secs
    UNION ALL
    SELECT doc_id, 0 AS sec_idx, '' AS heading,
           2 AS n_lines, 12 AS n_words
    FROM t
    ORDER BY doc_id, sec_idx
    """,
)
def q_section_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section segmentation on planted structure: a fixed two-line
    preamble, then 1 + doc_id % 4 numbered sections ('s. Heading s'
    for odd s — the trailing-dot form — plain 's Heading s' for even)
    each with 1 + (doc_id + s) % 3 four-word body lines; every
    (heading, n_lines, n_words) is closed-form in both engines."""
    from ..operators.references import section_segments

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("""
          concat(
            'intro line one alpha beta x\nintro line two gamma delta y',
            aggregate(sequence(1, 1 + cast(doc_id % 4 as int)), '',
              (acc, s) -> concat(acc, '\n',
                if(s % 2 = 1,
                   concat(cast(s as string), '. Heading ',
                          cast(s as string)),
                   concat(cast(s as string), ' Heading ',
                          cast(s as string))),
                '\n',
                array_join(transform(
                  sequence(1, 1 + cast((doc_id + s) % 3 as int)),
                  j -> concat('body ', cast(doc_id as string), ' ',
                              cast(s as string), ' ',
                              cast(j as string))), '\n'))))
        """).alias("text"),
    )
    return sorted_output(
        section_segments(planted)
        .select("doc_id", "sec_idx", "heading", "n_lines", "n_words"),
        "doc_id", "sec_idx")
