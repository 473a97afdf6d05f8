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
# Round 4 — web-link operators (URL/domain filtering family) and
# corpus-hygiene additions.  URLs are PLANTED deterministically from
# doc_id (closed-form scaffold) so the oracle can state the expected
# result in pure arithmetic while the Spark side exercises the real
# regexp parser / suffix-join machinery.
# --------------------------------------------------------------------------

def _planted_url() -> "F.Column":
    """https://{www.|blog.|}site{doc_id%5}{.com|.org}/p/{doc_id%7}"""
    return F.concat(
        F.lit("https://"),
        F.element_at(F.array(F.lit("www."), F.lit("blog."), F.lit("")),
                     (F.col("doc_id") % 3 + 1).cast("int")),
        F.lit("site"), (F.col("doc_id") % 5).cast("string"),
        F.element_at(F.array(F.lit(".com"), F.lit(".org")),
                     (F.col("doc_id") % 2 + 1).cast("int")),
        F.lit("/p/"), (F.col("doc_id") % 7).cast("string"),
    )


_PLANTED_URL_SQL = (
    "'https://' || CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.' "
    "ELSE '' END || 'site' || (doc_id % 5)::VARCHAR || "
    "CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END || "
    "'/p/' || (doc_id % 7)::VARCHAR"
)


@_register(
    "url_domain_stats",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                  ELSE '' END
               || 'site' || (doc_id % 5)::VARCHAR
               || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS host,
             'site' || (doc_id % 5)::VARCHAR
               || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS domain
      FROM documents
    )
    SELECT domain,
           count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           round(avg(2.0), 6) AS avg_path_depth,
           round(avg(n_chars), 6) AS avg_chars
    FROM u GROUP BY domain ORDER BY domain
    """,
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats over planted URLs: the real regexp URL
    parser + one map-side-combinable aggregation; the oracle states
    the closed-form expectation (path depth is 2 by construction)."""
    from ..operators.weblinks import domain_stats

    wu = _docs(spark, sf_dir).withColumn("url", _planted_url())
    return sorted_output(domain_stats(wu), "domain")


@_register(
    "blocked_domain_filter",
    """
    SELECT doc_id FROM documents
    WHERE NOT (doc_id % 10 = 0 OR doc_id % 30 = 1)
    ORDER BY doc_id
    """,
)
def q_blocked_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-blocklist filtering (domain + subdomain suffix semantics)
    as a bounded suffix explode + equi-join — never a LIKE scan.
    Blocklist: all of site0.com (=> doc_id%10==0: every host under the
    domain) and the single host blog.site1.org (=> doc_id%30==1)."""
    from ..operators.weblinks import filter_blocked_domains

    wu = _docs(spark, sf_dir).select("doc_id", _planted_url().alias("url"))
    bl = spark.createDataFrame(
        [("site0.com",), ("blog.site1.org",)], ["blocked_domain"])
    return sorted_output(
        filter_blocked_domains(wu, bl).select("doc_id"), "doc_id")


def _pagerank_sql(iterations: int = 3, n: int = 25, d: float = 0.85) -> str:
    """Unrolled PageRank on the planted 25-node graph
    (i -> (2i+1)%25, i -> (3i+2)%25; every node has out-degree 2, so
    no dangling mass). Same unrolled-fixpoint pattern as
    dedup_keep_list."""
    base = f"(1.0 - {d}) / {n}"
    ctes = [
        f"nodes AS (SELECT range AS node FROM range({n}))",
        f"edges AS (SELECT range AS src, (range*2+1) % {n} AS dst "
        f"FROM range({n}) UNION ALL "
        f"SELECT range, (range*3+2) % {n} FROM range({n}))",
        f"r0 AS (SELECT node, 1.0/{n} AS rank FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"r{k} AS (SELECT n.node, {base} + {d} * "
            f"coalesce(s.received, 0.0) AS rank FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank / 2.0) AS received "
            f"FROM edges e JOIN r{k-1} r ON r.node = e.src "
            f"GROUP BY e.dst) s ON s.node = n.node)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
            + " ORDER BY node")


def _hits_sql(iterations: int = 2, n: int = 25) -> str:
    """Unrolled HITS on the planted 25-node graph (same edges as
    PageRank). Each half-step: spread + L2 normalization via a scalar
    subquery."""
    ctes = [
        f"nodes AS (SELECT range AS node FROM range({n}))",
        f"edges AS (SELECT range AS src, (range*2+1) % {n} AS dst "
        f"FROM range({n}) UNION ALL "
        f"SELECT range, (range*3+2) % {n} FROM range({n}))",
        "h0 AS (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    prev_h = "h0"
    for k in range(1, iterations + 1):
        ctes += [
            f"a{k}r AS (SELECT n.node, coalesce(s.v, 0.0) AS v FROM "
            f"nodes n LEFT JOIN (SELECT e.dst AS node, sum(h.hub) AS v "
            f"FROM edges e JOIN {prev_h} h ON h.node = e.src "
            f"GROUP BY e.dst) s ON s.node = n.node)",
            f"a{k} AS (SELECT node, v / (SELECT sqrt(sum(v*v)) "
            f"FROM a{k}r) AS auth FROM a{k}r)",
            f"h{k}r AS (SELECT n.node, coalesce(s.v, 0.0) AS v FROM "
            f"nodes n LEFT JOIN (SELECT e.src AS node, sum(a.auth) AS v "
            f"FROM edges e JOIN a{k} a ON a.node = e.dst "
            f"GROUP BY e.src) s ON s.node = n.node)",
            f"h{k} AS (SELECT node, v / (SELECT sqrt(sum(v*v)) "
            f"FROM h{k}r) AS hub FROM h{k}r)",
        ]
        prev_h = f"h{k}"
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT a.node, round(a.auth, 6) AS auth, "
            f"round(h.hub, 6) AS hub "
            f"FROM a{iterations} a JOIN h{iterations} h USING (node) "
            "ORDER BY node")


@_register("domain_hits", _hits_sql())
def q_domain_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the planted graph — alternating
    L2-normalized power iteration, all-DataFrame; oracle is the
    2-step unrolled fixpoint."""
    from ..operators.weblinks import hits_scores

    edges = spark.range(25).select(
        F.col("id").alias("src"), ((F.col("id") * 2 + 1) % 25).alias("dst")
    ).unionByName(spark.range(25).select(
        F.col("id").alias("src"), ((F.col("id") * 3 + 2) % 25).alias("dst")))
    return sorted_output(
        hits_scores(edges, iterations=2)
        .select("node", F.round("auth", 6).alias("auth"),
                F.round("hub", 6).alias("hub")),
        "node")


@_register("domain_pagerank", _pagerank_sql())
def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (domain quality weighting) — all-DataFrame
    iterative with a per-round checkpoint, no driver-side graph.
    Planted 25-node graph; oracle is the unrolled 3-step fixpoint."""
    from ..operators.weblinks import page_rank

    edges = spark.range(25).select(
        F.col("id").alias("src"), ((F.col("id") * 2 + 1) % 25).alias("dst")
    ).unionByName(spark.range(25).select(
        F.col("id").alias("src"), ((F.col("id") * 3 + 2) % 25).alias("dst")))
    return sorted_output(
        page_rank(edges, iterations=3)
        .select("node", F.round("rank", 6).alias("rank")),
        "node")


@_register(
    "mojibake_scores",
    """
    WITH m AS (
      SELECT doc_id,
             text || CASE doc_id % 3
                       WHEN 0 THEN ' Ã©x'
                       WHEN 1 THEN ' â€œy Â z'
                       ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '(Ã[-¿]|â€.|�|Â )'))
             AS mojibake_count,
           round(len(regexp_extract_all(t,
                     '(Ã[-¿]|â€.|�|Â )')) * 100.0
                 / length(t), 6) AS mojibake_per_100_chars
    FROM m ORDER BY doc_id
    """,
)
def q_mojibake_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption scoring (double-decoded UTF-8 / cp1252
    artifacts) — pure-JVM regexp_count projection. Mojibake is PLANTED
    by doc_id%3 so the oracle sees known counts on real text."""
    from ..operators.text_metrics import mojibake_score

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(F.col("text"), F.element_at(
            F.array(F.lit(" Ã©x"), F.lit(" â€œy Â z"), F.lit("")),
            (F.col("doc_id") % 3 + 1).cast("int"))),
    )
    return sorted_output(mojibake_score(docs), "doc_id")


@_register(
    "normalized_dedup_groups",
    """
    WITH u AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, upper(text) FROM documents
    ),
    k AS (
      SELECT id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
               AS norm_key
      FROM u
    )
    SELECT min(id) AS id, norm_key, count(*) AS group_size
    FROM k GROUP BY norm_key ORDER BY id
    """,
)
def q_normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup via normalization key (lowercase, strip
    punctuation, collapse whitespace, md5): catches re-encoded /
    re-cased copies exact hashing misses, at exact-dedup cost. The
    corpus is unioned with planted UPPERCASED copies; every group must
    collapse to the original id."""
    from ..operators.dedup import drop_normalized_duplicates

    docs = _docs(spark, sf_dir)
    u = docs.select(F.col("doc_id").alias("doc_id"), "text").unionByName(
        docs.select((F.col("doc_id") + 10000000).alias("doc_id"),
                    F.upper("text").alias("text")))
    return sorted_output(drop_normalized_duplicates(u), "id")


@_register(
    "weighted_doc_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln((('0x' || substr(md5('ws|' || doc_id::VARCHAR), 1, 8))
                 ::BIGINT::DOUBLE + 1.0) / 4294967297.0)
               / n_chars AS es_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars FROM keyed
      ORDER BY es_key DESC, doc_id LIMIT 100
    ) ORDER BY doc_id
    """,
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES, inclusion probability ~ n_chars):
    one projection + TakeOrderedAndProject top-k — no global sort,
    resumable, engine-portable (the oracle replays the identical
    hash-uniform keys)."""
    from ..operators.sampling import weighted_sample_topk

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (weighted_sample_topk(docs, "n_chars", 100, key_col="doc_id",
                                 seed="ws")
            .orderBy("doc_id"))


@_register(
    "zipf_law_fit",
    """
    WITH vocab AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(regexp_split_to_array(text, ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    top AS (
      SELECT w, c FROM vocab ORDER BY c DESC, w ASC LIMIT 100
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM top
    )
    SELECT count(*)::BIGINT AS n_terms,
           round(regr_slope(ln(c::DOUBLE), ln(r::DOUBLE)), 6) AS zipf_slope,
           round(regr_intercept(ln(c::DOUBLE), ln(r::DOUBLE)), 6)
             AS zipf_intercept
    FROM ranked
    """,
)
def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law log-log fit over the top-100 vocabulary — corpus
    naturalness check. Distributed top-k (TakeOrderedAndProject) +
    one regr_slope aggregate over the bounded top frame."""
    from ..operators.corpus_stats import zipf_slope

    return zipf_slope(_docs(spark, sf_dir), top_n=100)


@_register(
    "gopher_quality_signals",
    """
    WITH m AS (
      SELECT doc_id,
             text || CASE doc_id % 4
               WHEN 0 THEN ''
               WHEN 1 THEN e'\\n- first bullet\\n- second bullet'
               WHEN 2 THEN e'\\nwait for it...\\nmore to come...'
               ELSE ' ### ### ###' END AS t
      FROM documents
    ),
    sig AS (
      SELECT doc_id, t,
             list_filter(str_split(t, ' '), w -> w <> '') AS words,
             list_filter(str_split(t, e'\\n'), l -> l <> '') AS lines
      FROM m
    ),
    s2 AS (
      SELECT doc_id,
        len(words) AS n_words,
        CASE WHEN len(words) > 0 THEN
          round(list_sum(list_transform(words, w -> length(w)))::DOUBLE
                / len(words), 6) ELSE 0.0 END AS mean_word_length,
        CASE WHEN len(words) > 0 THEN
          round((len(regexp_extract_all(t, '#'))
                 + len(regexp_extract_all(t, '\\.\\.\\.')))::DOUBLE
                / len(words), 6) ELSE 0.0 END AS symbol_word_ratio,
        CASE WHEN len(lines) > 0 THEN
          round(len(list_filter(lines,
                    l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
                / len(lines), 6) ELSE 0.0 END AS bullet_line_frac,
        CASE WHEN len(lines) > 0 THEN
          round(len(list_filter(lines,
                    l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
                / len(lines), 6) ELSE 0.0 END AS ellipsis_line_frac,
        CASE WHEN len(words) > 0 THEN
          round(len(list_filter(words,
                    w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
                / len(words), 6) ELSE 0.0 END AS alpha_word_frac,
        len(list_intersect(
              list_distinct(list_filter(str_split(lower(t), ' '),
                                        w -> w <> '')),
              ['the','be','to','of','and','that','have','with']))
          AS n_stopwords
      FROM sig
    )
    SELECT doc_id, n_words, mean_word_length, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           n_stopwords,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_length BETWEEN 3 AND 10
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac < 0.9
            AND ellipsis_line_frac < 0.3
            AND alpha_word_frac >= 0.8
            AND n_stopwords >= 2)::INT AS passes
    FROM s2 ORDER BY doc_id
    """,
)
def q_gopher_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality signals (Rae et al. 2021 A1.1)
    — one pure-JVM projection. Bullet / ellipsis / symbol pathologies
    are PLANTED by doc_id%4 so every rule fires on some slice."""
    from ..operators.quality_rules import gopher_quality_signals

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(F.col("text"), F.element_at(F.array(
            F.lit(""),
            F.lit("\n- first bullet\n- second bullet"),
            F.lit("\nwait for it...\nmore to come..."),
            F.lit(" ### ### ###"),
        ), (F.col("doc_id") % 4 + 1).cast("int"))),
    )
    return sorted_output(
        gopher_quality_signals(docs)
        .withColumn("passes", F.col("passes").cast("int")),
        "doc_id")


@_register(
    "c4_line_cleaning",
    """
    SELECT doc_id,
           'Alpha beta gamma delta epsilon one.' || chr(10) ||
           'Alpha beta gamma delta epsilon two.' || chr(10) ||
           'Alpha beta gamma delta epsilon three.' AS clean_text,
           3 AS n_lines_kept,
           1 AS n_lines_dropped
    FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id
    """,
)
def q_c4_line_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filtering (terminal punctuation, >=5 words, no
    javascript; doc dropped under 3 kept lines or on lorem-ipsum /
    brace). Planted by doc_id%3: slice 0 gains 3 keepable lines,
    slice 1 only 1, slice 2 trips the lorem-ipsum page filter — the
    oracle is the closed-form survivor set."""
    from ..operators.quality_rules import c4_line_filter

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(F.col("text"), F.element_at(F.array(
            F.lit("\nAlpha beta gamma delta epsilon one."
                  "\nAlpha beta gamma delta epsilon two."
                  "\nAlpha beta gamma delta epsilon three."),
            F.lit("\nGood line with five words here.\nshort words."),
            F.lit("\nJavascript is required to view. lorem ipsum"),
        ), (F.col("doc_id") % 3 + 1).cast("int"))),
    )
    return sorted_output(c4_line_filter(docs), "doc_id")


@_register(
    "canonical_url_dedup",
    """
    WITH g AS (
      SELECT doc_id % 210 AS gid, min(doc_id) AS id,
             count(*) AS group_size
      FROM documents GROUP BY 1
    )
    SELECT id,
           'https://'
           || CASE gid % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
              ELSE '' END
           || 'site' || (gid % 5)::VARCHAR
           || CASE gid % 2 WHEN 0 THEN '.com' ELSE '.org' END
           || '/p/' || (gid % 7)::VARCHAR || '?a=1&b=2' AS canon_url,
           group_size
    FROM g ORDER BY id
    """,
)
def q_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup on the canonical form: tracking params
    (utm_*, fbclid, gclid) stripped, fragment dropped, params sorted.
    Four planted query-string variants per URL must all collapse to
    one canonical key => groups are exactly doc_id % 210 (closed
    form)."""
    from ..operators.weblinks import dedup_by_canonical_url

    wu = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(_planted_url(), F.element_at(F.array(
            F.lit("?utm_source=x&b=2&a=1"),
            F.lit("?a=1&b=2&utm_campaign=z"),
            F.lit("?b=2&a=1#frag"),
            F.lit("?a=1&b=2"),
        ), (F.col("doc_id") % 4 + 1).cast("int"))).alias("url"))
    return dedup_by_canonical_url(wu).orderBy("id")


@_register(
    "domain_doc_cap",
    """
    WITH u AS (
      SELECT doc_id,
             'site' || (doc_id % 5)::VARCHAR
             || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS domain
      FROM documents
    ),
    r AS (
      SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                 ORDER BY md5('cap|' || doc_id::VARCHAR)) AS rk
      FROM u
    )
    SELECT doc_id, domain FROM r WHERE rk <= 7 ORDER BY doc_id
    """,
)
def q_domain_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (RefinedWeb-style), deterministic by
    hash order so the kept set is stable under re-partitioning and
    resume. One shuffle on domain; oracle replays the identical
    md5-ordered rank."""
    from ..operators.weblinks import cap_docs_per_domain

    wu = _docs(spark, sf_dir).select(
        "doc_id", _planted_url().alias("url"))
    return sorted_output(
        cap_docs_per_domain(wu, 7).select("doc_id", "domain"), "doc_id")


@_register(
    "bpe_pair_counts",
    """
    WITH vocab AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(str_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i::INT, 2))) AS pair,
             c
      FROM vocab
    )
    SELECT pair, sum(c)::BIGINT AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC LIMIT 50
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training pair statistics: adjacent char-pair
    counts weighted by word frequency, computed over the VOCABULARY
    (Heaps-sublinear), top-n via per-partition heaps."""
    from ..operators.corpus_stats import bpe_pair_stats

    return bpe_pair_stats(_docs(spark, sf_dir), top_n=50)


@_register(
    "html_link_graph",
    """
    WITH s AS (
      SELECT doc_id,
             'site' || (doc_id % 5)::VARCHAR
             || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS src
      FROM documents
    ),
    e AS (
      SELECT src, 'site' || ((doc_id + 1) % 5)::VARCHAR || '.com' AS dst
      FROM s
      UNION ALL
      SELECT src, src FROM s   -- the relative link resolves home
    )
    SELECT src, dst, count(*)::BIGINT AS n_links
    FROM e GROUP BY src, dst ORDER BY src, dst
    """,
)
def q_html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain link graph extracted from REAL rendered HTML (stdlib
    parser through the Arrow UDF), relative hrefs resolved against
    the page URL. Each planted page links to site{(id+1)%5}.com and
    to itself via a relative path — the oracle replays the closed
    form."""
    from ..operators.weblinks import link_graph

    html = F.concat(
        F.lit('<html><body><p>intro text</p><a href="https://site'),
        ((F.col("doc_id") + 1) % 5).cast("string"),
        F.lit('.com/x">out</a><a href="/rel/p">home</a></body></html>'),
    )
    pages = _docs(spark, sf_dir).select(
        "doc_id", _planted_url().alias("url"), html.alias("html"))
    return sorted_output(link_graph(pages), "src", "dst")


@_register(
    "anchor_text_mining",
    """
    WITH b AS (
      SELECT doc_id,
             'https://'
             || CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                ELSE '' END
             || 'site' || (doc_id % 5)::VARCHAR
             || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS origin,
             ((doc_id + 1) % 5)::VARCHAR AS k
      FROM documents
    )
    SELECT doc_id, target, anchor FROM (
      SELECT doc_id, 'https://site' || k || '.com/x' AS target,
             'go to site ' || k AS anchor, 0 AS ord
      FROM b
      UNION ALL
      SELECT doc_id, origin || '/rel/p', 'home page', 1 FROM b
    ) ORDER BY doc_id, ord
    """,
)
def q_anchor_text_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, target url, anchor text) pairs from REAL rendered HTML —
    the retrieval weak-supervision signal. Each planted page carries
    an absolute link with a known anchor and a relative link ('home
    page') that must resolve against the page's own origin; the
    oracle replays the closed form."""
    from ..operators.weblinks import anchor_text_pairs

    k = ((F.col("doc_id") + 1) % 5).cast("string")
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="https://site'), k,
        F.lit('.com/x">go to <b>site</b> '), k,
        F.lit('</a> and <a href="/rel/p"> home\n page </a></body></html>'),
    )
    pages = _docs(spark, sf_dir).select(
        "doc_id", _planted_url().alias("url"), html.alias("html"))
    return sorted_output(anchor_text_pairs(pages), "doc_id", "target")


@_register(
    "corpus_version_diff",
    """
    SELECT id, status FROM (
      SELECT doc_id AS id,
             CASE WHEN doc_id % 7 = 0 THEN 'removed'
                  WHEN doc_id % 5 = 1 THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, 'added'
      FROM documents WHERE doc_id % 11 = 0
    ) ORDER BY id
    """,
)
def q_corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release audit: content-hash diff between two corpus
    versions (added/removed/changed/unchanged). The new version is
    PLANTED from the old by doc_id arithmetic (drop %7, edit %5,
    append %11 under new ids), so the oracle is the closed-form
    status map while Spark runs the real two-sided hash join."""
    from ..operators.corpus_stats import corpus_diff

    old = _docs(spark, sf_dir)
    new = old.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 1,
               F.concat(F.col("text"), F.lit(" [edited]")))
        .otherwise(F.col("text")),
    ).unionByName(
        old.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" [new]")).alias("text"),
            *[c for c in old.columns if c not in ("doc_id", "text")])
        .select(old.columns)
    )
    return sorted_output(corpus_diff(old, new), "id")


@_register(
    "pdf_page_furniture_strip",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 300
    ),
    m AS (
      SELECT doc_id, ws, cast(ceil(len(ws) / 3.0) AS INT) AS m FROM d
    )
    SELECT doc_id::VARCHAR AS doc_id,
           'alpha ' || array_to_string(ws[1 : m], ' ') || chr(10) ||
           'beta '  || array_to_string(ws[m+1 : 2*m], ' ') || chr(10) ||
           'gamma ' || array_to_string(ws[2*m+1 : 3*m], ' ')
             AS extracted
    FROM m ORDER BY doc_id
    """,
)
def q_pdf_page_furniture_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real round trip: 3-page PDFs with planted running headers
    ('Synthetic Journal') and page-number footers ('Page k') → parser
    → positional repeated-line furniture strip → ONLY the per-page
    body lines survive (closed-form oracle). The body of page k is
    the k-th third of the words, marked alpha/beta/gamma so pages are
    never spuriously identical."""
    import pandas as pd

    from ..functions.pdf_text import make_simple_pdf
    from ..sources.pdf_ingest import pdf_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300").select(
        "doc_id", "text")

    def build(batches):
        markers = ("alpha", "beta", "gamma")
        for pdf in batches:
            blobs = []
            for t in pdf["text"]:
                ws = t.split(" ")
                m = -(-len(ws) // 3)
                pages = [
                    ["Synthetic Journal",
                     f"{markers[k]} " + " ".join(ws[k * m:(k + 1) * m]),
                     f"Page {k + 1}"]
                    for k in range(3)
                ]
                blobs.append(make_simple_pdf(pages))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str), "pdf": blobs})

    pdfs = docs.mapInPandas(build, "doc_id string, pdf binary")
    spans = pdf_to_spans(pdfs, strip_furniture=True)
    text = F.expr(
        "array_join(transform(array_sort(filter(spans, s -> s.kind = 'text'),"
        " (a, b) -> a.offset - b.offset), s -> s.text), '\\n')"
    )
    return sorted_output(
        spans.select("doc_id", text.alias("extracted")), "doc_id")


@_register(
    "inverted_index_postings",
    """
    WITH t AS (
      SELECT DISTINCT doc_id AS id, w AS term FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    r AS (
      SELECT term, id,
             row_number() OVER (PARTITION BY term ORDER BY id) AS rk,
             count(*) OVER (PARTITION BY term) AS n
      FROM t
    )
    SELECT term, any_value(n)::BIGINT AS n_docs,
           string_agg(CASE WHEN rk <= 20 THEN id::VARCHAR END,
                      ',' ORDER BY id) AS postings
    FROM r GROUP BY term ORDER BY term
    """,
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with BOUNDED posting lists (cap 20, so the
    synthetic stopword-like vocabulary exercises visible truncation:
    n_docs stays the true document frequency)."""
    from ..operators.search import inverted_index

    return sorted_output(
        inverted_index(_docs(spark, sf_dir), max_postings=20), "term")


@_register(
    "bm25_topk_search",
    """
    WITH w AS (
      SELECT doc_id AS id, w AS term FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    dl AS (SELECT id, count(*) AS dl FROM w GROUP BY id),
    s AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT id, term, count(*) AS tf FROM w
           WHERE term IN ('customer', 'query', 'fast')
           GROUP BY id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    p AS (
      SELECT tf.id,
             ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
               AS sc
      FROM tf JOIN dfq USING (term) JOIN dl USING (id) CROSS JOIN s
    )
    SELECT id AS doc_id, round(sum(sc), 6) AS score
    FROM p GROUP BY id ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def q_bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, Robertson idf) for a
    3-term query — the corpus-side search primitive for contamination
    review and topical slicing. The oracle replays the exact formula;
    top-k is per-partition heaps."""
    from ..operators.search import bm25_search

    return bm25_search(_docs(spark, sf_dir),
                       ["customer", "query", "fast"], k=20)


@_register(
    "token_budget_mixture",
    """
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(str_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             md5('mix|' || doc_id::VARCHAR) AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens FROM c
    WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1200
                 WHEN 'fr' THEN 600 END
    ORDER BY doc_id
    """,
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction by TOKEN budget per language stratum
    (en 3000 / de 1200 / fr 600 tokens; other strata dropped) —
    deterministic hash order, stratum-partitioned running sum, stable
    under repartitioning. The oracle replays the identical window."""
    from ..operators.sampling import sample_tokens_per_stratum

    return (
        sample_tokens_per_stratum(
            _docs(spark, sf_dir).select("doc_id", "lang", "text"),
            {"en": 3000, "de": 1200, "fr": 600})
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    )


@_register(
    "packed_training_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(text, ' '), w -> w <> '') AS ws,
             md5('pack|' || doc_id::VARCHAR) AS k
      FROM documents
    ),
    t2 AS (SELECT *, len(ws) AS nt FROM t WHERE len(ws) > 0),
    o AS (
      SELECT doc_id, ws, nt, k,
             coalesce(sum(nt) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start
      FROM t2
    ),
    p AS (
      SELECT u.win AS win, o.start,
             greatest(u.win * 512, o.start) - o.start AS a,
             least((u.win + 1) * 512, o.start + o.nt) - o.start AS b,
             o.ws
      FROM o, UNNEST(range((o.start // 512)::BIGINT,
                           ((o.start + o.nt - 1) // 512 + 1)::BIGINT))
               AS u(win)
    )
    SELECT win AS seq_id,
           count(*)::BIGINT AS n_docs,
           sum(b - a)::BIGINT AS n_tokens,
           string_agg(array_to_string(ws[a+1 : b], ' '),
                      ' ' ORDER BY start) AS seq_text,
           (sum(b - a) = 512)::INT AS complete
    FROM p GROUP BY win ORDER BY seq_id
    """,
)
def q_packed_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing into 512-token training sequences:
    deterministic hash order, two-pass partitioned prefix sum (no
    global sort), one shuffle by window id. The oracle replays the
    identical ordering/slicing with a plain SQL window."""
    from ..operators.sampling import pack_sequences

    return sorted_output(pack_sequences(_docs(spark, sf_dir), 512), "seq_id")


# The clean suffix and its UTF-8-read-as-Latin-1 corruption, computed
# (not source literals — the corrupted form contains control chars).
_MOJI_GOOD = " café “ok” fin"
_MOJI_BAD = _MOJI_GOOD.encode("utf-8").decode("latin-1")


@_register(
    "mojibake_repair",
    f"""
    SELECT doc_id,
           text || CASE WHEN doc_id % 2 = 0
                        THEN '{_MOJI_GOOD}' ELSE '' END AS text,
           (doc_id % 2 = 0)::INT AS repaired
    FROM documents ORDER BY doc_id
    """,
)
def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-style double-decode repair: half the corpus gains a
    PLANTED UTF-8-as-Latin-1 corrupted suffix; fix_mojibake must
    invert it exactly (guarded encode/decode round trip, pure JVM)
    while leaving clean documents byte-identical — the oracle states
    the repaired text in closed form."""
    from ..operators.text_metrics import fix_mojibake

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.col("text"), F.lit(_MOJI_BAD)))
        .otherwise(F.col("text")))
    return sorted_output(
        fix_mojibake(docs).select("doc_id", "text", "repaired"), "doc_id")


@_register(
    "inter_event_gaps",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    )
    SELECT user_id,
           count(gap_us)::BIGINT AS n_gaps,
           round(avg(gap_us / 1e6), 6) AS avg_gap_sec,
           round(max(gap_us / 1e6), 6) AS max_gap_sec
    FROM g GROUP BY user_id
    HAVING count(gap_us) > 0
    ORDER BY user_id
    """,
)
def q_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via lag() over the user's
    event-time order (event_id tie-break) — one shuffle on user_id,
    the window and the aggregate share it. TIMESTAMP_NTZ diffs via
    unix_micros (the cast-to-double trap)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gaps = ev.withColumn("_gap", F.col("_us") - F.lag("_us").over(w))
    return sorted_output(
        gaps.groupBy("user_id")
        .agg(F.count("_gap").cast("long").alias("n_gaps"),
             F.round(F.avg(F.col("_gap") / 1e6), 6).alias("avg_gap_sec"),
             F.round(F.max(F.col("_gap") / 1e6), 6).alias("max_gap_sec"))
        .where(F.col("n_gaps") > 0),
        "user_id")


@_register(
    "purchase_value_medians",
    """
    SELECT user_id,
           count(*)::BIGINT AS n_purchases,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id HAVING count(*) >= 3 ORDER BY user_id
    """,
)
def q_purchase_value_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group medians/percentiles (Spark percentile ==
    DuckDB quantile_cont, linear interpolation) — grouped aggregation,
    map-side partial, never a global sort."""
    ev = _events(spark, sf_dir).where("event_type = 'purchase'")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_purchases"),
             F.round(F.percentile("value", F.lit(0.5)), 6)
             .alias("median_value"),
             F.round(F.percentile("value", F.lit(0.9)), 6)
             .alias("p90_value"))
        .where(F.col("n_purchases") >= 3)
        .orderBy("user_id")
    )


@_register(
    "event_transition_matrix",
    """
    WITH s AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS dst
      FROM events
    ),
    c AS (
      SELECT src, dst, count(*) AS n FROM s
      WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n::BIGINT AS n,
           round(n / sum(n) OVER (PARTITION BY src), 6) AS p
    FROM c ORDER BY src, dst
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (behavior-model prep): lead() over the user partition,
    pair counts, row-normalized probabilities. The normalizing window
    partitions by src (bounded type vocabulary — never
    SinglePartition over data-scale rows)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    pairs = (
        ev.withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count("*").cast("long").alias("n"))
    )
    norm = Window.partitionBy("src")
    return sorted_output(
        pairs.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(norm), 6)),
        "src", "dst")


@_register(
    "registrable_domain_keying",
    """
    WITH u AS (
      SELECT doc_id, n_chars,
             CASE doc_id % 5
               WHEN 0 THEN 'shop' || (doc_id % 4)::VARCHAR || '.co.uk'
               WHEN 1 THEN 'www.news' || (doc_id % 4)::VARCHAR || '.com.au'
               WHEN 2 THEN 'docs' || (doc_id % 4)::VARCHAR || '.github.io'
               WHEN 3 THEN 'cdn.assets' || (doc_id % 4)::VARCHAR
                           || '.s3.amazonaws.com'
               ELSE 'www.plain' || (doc_id % 4)::VARCHAR || '.com'
             END AS host,
             CASE doc_id % 5
               WHEN 0 THEN 'shop' || (doc_id % 4)::VARCHAR || '.co.uk'
               WHEN 1 THEN 'news' || (doc_id % 4)::VARCHAR || '.com.au'
               WHEN 2 THEN 'docs' || (doc_id % 4)::VARCHAR || '.github.io'
               WHEN 3 THEN 'assets' || (doc_id % 4)::VARCHAR
                           || '.s3.amazonaws.com'
               ELSE 'plain' || (doc_id % 4)::VARCHAR || '.com'
             END AS domain
      FROM documents
    )
    SELECT domain,
           count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           round(avg(1.0), 6) AS avg_path_depth,
           round(avg(n_chars), 6) AS avg_chars
    FROM u GROUP BY domain ORDER BY domain
    """,
)
def q_registrable_domain_keying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-suffix-aware domain keying (VERDICT r5 #4): hosts under
    multi-label registries (`co.uk`, `com.au`), hosted platforms from
    the PSL private section (`github.io`), and a three-label suffix
    (`s3.amazonaws.com`) must each key by registrar-level site — the
    naive last-two-labels rule would collapse every `*.co.uk` site
    into one 'co.uk' domain. Spark runs the real regexp parser + InSet
    suffix lookup; the oracle states the registrable domain in closed
    form per planted host class."""
    from ..operators.weblinks import domain_stats

    host = F.concat(
        F.element_at(
            F.array(F.lit("shop"), F.lit("www.news"), F.lit("docs"),
                    F.lit("cdn.assets"), F.lit("www.plain")),
            (F.col("doc_id") % 5 + 1).cast("int")),
        (F.col("doc_id") % 4).cast("string"),
        F.element_at(
            F.array(F.lit(".co.uk"), F.lit(".com.au"), F.lit(".github.io"),
                    F.lit(".s3.amazonaws.com"), F.lit(".com")),
            (F.col("doc_id") % 5 + 1).cast("int")),
    )
    wu = _docs(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("https://"), host, F.lit("/page")))
    return sorted_output(domain_stats(wu), "domain")




@_register(
    "robots_disallow_filter",
    """
    SELECT doc_id,
           'site' || (doc_id % 5)::VARCHAR
             || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END AS host
    FROM documents
    WHERE CASE doc_id % 5
            WHEN 0 THEN (doc_id % 7) NOT IN (1, 2)
            WHEN 1 THEN (doc_id % 7) = 3
            WHEN 4 THEN (doc_id % 7) <> 4
            ELSE TRUE
          END
    ORDER BY doc_id
    """,
)
def q_robots_disallow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level robots.txt consent filter (RFC 9309 longest-match):
    five planted per-host policies exercise prefix rules, the $ end
    anchor, Allow-overrides-Disallow, agent-specific groups that do
    NOT apply to us, missing robots, and * wildcards. Spark runs the
    real parser (once per host) + JVM rlike/max_by; the oracle states
    the survivor set in doc_id arithmetic. Hosts carry both .com and
    .org forms so the join key is the full host, not the suffix."""
    from ..operators.weblinks import filter_robots_disallowed

    host = F.concat(
        F.lit("site"), (F.col("doc_id") % 5).cast("string"),
        F.element_at(F.array(F.lit(".com"), F.lit(".org")),
                     (F.col("doc_id") % 2 + 1).cast("int")))
    wu = _docs(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("https://"), host, F.lit("/p/"),
                        (F.col("doc_id") % 7).cast("string")))
    policies = {
        0: "User-agent: *\nDisallow: /p/1\nDisallow: /p/2$",
        1: "User-agent: *\nDisallow: /\nAllow: /p/3",
        2: "User-agent: otherbot\nDisallow: /",
        4: "User-agent: *\nDisallow: /p/*4",
    }
    robots = spark.createDataFrame(
        [("site%d%s" % (k, tld), txt)
         for k, txt in policies.items() for tld in (".com", ".org")],
        ["host", "robots_txt"])
    out = filter_robots_disallowed(wu, robots)
    return sorted_output(out.select(
        "doc_id",
        F.regexp_extract("url", "https://([^/]+)/", 1).alias("host"),
    ), "doc_id")


@_register(
    "crawl_frontier",
    f"""
    WITH u AS (
      SELECT {_PLANTED_URL_SQL} AS url,
             CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                  ELSE '' END
               || 'site' || (doc_id % 5)::VARCHAR
               || CASE doc_id % 2 WHEN 0 THEN '.com' ELSE '.org' END
               AS host,
             (doc_id % 11)::DOUBLE AS score
      FROM documents
    )
    SELECT url, host,
           CAST(floor((row_number() OVER (
               PARTITION BY host ORDER BY score DESC, url) - 1) / 2)
             AS INT) AS fetch_batch
    FROM u ORDER BY url, fetch_batch
    """,
)
def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-batched crawl schedule over the planted URL scaffold
    with PageRank-style priorities (doc_id % 11): at most 2 URLs per
    host per batch, higher scores first. Duplicate (url, score) rows
    may swap ranks between engines, but identical rows make the output
    multiset identical — the sorted-rows compare is rank-stable."""
    from ..operators.weblinks import crawl_frontier_batches

    docs = _docs(spark, sf_dir).select(
        _planted_url().alias("url"),
        (F.col("doc_id") % 11).cast("double").alias("score"),
    )
    return sorted_output(
        crawl_frontier_batches(docs, per_host_per_batch=2)
        .select("url", "host", "fetch_batch"),
        "url", "fetch_batch")
