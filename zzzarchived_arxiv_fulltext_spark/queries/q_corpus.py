"""Split from the original single-module battery (VERDICT r5 #7).

Imported by ``queries/__init__`` in registration order; every query
registers into the shared ``QUERIES``/``ORACLES`` dicts at import.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..materialize import sorted_output
from ._registry import ORACLES, QUERIES, _docs, _events, _register
from .q_textstats import _planted_ann_inputs  # noqa: E402
from .q_temporal import _NEAR_TAIL  # noqa: E402
from .q_textstats import _ANN_TOPK_ORACLE  # noqa: E402

__all__ = ["QUERIES", "ORACLES"]

# --------------------------------------------------------------------------
# Corpus statistics: exact distributed percentiles + vocabulary top-k
# --------------------------------------------------------------------------


@_register(
    "length_percentiles",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.9), 6) AS p90,
           round(quantile_cont(n_chars, 0.99), 6) AS p99,
           count(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact percentiles (linear interpolation — same definition as
    # quantile_cont), distributed via Spark's percentile aggregate
    pct = F.expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))")
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(pct.alias("p"), F.count("*").alias("n_docs"))
        .select(
            "lang",
            F.round(F.element_at("p", 1), 6).alias("p50"),
            F.round(F.element_at("p", 2), 6).alias("p90"),
            F.round(F.element_at("p", 3), 6).alias("p99"),
            "n_docs",
        )
    )


@_register(
    "vocab_top_tokens",
    """
    SELECT w AS token, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY freq DESC, token
    LIMIT 50
    """,
)
def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the vocabulary-building primitive: explode → partial-agg count →
    # global top-k (map-side combine keeps the shuffle at |vocab|,
    # not |tokens|)
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# PII redaction + context-window segmentation (corpus-prep operators)
# --------------------------------------------------------------------------

# synthetic PII header prepended to each doc (corpus text itself is
# PII-free, so positives are planted — same device as the
# expand_abbreviations query)
_PII_HEADER = (
    "Contact john.doe@example.com or https://ex.com/p?q=1 "
    "call +1 (555) 123-4567 ip 192.168.1.10 "
    "pay DE89370400440532013000 then "
)


def _pii_sql() -> str:
    from ..operators.redact import PII_PATTERNS

    src = f"'{_PII_HEADER}' || substr(text, 1, 60)"
    redacted = src
    counts, stage = [], src
    for name, pattern, repl in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({stage}, '{pattern}')) AS n_{name}"
        )
        stage = f"regexp_replace({stage}, '{pattern}', '{repl}', 'g')"
        redacted = f"regexp_replace({redacted}, '{pattern}', '{repl}', 'g')"
    return f"""
    SELECT doc_id, {redacted} AS redacted, {', '.join(counts)}
    FROM documents ORDER BY doc_id
    """


@_register("pii_redaction", _pii_sql())
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.redact import redact_pii

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(_PII_HEADER), F.substring("text", 1, 60))
        .alias("text"),
    )
    return redact_pii(docs)


@_register(
    "context_segments",
    """
    SELECT doc_id, k AS seg_id,
           array_to_string(ws[k*32+1 : k*32+48], ' ') AS seg_text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         UNNEST(range(0, greatest(cast(ceil((len(ws) - 48) / 32.0) AS INT)
                                  + 1, 1))) AS t(k)
    ORDER BY doc_id, seg_id
    """,
)
def q_context_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.redact import segment_tokens

    return segment_tokens(_docs(spark, sf_dir), max_tokens=48, stride=32)


# --------------------------------------------------------------------------
# Raw-document ingestion, oracle-checked end-to-end. Both queries
# synthesize real raw documents (valid PDFs / full HTML pages) from
# documents.text, run the actual parser stage, and must recover the
# 12-word-chunk structure exactly — which is closed-form SQL.
# --------------------------------------------------------------------------

# chunks of 12 words joined by newline — the shared recovery target
_CHUNKED_TEXT_SQL = """
    SELECT doc_id::VARCHAR AS doc_id,
           array_to_string(
             list_transform(
               range(0, greatest(cast(ceil(len(ws) / 12.0) AS INT), 1)),
               k -> array_to_string(ws[k*12+1 : k*12+12], ' ')),
             chr(10)) AS extracted
    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE doc_id < 300)
    ORDER BY doc_id
    """


def _chunked(text: str, n: int = 12) -> list:
    ws = text.split(" ")
    return [" ".join(ws[k * n:(k + 1) * n])
            for k in range(max(-(-len(ws) // n), 1))]


@_register("pdf_text_extraction", _CHUNKED_TEXT_SQL)
def q_pdf_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real round trip: text → valid Flate-compressed PDF bytes →
    stdlib content-stream parser → span table → reassembled text."""
    import pandas as pd

    from ..functions.pdf_text import make_simple_pdf
    from ..sources.pdf_ingest import pdf_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300").select("doc_id", "text")

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "pdf": [make_simple_pdf([_chunked(t)]) for t in pdf["text"]],
            })

    pdfs = docs.mapInPandas(build, "doc_id string, pdf binary")
    spans = pdf_to_spans(pdfs)
    text = F.expr(
        "array_join(transform(array_sort(filter(spans, s -> s.kind = 'text'),"
        " (a, b) -> a.offset - b.offset), s -> s.text), '\\n')"
    )
    return spans.select("doc_id", text.alias("extracted"))


@_register("ps_text_extraction", _CHUNKED_TEXT_SQL)
def q_ps_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real round trip for the PostScript half of the PDF/PS charter:
    text → DSC-conformant PS bytes (moveto/show stream, octal-escaped
    UTF-8) → tokenizer-level interpreter → span table → reassembled
    text. Same closed-form oracle as the PDF twin: both parsers must
    recover the identical 12-word-chunked line structure."""
    import pandas as pd

    from ..functions.ps_text import make_simple_ps
    from ..sources.ps_ingest import ps_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300").select("doc_id", "text")

    def build(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"].astype(str),
                "ps": [make_simple_ps([_chunked(t)]) for t in b["text"]],
            })

    files = docs.mapInPandas(build, "doc_id string, ps binary")
    spans = ps_to_spans(files)
    text = F.expr(
        "array_join(transform(array_sort(filter(spans, s -> s.kind = 'text'),"
        " (a, b) -> a.offset - b.offset), s -> s.text), '\\n')"
    )
    return spans.select("doc_id", text.alias("extracted"))


@_register("tex_text_extraction", _CHUNKED_TEXT_SQL)
def q_tex_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real round trip for LaTeX source ingestion (arXiv's native
    format): text → full .tex document with planted droppable markup
    (comments, display/inline math, cite/ref machinery, a figure
    environment) → detex pipeline → routed span table → reassembly.
    The closed form is the same 12-word chunking the PDF/PS/HTML
    round trips share — all four format parsers must recover the
    identical line structure from their own markup."""
    import pandas as pd

    from ..functions.tex_text import make_simple_tex
    from ..sources.ingest_router import raw_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300").select("doc_id", "text")

    def build(batches):
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"].astype(str),
                "payload": [make_simple_tex(_chunked(t)).encode()
                            for t in b["text"]],
            })

    files = docs.mapInPandas(build, "doc_id string, payload binary")
    routed = raw_to_spans(files)
    text = F.expr(
        "array_join(transform(array_sort(filter(spans, s -> s.kind = 'text'),"
        " (a, b) -> a.offset - b.offset), s -> s.text), '\\n')"
    )
    return routed.select("doc_id", text.alias("extracted"))


_HTML_HEAD = (
    "<html><head><title>doc</title><style>p{margin:0}</style></head><body>"
    "<header><h1>Synthetic Corpus</h1></header>"
    "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav><main>"
)
_HTML_TAIL = (
    "</main><div><a href=\"/r1\">related one</a> "
    "<a href=\"/r2\">related two</a></div>"
    "<footer>generated page</footer>"
    "<script>console.log('x')</script></body></html>"
)


@_register("html_main_content", _CHUNKED_TEXT_SQL)
def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real round trip: text → full HTML page (nav/header/footer/link
    farm/script boilerplate) → DOM-heuristic main-content extractor →
    the content paragraphs, exactly."""
    from ..sources.html_ingest import html_main_text

    docs = _docs(spark, sf_dir).where("doc_id < 300").select(
        "doc_id",
        # alias-projected split (see dedup.word_shingles: a split
        # inlined into the transform lambda re-splits per chunk)
        F.split("text", " ").alias("_words"),
    )
    words = F.col("_words")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(12)).cast("int"), F.lit(1)
    )
    paras = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(words, k * 12 + 1, 12), " "),
                F.lit("</p>"),
            ),
        ),
        F.lit(""),
        lambda acc, x: F.concat(acc, x),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit(_HTML_HEAD), paras, F.lit(_HTML_TAIL)).alias("html"),
    )
    return html_main_text(pages).select(
        "doc_id", F.col("text").alias("extracted")
    )


# --------------------------------------------------------------------------
# Watermarked windowed aggregation — batch form of the streaming
# operator (streaming/windowed_metrics.py shares this exact plan); the
# batch==stream parity pytest covers the watermark path.
# --------------------------------------------------------------------------


@_register(
    "windowed_event_metrics",
    """
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start_epoch,
           epoch(date_trunc('hour', ts))::BIGINT + 3600 AS window_end_epoch,
           event_type,
           count(*) AS n_events,
           sum(value)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY window_start_epoch, event_type
    """,
)
def q_windowed_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windowed_metrics import windowed_event_metrics

    m = windowed_event_metrics(_events(spark, sf_dir))
    return m.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        F.unix_timestamp("window_end").alias("window_end_epoch"),
        "event_type", "n_events", "total_value",
    )


# --------------------------------------------------------------------------
# Sessionization (batch oracle form of the stateful streaming operator)
# --------------------------------------------------------------------------


@_register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTES THEN 1
                  ELSE 0 END AS nw
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
      FROM flagged
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us,
           count(*) AS n_events,
           sum(value)::DOUBLE AS total_value
    FROM sid GROUP BY user_id, s
    ORDER BY user_id, session_start_us
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sessionize import sessionize_batch

    return sessionize_batch(_events(spark, sf_dir), gap_minutes=30).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "total_value",
    )


# --------------------------------------------------------------------------
# Relational completeness: top-k, set operations, rollup
# --------------------------------------------------------------------------


@_register(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice::DOUBLE AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey",
                F.col("o_totalprice").cast("double").alias("total"))
        .limit(10)
    )


@_register(
    "purchasers_without_errors",
    """
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND value > 190
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'error' AND value > 190
    ORDER BY user_id
    """,
)
def q_purchasers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    buyers = ev.where("event_type = 'purchase' AND value > 190"
                      ).select("user_id")
    erring = ev.where("event_type = 'error' AND value > 190"
                      ).select("user_id")
    return buyers.subtract(erring)  # EXCEPT (set semantics)


@_register(
    "engaged_buyers",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'click'
    ORDER BY user_id
    """,
)
def q_engaged_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.where("event_type = 'purchase'").select("user_id")
        .intersect(ev.where("event_type = 'click'").select("user_id"))
    )


@_register(
    "pricing_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           sum(l_quantity)::BIGINT AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty", "n",
        )
    )


@_register("ivf_topk", _ANN_TOPK_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same planted-duplicate contract as ann_topk_lsh: identical
    # vectors share a nearest centroid, the query's own cluster is
    # always probe #1, so IVF top-3 == brute-force top-3.
    #
    # Train-once/serve-many (VERDICT r4 #7): the quantizer is COMMITTED
    # to a per-sf snapshot table on first use; later calls load k×dim
    # instead of re-running Lloyd passes. Results are identical either
    # way (training is deterministic), so the oracle is unchanged.
    import hashlib
    import os

    from ..plans.ivf_index import ivf_topk_indexed
    from ..sources.tables import SnapshotTable

    corpus, queries = _planted_ann_inputs(spark, sf_dir)
    # Cache key = content fingerprint of the embeddings parquet dir
    # (names+sizes+mtimes — regenerated testdata at the same path gets
    # a FRESH key, never stale centroids) + pid (no cross-process
    # manifest races on SnapshotTable's unlocked read-modify-write),
    # under the per-user warehouse dir (not world-shared /tmp). Within
    # one process the train-once/serve-many reuse still holds.
    emb_dir = os.path.join(sf_dir, "embeddings.parquet")
    try:
        stat = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                      for e in os.scandir(emb_dir))
    except OSError:
        stat = []
    fp = hashlib.md5(repr((sf_dir, stat)).encode()).hexdigest()[:12]
    cache = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "ivf_cache", "%s_%d" % (fp, os.getpid()))
    return ivf_topk_indexed(
        spark, corpus, queries, SnapshotTable(cache), k=3, n_probes=3,
        n_centroids=8, iterations=2, sample_fraction=0.5)


# --------------------------------------------------------------------------
# Flagship pipeline, oracle-checked: on the span-ized documents corpus
# (single-line ASCII, quality gate always passes via 'primary'), every
# output metric is a closed-form function of the source text — so the
# ENTIRE extraction pipeline (sort → UDF → reassembly → metrics) gets
# driver-verified value equality, not just a rows-only check.
# --------------------------------------------------------------------------


@_register(
    "span_extraction_metrics",
    """
    SELECT doc_id::VARCHAR AS doc_id,
           'succeeded' AS status,
           'primary' AS via,
           length(text)::BIGINT AS chars_extracted,
           greatest(cast(ceil(len(string_split(text, ' ')) / 12.0) AS INT), 1)
             AS n_text_spans,
           1 AS n_media_spans
    FROM documents ORDER BY doc_id
    """,
)
def q_span_extraction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.span_extract import extract_documents
    from ..sources.spanize import spanized_documents

    return extract_documents(spanized_documents(_docs(spark, sf_dir))).select(
        "doc_id", "status", "via", "chars_extracted",
        "n_text_spans", "n_media_spans",
    )


# --------------------------------------------------------------------------
# Full MinHash near-dup pipeline with exact-Jaccard verification,
# oracle-checked end-to-end (md5 hash family is engine-portable).
# --------------------------------------------------------------------------


def _near_dup_sql(threshold: float = 0.4, hashes: int = 8,
                  bands: int = 4) -> str:
    rows = hashes // bands
    mins = ", ".join(f"min(md5('{s}|' || shingle)) AS h{s}"
                     for s in range(hashes))
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({cols}) AS bucket FROM sig".format(
            b=b,
            cols=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 200
    ),
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
    )
    SELECT i.id_a, i.id_b,
           i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {threshold}
    ORDER BY id_a, id_b
    """


@_register("near_duplicates_minhash_full", _near_dup_sql())
def q_near_duplicates_minhash_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_duplicates_minhash

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    return near_duplicates_minhash(docs, threshold=0.4, num_hashes=8, bands=4)


# --------------------------------------------------------------------------
# Corpus-dedup keep-list (plans/dedup_job.py): planted duplicate
# clusters (exact copy at +10000, tail-modified near-dup at +20000 of
# each doc_id < 10) make the label-propagation fixpoint closed-form.
# The oracle simulates the SAME minhash pipeline in SQL (so any
# incidental base-doc pairs are captured identically) and unrolls
# min-label propagation 6 rounds — far beyond the planted diameter.
# --------------------------------------------------------------------------

_KEEP_CORPUS_SQL = f"""
      SELECT doc_id, text FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT doc_id + 20000, text || '{_NEAR_TAIL}'
      FROM documents WHERE doc_id < 10
"""


def _keep_list_sql(threshold: float = 0.5, hashes: int = 16,
                   bands: int = 4, rounds: int = 6) -> str:
    rows = hashes // bands
    mins = ", ".join(f"min(md5('{s}|' || shingle)) AS h{s}"
                     for s in range(hashes))
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({cols}) AS bucket FROM sig".format(
            b=b,
            cols=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    prop = ""
    for k in range(1, rounds + 1):
        prop += f""",
    l{k} AS (
      SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label
      FROM l{k - 1} l
      LEFT JOIN e ON e.src = l.id
      LEFT JOIN l{k - 1} n ON n.id = e.dst
      GROUP BY l.id, l.label
    )"""
    return f"""
    WITH c AS ({_KEEP_CORPUS_SQL}),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM c),
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
      JOIN cand x ON x.id_a = a.id AND x.id_b = b.id
      GROUP BY a.id, b.id
    ),
    pairs AS (
      SELECT i.id_a, i.id_b FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {threshold}
    ),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l0 AS (SELECT doc_id AS id, doc_id AS label FROM c){prop}
    SELECT id, id = label AS keep, label AS cluster
    FROM l{rounds} ORDER BY id
    """


@_register("dedup_keep_list", _keep_list_sql())
def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.dedup_job import connected_keep_list, duplicate_pairs

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 10).select(
        "doc_id", "text")
    corpus = (
        docs
        .unionByName(docs.select((F.col("doc_id") + 10000).alias("doc_id"),
                                 "text"))
        .unionByName(docs.select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat("text", F.lit(_NEAR_TAIL)).alias("text")))
    )
    pairs = duplicate_pairs(corpus, threshold=0.5)
    return connected_keep_list(pairs, corpus)




# --------------------------------------------------------------------------
# Interleaved media ingestion (BASELINE.json payload shape): images at
# true document positions, round-tripped through the real parsers.
# --------------------------------------------------------------------------

@_register(
    "html_interleaved_spans",
    """
    WITH t AS (
      SELECT doc_id,
             greatest(cast(ceil(len(string_split(text, ' ')) / 10.0)
                           AS BIGINT), 1) AS n_par
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, n_par AS n_text_spans, 1::BIGINT AS n_media_spans,
           least(doc_id % 3, n_par - 1)::BIGINT AS media_offset,
           1 AS text_ok
    FROM t ORDER BY doc_id
    """,
)
def q_html_interleaved_spans(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Real-parser round trip for INTERLEAVED web documents: each
    doc becomes a full HTML page (boilerplate nav dropped by the
    extractor, nav logo included) whose body is 10-word paragraphs
    with one content image planted before paragraph (doc_id % 3);
    ``html_to_spans`` must recover the text blocks AND the media span
    at exactly that offset."""
    import pandas as pd

    from ..sources.html_ingest import html_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300") \
        .select("doc_id", "text")

    def build(batches):
        for b in batches:
            htmls = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                pars = _chunked(text, 10)
                j = min(int(doc_id) % 3, len(pars) - 1)
                body = []
                for k, par in enumerate(pars):
                    if k == j:
                        body.append(f"<img src='img://{doc_id}/0'>")
                    body.append(f"<p>{par}</p>")
                htmls.append(
                    "<html><head><title>t</title></head><body>"
                    "<nav><a href='/'>Home</a><img src='nav.png'></nav>"
                    "<main>" + "".join(body) + "</main>"
                    "<footer>gen</footer></body></html>")
            yield pd.DataFrame({"doc_id": b["doc_id"], "html": htmls})

    raw = docs.mapInPandas(build, schema="doc_id long, html string")
    spans = html_to_spans(
        raw.select(F.col("doc_id").cast("string").alias("doc_id"),
                   "html")
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "spans")
    texts = F.expr(
        "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)")
    media = F.expr("filter(spans, s -> s.kind = 'media')")
    return sorted_output(
        spans.join(docs, on="doc_id")
        .select(
            "doc_id",
            F.size(texts).cast("long").alias("n_text_spans"),
            F.size(media).cast("long").alias("n_media_spans"),
            F.element_at(media, 1)["offset"].cast("long")
            .alias("media_offset"),
            (F.array_join(texts, " ") == F.col("text"))
            .cast("int").alias("text_ok"),
        ),
        "doc_id")


@_register(
    "pdf_interleaved_spans",
    """
    SELECT doc_id,
           'text' || repeat(',media', (doc_id % 2)::INT) || ',text'
             || CASE WHEN doc_id % 3 = 0 THEN ',media' ELSE '' END
             AS kinds_sig,
           (doc_id % 2
            + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_media_spans,
           1 AS text_ok
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def q_pdf_interleaved_spans(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Real-parser round trip for INTERLEAVED PDFs: two-page files
    with (doc_id % 2) images on page one and one more on page two
    when doc_id % 3 = 0; ``pdf_to_spans`` must emit each image at its
    page's position (page-tree /Kids + /Resources /XObject
    resolution), never just appended at the end."""
    import pandas as pd

    from ..functions.pdf_text import make_simple_pdf
    from ..sources.pdf_ingest import pdf_to_spans

    docs = _docs(spark, sf_dir).where("doc_id < 300") \
        .select("doc_id", "text")

    def build(batches):
        for b in batches:
            pdfs, expected = [], []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                lines = _chunked(text)
                pdfs.append(make_simple_pdf(
                    [lines, ["tail page marker"]],
                    images_per_page=[int(doc_id) % 2,
                                     1 if int(doc_id) % 3 == 0 else 0]))
                expected.append("\n".join(lines) + "\ntail page marker")
            yield pd.DataFrame({"doc_id": b["doc_id"], "pdf": pdfs,
                                "expected": expected})

    raw = docs.mapInPandas(
        build, schema="doc_id long, pdf binary, expected string")
    spans = pdf_to_spans(
        raw.select(F.col("doc_id").cast("string").alias("doc_id"), "pdf"))
    texts = F.expr(
        "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)")
    return sorted_output(
        spans.select(F.col("doc_id").cast("long").alias("doc_id"), "spans")
        .join(raw.select("doc_id", "expected"), on="doc_id")
        .select(
            "doc_id",
            F.array_join(
                F.transform("spans", lambda s: s["kind"]), ",")
            .alias("kinds_sig"),
            F.expr("size(filter(spans, s -> s.kind = 'media'))")
            .cast("long").alias("n_media_spans"),
            (F.array_join(texts, "\n") == F.col("expected"))
            .cast("int").alias("text_ok"),
        ),
        "doc_id")


# --------------------------------------------------------------------------
# Caption-context mining over a deterministically-built interleaved
# span table (media planted between known paragraphs)
# --------------------------------------------------------------------------

@_register(
    "media_caption_contexts",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    p AS (SELECT doc_id, w,
                 greatest(cast(ceil(len(w) / 10.0) AS BIGINT), 1)
                   AS n_par
          FROM t),
    m AS (SELECT doc_id, w, n_par, k
          FROM p, UNNEST(range(0, n_par)) AS u(k)
          WHERE k % 3 = doc_id % 3)
    SELECT doc_id,
           'img://' || doc_id::VARCHAR || '/' || k::VARCHAR AS media_ref,
           (2 * k + 1)::BIGINT AS media_offset,
           array_to_string(w[k * 10 + 1:k * 10 + 10], ' ')
             AS text_before,
           CASE WHEN k + 1 < n_par
                THEN array_to_string(
                       w[(k + 1) * 10 + 1:(k + 1) * 10 + 10], ' ')
                END AS text_after
    FROM m ORDER BY doc_id, media_offset
    """,
)
def q_media_caption_contexts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Caption-candidate mining on the interleaved payload: every doc
    is decomposed into 10-word text paragraphs with one media span
    planted after paragraph k for each k ≡ doc_id (mod 3); the
    operator must pair each media span with its true neighbours
    (previous paragraph / next paragraph, NULL past the last)."""
    from ..operators.span_extract import media_caption_contexts

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("_w"))
    n_par = "int(greatest(ceil(size(_w) / 10.0), 1))"
    spans = F.expr(f"""
      flatten(transform(sequence(0, {n_par} - 1), k ->
        if(k % 3 = int(doc_id % 3),
           array(
             named_struct('kind', 'text',
               'text', array_join(slice(_w, k * 10 + 1, 10), ' '),
               'media_ref', cast(null as string),
               'offset', 2 * k),
             named_struct('kind', 'media',
               'text', cast(null as string),
               'media_ref', concat('img://', cast(doc_id as string),
                                   '/', cast(k as string)),
               'offset', 2 * k + 1)),
           array(named_struct('kind', 'text',
               'text', array_join(slice(_w, k * 10 + 1, 10), ' '),
               'media_ref', cast(null as string),
               'offset', 2 * k)))))
    """)
    built = docs.select("doc_id", spans.alias("spans"))
    return sorted_output(
        media_caption_contexts(built)
        .select(
            "doc_id", "media_ref",
            F.col("media_offset").cast("long").alias("media_offset"),
            "text_before", "text_after",
        ),
        "doc_id", "media_offset")


@_register(
    "media_boilerplate_filter",
    """
    WITH t AS (
      SELECT doc_id,
             greatest(cast(ceil(len(string_split(text, ' ')) / 10.0)
                           AS BIGINT), 1) AS n_par
      FROM documents
    )
    SELECT doc_id,
           (n_par + 1)::BIGINT AS n_spans,
           (1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_media_dropped,
           'img://' || doc_id::VARCHAR || '/u' AS kept_media_ref,
           1 AS text_ok
    FROM t ORDER BY doc_id
    """,
)
def q_media_boilerplate_filter(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Boilerplate-media dedup on the interleaved payload: every doc
    carries a shared logo ref (corpus-wide boilerplate), every 5th doc
    one of two group-shared refs (also boilerplate at min_docs=2), and
    one unique ref that must survive; text spans and their order must
    pass through untouched."""
    from ..operators.span_extract import drop_boilerplate_media

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("_w"))
    n_par = "int(greatest(ceil(size(_w) / 10.0), 1))"
    spans = F.expr(f"""
      concat(
        flatten(transform(sequence(0, {n_par} - 1), k ->
          array(named_struct('kind', 'text',
            'text', array_join(slice(_w, k * 10 + 1, 10), ' '),
            'media_ref', cast(null as string),
            'offset', 2 * k)))),
        array(named_struct('kind', 'media',
            'text', cast(null as string),
            'media_ref', 'img://logo/site',
            'offset', 1)),
        if(doc_id % 5 = 0,
           array(named_struct('kind', 'media',
             'text', cast(null as string),
             'media_ref', concat('img://shared/',
                                 cast(doc_id % 2 as string)),
             'offset', 3)),
           cast(array() as array<struct<kind:string,text:string,
                                        media_ref:string,offset:int>>)),
        array(named_struct('kind', 'media',
            'text', cast(null as string),
            'media_ref', concat('img://', cast(doc_id as string), '/u'),
            'offset', 2 * {n_par} + 1)))
    """)
    built = docs.select("doc_id", spans.alias("spans"))
    out = drop_boilerplate_media(built, min_docs=2)
    texts = F.expr(
        "transform(filter(spans, s -> s.kind = 'text'), s -> s.text)")
    media_refs = F.expr(
        "transform(filter(spans, s -> s.kind = 'media'), s -> s.media_ref)")
    return sorted_output(
        out.join(docs, on="doc_id")
        .select(
            "doc_id",
            F.col("n_spans"),
            F.col("n_media_dropped"),
            F.element_at(media_refs, 1).alias("kept_media_ref"),
            (F.array_join(texts, " ") == F.array_join("_w", " "))
            .cast("int").alias("text_ok"),
        ),
        "doc_id")


@_register(
    "span_extraction_diff",
    """
    WITH t AS (
      SELECT doc_id,
             greatest(cast(ceil(len(string_split(text, ' ')) / 10.0)
                           AS BIGINT), 1) AS n_par,
             doc_id % 11 = 0 AS only_old,
             doc_id % 11 <> 0 AND doc_id % 13 = 0 AS only_new,
             doc_id % 3 = 0 AS m3,
             doc_id % 5 = 0 AS m5
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN only_old THEN 'only_old'
                WHEN only_new THEN 'only_new'
                WHEN m3 OR m5 THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN only_new THEN 0 ELSE n_par + 1 END AS n_spans_old,
           CASE WHEN only_old THEN 0
                ELSE n_par + 1 - CASE WHEN m5 THEN 1 ELSE 0 END
             END AS n_spans_new,
           CASE WHEN only_old OR only_new THEN 0
                WHEN m3 THEN 0
                WHEN m5 THEN n_par
                ELSE n_par + 1 END AS common_prefix,
           CASE WHEN only_old OR only_new THEN 0
                ELSE n_par + 1 - CASE WHEN m3 THEN 1 ELSE 0 END
                             - CASE WHEN m5 THEN 1 ELSE 0 END
             END AS n_common,
           CASE WHEN only_old THEN 0
                WHEN only_new THEN
                  n_par + 1 - CASE WHEN m5 THEN 1 ELSE 0 END
                WHEN m3 THEN 1 ELSE 0 END AS n_added,
           CASE WHEN only_new THEN 0
                WHEN only_old THEN n_par + 1
                ELSE CASE WHEN m3 THEN 1 ELSE 0 END
                     + CASE WHEN m5 THEN 1 ELSE 0 END
             END AS n_removed,
           CASE WHEN only_old OR only_new OR m3 THEN 1 ELSE 0 END
             AS text_changed
    FROM t ORDER BY doc_id
    """,
)
def q_span_extraction_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-extraction diff monitor on planted snapshot pairs: every doc
    becomes chunked text spans (index-prefixed, so chunks are unique
    within a doc) + one trailing media span; the 'new' snapshot
    mutates the first chunk on every 3rd doc, drops the media span on
    every 5th, omits every 11th (only_old) and the 'old' snapshot
    omits every 13th (only_new). Offsets in 'new' are shifted to prove
    renumbering alone never reads as a change."""
    from ..operators.span_extract import span_extraction_diff

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("_w"))
    n_par = "int(greatest(ceil(size(_w) / 10.0), 1))"

    def spans(mutate_first: str, drop_media: str, off_shift: int):
        return F.expr(f"""
          concat(
            flatten(transform(sequence(0, {n_par} - 1), k ->
              array(named_struct('kind', 'text',
                'text', concat(cast(k as string), ':',
                  array_join(slice(_w, k * 10 + 1, 10), ' '),
                  if(k = 0 and {mutate_first}, ' XQZ', '')),
                'media_ref', cast(null as string),
                'offset', k + {off_shift})))),
            if({drop_media},
               cast(array() as array<struct<kind:string,text:string,
                                            media_ref:string,offset:int>>),
               array(named_struct('kind', 'media',
                 'text', cast(null as string),
                 'media_ref', concat('img://', cast(doc_id as string)),
                 'offset', {n_par} + {off_shift}))))
        """)

    old = (docs.where((F.col("doc_id") % 11 == 0)
                      | (F.col("doc_id") % 13 != 0))
           .select("doc_id",
                   spans("false", "false", 0).alias("spans")))
    new = (docs.where(F.col("doc_id") % 11 != 0)
           .select("doc_id",
                   spans("doc_id % 3 = 0", "doc_id % 5 = 0", 100)
                   .alias("spans")))
    return sorted_output(
        span_extraction_diff(old, new)
        .select(
            "doc_id", "status", "n_spans_old", "n_spans_new",
            "common_prefix", "n_common", "n_added", "n_removed",
            F.col("text_changed").cast("int").alias("text_changed"),
        ),
        "doc_id")


@_register(
    "span_integrity_audit",
    """
    WITH c AS (SELECT doc_id % 6 AS cls FROM documents)
    SELECT * FROM (
      SELECT 'offsets_not_dense' AS violation,
             (SELECT count(*) FROM c WHERE cls = 1)::BIGINT AS n_docs
      UNION ALL SELECT 'bad_text_span',
             (SELECT count(*) FROM c WHERE cls = 2)::BIGINT
      UNION ALL SELECT 'bad_media_span',
             (SELECT count(*) FROM c WHERE cls = 3)::BIGINT
      UNION ALL SELECT 'unknown_kind',
             (SELECT count(*) FROM c WHERE cls = 4)::BIGINT
      UNION ALL SELECT 'empty_spans',
             (SELECT count(*) FROM c WHERE cls = 5)::BIGINT
      UNION ALL SELECT 'clean',
             (SELECT count(*) FROM c WHERE cls = 0)::BIGINT
    ) ORDER BY violation
    """,
)
def q_span_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (kind, text, media_ref, order) invariant auditor on planted
    violations: doc_id % 6 selects exactly one violation class (or
    clean), so every class count has a closed form while the real
    array-lambda flag logic runs against genuine span structs."""
    from ..operators.span_audit import span_integrity_report

    span_t = ("array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    spans = F.expr(f"""
      CASE CAST(doc_id % 6 AS INT)
        WHEN 1 THEN array(
          named_struct('kind','text','text',text,
                       'media_ref',CAST(NULL AS STRING),'offset',0),
          named_struct('kind','media','text',CAST(NULL AS STRING),
                       'media_ref','m://a','offset',2))
        WHEN 2 THEN array(
          named_struct('kind','text','text',text,
                       'media_ref','m://leak','offset',0))
        WHEN 3 THEN array(
          named_struct('kind','media','text','leaked text',
                       'media_ref','m://b','offset',0))
        WHEN 4 THEN array(
          named_struct('kind','blob','text',text,
                       'media_ref',CAST(NULL AS STRING),'offset',0))
        WHEN 5 THEN CAST(array() AS {span_t})
        ELSE array(
          named_struct('kind','text','text',text,
                       'media_ref',CAST(NULL AS STRING),'offset',0),
          named_struct('kind','media','text',CAST(NULL AS STRING),
                       'media_ref','m://c','offset',1))
      END
    """)
    planted = _docs(spark, sf_dir).select("doc_id", spans.alias("spans"))
    return span_integrity_report(planted).orderBy("violation")


@_register(
    "quality_keep_list",
    """
    WITH c AS (
      SELECT doc_id, (doc_id // 10) * 10 AS cluster,
             (doc_id * 7) % 13 AS score
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id AS id, cluster, score,
           CASE WHEN row_number() OVER (
                  PARTITION BY cluster
                  ORDER BY score DESC, doc_id) = 1
                THEN 1 ELSE 0 END AS keep
    FROM c ORDER BY id
    """,
)
def q_quality_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper election on planted decade star-clusters
    (each base doc pairs with its 9 followers) with closed-form scores
    (doc_id*7 % 13): the label-propagation fixpoint must find the
    decade clusters and the argmax must keep the best-scored member,
    ties to the lowest id — exactly the oracle's window."""
    from ..plans.dedup_job import quality_keep_list

    docs = _docs(spark, sf_dir).where("doc_id < 50").select(
        "doc_id", ((F.col("doc_id") * 7) % 13).alias("score"))
    pairs = docs.where(F.col("doc_id") % 10 != 0).select(
        (F.col("doc_id") - F.col("doc_id") % 10).alias("id_a"),
        F.col("doc_id").alias("id_b"))
    return sorted_output(quality_keep_list(pairs, docs, "score"), "id")
