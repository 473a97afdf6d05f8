"""The extraction operator: Arrow-batched pandas UDF over span arrays.

This is the engine's single JVM→Python crossing for the hot path
(SURVEY.md §2.6). The crossing is kept as thin as possible:

- Only the ORDERED TEXT STRINGS of each document cross into Python
  (``array<string>``). Media spans, offsets and the struct scaffolding
  never leave the JVM — Arrow list<struct> conversion materializes a
  Python dict per span and measurably saturates memory bandwidth at
  high core counts, while list<string> is a flat buffer copy.
- The output span sequence is reassembled JVM-side with a linear
  ``aggregate`` fold that zips cleaned texts back into the
  offset-sorted span list (media passthrough, order = position).

Reference analogue: the per-document Celery task body
(``fulltext/extract.py:194-230``) and the extractor fallback ladder
(``extractor/fulltext/fulltext.py:136-178``), collapsed into one
DataFrame stage.
"""

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import EXTRACTOR_VERSION
from ..functions.extract import (
    FAILURE_QUALITY_GATE,
    STATUS_FAILED,
    STATUS_SUCCEEDED,
    VIA_LAYOUT_RETRY,
    VIA_NONE,
    VIA_PRIMARY,
    _clean_primary,
    _clean_retry,
)
from ..functions.psv import normalize_text_psv
from ..functions.quality import MAX_AVG_WORD_LENGTH, average_word_length
from ..schema import DEFAULT_BUCKET

# Struct returned per document by the thin UDF: cleaned text spans
# (original text echoed back when the quality gate fails) + doc-level
# outputs. Everything span-structural stays JVM-side.
_TEXT_RESULT = T.StructType(
    [
        T.StructField("texts", T.ArrayType(T.StringType()), False),
        T.StructField("plain_text", T.StringType(), True),
        T.StructField("psv_text", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("failure_class", T.StringType(), True),
        T.StructField("via", T.StringType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
    ]
)


def _extract_texts(texts) -> dict:
    """Per-document decision tree over the ordered text-span strings.

    Identical semantics to ``functions.extract.extract_document`` —
    same helpers, same gate, same fallback — operating on the text
    list the JVM already ordered by offset.
    """
    raw = list(texts)
    primary = [_clean_primary(t or "") for t in raw]
    chosen, via, failure = primary, VIA_PRIMARY, None
    if average_word_length("\n".join(primary)) > MAX_AVG_WORD_LENGTH:
        retry = [_clean_retry(t or "") for t in raw]
        if average_word_length("\n".join(retry)) > MAX_AVG_WORD_LENGTH:
            chosen, via, failure = None, VIA_NONE, FAILURE_QUALITY_GATE
        else:
            chosen, via = retry, VIA_LAYOUT_RETRY

    if chosen is not None:
        plain = "\n".join(chosen)
        return {
            "texts": chosen,
            "plain_text": plain,
            "psv_text": normalize_text_psv(plain),
            "status": STATUS_SUCCEEDED,
            "failure_class": None,
            "via": via,
            "chars_extracted": len(plain),
        }
    return {
        "texts": raw,  # failed docs keep their original text
        "plain_text": None,
        "psv_text": None,
        "status": STATUS_FAILED,
        "failure_class": failure,
        "via": via,
        "chars_extracted": 0,
    }


@pandas_udf(_TEXT_RESULT)
def extract_texts_udf(texts: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_extract_texts(doc) for doc in texts])


# JVM-side reassembly in two linear passes: (1) a prefix-count fold
# over ints only (text-span rank per position — appending ints is
# cheap; appending structs with big strings would copy O(n²) bytes),
# (2) a transform that builds the output span per position, pulling
# the rank-th cleaned text. Media spans pass through; order = position.
_RANKS = """
aggregate(
  _sorted_spans,
  array(cast(0 as int)),
  (acc, s) -> array_append(acc,
      element_at(acc, size(acc)) + if(s.kind = 'text', 1, 0))
)
"""

_REASSEMBLE = """
if(size(_sorted_spans) = 0,
   cast(array() as array<struct<kind:string,text:string,
                                media_ref:string,`order`:int>>),
   transform(
     sequence(1, size(_sorted_spans)),
     i -> named_struct(
       'kind', element_at(_sorted_spans, i).kind,
       'text', if(element_at(_sorted_spans, i).kind = 'text',
                  element_at(_r.texts, element_at(_ranks, i + 1)),
                  cast(null as string)),
       'media_ref', if(element_at(_sorted_spans, i).kind = 'text',
                       cast(null as string),
                       element_at(_sorted_spans, i).media_ref),
       'order', i - 1
     )
   )
)
"""


def salt_column(parallelism: int, over: Optional[Column] = None) -> Column:
    """Skew-spreading repartition key.

    Documents cannot be split below row granularity, so balance comes
    from spreading docs uniformly over ``parallelism·8`` buckets.
    Cheap JVM-side hash, no extra scan. Only worth its shuffle when
    the source partitioning is pathologically clustered — a parquet
    scan with small ``maxPartitionBytes`` splits is already uniform.
    """
    over = F.col("doc_id") if over is None else over
    return F.pmod(F.xxhash64(over), F.lit(parallelism * 8))


def extract_documents(df: DataFrame,
                      parallelism: Optional[int] = None) -> DataFrame:
    """input (doc_id, spans) → extracted output columns.

    Plan shape: scan → [optional repartition(salt)] → sort+project
    (JVM) → pandas UDF over text arrays → JVM reassembly. Map-only
    unless salting is requested.
    """
    if parallelism is not None:
        df = df.repartition(parallelism, salt_column(parallelism))

    started = F.current_timestamp()
    sorted_spans = F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)")
    texts_in = F.expr(
        "transform(filter(_sorted_spans, s -> s.kind = 'text'), s -> s.text)"
    )
    n_text = F.expr("size(filter(spans, s -> s.kind = 'text'))")

    bucket = (
        F.col("bucket") if "bucket" in df.columns else F.lit(DEFAULT_BUCKET)
    )
    return (
        df.withColumn("_sorted_spans", sorted_spans)
        .withColumn("_ranks", F.expr(_RANKS))
        .withColumn("_r", extract_texts_udf(texts_in))
        .select(
            "doc_id",
            bucket.alias("bucket"),
            F.expr(_REASSEMBLE).alias("spans"),
            F.col("_r.plain_text").alias("plain_text"),
            F.col("_r.psv_text").alias("psv_text"),
            F.col("_r.status").alias("status"),
            F.col("_r.failure_class").alias("failure_class"),
            F.col("_r.via").alias("via"),
            F.col("_r.chars_extracted").alias("chars_extracted"),
            n_text.cast("int").alias("n_text_spans"),
            (F.size("spans") - n_text).cast("int").alias("n_media_spans"),
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            started.alias("started"),
            F.current_timestamp().alias("ended"),
            F.spark_partition_id().alias("partition_id"),
        )
    )


# ---------------------------------------------------------------------------
# Caption-context mining over the interleaved span table: the
# text↔media adjacency signal (alt-text/caption pairs) multimodal
# training sets harvest. No reference analogue (the reference dropped
# media spans at the Celery task boundary); Spark-first design.
# ---------------------------------------------------------------------------

# int-only prefix folds (same discipline as _RANKS: appending ints is
# cheap; appending structs with big strings would copy O(n²) bytes).
# acc[i+1] = 1-based index of the nearest text span at-or-before i
# (-1 when none); media spans are never text, so for a media position
# this is strictly the nearest text BEFORE it.
_LAST_TEXT_IDX = """
aggregate(
  sequence(1, size(_sorted)),
  array(cast(-1 as int)),
  (acc, i) -> array_append(acc,
      if(element_at(_sorted, i).kind = 'text', i,
         element_at(acc, size(acc)))))
"""

# same scan right-to-left: acc holds indexes from the END; after the
# fold, next-text for position i sits at acc[size - i + 2].
_NEXT_TEXT_IDX = """
aggregate(
  sequence(size(_sorted), 1, -1),
  array(cast(-1 as int)),
  (acc, i) -> array_append(acc,
      if(element_at(_sorted, i).kind = 'text', i,
         element_at(acc, size(acc)))))
"""

_MEDIA_CONTEXTS = """
transform(
  filter(sequence(1, size(_sorted)),
         i -> element_at(_sorted, i).kind = 'media'),
  i -> named_struct(
    'media_ref', element_at(_sorted, i).media_ref,
    'media_offset', element_at(_sorted, i).offset,
    'text_before',
      if(element_at(_last, i + 1) > 0,
         element_at(_sorted, element_at(_last, i + 1)).text,
         cast(null as string)),
    'text_after',
      if(element_at(_next, size(_sorted) - i + 2) > 0,
         element_at(_sorted,
                    element_at(_next, size(_sorted) - i + 2)).text,
         cast(null as string))))
"""


def media_caption_contexts(df: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, spans) → one row per MEDIA span with its adjacent
    text: (doc_id, media_ref, media_offset, text_before, text_after).

    ``text_before``/``text_after`` are the nearest text spans by
    offset order on either side (NULL at document edges) — the
    caption-candidate pair for image-text training data.

    Plan shape: map-only (sort + two int-only prefix folds + one
    projection per row, all JVM), then a single explode — no shuffle,
    no Python, linear in span count. Docs with no media contribute no
    rows.
    """
    sorted_spans = F.expr(
        "array_sort(spans, (a, b) -> a.offset - b.offset)")
    return (
        df.withColumn("_sorted", sorted_spans)
        .withColumn("_last", F.expr(_LAST_TEXT_IDX))
        .withColumn("_next", F.expr(_NEXT_TEXT_IDX))
        .select(F.col(id_col),
                F.explode(F.expr(_MEDIA_CONTEXTS)).alias("_m"))
        .select(
            id_col,
            F.col("_m.media_ref").alias("media_ref"),
            F.col("_m.media_offset").alias("media_offset"),
            F.col("_m.text_before").alias("text_before"),
            F.col("_m.text_after").alias("text_after"),
        )
    )


def drop_boilerplate_media(df: DataFrame, min_docs: int = 2,
                           id_col: str = "doc_id") -> DataFrame:
    """Remove BOILERPLATE media spans from the interleaved span table:
    a media ref appearing in >= ``min_docs`` DISTINCT documents (site
    logos, nav icons, tracking pixels) is dropped from every doc's
    span array; text spans and distinctive media pass through with
    their offsets intact (reassembly order is preserved — the
    (kind, text, media_ref, order) invariant never re-numbers).

    The media-span twin of C4 line dedup (`dedup_lines_global`): there
    the unit is a text line, here it is a media reference, and the
    "appears in many documents" rule is the same boilerplate signal.
    Reference analogue: none — the reference dropped media wholesale.

    Returns (doc_id, spans, n_spans, n_media_dropped), one row per
    input doc (docs whose spans all drop keep an empty array).

    Scale shape: one explode (O(total spans)), a map-side-combinable
    distinct-doc count per media_ref, a left-anti join on the same
    ref key (text spans carry NULL refs and never match), then one
    groupBy to re-collect per-doc arrays. The rebuild shuffle is the
    honest cost of editing nested arrays corpus-wide; boilerplate
    counts never sit on the driver.
    """
    ex = df.select(F.col(id_col), F.explode("spans").alias("s"))
    boiler = (
        ex.where(F.col("s.kind") == "media")
        .groupBy(F.col("s.media_ref").alias("_ref"))
        .agg(F.countDistinct(id_col).alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_ref")
    )
    kept = ex.join(
        boiler, ex["s.media_ref"] == boiler["_ref"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.expr(
            "array_sort(collect_list(s), (a, b) -> a.offset - b.offset)"
        ).alias("spans"))
    )
    n_media = F.expr(
        "size(filter(spans, x -> x.kind = 'media'))")
    before = df.select(
        F.col(id_col),
        F.size("spans").alias("_n_before"),
        n_media.alias("_m_before"),
    )
    return (
        before.join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("spans"),
                F.expr("cast(array() as array<struct<kind:string,"
                       "text:string,media_ref:string,offset:int>>)"),
            ).alias("spans"),
            F.coalesce(F.size("spans"), F.lit(0)).cast("long")
            .alias("n_spans"),
            (F.col("_m_before") - F.coalesce(
                F.expr("size(filter(spans, x -> x.kind = 'media'))"),
                F.lit(0))).cast("long").alias("n_media_dropped"),
        )
    )


def span_extraction_diff(old: DataFrame, new: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Per-document diff between two extraction snapshots (the J4
    re-extraction monitor): after a forced re-extraction or an
    extractor upgrade, quantify what actually changed BEFORE swapping
    the serving table.

    Spans compare on (kind, text, media_ref) under the reassembly
    order (offset-sorted); offsets themselves are excluded — a
    re-extraction may renumber them without changing content, and the
    (kind, text, media_ref, order) invariant is exactly what the
    north rule pins.

    Returns one row per doc_id present in either snapshot:
    status ('unchanged' | 'changed' | 'only_old' | 'only_new'),
    n_spans_old, n_spans_new, common_prefix (spans identical in order
    until first divergence), n_common (multiset intersection),
    n_added, n_removed, text_changed (concatenated text spans differ).

    Scale shape: one doc-level full-outer join on id for the
    order-sensitive stats (arrays never explode for prefix/hash — a
    zip_with + array_position does it in one JVM projection), plus one
    exploded multiset join keyed (id, span_key, occurrence) for the
    add/remove counts — occurrence indexes come from a window
    partitioned by (id, key), bounded by per-doc span count, so no
    global skew key exists. Reference analogue: none — the reference
    re-extracted blindly (fulltext/extract.py force path).
    """
    def canon(df):
        sorted_spans = F.expr(
            "array_sort(spans, (a, b) -> a.offset - b.offset)")
        key_arr = F.expr(
            "transform(_sorted, s -> concat_ws('|', s.kind, "
            "coalesce(md5(s.text), ''), coalesce(s.media_ref, '')))")
        text_cat = F.expr(
            "array_join(transform(filter(_sorted, s -> s.kind = 'text'),"
            " s -> s.text), '\\n')")
        return (
            df.select(F.col(id_col), sorted_spans.alias("_sorted"))
            .select(
                F.col(id_col),
                key_arr.alias("_keys"),
                F.md5(text_cat).alias("_text_md5"),
                F.size("_sorted").alias("_n"),
            )
        )

    o, n = canon(old).alias("o"), canon(new).alias("n")
    # order-sensitive: common prefix of the two key sequences.
    # zip_with pads the shorter side with NULL, so a false appears at
    # the first divergence OR at the length cliff; no false → equal
    # (array_position returns 0, not NULL, on no-match — nullif it so
    # the coalesce falls through to the full zip length).
    prefix = F.coalesce(
        F.expr("nullif(array_position(zip_with(o._keys, n._keys, "
               "(a, b) -> a <=> b), false), 0)").cast("long") - 1,
        F.expr("size(zip_with(o._keys, n._keys, (a, b) -> a <=> b))")
        .cast("long"),
    )
    doc_level = (
        o.join(n, F.col(f"o.{id_col}") == F.col(f"n.{id_col}"), "full_outer")
        .select(
            F.coalesce(F.col(f"o.{id_col}"), F.col(f"n.{id_col}"))
            .alias(id_col),
            F.when(F.col(f"n.{id_col}").isNull(), F.lit("only_old"))
            .when(F.col(f"o.{id_col}").isNull(), F.lit("only_new"))
            .when((F.col("o._keys") == F.col("n._keys")),
                  F.lit("unchanged"))
            .otherwise(F.lit("changed")).alias("status"),
            F.coalesce(F.col("o._n"), F.lit(0)).cast("long")
            .alias("n_spans_old"),
            F.coalesce(F.col("n._n"), F.lit(0)).cast("long")
            .alias("n_spans_new"),
            F.when(F.col(f"o.{id_col}").isNull()
                   | F.col(f"n.{id_col}").isNull(), F.lit(0))
            .otherwise(F.greatest(prefix, F.lit(0))).cast("long")
            .alias("common_prefix"),
            (~F.col("o._text_md5").eqNullSafe(F.col("n._text_md5")))
            .alias("text_changed"),
        )
    )

    # order-insensitive multiset intersection: explode each side to
    # (id, key, occurrence) and inner-join; occurrence disambiguates
    # repeated identical spans within one doc.
    from pyspark.sql import Window

    def occs(df):
        ex = canon(df).select(
            F.col(id_col), F.posexplode("_keys").alias("_pos", "_key"))
        w = Window.partitionBy(id_col, "_key").orderBy("_pos")
        return (ex.withColumn("_occ", F.row_number().over(w))
                .drop("_pos"))

    common = (
        occs(old).join(occs(new),
                       on=[id_col, "_key", "_occ"], how="inner")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        doc_level.join(common, on=id_col, how="left")
        .select(
            id_col, "status", "n_spans_old", "n_spans_new",
            "common_prefix",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (F.col("n_spans_new")
             - F.coalesce(F.col("n_common"), F.lit(0))).alias("n_added"),
            (F.col("n_spans_old")
             - F.coalesce(F.col("n_common"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("text_changed"), F.lit(True))
            .alias("text_changed"),
        )
    )
