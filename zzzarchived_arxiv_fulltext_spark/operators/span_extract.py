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
- The Python side is exactly ``functions.extract.extract_texts``, the
  decision tree the pytest oracle ``extract_document`` also runs; this
  module adds no per-document logic of its own.

Reference analogue: the per-document Celery task body
(``fulltext/extract.py:194-230``) and the extractor fallback ladder
(``extractor/fulltext/fulltext.py:136-178``), collapsed into one
DataFrame stage.
"""

import heapq
import itertools
import json
import sys
import zipimport
from typing import Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import EXTRACTOR_VERSION
from ..config import MAX_PARTITION_BYTES
from ..functions.extract import extract_texts
from ..schema import DEFAULT_BUCKET

# Struct returned per document by the thin UDF: the dict of
# ``extract_texts`` — cleaned text spans (original text echoed back
# when the quality gate fails) + doc-level outputs. Everything
# span-structural stays JVM-side.
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


def _drop_zip_finders() -> None:
    """Forget the worker's cached zip-archive import finders.

    PySpark calls ``importlib.invalidate_caches()`` before every Python
    task (``pyspark.worker_util.setup_spark_files``). Under CPython
    3.11 that makes each ``zipimporter`` in ``sys.path_importer_cache``
    re-read its archive's whole directory: a local worker holds 17 of
    them (12 on pyspark.zip, 2 on the spark-core jar, 2 on py4j, 1 on
    the shipped package), ~26.7k entries, 0.26-0.32 s of wall per task
    on 4 busy cores. Dropped after each batch, they are gone when the
    reused worker's next task invalidates (0.1 ms). A finder dropped
    here is rebuilt by the next import that needs it from
    ``zipimport._zip_directory_cache``, without reading the archive;
    Spark never rewrites a shipped archive within an application, so
    that cache stays true.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


@pandas_udf(_TEXT_RESULT)
def extract_texts_udf(texts: pd.Series) -> pd.DataFrame:
    """``functions.extract.extract_texts`` over each document's
    offset-ordered text spans in the Arrow batch."""
    out = pd.DataFrame([extract_texts(doc) for doc in texts])
    _drop_zip_finders()
    return out


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


# Char budget of one extraction task: one input split
# (config.MAX_PARTITION_BYTES, ~2 s of UDF work) read as chars.
_TASK_CHARS = MAX_PARTITION_BYTES
# The sizing action returns this many of the largest docs per bin the
# caller allows; they are placed one by one, the rest by hash.
_HEAVY_PER_BIN = 4

_DOC_CHARS = "aggregate(spans, 0L, (a, s) -> a + coalesce(length(s.text), 0))"


def _water_level(loads: list, rest: int) -> float:
    """The level ``T`` at which ``sum(max(T - load, 0))`` equals
    ``rest``: pouring ``rest`` chars into the emptiest bins first."""
    low = sorted(loads)
    filled = 0
    for i, load in enumerate(low):
        filled += load
        level = (rest + filled) / (i + 1)
        if i + 1 == len(low) or level <= low[i + 1]:
            break
    return level


def pack_documents(df: DataFrame,
                   parallelism: int) -> Tuple[DataFrame, int]:
    """``df`` repartitioned into char-balanced bins, one task each,
    and the number of rows the sizing action saw.

    One sizing action computes each doc's chars in the JVM and returns
    only the ``_HEAVY_PER_BIN · parallelism`` largest docs, with the
    total chars and the row count observed on the same pass. The bin
    count is one per core, capped at ``parallelism``; it grows by
    whole multiples of the cores only when a bin would exceed
    ``_TASK_CHARS``. The large docs go largest-first onto the
    least-loaded bin (LPT) and are pinned there by ``doc_id``; every
    other doc is routed by ``xxhash64(doc_id)``, weighted by the room
    each bin has left below the common level (water-filling).
    Placement decides only which task runs a doc, never what it
    outputs.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    seen = Observation("doc_chars")
    top = (
        df.select("doc_id", F.expr(_DOC_CHARS).alias("chars"))
        .observe(seen, F.sum("chars").alias("total"),
                 F.count(F.lit(1)).alias("rows"))
        .orderBy(F.desc("chars"), "doc_id")
        .limit(_HEAVY_PER_BIN * parallelism)
        .collect()
    )
    total = seen.get["total"] or 0
    bins = min(parallelism, cores)
    if total > bins * _TASK_CHARS:
        bins = min(parallelism, cores * -(-total // (cores * _TASK_CHARS)))

    # a doc_id may head two rows (one per bucket); the map takes one
    # key per doc_id, so its rows are placed together
    heavy = {}
    for row in top:
        if row.doc_id is not None:
            heavy[row.doc_id] = heavy.get(row.doc_id, 0) + row.chars
    loads = [(0, b) for b in range(bins)]
    pinned = {}
    for doc_id, chars in sorted(heavy.items(), key=lambda kv: -kv[1]):
        load, b = heapq.heappop(loads)
        pinned[doc_id] = b
        heapq.heappush(loads, (load + chars, b))
    loads = [load for load, _ in sorted(loads, key=lambda lb: lb[1])]

    level = _water_level(loads, max(total - sum(loads), 0))
    room = [max(int(level) - load, 0) for load in loads]
    if not any(room):  # no chars left to route: any split will do
        room = [1] * bins
    cuts = list(itertools.accumulate(room))
    # the cut array and the pin map each cross py4j as one JSON
    # string that Catalyst folds to a literal: a Column per element
    # would cost one py4j round trip each
    bin_id = F.size(F.filter(
        _json_literal(cuts, "array<bigint>"),
        lambda cut: cut <= F.pmod(F.xxhash64("doc_id"), F.lit(cuts[-1]))))
    if pinned:
        keyed = _json_literal(pinned, "map<string,int>")
        bin_id = F.coalesce(keyed[F.col("doc_id")], bin_id)
    return df.repartitionById(bins, bin_id), seen.get["rows"]


def _json_literal(value, ddl: str):
    """``value`` as a constant Column of type ``ddl``."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def extract_documents(df: DataFrame,
                      parallelism: Optional[int] = None) -> DataFrame:
    """input (doc_id, spans) → extracted output columns.

    Plan shape: scan → [optional char-balanced repartition] →
    sort+project (JVM) → pandas UDF over text arrays → JVM
    reassembly. Map-only when ``parallelism`` is None.

    ``parallelism`` is an upper bound on the extraction tasks: the
    docs are packed by chars into one task per core (more only when a
    task would exceed its char budget), never into more than
    ``parallelism``. Packing runs one sizing action when this frame
    is built; see ``pack_documents``.
    """
    if parallelism is not None:
        df, _ = pack_documents(df, parallelism)

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
