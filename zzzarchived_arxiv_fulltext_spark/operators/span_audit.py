"""Span-table integrity audit: enforce the (kind, text, media_ref,
order) invariant as data-quality checks.

The whole engine rides on the interleaved-span table shape
(BASELINE.json's input_hint); upstream producers — crawlers, format
routers, migrations — can violate it in ways that silently corrupt
reassembly (non-dense offsets reorder text; a media span carrying
text double-counts content; a text span with a media_ref breaks the
passthrough contract). This auditor scores every document against
the invariant in one pure-JVM projection (array lambdas, no explode,
no Python) and aggregates a per-violation-class report — run it on
every ingested snapshot before extraction trusts the data.

Violation classes:
- ``offsets_not_dense``: sorted offsets ≠ 0..n-1 (includes
  duplicates and gaps — reassembly order is undefined);
- ``bad_text_span``: kind='text' with NULL text or a media_ref;
- ``bad_media_span``: kind='media' with NULL media_ref or text;
- ``unknown_kind``: any kind outside {text, media};
- ``empty_spans``: a document with zero spans (accounting rows are
  legal input, but extraction should know how many there are).
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the classes under which reassembly is undefined; ``empty_spans`` is
# counted but legal
_INVALID_CLASSES = ("offsets_not_dense", "bad_text_span", "bad_media_span",
                   "unknown_kind")


def _violation_flags(s: Column) -> dict:
    """violation class -> 0/1 flag column over one spans column."""
    n = F.size(s)
    offsets = F.transform(s, lambda x: x["offset"])
    dense = F.array_sort(offsets) == F.sequence(
        F.lit(0), n - 1)
    bad_text = F.size(F.filter(
        s, lambda x: (x["kind"] == "text")
        & (x["text"].isNull() | x["media_ref"].isNotNull())))
    bad_media = F.size(F.filter(
        s, lambda x: (x["kind"] == "media")
        & (x["media_ref"].isNull() | x["text"].isNotNull())))
    unknown = F.size(F.filter(
        s, lambda x: ~x["kind"].isin("text", "media")))
    return {
        "offsets_not_dense": F.when((n > 0) & ~dense, 1).otherwise(0),
        "bad_text_span": F.when(bad_text > 0, 1).otherwise(0),
        "bad_media_span": F.when(bad_media > 0, 1).otherwise(0),
        "unknown_kind": F.when(unknown > 0, 1).otherwise(0),
        "empty_spans": F.when(n == 0, 1).otherwise(0),
    }


def invalid_spans() -> Column:
    """True for a document whose reassembly order is undefined (any
    class but ``empty_spans``): the gate of ``run_extraction``'s
    ``validate_spans``, as a column of the same frame."""
    flags = _violation_flags(F.col("spans"))
    return sum(flags[c] for c in _INVALID_CLASSES) > 0


def span_doc_flags(df: DataFrame, id_col: str = "doc_id",
                   spans_col: str = "spans") -> DataFrame:
    """Per-document violation flags (0/1) + span count — the row-level
    view behind :func:`span_integrity_report`, usable as a filter."""
    s = F.col(spans_col)
    return df.select(
        F.col(id_col),
        F.size(s).cast("long").alias("n_spans"),
        *[flag.alias(name)
          for name, flag in _violation_flags(s).items()],
    )


def span_integrity_report(df: DataFrame, id_col: str = "doc_id",
                          spans_col: str = "spans") -> DataFrame:
    """(violation, n_docs) in long format, one row per class plus a
    ``clean`` row — map-side-combinable aggregation over the flags."""
    flags = span_doc_flags(df, id_col=id_col, spans_col=spans_col)
    classes = [*_INVALID_CLASSES, "empty_spans"]
    clean = F.when(
        sum(F.col(c) for c in classes) == 0, 1).otherwise(0)
    agg = flags.agg(
        *[F.sum(c).cast("long").alias(c) for c in classes],
        F.sum(clean).cast("long").alias("clean"),
    )
    stacked = agg.select(F.expr(
        "stack({n}, {args}) as (violation, n_docs)".format(
            n=len(classes) + 1,
            args=", ".join(f"'{c}', {c}" for c in classes + ["clean"]),
        )))
    return stacked
