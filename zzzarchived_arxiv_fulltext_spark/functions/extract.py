"""Per-document extraction oracle: the quality-gated decision tree.

Behavioral parity: reference ``extractor/fulltext/fulltext.py:136-178``
(``fulltext()``) restated over pre-span-ized input. The reference's
fallback ladder is: primary extraction → unicode fix → quality gate →
layout-analysis retry (``pdf2txt -A``) → unicode fix → gate → fail.
Our input already carries extracted text per span, so "retry with
layout analysis" is restated as the deterministic junk/stamp strip in
``quality.strip_layout_junk``.

This module is plain Python and holds the decision tree once:
``extract_texts`` is what the Spark pandas UDF runs (one call per
document within an Arrow batch), and ``extract_document`` wraps the
same call in a Python span reassembly — the pytest oracle that asserts
span-sequence equality against the JVM-side reassembly.

Failure isolation parity: a failing document yields ``status='failed'``
with a failure class instead of raising, mirroring the reference's
charge-on-to-the-next-file behavior (fulltext.py:244-253).
"""

from typing import Any, Dict, Iterable, List, Mapping, Optional, Sequence

from .quality import MAX_AVG_WORD_LENGTH, average_word_length, strip_layout_junk
from .psv import normalize_text_psv
from .unicode_fix import fix_unicode

KIND_TEXT = "text"

STATUS_SUCCEEDED = "succeeded"
STATUS_FAILED = "failed"

VIA_PRIMARY = "primary"
VIA_LAYOUT_RETRY = "layout_retry"
VIA_NONE = "none"

FAILURE_QUALITY_GATE = "quality_gate"


def extract_texts(texts: Iterable[Optional[str]]) -> Dict[str, Any]:
    """Run the decision tree over one document's text spans, given in
    offset order.

    Returns a dict with keys:
        ``texts``      — the cleaned text of each span (the raw texts,
                         unchanged, if the document failed the gate);
        ``plain_text`` — newline-joined cleaned text (None on failure);
        ``psv_text``   — PSV normalization of plain_text (None on failure);
        ``status`` / ``failure_class`` / ``via``; ``chars_extracted``.
    """
    raw = list(texts)
    # Attempt 1: plain unicode fix (parity: fulltext.py:158-167).
    chosen = [fix_unicode(t or "") for t in raw]
    via = VIA_PRIMARY
    if average_word_length("\n".join(chosen)) > MAX_AVG_WORD_LENGTH:
        # Attempt 2: layout-analysis retry (parity: fulltext.py:169-178).
        chosen = [fix_unicode(strip_layout_junk(t or "")) for t in raw]
        via = VIA_LAYOUT_RETRY
        if average_word_length("\n".join(chosen)) > MAX_AVG_WORD_LENGTH:
            return {
                "texts": raw,
                "plain_text": None,
                "psv_text": None,
                "status": STATUS_FAILED,
                "failure_class": FAILURE_QUALITY_GATE,
                "via": VIA_NONE,
                "chars_extracted": 0,
            }

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


def extract_document(spans: Sequence[Mapping[str, Any]]) -> Dict[str, Any]:
    """Extract one document given its raw span list.

    Parameters
    ----------
    spans:
        Mappings with keys ``kind``, ``text``, ``media_ref``, ``offset``
        (the input_hint schema). Order is irrelevant; spans are sorted
        by ``offset`` first (stable reassembly — never rely on
        arrival order).

    Returns
    -------
    dict with the keys of ``extract_texts`` except ``texts``, plus:
        ``spans``   — output span list ``(kind, text, media_ref, order)``,
                      ordered by the input ``offset`` rank; media spans
                      pass through untouched, text spans carry the
                      ``texts`` of ``extract_texts`` in order;
        ``n_text_spans``, ``n_media_spans``.
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    result = extract_texts(
        s["text"] for s in ordered if s["kind"] == KIND_TEXT)
    texts = iter(result.pop("texts"))

    out_spans: List[Dict[str, Any]] = []
    n_text = 0
    for order, span in enumerate(ordered):
        if span["kind"] == KIND_TEXT:
            n_text += 1
            out_spans.append(
                {"kind": KIND_TEXT, "text": next(texts), "media_ref": None,
                 "order": order}
            )
        else:
            out_spans.append(
                {"kind": span["kind"], "text": None,
                 "media_ref": span["media_ref"], "order": order}
            )

    return {
        "spans": out_spans,
        **result,
        "n_text_spans": n_text,
        "n_media_spans": len(ordered) - n_text,
    }
