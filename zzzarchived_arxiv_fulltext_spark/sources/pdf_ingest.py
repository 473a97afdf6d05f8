"""Raw-PDF ingestion: binary PDFs → the interleaved-span input table.

The missing entry point for users whose corpus is actual PDF bytes
rather than pre-parsed spans (the reference's whole job:
``extractor/fulltext/fulltext.py:136-178``). One Arrow-batched
``mapInPandas`` stage parses each document's text layer with the
stdlib parser in ``functions/pdf_text.py`` and emits one text span
per page plus one media span per embedded image — the exact
``INPUT_SCHEMA`` shape the extraction pipeline consumes, so
``extract_documents`` / ``run_extraction`` work unchanged downstream.

Scale shape: map-only (no shuffle), payload crosses into Python once,
output is row-per-document — identical plan profile to the extraction
hot path, so the same split sizing / skew arguments apply (SCALE.md).
"""

from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.pdf_text import (
    count_pdf_images,
    extract_pdf_page_texts,
    is_encrypted,
    pdf_page_image_counts,
)
from ..schema import INPUT_SCHEMA

# INPUT_SCHEMA plus an ingest-time failure classification: NULL for
# parseable documents, 'encrypted' when the file carries an /Encrypt
# dict and no text layer could be read (reference analogue: poppler
# decrypted empty-user-password PDFs, extractor/fulltext.py:81-109 —
# here detection-and-classify is the contract, matching the job's
# failure-isolation shape P2). Downstream extract_documents selects
# its own columns, so the extra column is transparent to the pipeline.
INGEST_SCHEMA = T.StructType(
    list(INPUT_SCHEMA.fields)
    + [T.StructField("failure_class", T.StringType(), True)]
)


def build_pdf_spans(doc_id: str, data: bytes,
                    pages: List[str]) -> List[dict]:
    """Interleaved span list for one parsed PDF.

    Image XObjects referenced from a page's resources interleave at
    that page's position (page text span, then its media spans —
    BASELINE.json's interleaved payload shape); media refs are
    ``pdfimg://{doc_id}/{m}`` with ``m`` the document-order image
    index. When the page-object structure can't be aligned with the
    extracted text streams (textless pages, malformed page tree), all
    images degrade to trailing media spans — offsets stay dense and
    text order is unaffected either way.
    """
    if data:
        # page tree / XObject dicts may live inside /ObjStm streams
        # (PDF 1.5+): surface them once for both image scans
        from ..functions.pdf_text import expand_object_streams

        data = expand_object_streams(data)
    per_page = pdf_page_image_counts(data) if data else []
    n_images = count_pdf_images(data) if data else 0
    spans: List[dict] = []
    img_idx = 0
    if len(per_page) == len(pages):
        for page, n_img in zip(pages, per_page):
            spans.append({"kind": "text", "text": page,
                          "media_ref": None, "offset": len(spans)})
            for _ in range(n_img):
                spans.append({
                    "kind": "media", "text": None,
                    "media_ref": f"pdfimg://{doc_id}/{img_idx}",
                    "offset": len(spans),
                })
                img_idx += 1
    else:
        spans = [
            {"kind": "text", "text": page, "media_ref": None, "offset": k}
            for k, page in enumerate(pages)
        ]
    for m in range(img_idx, n_images):  # orphans / unaligned remainder
        spans.append({"kind": "media", "text": None,
                      "media_ref": f"pdfimg://{doc_id}/{m}",
                      "offset": len(spans)})
    return spans


def pdf_to_spans(pdfs: DataFrame, strip_furniture: bool = False) -> DataFrame:
    """(doc_id, pdf:binary) → (doc_id, spans, failure_class).

    Text spans carry page text in page order; every embedded image
    XObject becomes a media span INTERLEAVED at its page's position
    when the page tree aligns (``build_pdf_spans``), else appended
    after the text spans. ``failure_class`` is 'encrypted' for
    /Encrypt-protected files that yielded no text (instead of
    silently-empty spans), NULL otherwise. ``strip_furniture=True``
    removes running headers/footers/page numbers via the positional
    repeated-line heuristic (``functions.quality.strip_page_furniture``)
    before span emission.
    """
    from ..functions.quality import strip_page_furniture

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            out_ids, out_spans, out_fail = [], [], []
            for doc_id, payload in zip(pdf_batch["doc_id"],
                                       pdf_batch["pdf"]):
                data = bytes(payload) if payload is not None else b""
                if data and is_encrypted(data):
                    # empty-password RC4 files become plaintext here;
                    # is_encrypted() is False on the result, so only
                    # genuinely locked files classify as 'encrypted'
                    from ..functions.pdf_crypt import decrypt_pdf

                    dec = decrypt_pdf(data)
                    if dec is not None:
                        data = dec
                pages = extract_pdf_page_texts(data)
                if strip_furniture:
                    pages, _ = strip_page_furniture(pages)
                spans = build_pdf_spans(doc_id, data, pages)
                fail = None
                if not pages and data and is_encrypted(data):
                    fail = "encrypted"
                out_ids.append(doc_id)
                out_spans.append(spans)
                out_fail.append(fail)
            yield pd.DataFrame({"doc_id": out_ids, "spans": out_spans,
                                "failure_class": out_fail})

    return pdfs.mapInPandas(run, schema=INGEST_SCHEMA)
