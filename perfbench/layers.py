"""Single-process probes of the pure-Python layer.

``functions_pass`` runs ``extract_document`` over a seeded sample of the
fixture on the driver and, when asked, times every public call it makes
by wrapping the module globals those calls go through. ``control_pass``
runs the same function over every given document on a
``multiprocessing.Pool`` of ``nproc`` workers: the frameworkless control
the Spark path is compared with. Its outputs, one digest per document,
are the correctness oracle of the run (``fixture_oracle``).
"""

import contextlib
import json
import multiprocessing
import random
import time
from collections import defaultdict

from checks import doc_record, record_digest
from inputs import DOC_INDICES, make_doc, make_doc_id

SAMPLE_DOCS = 150  # documents of the single-process pass

# (module, attribute) pairs that extract_document reaches its public
# calls through, and the metric each one's inclusive busy time feeds
TIMED_CALLS = (
    ("extract", "fix_unicode", "functions.fix_unicode_s"),
    ("extract", "average_word_length", "functions.average_word_length_s"),
    ("extract", "strip_layout_junk", "functions.strip_layout_junk_s"),
    ("extract", "normalize_text_psv", "functions.normalize_text_psv_s"),
    ("psv", "recover_accents", "psv.recover_accents_s"),
    ("psv", "split_on_references", "psv.split_on_references_s"),
    ("psv", "tidy_lines", "tidy.tidy_lines_s"),
)


@contextlib.contextmanager
def _timed_calls(busy: dict, tracer):
    from zzzarchived_arxiv_fulltext_spark.functions import extract, psv

    modules = {"extract": extract, "psv": psv}
    saved = []

    def wrap(fn, metric):
        def timed(*args, **kwargs):
            with tracer.span(metric):
                t = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    busy[metric] += time.perf_counter() - t
        return timed

    for mod, attr, metric in TIMED_CALLS:
        fn = getattr(modules[mod], attr)
        saved.append((modules[mod], attr, fn))
        setattr(modules[mod], attr, wrap(fn, metric))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def sample_indices(seed: int, k: int = SAMPLE_DOCS) -> list:
    """The fixture documents of the single-process pass."""
    return sorted(random.Random(seed ^ 0x5EED).sample(DOC_INDICES, k))


def functions_pass(indices, seed: int, tracer, timed: bool) -> dict:
    """The ``functions.*`` metrics of the documents at ``indices``."""
    from zzzarchived_arxiv_fulltext_spark.functions.extract import (
        VIA_PRIMARY, extract_document)

    docs = [make_doc(i, seed) for i in indices]
    busy = defaultdict(float)
    outs = []
    with (_timed_calls(busy, tracer) if timed else contextlib.nullcontext()):
        t = time.perf_counter()
        for doc_id, spans in docs:
            with tracer.span("functions.extract_document", doc_id=doc_id):
                outs.append(extract_document(spans))
        wall = time.perf_counter() - t
    n = len(docs)
    chars = sum(_chars(spans) for _, spans in docs)
    metrics = {m: busy[m] for _, _, m in TIMED_CALLS}
    metrics.update({
        "functions.chars": chars,
        "functions.docs_per_s_1proc": n / wall,
        # the caller turns this into extract.core_eff
        "functions.chars_per_s_1proc": chars / wall,
        "functions.retry_ratio": sum(o["via"] != VIA_PRIMARY
                                     for o in outs) / n,
        "functions.gate_fail_ratio": sum(o["status"] == "failed"
                                         for o in outs) / n,
    })
    return metrics


def _extract_digest(spans) -> str:
    from zzzarchived_arxiv_fulltext_spark.functions.extract import (
        extract_document)

    return record_digest(doc_record(extract_document(spans)))


def _chars(spans) -> int:
    return sum(len(s["text"] or "") for s in spans)


def control_pass(indices, seed: int, nproc: int) -> tuple:
    """``(seconds, chars, digests)``: the wall time a pool of ``nproc``
    processes takes to extract the documents at ``indices``, shipping
    included, the text characters those documents hold and each
    document's ``record_digest`` by doc_id."""
    docs = [make_doc(i, seed)[1] for i in indices]
    with multiprocessing.get_context("spawn").Pool(nproc) as pool:
        pool.map(_extract_digest, docs[:nproc])  # workers warm first
        t = time.perf_counter()
        digests = pool.map(_extract_digest, docs, chunksize=16)
        wall = time.perf_counter() - t
    return (wall, sum(_chars(spans) for spans in docs),
            dict(zip(map(make_doc_id, indices), digests)))


def fixture_oracle(fixture, seed: int, nproc: int, digests=None) -> dict:
    """doc_id -> ``record_digest`` of ``extract_document`` for every
    document of the fixture, kept next to it once made. ``digests``, a
    ``control_pass`` over ``DOC_INDICES``, saves making it again."""
    path = fixture / "oracle.json"
    if path.exists():
        return json.loads(path.read_text())
    if digests is None:
        digests = control_pass(DOC_INDICES, seed, nproc)[2]
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(digests))
    tmp.replace(path)
    return digests
