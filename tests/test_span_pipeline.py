"""Span-sequence equality: Spark pipeline vs the pure-Python oracle.

The north-rule invariant: for every document, the Spark-extracted span
sequence equals the oracle's, compared on (kind, text, media_ref,
order).
"""

import random

import pytest

from zzzarchived_arxiv_fulltext_spark.functions import extract_document
from zzzarchived_arxiv_fulltext_spark.operators.span_extract import extract_documents
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import make_doc, spans_table

N_DOCS = 500
SEED = 42


@pytest.fixture(scope="module")
def extracted_rows(spark):
    df = extract_documents(spans_table(spark, N_DOCS, SEED), parallelism=8)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == N_DOCS
    return rows


def _span_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def test_span_sequence_equality_vs_oracle(extracted_rows):
    mismatches = []
    for i in range(N_DOCS):
        doc_id, raw_spans = make_doc(i, SEED)
        oracle = extract_document(raw_spans)
        got = extracted_rows[doc_id]
        if _span_tuples(got["spans"]) != _span_tuples(oracle["spans"]):
            mismatches.append(doc_id)
    assert mismatches == []


def test_plain_psv_status_metrics_vs_oracle(extracted_rows):
    for i in range(0, N_DOCS, 7):
        doc_id, raw_spans = make_doc(i, SEED)
        oracle = extract_document(raw_spans)
        got = extracted_rows[doc_id]
        assert got["plain_text"] == oracle["plain_text"], doc_id
        assert got["psv_text"] == oracle["psv_text"], doc_id
        assert got["status"] == oracle["status"], doc_id
        assert got["failure_class"] == oracle["failure_class"], doc_id
        assert got["via"] == oracle["via"], doc_id
        assert got["chars_extracted"] == oracle["chars_extracted"], doc_id
        assert got["n_text_spans"] == oracle["n_text_spans"], doc_id
        assert got["n_media_spans"] == oracle["n_media_spans"], doc_id


def test_fixture_mix_covers_all_paths(extracted_rows):
    statuses = {r["status"] for r in extracted_rows.values()}
    vias = {r["via"] for r in extracted_rows.values()}
    assert statuses == {"succeeded", "failed"}
    assert {"primary", "layout_retry", "none"} <= vias
    # media handling: media-only docs exist and keep spans
    media_only = [
        r for r in extracted_rows.values()
        if r["n_media_spans"] > 0 and r["n_text_spans"] == 0
    ]
    assert media_only and all(len(r["spans"]) > 0 for r in media_only)


def test_packed_extraction_balances_giants_and_keeps_rows(spark):
    """``parallelism=16`` on ``local[4]``: one task per core, each giant
    on its own task, chars balanced across tasks, and the same rows as
    the map-only path apart from timestamps and ``partition_id``."""
    rng = random.Random(7)
    words = ["spark", "document", "extraction", "of", "the", "arxiv",
             "full", "text", "pipeline", "a", "span", "balanced"]

    def spans(n_words):
        text = "\n".join(
            " ".join(rng.choice(words) for _ in range(12))
            for _ in range(n_words // 12))
        return [{"kind": "text", "text": text, "media_ref": None,
                 "offset": 0}]

    rows = [(f"giant{i}", "arxiv", spans(6000)) for i in range(3)]
    rows += [(f"small{i}", "arxiv", spans(rng.randint(24, 96)))
             for i in range(400)]
    # one doc_id in two buckets, large enough to be placed by size
    rows += [("dup", bucket, spans(300)) for bucket in ("arxiv", "submission")]
    df = spark.createDataFrame(
        rows,
        "doc_id string, bucket string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>")
    chars = {(b, d): sum(len(s["text"]) for s in sp) for d, b, sp in rows}

    packed = extract_documents(df, parallelism=16).collect()
    part = {(r["bucket"], r["doc_id"]): r["partition_id"] for r in packed}
    assert len(set(part.values())) == 4
    assert len({part["arxiv", f"giant{i}"] for i in range(3)}) == 3
    assert part["arxiv", "dup"] == part["submission", "dup"]
    bin_chars = [0] * 4
    for key, p in part.items():
        bin_chars[p] += chars[key]
    assert max(bin_chars) / (sum(bin_chars) / 4) <= 1.15, bin_chars

    def content(rows):
        drop = ("started", "ended", "partition_id")
        return sorted(
            (tuple(v for k, v in r.asDict().items() if k not in drop)
             for r in rows), key=lambda t: t[:2])

    assert content(packed) == content(extract_documents(df).collect())


def test_generator_is_deterministic_across_partitioning(spark):
    a = spans_table(spark, 50, SEED, parallelism=1).collect()
    b = spans_table(spark, 50, SEED, parallelism=7).collect()
    key = lambda r: r["doc_id"]
    assert sorted(a, key=key) == sorted(b, key=key)


# -- caption-context mining (media ↔ adjacent text) --------------------------


def test_media_caption_contexts_basic(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        media_caption_contexts,
    )

    def span(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref,
                "offset": off}

    rows = [
        # media between two text spans; offsets deliberately unsorted
        ("d1", [span("text", "after fig", None, 2),
                span("media", None, "img://1", 1),
                span("text", "before fig", None, 0)]),
        # media at both document edges
        ("d2", [span("media", None, "img://a", 0),
                span("text", "middle", None, 1),
                span("media", None, "img://b", 2)]),
        # consecutive media share the same neighbours
        ("d3", [span("text", "lead", None, 0),
                span("media", None, "img://x", 1),
                span("media", None, "img://y", 2),
                span("text", "tail", None, 3)]),
        # no media → contributes no rows
        ("d4", [span("text", "only text", None, 0)]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    out = {(r["doc_id"], r["media_ref"]): r for r in
           media_caption_contexts(
               spark.createDataFrame(rows, schema)).collect()}

    assert len(out) == 5
    r = out[("d1", "img://1")]
    assert (r["text_before"], r["text_after"]) == ("before fig", "after fig")
    assert out[("d2", "img://a")]["text_before"] is None
    assert out[("d2", "img://a")]["text_after"] == "middle"
    assert out[("d2", "img://b")]["text_before"] == "middle"
    assert out[("d2", "img://b")]["text_after"] is None
    for ref in ("img://x", "img://y"):
        r = out[("d3", ref)]
        assert (r["text_before"], r["text_after"]) == ("lead", "tail")


def test_media_caption_contexts_on_generated_fixture(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        media_caption_contexts,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.fixtures import (
        spans_table,
    )

    df = spans_table(spark, 80, SEED)
    got = media_caption_contexts(df).collect()
    n_media = df.selectExpr(
        "aggregate(transform(spans, s -> cast(s.kind = 'media' as int)),"
        " 0, (a, x) -> a + x) n").agg({"n": "sum"}).first()[0]
    # one output row per media span, each with a python-side twin
    assert len(got) == n_media
    rows = {r["doc_id"]: sorted(
        [s.asDict() for s in r["spans"]], key=lambda s: s["offset"])
        for r in df.collect()}
    for r in got:
        spans = rows[r["doc_id"]]
        i = next(k for k, s in enumerate(spans)
                 if s["kind"] == "media"
                 and s["media_ref"] == r["media_ref"]
                 and s["offset"] == r["media_offset"])
        before = next((s["text"] for s in reversed(spans[:i])
                       if s["kind"] == "text"), None)
        after = next((s["text"] for s in spans[i + 1:]
                      if s["kind"] == "text"), None)
        assert (r["text_before"], r["text_after"]) == (before, after), r


def test_drop_boilerplate_media(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        drop_boilerplate_media,
    )

    def span(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref,
                "offset": off}

    rows = [
        # logo appears in all three docs → boilerplate; uniques survive
        ("d1", [span("text", "a", None, 0),
                span("media", None, "img://logo", 1),
                span("media", None, "img://u1", 2)]),
        ("d2", [span("media", None, "img://logo", 0),
                span("text", "b", None, 1)]),
        # logo TWICE in one doc still counts d3 once (distinct docs)
        ("d3", [span("media", None, "img://logo", 0),
                span("media", None, "img://logo", 1),
                span("media", None, "img://u3", 2)]),
        # media-only doc whose media all drop → empty array kept
        ("d4", [span("media", None, "img://logo", 0)]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    df = spark.createDataFrame(rows, schema)
    out = {r["doc_id"]: r for r in
           drop_boilerplate_media(df, min_docs=3).collect()}

    assert [s["media_ref"] for s in out["d1"]["spans"]
            if s["kind"] == "media"] == ["img://u1"]
    assert [s["text"] for s in out["d1"]["spans"]
            if s["kind"] == "text"] == ["a"]
    assert out["d1"]["n_media_dropped"] == 1
    assert out["d2"]["n_spans"] == 1 and out["d2"]["n_media_dropped"] == 1
    # both logo copies in d3 drop; distinct-doc count saw d3 once
    assert out["d3"]["n_media_dropped"] == 2
    assert [s["media_ref"] for s in out["d3"]["spans"]] == ["img://u3"]
    assert out["d4"]["spans"] == [] and out["d4"]["n_spans"] == 0
    # order preserved by offset after the cut
    offs = [s["offset"] for s in out["d1"]["spans"]]
    assert offs == sorted(offs)


def test_drop_boilerplate_media_min_docs_threshold(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        drop_boilerplate_media,
    )

    def span(ref, off):
        return {"kind": "media", "text": None, "media_ref": ref,
                "offset": off}

    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    df = spark.createDataFrame(
        [("a", [span("img://pair", 0)]), ("b", [span("img://pair", 0)]),
         ("c", [span("img://solo", 0)])], schema)
    out = {r["doc_id"]: r["n_media_dropped"]
           for r in drop_boilerplate_media(df, min_docs=2).collect()}
    assert out == {"a": 1, "b": 1, "c": 0}


def test_span_extraction_diff(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        span_extraction_diff,
    )

    def span(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref,
                "offset": off}

    schema = ("doc_id string, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>")
    old = spark.createDataFrame([
        # unchanged (offsets renumbered — must NOT count as a change)
        ("same", [span("text", "a", None, 0),
                  span("media", None, "m1", 1)]),
        # changed: second text span rewritten
        ("chg", [span("text", "a", None, 0),
                 span("text", "b", None, 1),
                 span("media", None, "m2", 2)]),
        # removed doc
        ("gone", [span("text", "x", None, 0)]),
        # duplicate spans: old has the same text twice, new once
        ("dup", [span("text", "t", None, 0),
                 span("text", "t", None, 1)]),
    ], schema)
    new = spark.createDataFrame([
        ("same", [span("text", "a", None, 10),
                  span("media", None, "m1", 20)]),
        ("chg", [span("text", "a", None, 0),
                 span("text", "B", None, 1),
                 span("media", None, "m2", 2)]),
        ("dup", [span("text", "t", None, 0)]),
        # added doc
        ("new", [span("media", None, "m9", 0)]),
    ], schema)

    out = {r["doc_id"]: r for r in
           span_extraction_diff(old, new).collect()}

    assert out["same"]["status"] == "unchanged"
    assert out["same"]["common_prefix"] == 2
    assert not out["same"]["text_changed"]
    assert out["same"]["n_added"] == 0 and out["same"]["n_removed"] == 0

    assert out["chg"]["status"] == "changed"
    assert out["chg"]["common_prefix"] == 1      # diverges at span 2
    assert out["chg"]["text_changed"]
    # multiset: 'a' + media survive, 'b' removed, 'B' added
    assert out["chg"]["n_common"] == 2
    assert out["chg"]["n_added"] == 1 and out["chg"]["n_removed"] == 1

    assert out["gone"]["status"] == "only_old"
    assert out["gone"]["n_spans_new"] == 0
    assert out["gone"]["n_removed"] == 1 and out["gone"]["n_common"] == 0

    assert out["new"]["status"] == "only_new"
    assert out["new"]["n_added"] == 1 and out["new"]["n_spans_old"] == 0

    # duplicate handling: multiset intersection counts ONE shared 't'
    assert out["dup"]["status"] == "changed"
    assert out["dup"]["n_common"] == 1
    assert out["dup"]["n_removed"] == 1 and out["dup"]["n_added"] == 0
    assert out["dup"]["common_prefix"] == 1


def test_span_integrity_flags_each_violation(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_audit import (
        span_doc_flags,
        span_integrity_report,
    )

    def span(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref,
                "offset": off}

    rows = [
        ("clean", [span("text", "a", None, 0),
                   span("media", None, "m://1", 1)]),
        ("gap", [span("text", "a", None, 0),
                 span("text", "b", None, 2)]),
        ("dup", [span("text", "a", None, 0),
                 span("text", "b", None, 0)]),
        ("leak", [span("text", "a", "m://x", 0)]),
        ("mtext", [span("media", "oops", "m://y", 0)]),
        ("weird", [span("blob", "a", None, 0)]),
        ("empty", []),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    flags = {r["doc_id"]: r for r in span_doc_flags(df).collect()}
    assert flags["clean"]["offsets_not_dense"] == 0
    assert all(flags["clean"][c] == 0 for c in (
        "bad_text_span", "bad_media_span", "unknown_kind", "empty_spans"))
    assert flags["gap"]["offsets_not_dense"] == 1
    assert flags["dup"]["offsets_not_dense"] == 1
    assert flags["leak"]["bad_text_span"] == 1
    assert flags["mtext"]["bad_media_span"] == 1
    assert flags["weird"]["unknown_kind"] == 1
    assert flags["empty"]["empty_spans"] == 1
    report = {r["violation"]: r["n_docs"]
              for r in span_integrity_report(df).collect()}
    assert report == {"offsets_not_dense": 2, "bad_text_span": 1,
                      "bad_media_span": 1, "unknown_kind": 1,
                      "empty_spans": 1, "clean": 1}


def test_span_integrity_clean_on_real_fixture(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_audit import (
        span_integrity_report,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.fixtures import (
        spans_table,
    )

    df = spans_table(spark, 80, seed=3)
    report = {r["violation"]: r["n_docs"]
              for r in span_integrity_report(df).collect()}
    assert report["clean"] == 80
    assert sum(v for k, v in report.items() if k != "clean") == 0


@pytest.mark.parametrize("parallelism", [None, 4])
def test_run_extraction_quarantines_invalid_spans(spark, tmp_path,
                                                  parallelism):
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import (
        SnapshotTable,
    )

    def span(kind, text, ref, off):
        return {"kind": kind, "text": text, "media_ref": ref,
                "offset": off}

    rows = [
        ("good", "arxiv", [span("text", "hello clean doc", None, 0)]),
        # the same doc_id in another bucket is a distinct document
        ("good", "submission", [span("text", "hello clean doc", None, 0)]),
        ("dup_off", "arxiv", [span("text", "a", None, 0),
                              span("text", "b", None, 0)]),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, bucket string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>")
    out = SnapshotTable(str(tmp_path / "out"))
    run_extraction(spark, df, out, validate_spans=True,
                   parallelism=parallelism)
    committed = out.read(spark).collect()
    # one committed row per input row: validation must not fan out
    # rows that share a doc_id across buckets
    assert len(committed) == len(rows)
    assert len({(r["bucket"], r["doc_id"]) for r in committed}) == len(rows)
    got = {r["doc_id"]: r for r in committed if r["bucket"] == "arxiv"}
    assert got["good"]["status"] == "succeeded"
    assert [r["status"] for r in committed
            if r["bucket"] == "submission"] == ["succeeded"]
    assert got["dup_off"]["status"] == "failed"
    assert got["dup_off"]["failure_class"] == "invalid_spans"
    assert got["dup_off"]["extractor_version"] == \
        got["good"]["extractor_version"]
    # quarantined docs are committed work: a second increment over the
    # same input has nothing to do
    assert run_extraction(spark, df, out, validate_spans=True,
                          parallelism=parallelism) is None

    # every pending doc invalid: none reaches the UDF, yet its row
    # commits, and then nothing is pending
    invalid = df.where("doc_id = 'dup_off'")
    only_invalid = SnapshotTable(str(tmp_path / "only_invalid"))
    assert run_extraction(spark, invalid, only_invalid, validate_spans=True,
                          parallelism=parallelism) is not None
    [row] = only_invalid.read(spark).collect()
    assert (row["doc_id"], row["failure_class"]) == ("dup_off",
                                                     "invalid_spans")
    assert run_extraction(spark, invalid, only_invalid, validate_spans=True,
                          parallelism=parallelism) is None


def test_drop_zip_finders_stops_directory_rereads(tmp_path, monkeypatch):
    """After ``_drop_zip_finders`` no zip finder is cached, so
    ``importlib.invalidate_caches()`` re-reads no archive directory,
    and the archive's other modules still import."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        _drop_zip_finders,
    )

    archive = tmp_path / "finders.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipfinderpkg/__init__.py", "")
        z.writestr("zipfinderpkg/first.py", "VALUE = 1\n")
        z.writestr("zipfinderpkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))

    def zip_finders():
        return [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        importlib.import_module("zipfinderpkg.first")
        assert zip_finders()
        _drop_zip_finders()
        assert zip_finders() == []
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        assert importlib.import_module("zipfinderpkg.second").VALUE == 2
    finally:
        for name in ("zipfinderpkg", "zipfinderpkg.first",
                     "zipfinderpkg.second"):
            sys.modules.pop(name, None)
        _drop_zip_finders()  # no finder may outlive the temp archive
