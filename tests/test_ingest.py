"""Raw-document ingestion: PDF text-layer parsing and HTML
main-content extraction, down to the full extraction job."""

import zlib

from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.functions.html_extract import (
    extract_main_text,
    link_density,
)
from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
    count_pdf_images,
    extract_pdf_page_texts,
    extract_pdf_text,
    make_simple_pdf,
)
from zzzarchived_arxiv_fulltext_spark.sources.pdf_ingest import pdf_to_spans


# -- pure PDF parser ---------------------------------------------------------


def test_pdf_round_trip_multipage():
    pages = [["Hello world", "line two"], ["page two only"]]
    pdf = make_simple_pdf(pages)
    assert pdf.startswith(b"%PDF-1.4")
    assert extract_pdf_page_texts(pdf) == ["Hello world\nline two",
                                           "page two only"]
    assert extract_pdf_text(pdf) == "Hello world\nline two\npage two only"


def test_pdf_round_trip_uncompressed():
    pdf = make_simple_pdf([["no filter here"]], compress=False)
    assert extract_pdf_text(pdf) == "no filter here"


def test_pdf_string_escapes_round_trip():
    nasty = r"parens (nested (deep)) back\slash and \(escaped\)"
    pdf = make_simple_pdf([[nasty]])
    assert extract_pdf_text(pdf) == nasty


def test_pdf_tj_array_kerning_and_hex_strings():
    # hand-built content stream: TJ with a word-gap kern, hex string
    raw = b"BT [ (Wor) -200 (ld) ] TJ T* <48656c6c6f> Tj ET"
    body = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    fake = b"%PDF-1.4\n1 0 obj\n" + body + b"\nendobj\n%%EOF"
    assert extract_pdf_text(fake) == "Wor ld\nHello"
    # small kerns do NOT break words
    raw2 = b"BT [ (ker) -50 (ned) ] TJ ET"
    body2 = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw2), raw2)
    assert extract_pdf_text(b"1 0 obj\n" + body2) == "kerned"


def test_pdf_garbage_and_corrupt_streams_are_skipped():
    assert extract_pdf_text(b"") == ""
    assert extract_pdf_text(b"not a pdf at all") == ""
    corrupt = (b"<< /Length 5 /Filter /FlateDecode >>\nstream\n"
               b"xxxxx\nendstream")
    assert extract_pdf_text(corrupt) == ""


def test_pdf_declared_length_wins_over_lexical_strip():
    # a compressed body whose last byte is 0x0d — the case a naive
    # trailing-EOL strip corrupts
    payload = None
    for i in range(50000):
        c = zlib.compress(b"BT (tail%d) Tj ET" % i)
        if c.endswith(b"\r"):
            payload = (i, c)
            break
    assert payload is not None, "no \\r-terminated deflate found"
    i, c = payload
    pdf = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c)
           + c + b"\nendstream")
    assert extract_pdf_text(pdf) == "tail%d" % i


def _one_obj_pdf(enc: bytes, filters: bytes) -> bytes:
    return (b"1 0 obj\n<< /Length %d /Filter %s >>\nstream\n%s\nendstream"
            % (len(enc), filters, enc))


def _compress_no_eol_tail(tag: bytes) -> bytes:
    """Deflate of a content stream whose last byte is not \\r/\\n, so
    the lexical endstream slice is byte-exact."""
    for i in range(50000):
        c = zlib.compress(b"BT (%s%d) Tj ET" % (tag, i))
        if not c.endswith((b"\r", b"\n")):
            return i, c
    raise AssertionError("no clean-tailed deflate found")


def test_pdf_indirect_length_falls_back_to_lexical():
    # `/Length 5 0 R` is an indirect reference, NOT a length of 5.
    i, c = _compress_no_eol_tail(b"ind")
    pdf = (b"1 0 obj\n<< /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
           + c + b"\nendstream")
    assert extract_pdf_text(pdf) == "ind%d" % i


def test_pdf_multidigit_indirect_length_not_truncated():
    # Regex-backtracking regression (ADVICE r3): for '/Length 50 0 R'
    # the (\d+) group must not backtrack to '5' and treat the digit
    # prefix as a declared direct length — that silently truncates the
    # stream to its first 5/12/... bytes. Both multi-digit refs must
    # fall through to the lexical endstream slice.
    for ref in (b"50 0 R", b"123 0 R"):
        i, c = _compress_no_eol_tail(b"ind")
        pdf = (b"1 0 obj\n<< /Length " + ref
               + b" /Filter /FlateDecode >>\nstream\n" + c + b"\nendstream")
        assert extract_pdf_text(pdf) == "ind%d" % i


def _png_encode(rows, ft, bpp=1):
    out, prev = [], bytes(len(rows[0]))
    for r in rows:
        e = bytearray()
        for j in range(len(r)):
            a = r[j - bpp] if j >= bpp else 0
            b_ = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b_
            elif ft == 3:
                pred = (a + b_) >> 1
            else:
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b_ if pb <= pc else c)
            e.append((r[j] - pred) & 0xFF)
        out.append(bytes([ft]) + bytes(e))
        prev = r
    return b"".join(out)


def test_pdf_png_predictor_wrapped_stream_decodes():
    # /DecodeParms /Predictor >= 10: rows are PNG-filtered with a
    # per-row filter byte; without the undo the inflated body is
    # byte soup. Exercise every PNG filter type end-to-end.
    content = b"BT /F1 12 Tf (predicted text) Tj ET"
    cols = 8
    padded = content + b" " * ((-len(content)) % cols)
    rows = [padded[k:k + cols] for k in range(0, len(padded), cols)]
    for ft in (0, 1, 2, 3, 4):
        comp = zlib.compress(_png_encode(rows, ft))
        pdf = (b"1 0 obj\n<< /Length %d /Filter /FlateDecode "
               b"/DecodeParms << /Predictor 15 /Columns 8 >> >>\nstream\n"
               % len(comp) + comp + b"\nendstream")
        assert "predicted text" in extract_pdf_text(pdf), ft


def test_pdf_tiff_predictor_wrapped_stream_decodes():
    content = b"BT (tiff rows) Tj ET"
    cols = 4
    padded = content + b" " * ((-len(content)) % cols)
    # TIFF predictor 2: horizontal differencing within each row
    diffed = bytearray(padded)
    for r in range(0, len(diffed), cols):
        for j in range(r + cols - 1, r, -1):
            diffed[j] = (diffed[j] - diffed[j - 1]) & 0xFF
    comp = zlib.compress(bytes(diffed))
    pdf = (b"1 0 obj\n<< /Length %d /Filter /FlateDecode "
           b"/DecodeParms << /Predictor 2 /Columns 4 >> >>\nstream\n"
           % len(comp) + comp + b"\nendstream")
    assert "tiff rows" in extract_pdf_text(pdf)


def test_pdf_encrypted_detection():
    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        is_encrypted,
    )

    plain = make_simple_pdf([["open text"]])
    assert not is_encrypted(plain)
    enc = plain + b"\ntrailer\n<< /Encrypt 7 0 R /Root 1 0 R >>\n%%EOF"
    assert is_encrypted(enc)
    # xref-stream PDFs carry /Encrypt in the stream dict, no 'trailer'
    assert is_encrypted(b"%PDF-1.6\n<< /Type /XRef /Encrypt << /V 4 >> >>")
    # page TEXT containing the token (inside a pre-trailer stream) is
    # not a false positive once a trailer exists
    noisy = (b"%PDF-1.4\n1 0 obj\n<< /Length 26 >>\nstream\n"
             b"BT (/Encrypt 9 0 R) Tj ET\nendstream\nendobj\n"
             b"trailer\n<< /Root 1 0 R >>\n%%EOF")
    assert not is_encrypted(noisy)


def test_pdf_wrong_declared_length_retries_lexical():
    i, c = _compress_no_eol_tail(b"salv")
    pdf = (b"1 0 obj\n<< /Length 5 /Filter /FlateDecode >>\nstream\n"
           + c + b"\nendstream")
    assert extract_pdf_text(pdf) == "salv%d" % i


def test_pdf_bt_resets_text_position():
    # One BT/ET per paragraph, each with an ABSOLUTE first Td — the
    # common real-PDF shape. BT resets the text matrix, so positions
    # must not accumulate across text objects.
    ops = [b"BT 72 %d Td (para %d) Tj ET" % (700 - 50 * k, k + 1)
           for k in range(6)]
    raw = b" ".join(ops)
    pdf = b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    assert extract_pdf_text(pdf) == "\n".join(
        "para %d" % (k + 1) for k in range(6))


def test_pdf_filter_ascii85():
    import base64
    raw = b"BT (eightyfive) Tj ET"
    enc = base64.a85encode(raw) + b"~>"
    assert extract_pdf_text(
        _one_obj_pdf(enc, b"/ASCII85Decode")) == "eightyfive"


def test_pdf_filter_asciihex():
    raw = b"BT (hexed) Tj ET"
    enc = raw.hex().encode() + b">"
    assert extract_pdf_text(_one_obj_pdf(enc, b"/ASCIIHexDecode")) == "hexed"


def test_pdf_filter_runlength():
    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        _rle_decode,
    )
    # repeat run: 0xFE = 254 → 257-254 = 3 copies; 128 = EOD
    assert _rle_decode(b"\xfeA\x80") == b"AAA"
    raw = b"BT (runlength) Tj ET"
    enc = bytes([len(raw) - 1]) + raw + b"\x80"  # one literal run
    assert extract_pdf_text(
        _one_obj_pdf(enc, b"/RunLengthDecode")) == "runlength"


def _lzw_encode(data: bytes) -> bytes:
    """PDF-flavour LZW encoder (EarlyChange=1) for round-trip tests."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out = bytearray()
    bitbuf, bits = 0, 0

    def emit(code):
        nonlocal bitbuf, bits
        bitbuf = (bitbuf << width) | code
        bits += width
        while bits >= 8:
            out.append((bitbuf >> (bits - 8)) & 0xFF)
            bits -= 8

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        # the decoder's table lags the encoder's by one entry, so its
        # early-change threshold (2^w - 1) corresponds to 2^w here
        if next_code >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if bits:
        out.append((bitbuf << (8 - bits)) & 0xFF)
    return bytes(out)


def test_pdf_filter_lzw_spec_golden():
    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        _lzw_decode,
    )
    # the PDF 1.7 spec's own LZWDecode example (§7.4.4.2):
    # input 45 45 45 45 45 65 45 45 45 66 (decimal byte values)
    assert _lzw_decode(bytes.fromhex("800B6050220C0C8501")) == \
        bytes([45] * 5 + [65] + [45] * 3 + [66])


def test_pdf_filter_lzw_round_trip():
    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        _lzw_decode,
    )
    for payload in (b"", b"A", b"aaaaaaaaaaaaaaaa",
                    bytes(range(256)) * 5,
                    b"the quick brown fox " * 200):
        assert _lzw_decode(_lzw_encode(payload)) == payload
    raw = b"BT (lzw works) Tj ET"
    assert extract_pdf_text(
        _one_obj_pdf(_lzw_encode(raw), b"/LZWDecode")) == "lzw works"


def test_pdf_filter_chain_a85_then_flate():
    import base64
    raw = b"BT (chained) Tj ET"
    enc = base64.a85encode(zlib.compress(raw)) + b"~>"
    # decode order: first ASCII85, then Flate
    assert extract_pdf_text(
        _one_obj_pdf(enc, b"[/ASCII85Decode /FlateDecode]")) == "chained"


def test_pdf_tounicode_cmap_decodes_glyph_ids():
    # bfchar: glyph 1 -> 'H'; bfrange triple: glyphs 2-4 -> 'e','f','g';
    # bfrange array: glyph 5 -> 'll' (ligature), glyph 6 -> 'o'
    cmap = (b"/CIDInit /ProcSet findresource begin begincmap\n"
            b"1 beginbfchar <0001> <0048> endbfchar\n"
            b"1 beginbfrange <0002> <0004> <0065> endbfrange\n"
            b"1 beginbfrange <0005> <0006> [<006C006C> <006F>]"
            b" endbfrange\nendcmap end")
    content = b"BT <0001000200050006> Tj ET"
    pdf = (b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
           b"2 0 obj\n<< /Length %d >>\nstream\n%s\nendstream"
           % (len(cmap), cmap, len(content), content))
    assert extract_pdf_text(pdf) == "Hello"
    # unmapped hex strings still decode latin-1 despite the cmap
    pdf2 = pdf.replace(content,
                       b"BT <4A4B> Tj ET")  # 0x4A4B not in the cmap
    assert extract_pdf_text(pdf2) == "JK"


def test_pdf_utf16be_literal_string():
    raw = b"BT (\xfe\xff\x00H\x00i) Tj ET"
    pdf = b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    assert extract_pdf_text(pdf) == "Hi"


def test_pdf_bfrange_cap_and_garbage_cmaps():
    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        parse_tounicode_cmaps,
    )
    # adversarial huge range is capped, not materialized
    huge = (b"1 beginbfrange <00000001> <7FFFFFFF> <0041> endbfrange")
    pdf = (b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream"
           % (len(huge), huge))
    m = parse_tounicode_cmaps(pdf)
    assert 0 < len(m) <= (1 << 16)
    assert m[(4, 1)] == "A"
    # malformed cmap bodies parse to nothing, never raise
    bad = b"1 beginbfchar <zz> <xx> endbfchar"
    pdf2 = (b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream"
            % (len(bad), bad))
    assert parse_tounicode_cmaps(pdf2) == {}


def test_pdf_inline_images_skipped():
    # BI..ID..EI binary sample data must not be tokenized — it even
    # contains a fake (x) Tj here
    raw = (b"BT (before) Tj ET "
           b"BI /W 2 /H 2 /BPC 8 /CS /G ID \xff\x00(x) Tj\x81\x02 EI "
           b"BT (after) Tj ET")
    pdf = b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    assert extract_pdf_text(pdf) == "before\nafter"
    # unterminated inline image: rest of stream skipped, no crash
    raw2 = b"BT (kept) Tj ET BI /W 1 ID \x00\x01"
    pdf2 = b"1 0 obj\n<< /Length %d >>\nstream\n%s\nendstream" % (
        len(raw2), raw2)
    assert extract_pdf_text(pdf2) == "kept"


def test_pdf_opaque_and_unknown_filters_skipped():
    jpeg = b"\xff\xd8\xff\xe0BT (not text) Tj ET\xff\xd9"
    assert extract_pdf_text(_one_obj_pdf(jpeg, b"/DCTDecode")) == ""
    assert extract_pdf_text(_one_obj_pdf(b"??", b"/MadeUpDecode")) == ""


def test_pdf_image_xobjects_counted():
    img = (b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
           b"/Length 3 >>\nstream\nabc\nendstream")
    pdf = make_simple_pdf([["with image"]]) + b"\n9 0 obj\n" + img
    assert count_pdf_images(pdf) == 1


# -- Spark ingestion stage ----------------------------------------------------


def test_pdf_to_spans_feeds_the_extraction_job(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        extract_documents,
    )

    rows = [
        ("d1", make_simple_pdf([["first page text here"],
                                ["second page words"]])),
        ("d2", make_simple_pdf([["only page"]]) + b"\n9 0 obj\n"
         b"<< /Subtype /Image /Length 3 >>\nstream\nabc\nendstream"),
        ("d3", b"broken pdf"),
    ]
    pdfs = spark.createDataFrame(rows, "doc_id string, pdf binary")
    spans = pdf_to_spans(pdfs)
    got = {r["doc_id"]: r["spans"] for r in spans.collect()}
    assert [s["text"] for s in got["d1"]] == ["first page text here",
                                              "second page words"]
    assert [s["offset"] for s in got["d1"]] == [0, 1]
    kinds = [s["kind"] for s in got["d2"]]
    assert kinds == ["text", "media"]
    assert got["d2"][1]["media_ref"] == "pdfimg://d2/0"
    assert got["d3"] == []  # unparseable → empty spans, row kept

    # downstream: the standard extraction operator consumes it as-is
    out = {r["doc_id"]: r for r in extract_documents(spans).collect()}
    assert out["d1"]["status"] == "succeeded"
    assert out["d1"]["plain_text"] == "first page text here\nsecond page words"
    assert out["d2"]["n_media_spans"] == 1
    assert out["d3"]["chars_extracted"] == 0


def test_pdf_to_spans_classifies_encrypted(spark):
    # An /Encrypt-protected file: stream bodies are RC4/AES ciphered,
    # so inflation fails and no text layer is readable. The row must
    # surface failure_class='encrypted' instead of silently-empty
    # spans; parseable docs carry NULL.
    ciphered = bytes((b * 7 + 13) & 0xFF for b in range(64))
    enc_pdf = (b"%PDF-1.6\n1 0 obj\n<< /Length " + str(len(ciphered)).encode()
               + b" /Filter /FlateDecode >>\nstream\n" + ciphered
               + b"\nendstream\nendobj\ntrailer\n"
               b"<< /Encrypt 7 0 R /Root 1 0 R >>\n%%EOF")
    rows = [
        ("enc", enc_pdf),
        ("ok", make_simple_pdf([["readable page"]])),
        ("junk", b"not a pdf"),
    ]
    got = {r["doc_id"]: r for r in pdf_to_spans(
        spark.createDataFrame(rows, "doc_id string, pdf binary")).collect()}
    assert got["enc"]["failure_class"] == "encrypted"
    assert got["enc"]["spans"] == []
    assert got["ok"]["failure_class"] is None
    assert [s["text"] for s in got["ok"]["spans"]] == ["readable page"]
    assert got["junk"]["failure_class"] is None  # not encrypted, just junk


# -- unified format-sniffing router --------------------------------------------


def test_sniff_format():
    from zzzarchived_arxiv_fulltext_spark.sources.ingest_router import (
        sniff_format,
    )

    assert sniff_format(make_simple_pdf([["x"]])) == "pdf"
    assert sniff_format(b"  <!DOCTYPE html><html></html>") == "html"
    assert sniff_format(b"<html><body>x</body></html>") == "html"
    assert sniff_format(b"<p>fragment</p>") == "html"
    assert sniff_format("plain words é".encode()) == "text"
    assert sniff_format(b"\xff\xfe\x00\x01binary junk \x80\x81") == "unknown"
    assert sniff_format(b"") == "unknown"


def test_raw_to_spans_routes_mixed_corpus(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        extract_documents,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.ingest_router import (
        raw_to_spans,
    )

    rows = [
        ("p1", make_simple_pdf([["pdf page one"], ["pdf page two"]])),
        ("h1", b"<html><body><nav><a href='/'>x</a></nav>"
               b"<p>html body content here</p></body></html>"),
        ("t1", b"plain text document body"),
        ("x1", b"\x00\x01\x02\xff\xfe garbage"),
    ]
    raw = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {r["doc_id"]: r for r in raw_to_spans(raw).collect()}
    assert got["p1"]["format"] == "pdf"
    assert [s["text"] for s in got["p1"]["spans"]] == ["pdf page one",
                                                       "pdf page two"]
    assert got["h1"]["format"] == "html"
    assert got["h1"]["spans"][0]["text"] == "html body content here"
    assert got["t1"]["format"] == "text"
    assert got["t1"]["spans"][0]["text"] == "plain text document body"
    assert got["x1"]["format"] == "unknown" and got["x1"]["spans"] == []

    # downstream: the standard extraction operator consumes it as-is
    out = {r["doc_id"]: r
           for r in extract_documents(
               raw_to_spans(raw).drop("format")).collect()}
    assert out["p1"]["plain_text"] == "pdf page one\npdf page two"
    assert out["x1"]["chars_extracted"] == 0


def test_read_raw_dir_binary_file_source(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.sources.ingest_router import (
        raw_to_spans,
        read_raw_dir,
    )

    (tmp_path / "sub").mkdir()
    (tmp_path / "a.pdf").write_bytes(make_simple_pdf([["from disk"]]))
    (tmp_path / "sub" / "b.html").write_bytes(
        b"<html><body><p>html file body content</p></body></html>")
    (tmp_path / "c.txt").write_text("plain file text")
    raw = read_raw_dir(spark, str(tmp_path))
    assert raw.count() == 3
    routed = {r["doc_id"].rsplit("/", 1)[-1]: r
              for r in raw_to_spans(read_raw_dir(spark, str(tmp_path)))
              .collect()}
    assert routed["a.pdf"]["format"] == "pdf"
    assert routed["a.pdf"]["spans"][0]["text"] == "from disk"
    assert routed["b.html"]["format"] == "html"  # recursive lookup
    assert routed["c.txt"]["spans"][0]["text"] == "plain file text"
    # glob narrowing
    assert read_raw_dir(spark, str(tmp_path), glob="*.pdf").count() == 1


# -- HTML main-content extraction ---------------------------------------------

_PAGE = """<html><head><title>T</title><style>p{color:red}</style></head>
<body><header><h1>Site</h1></header>
<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>
<main><p>First real paragraph of body content.</p>
<div><a href="x">link one</a> <a href="y">link two</a></div>
<p>Second paragraph with a <a href="z">small link</a> inside longer
 prose text.</p></main>
<footer>Copyright 2026</footer><script>alert(1)</script></body></html>"""


def test_html_boilerplate_and_link_farms_dropped():
    got = extract_main_text(_PAGE)
    assert got == ("First real paragraph of body content.\n"
                   "Second paragraph with a small link inside longer "
                   "prose text.")
    assert 0 < link_density(_PAGE) < 1


def test_html_edge_cases():
    assert extract_main_text("") == ""
    assert extract_main_text("just bare text") == "just bare text"
    assert extract_main_text("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"
    # unclosed boilerplate swallows to end (conservative)
    assert extract_main_text("<nav>menu<p>stuck in nav</p>") == ""
    # whitespace normalization inside a block
    assert extract_main_text("<p>two\n  spaced\twords</p>") == \
        "two spaced words"


def test_html_metadata():
    from zzzarchived_arxiv_fulltext_spark.functions.html_extract import (
        html_metadata,
    )

    m = html_metadata(_PAGE)
    assert m["title"] == "T"
    assert m["n_links"] == 5  # nav(2) + main(3)
    assert m["lang"] is None and m["canonical"] is None
    m2 = html_metadata(
        "<html lang='en'><head><title> Hi \n there </title>"
        "<link rel='canonical' href='https://e.org/x'></head>"
        "<body><img src='a'/><img src='b'/></body></html>")
    assert m2 == {"title": "Hi there", "lang": "en",
                  "canonical": "https://e.org/x", "robots": None,
                  "noindex": False, "nofollow": False, "n_links": 0,
                  "n_images": 2}
    assert html_metadata("")["title"] == ""
    assert html_metadata("<title>open ended") ["title"] == "open ended"


def test_html_main_text_stage(spark):
    from zzzarchived_arxiv_fulltext_spark.sources.html_ingest import (
        html_main_text,
    )

    df = spark.createDataFrame(
        [("a", _PAGE), ("b", "<p>tiny</p>"), ("c", None)],
        "doc_id string, html string",
    )
    got = {r["doc_id"]: r["text"] for r in html_main_text(df).collect()}
    assert got["a"].startswith("First real paragraph")
    assert got["b"] == "tiny"
    assert got["c"] == ""


def test_pdf_two_column_reading_order():
    # interleave left/right column lines in STREAM order; reading
    # order must come out left column first, top to bottom
    ops = []
    rows = [
        (72, 720, "left one"), (350, 720, "right one"),
        (72, 706, "left two"), (350, 706, "right two"),
        (72, 692, "left three"), (350, 692, "right three"),
    ]
    for x, y, text in rows:
        ops.append(b"BT 1 0 0 1 %d %d Tm (%s) Tj ET"
                   % (x, y, text.encode()))
    raw = b" ".join(ops)
    pdf = (b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw))
    assert extract_pdf_text(b"1 0 obj\n" + pdf) == (
        "left one\nleft two\nleft three\n"
        "right one\nright two\nright three"
    )


def test_pdf_same_line_segments_merge_in_x_order():
    ops = [
        b"BT 1 0 0 1 200 700 Tm (world) Tj ET",   # emitted first, right
        b"BT 1 0 0 1 72 700 Tm (hello) Tj ET",
        b"BT 1 0 0 1 72 686 Tm (a) Tj ET",
        b"BT 1 0 0 1 72 672 Tm (b) Tj ET",
        b"BT 1 0 0 1 72 658 Tm (c) Tj ET",
        b"BT 1 0 0 1 72 644 Tm (d) Tj ET",
    ]
    raw = b" ".join(ops)
    pdf = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    assert extract_pdf_text(b"1 0 obj\n" + pdf) == "hello world\na\nb\nc\nd"


def test_pdf_three_column_reading_order():
    # VERDICT r4 #8: x-position clustering must recover >= 3 columns,
    # not just the widest single gap. Lines interleave across columns
    # in stream order; reading order is column-major, left to right.
    ops = []
    rows = [
        (40, 720, "a1"), (250, 720, "b1"), (460, 720, "c1"),
        (40, 706, "a2"), (250, 706, "b2"), (460, 706, "c2"),
        (40, 692, "a3"), (250, 692, "b3"), (460, 692, "c3"),
    ]
    for x, y, text in rows:
        ops.append(b"BT 1 0 0 1 %d %d Tm (%s) Tj ET"
                   % (x, y, text.encode()))
    raw = b" ".join(ops)
    pdf = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    assert extract_pdf_text(b"1 0 obj\n" + pdf) == (
        "a1\na2\na3\nb1\nb2\nb3\nc1\nc2\nc3")


def test_pdf_four_column_with_noise_line():
    # four true columns plus one stray line that must NOT become a
    # column of its own (min-3-lines-per-column guard)
    ops = []
    rows = [(40 + 150 * c, 720 - 14 * k, "c%dl%d" % (c, k))
            for c in range(4) for k in range(3)]
    # far-right stray: the 510-wide gap is a split candidate, but a
    # 1-line column fails the min-3 guard, so it merges into column 3
    rows.append((1000, 600, "stray"))
    for x, y, text in rows:
        ops.append(b"BT 1 0 0 1 %d %d Tm (%s) Tj ET"
                   % (int(x), int(y), text.encode()))
    raw = b" ".join(ops)
    pdf = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(raw), raw)
    out = extract_pdf_text(b"1 0 obj\n" + pdf).split("\n")
    # each true column appears contiguously in order
    for c in range(4):
        block = ["c%dl%d" % (c, k) for k in range(3)]
        joined = "\n".join(out)
        assert "\n".join(block) in joined, out
    # stray sorts inside column 3 (below its last line), not as its
    # own column
    assert out.index("stray") == out.index("c3l2") + 1


def test_column_splits_invariants_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from zzzarchived_arxiv_fulltext_spark.functions.pdf_text import (
        _COLUMN_GAP,
        _column_splits,
    )

    recs = st.lists(
        st.tuples(st.floats(0, 2000, allow_nan=False),
                  st.floats(0, 800, allow_nan=False),
                  st.integers(0, 100), st.just("t")),
        min_size=0, max_size=60)

    @settings(max_examples=200, deadline=None)
    @given(recs)
    def check(records):
        splits = _column_splits(records)
        assert splits == sorted(splits)
        # every produced column holds >= 3 records
        if splits:
            from bisect import bisect_right
            counts = [0] * (len(splits) + 1)
            for r in records:
                counts[bisect_right(splits, r[0])] += 1
            assert min(counts) >= 3
            # adjacent x-clusters on either side of a split are
            # separated by more than the gap threshold
            xs = sorted({round(r[0]) for r in records})
            for s in splits:
                below = max(x for x in xs if x < s)
                above = min(x for x in xs if x > s)
                assert above - below > _COLUMN_GAP

    check()


# -- interleaved media spans (BASELINE.json payload shape) -------------------


def test_pdf_images_interleave_at_page_positions(spark):
    pdf = make_simple_pdf(
        [["page one text"], ["page two text"], ["page three text"]],
        images_per_page=[2, 0, 1],
    )
    pdfs = spark.createDataFrame([("d1", pdf)], "doc_id string, pdf binary")
    spans = pdf_to_spans(pdfs).collect()[0]["spans"]
    assert [(s["kind"], s["offset"]) for s in spans] == [
        ("text", 0), ("media", 1), ("media", 2),
        ("text", 3), ("text", 4), ("media", 5),
    ]
    # media refs number in document order
    assert [s["media_ref"] for s in spans if s["kind"] == "media"] == [
        "pdfimg://d1/0", "pdfimg://d1/1", "pdfimg://d1/2"
    ]
    # text order unchanged vs the page texts
    assert [s["text"] for s in spans if s["kind"] == "text"] == [
        "page one text", "page two text", "page three text"
    ]


def test_pdf_orphan_images_trail_after_text(spark):
    # an image object referenced by no page cannot be positioned —
    # it degrades to a trailing media span, offsets staying dense
    pdf = make_simple_pdf([["only page"]]) + (
        b"\n9 0 obj\n<< /Subtype /Image /Length 3 >>\nstream\nabc\n"
        b"endstream\nendobj\n"
    )
    pdfs = spark.createDataFrame([("d2", pdf)], "doc_id string, pdf binary")
    spans = pdf_to_spans(pdfs).collect()[0]["spans"]
    assert [(s["kind"], s["offset"]) for s in spans] == [
        ("text", 0), ("media", 1)
    ]


def test_html_to_spans_interleaves_media(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
        extract_documents,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.html_ingest import (
        html_to_spans,
    )

    html = (
        "<html><body><nav><img src='logo.png'>Home</nav>"
        "<article><p>First real paragraph.</p>"
        "<img src='/fig.png'><p>Second paragraph.</p></article>"
        "<footer><img src='foot.png'>(c)</footer></body></html>"
    )
    df = spark.createDataFrame(
        [("h1", html, "https://ex.com/page/a")],
        "doc_id string, html string, base_url string",
    )
    got = html_to_spans(df, base_url_col="base_url").collect()[0]
    assert [(s["kind"], s["offset"]) for s in got["spans"]] == [
        ("text", 0), ("media", 1), ("text", 2)
    ]
    # nav/footer images are boilerplate; kept media resolves vs base
    assert got["spans"][1]["media_ref"] == "https://ex.com/fig.png"

    # downstream extraction keeps the interleaving under the
    # (kind, text, media_ref, order) invariant
    out = extract_documents(html_to_spans(df)).collect()[0]
    assert [(s["kind"], s["order"]) for s in out["spans"]] == [
        ("text", 0), ("media", 1), ("text", 2)
    ]
    assert out["spans"][1]["media_ref"] == "/fig.png"


def test_router_html_media_spans(spark):
    from zzzarchived_arxiv_fulltext_spark.sources.ingest_router import (
        raw_to_spans,
    )

    raw = spark.createDataFrame(
        [("h1", b"<html><body><p>alpha block</p><img src='x.png'>"
                b"<p>beta block</p></body></html>")],
        "doc_id string, payload binary",
    )
    got = raw_to_spans(raw).collect()[0]
    assert got["format"] == "html"
    assert [(s["kind"], s["text"], s["media_ref"]) for s in got["spans"]] \
        == [("text", "alpha block", None), ("media", None, "x.png"),
            ("text", "beta block", None)]
