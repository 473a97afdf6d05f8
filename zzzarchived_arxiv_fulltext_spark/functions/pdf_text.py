"""Pure-Python PDF text-layer extraction (stdlib only).

The reference shells out to pdf2txt / pdftotext subprocesses
(``extractor/fulltext/fulltext.py:50-109``) inside a dedicated Docker
image. The Spark-first restatement keeps extraction inside the
executor's Python worker: this module parses the structure that
born-digital PDFs actually use for their text layer —

- object streams with ``/FlateDecode``, ``/ASCII85Decode``,
  ``/ASCIIHexDecode``, ``/RunLengthDecode``, ``/LZWDecode`` (and
  chains of these), or no filter; direct or indirect ``/Length``,
- ``BT``/``ET`` text objects,
- show operators ``Tj``, ``'``, ``"`` and ``TJ`` (with kerning-aware
  space insertion),
- literal ``(...)`` strings (escapes, octal, nested parens) and hex
  ``<...>`` strings,
- ``/ToUnicode`` CMaps (bfchar/bfrange, range-offset and array forms)
  mapping subsetted-font glyph-ID hex strings back to unicode, plus
  UTF-16BE (BOM-prefixed) text strings,
- line positioning via ``Td``/``TD``/``T*``/``Tm``,

with zero external dependencies, so a raw-PDF corpus can be ingested
with no cluster provisioning beyond ``--py-files``.
"""

import base64
import re
import zlib
from typing import Iterator, List, Optional

# object dictionary followed by its stream body
_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_IMAGE_RE = re.compile(rb"/Subtype\s*/Image\b")

# TJ kerning threshold (thousandths of an em): gaps wider than this
# render as word spacing, mirroring pdftotext's word-break heuristic
_TJ_SPACE_GAP = -180

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def iter_streams(pdf: bytes) -> Iterator[bytes]:
    """Yield every decoded stream body in the file, in file order.

    Works without the xref table (robust to the truncated/appended
    PDFs common in web crawls): streams are located lexically, and
    FlateDecode bodies that fail to inflate are skipped.
    """
    pos = 0
    while True:
        m = _STREAM_RE.search(pdf, pos)
        if not m:
            return
        start = m.end()
        end = pdf.find(b"endstream", start)
        if end < 0:
            return
        # Prefer the declared /Length: binary stream data may itself
        # end in 0x0a/0x0d, which a lexical EOL-strip would corrupt.
        # `/Length 5 0 R` is an INDIRECT reference (very common in
        # born-digital PDFs) — the lookaheads reject it so we fall to
        # the lexical endstream slice instead of truncating to 5 bytes.
        # (?!\d) forbids backtracking INTO the number: without it,
        # '/Length 50 0 R' backtracks (\d+) to '5' so the indirect-ref
        # lookahead passes and the stream is truncated to 5 bytes.
        lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", m.group(1))
        declared: Optional[bytes] = None
        if lm and start + int(lm.group(1)) <= end:
            declared = pdf[start:start + int(lm.group(1))]
        lexical = pdf[start:end]
        if lexical.endswith(b"\r\n"):
            lexical = lexical[:-2]
        elif lexical.endswith(b"\n") or lexical.endswith(b"\r"):
            lexical = lexical[:-1]
        data = declared if declared is not None else lexical
        data = _apply_filters(data, m.group(1))
        if not data and declared is not None and declared != lexical:
            # Declared length was wrong (corrupt or mis-parsed):
            # retry with the lexical slice before giving up.
            data = _apply_filters(lexical, m.group(1))
        if data:
            yield data
        pos = end + len(b"endstream")


_OBJSTM_MARK = b"\n%__objstm_expanded__\n"


def expand_object_streams(pdf: bytes) -> bytes:
    """``pdf`` plus synthesized ``N 0 obj … endobj`` text for every
    object carried inside a ``/Type /ObjStm`` compressed object
    stream (PDF 1.5+).

    Per spec only NON-stream objects live in object streams, so page
    CONTENT extraction never needs this — but modern writers put the
    page tree, font dicts, and ``/Encoding /Differences`` dicts there,
    where the lexical dictionary scanners (``parse_font_encodings``,
    ``pdf_page_image_counts``) cannot see them. Appending the decoded
    objects in plain ``obj``-header form makes every byte-scanning
    parser ObjStm-aware at once, with zero change to their logic.

    Idempotent (a marker comment prevents re-expansion); malformed
    object streams are skipped, never raised.
    """
    if _OBJSTM_MARK in pdf:
        return pdf
    extra = bytearray()
    pos = 0
    while True:
        m = _STREAM_RE.search(pdf, pos)
        if not m:
            break
        start = m.end()
        end = pdf.find(b"endstream", start)
        if end < 0:
            break
        pos = end + len(b"endstream")
        d = m.group(1)
        if b"/ObjStm" not in d:
            continue
        try:
            lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", d)
            raw = pdf[start:end]
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                raw = raw[:-1]
            if lm and start + int(lm.group(1)) <= end:
                raw = pdf[start:start + int(lm.group(1))]
            data = _apply_filters(raw, d)
            nm = re.search(rb"/N\s+(\d+)", d)
            fm = re.search(rb"/First\s+(\d+)", d)
            if not (data and nm and fm):
                continue
            n, first = int(nm.group(1)), int(fm.group(1))
            ints = re.findall(rb"\d+", data[:first])[:2 * n]
            pairs = [(int(ints[i]), int(ints[i + 1]))
                     for i in range(0, len(ints) - 1, 2)]
            body = data[first:]
            for k, (num, off) in enumerate(pairs):
                stop = (pairs[k + 1][1] if k + 1 < len(pairs)
                        else len(body))
                extra += (b"%d 0 obj\n" % num) + body[off:stop].strip()
                extra += b"\nendobj\n"
        except Exception:
            continue
    if not extra:
        return pdf
    return pdf + _OBJSTM_MARK + bytes(extra)


# /Filter value: a single name or an array of names (a chain)
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_NAME_TOKEN_RE = re.compile(rb"/([A-Za-z0-9]+)")
# image/opaque codecs: no text layer to extract
_OPAQUE_FILTERS = {b"DCTDecode", b"DCT", b"JPXDecode", b"CCITTFaxDecode",
                   b"CCF", b"JBIG2Decode"}


def _a85_decode(data: bytes) -> bytes:
    s = re.sub(rb"\s", b"", data)
    if s.endswith(b"~>"):
        s = s[:-2]
    return base64.a85decode(s)


def _ahx_decode(data: bytes) -> bytes:
    s = re.sub(rb"\s", b"", data)
    if s.endswith(b">"):
        s = s[:-1]
    if len(s) % 2:
        s += b"0"
    return bytes.fromhex(s.decode("ascii"))


def _rle_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode: <=127 → copy n+1 literal bytes; >=129 →
    repeat next byte 257-n times; 128 → EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            out += data[i:i + length + 1]
            i += length + 1
        else:
            out += data[i:i + 1] * (257 - length)
            i += 1
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode: 9→12-bit codes, clear=256, EOD=257, EarlyChange=1
    (the spec default: code width grows one code early)."""
    out = bytearray()
    table = {i: bytes([i]) for i in range(256)}
    next_code, width = 258, 9
    prev: Optional[bytes] = None
    bitbuf = bits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bits += 8
        while bits >= width:
            code = (bitbuf >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            prev = entry
            if next_code >= (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


_ENCRYPT_RE = re.compile(rb"/Encrypt\s*(?:\d+\s+\d+\s+R|<<)")


def is_encrypted(pdf: bytes) -> bool:
    """True when the file carries an /Encrypt dictionary.

    Encrypted PDFs have RC4/AES-enciphered stream bodies that no
    stateless filter chain can decode. The common empty-password RC4
    class decrypts via ``pdf_crypt.decrypt_pdf`` (wired into
    ``extract_pdf_page_texts`` and ``pdf_to_spans``, matching the
    reference's implicit poppler behavior at
    ``extractor/fulltext/fulltext.py:81-109``); AES variants
    (/AESV2, /AESV3 R5/R6) decrypt there too; for real passwords,
    detection is the contract and callers classify the document as
    ``failure_class='encrypted'``. /Encrypt lives in the
    trailer dict (classic xref) or an xref-stream dict; to avoid
    false positives on page TEXT containing the token, scope the scan
    to the region after the last ``trailer`` keyword when one exists
    (xref-stream PDFs have no ``trailer`` keyword — scan the whole
    file for those; their streams are compressed, so the literal
    cannot appear in stream bodies).
    """
    t = pdf.rfind(b"trailer")
    region = pdf[t:] if t >= 0 else pdf
    return _ENCRYPT_RE.search(region) is not None


_PREDICTOR_RE = re.compile(rb"/Predictor\s+(\d+)")
_COLUMNS_RE = re.compile(rb"/Columns\s+(\d+)")
_COLORS_RE = re.compile(rb"/Colors\s+(\d+)")
_BPC_RE = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _undo_predictor(data: bytes, obj_dict: bytes) -> bytes:
    """Reverse /DecodeParms predictors on a Flate/LZW-decoded body.

    PNG predictors (/Predictor >= 10: per-row filter byte, then
    None/Sub/Up/Average/Paeth per the PNG spec) and TIFF horizontal
    differencing (/Predictor 2, 8-bit components only). Streams
    written with a predictor are row-filtered byte soup until undone —
    without this, predictor-wrapped content streams parse as garbage.
    """
    pm = _PREDICTOR_RE.search(obj_dict)
    if not pm:
        return data
    predictor = int(pm.group(1))
    if predictor < 2:
        return data
    cm = _COLUMNS_RE.search(obj_dict)
    colm = _COLORS_RE.search(obj_dict)
    bm = _BPC_RE.search(obj_dict)
    columns = int(cm.group(1)) if cm else 1
    colors = int(colm.group(1)) if colm else 1
    bpc = int(bm.group(1)) if bm else 8
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen <= 0:
        return data
    if predictor == 2:  # TIFF horizontal differencing
        if bpc != 8:
            return data  # sub-byte components: pass through untouched
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r + bpp, r + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row is (filter_type, rowlen bytes)
    out = bytearray()
    prev = bytearray(rowlen)
    i, n = 0, len(data)
    while i < n:
        ft = data[i]
        i += 1
        row = bytearray(data[i:i + rowlen])
        i += len(row)
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((a + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        elif ft != 0:  # corrupt filter byte → not predictor data
            return b""
        out += row
        if len(row) == rowlen:
            prev = row
        else:  # truncated final row: pad the carry for safety
            prev = row + bytearray(rowlen - len(row))
    return bytes(out)


def _apply_filters(data: bytes, obj_dict: bytes) -> bytes:
    """Run the stream's declared /Filter chain; b'' = undecodable.

    Covers the text-bearing filters web-crawl PDFs actually use
    (reference capability analogue: its poppler/pdfminer subprocesses,
    ``extractor/fulltext/fulltext.py:50-109``, handled all of these).
    Opaque image codecs and unknown filters yield b'' so the stream is
    skipped rather than parsed as garbage.
    """
    fm = _FILTER_RE.search(obj_dict)
    if not fm:
        return data
    for name in _NAME_TOKEN_RE.findall(fm.group(1)):
        if not data:
            return b""
        try:
            if name in (b"FlateDecode", b"Fl"):
                data = _undo_predictor(zlib.decompress(data), obj_dict)
            elif name in (b"ASCII85Decode", b"A85"):
                data = _a85_decode(data)
            elif name in (b"ASCIIHexDecode", b"AHx"):
                data = _ahx_decode(data)
            elif name in (b"RunLengthDecode", b"RL"):
                data = _rle_decode(data)
            elif name in (b"LZWDecode", b"LZW"):
                data = _undo_predictor(_lzw_decode(data), obj_dict)
            elif name in _OPAQUE_FILTERS:
                return b""
            elif name == b"Crypt":
                return b""
            else:  # DecodeParms names etc. are not filter names; any
                return b""  # genuinely unknown filter → skip stream
        except Exception:
            return b""
    return data


# --------------------------------------------------------------------------
# ToUnicode CMaps: subsetted embedded fonts show text as glyph-ID hex
# strings; the /ToUnicode CMap stream maps glyph IDs back to unicode.
# Without it the raw latin-1 decode of glyph IDs is garbage — this is
# the single biggest fidelity gap for real born-digital PDFs.
# --------------------------------------------------------------------------

_MAX_BFRANGE = 1 << 16  # cap per file against adversarial huge ranges

_BFCHAR_BLOCK = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_BLOCK = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_PAIR = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEX_TRIPLE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEX_ARRAY = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]", re.S)
_HEX_TOKEN = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16_hex(h: bytes) -> str:
    try:
        return bytes.fromhex(h.decode("ascii")).decode(
            "utf-16-be", "replace")
    except ValueError:
        return ""


def _utf16_hex_offset(h: bytes, k: int) -> str:
    """CMap bfrange destination plus ``k``: increment the LAST 16-bit
    code unit (the spec's range semantics)."""
    try:
        b = bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return ""
    if len(b) < 2:
        return ""
    last = int.from_bytes(b[-2:], "big") + k
    return (b[:-2] + (last & 0xFFFF).to_bytes(2, "big")).decode(
        "utf-16-be", "replace")


def parse_tounicode_cmaps(pdf: bytes) -> dict:
    """Merge every ToUnicode CMap in the file into one
    {(code_bytes, code): str} map.

    Merging across fonts is a documented heuristic: per-font
    resolution needs the full object graph (xref + /Resources/Font),
    while subsetted fonts in practice use disjoint glyph-ID ranges, so
    the merged map is correct for the overwhelmingly common case and
    never WORSE than the latin-1 fallback (unmapped codes fall back).
    """
    cmap: dict = {}
    added = 0
    for data in iter_streams(pdf):
        if b"beginbfchar" not in data and b"beginbfrange" not in data:
            continue
        for m in _BFCHAR_BLOCK.finditer(data):
            for src, dst in _HEX_PAIR.findall(m.group(1)):
                cmap[(len(src) // 2, int(src, 16))] = _utf16_hex(dst)
        for m in _BFRANGE_BLOCK.finditer(data):
            body = m.group(1)
            for lo, hi, arr in _HEX_ARRAY.findall(body):
                nb, lo_i = len(lo) // 2, int(lo, 16)
                for k, d in enumerate(_HEX_TOKEN.findall(arr)):
                    cmap[(nb, lo_i + k)] = _utf16_hex(d)
            body = _HEX_ARRAY.sub(b"", body)  # triples must not re-match
            for lo, hi, dst in _HEX_TRIPLE.findall(body):
                nb, lo_i, hi_i = len(lo) // 2, int(lo, 16), int(hi, 16)
                span = min(hi_i - lo_i + 1, _MAX_BFRANGE - added)
                for k in range(max(span, 0)):
                    cmap[(nb, lo_i + k)] = _utf16_hex_offset(dst, k)
                added += max(span, 0)
    return cmap


class _HexStr(bytes):
    """Marker: this show-string came from ``<...>`` hex syntax (the
    syntax glyph-ID strings use), so it is eligible for CMap decode."""


# --------------------------------------------------------------------------
# Simple-font /Encoding: a Type1/TrueType font with a custom
# /Differences array (and no /ToUnicode CMap) shows text as arbitrary
# byte codes; without the glyph-name → unicode mapping those bytes
# garble under the latin-1 fallback. pdfminer (the reference's engine,
# ``extractor/fulltext/fulltext.py:50-78``) carries the standard
# encoding + Adobe Glyph List tables; this section restores that
# coverage: WinAnsi/MacRoman base encodings via the stdlib codecs, a
# generated AGL subset for glyph names, and per-font byte→char maps
# bound to content streams through the /Resources /Font name + Tf.
# --------------------------------------------------------------------------


def _build_glyph_table() -> dict:
    """AGL subset: punctuation/symbol names explicitly; accented Latin,
    Greek, and ligatures generated from unicodedata so the table stays
    reviewable instead of a 4000-line paste."""
    import unicodedata as _ud

    t = {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
        "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
        "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
        "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
        "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
        "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
        "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
        "exclamdown": "¡", "cent": "¢", "sterling": "£",
        "currency": "¤", "yen": "¥", "brokenbar": "¦",
        "section": "§", "dieresis": "¨", "copyright": "©",
        "ordfeminine": "ª", "guillemotleft": "«",
        "logicalnot": "¬", "registered": "®", "macron": "¯",
        "degree": "°", "plusminus": "±", "acute": "´",
        "mu": "µ", "paragraph": "¶", "periodcentered": "·",
        "cedilla": "¸", "ordmasculine": "º",
        "guillemotright": "»", "onequarter": "¼",
        "onehalf": "½", "threequarters": "¾",
        "questiondown": "¿", "multiply": "×",
        "divide": "÷", "germandbls": "ß", "eth": "ð",
        "Eth": "Ð", "thorn": "þ", "Thorn": "Þ",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "dagger": "†", "daggerdbl": "‡", "bullet": "•",
        "ellipsis": "…", "perthousand": "‰",
        "guilsinglleft": "‹", "guilsinglright": "›",
        "fraction": "⁄", "endash": "–", "emdash": "—",
        "trademark": "™", "Euro": "€", "florin": "ƒ",
        "minus": "−", "lessequal": "≤",
        "greaterequal": "≥", "notequal": "≠",
        "approxequal": "≈", "infinity": "∞",
        "partialdiff": "∂", "summation": "∑",
        "product": "∏", "integral": "∫", "radical": "√",
        "proportional": "∝", "element": "∈",
        "gradient": "∇", "arrowleft": "←", "arrowup": "↑",
        "arrowright": "→", "arrowdown": "↓",
        "arrowboth": "↔", "circlemultiply": "⊗",
        "circleplus": "⊕", "dotlessi": "ı",
        "circumflex": "ˆ", "caron": "ˇ", "breve": "˘",
        "dotaccent": "˙", "ring": "˚", "ogonek": "˛",
        "tilde": "˜", "hungarumlaut": "˝",
        "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ",
        "ffi": "ﬃ", "ffl": "ﬄ",
        "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
        "Oslash": "Ø", "oslash": "ø",
        "Lslash": "Ł", "lslash": "ł",
    }
    accents = {
        "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
        "tilde": "TILDE", "dieresis": "DIAERESIS", "ring": "RING ABOVE",
        "cedilla": "CEDILLA", "macron": "MACRON", "breve": "BREVE",
        "caron": "CARON",
    }
    for letter in "abcdefghijklmnopqrstuvwxyz":
        for suffix, uname in accents.items():
            for case, lt in (("SMALL", letter), ("CAPITAL", letter.upper())):
                try:
                    t[lt + suffix] = _ud.lookup(
                        "LATIN %s LETTER %s WITH %s"
                        % (case, letter.upper(), uname))
                except KeyError:
                    pass
    greek = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
             "psi omega").split()
    for g in greek:
        for case, name in (("SMALL", g), ("CAPITAL", g.capitalize())):
            try:
                ch = _ud.lookup("GREEK %s LETTER %s" % (case, g.upper()))
            except KeyError:
                continue
            # AGL maps /mu to MICRO SIGN above; Greek capital stays
            t.setdefault(name, ch)
    t["sigma1"] = "ς"  # final sigma
    return t


_GLYPH_TABLE = _build_glyph_table()


def _glyph_to_unicode(name: str) -> Optional[str]:
    """Glyph name → text per the Adobe Glyph List rules: table lookup,
    single-character names as themselves, ``uniXXXX`` (one or more
    4-hex groups) and ``uXXXX[XX]``; suffixed variants (``a.smcp``)
    strip the suffix and retry. None = unknown (caller falls back)."""
    if name in _GLYPH_TABLE:
        return _GLYPH_TABLE[name]
    if len(name) == 1 and " " <= name <= "ÿ":
        return name
    if name.startswith("uni") and len(name) >= 7 \
            and (len(name) - 3) % 4 == 0:
        try:
            return "".join(chr(int(name[i:i + 4], 16))
                           for i in range(3, len(name), 4))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
            return chr(cp) if cp <= 0x10FFFF else None
        except ValueError:
            return None
    if "." in name:
        return _glyph_to_unicode(name.split(".", 1)[0])
    return None


def _base_encoding_map(name: bytes) -> dict:
    """byte → char for the named base encoding, high range only (the
    printable ASCII range agrees with latin-1 in all of them)."""
    codec = {b"WinAnsiEncoding": "cp1252",
             b"MacRomanEncoding": "mac_roman"}.get(name)
    if not codec:
        return {}
    out = {}
    for b in range(128, 256):
        try:
            out[b] = bytes([b]).decode(codec)
        except UnicodeDecodeError:
            pass
    return out


def _parse_differences(arr: bytes) -> dict:
    """/Differences array → {code: char}: integers set the next code,
    names assign consecutive codes. Unknown glyph names are skipped
    (their bytes keep the latin-1 fallback)."""
    out = {}
    code = 0
    for tok in re.finditer(rb"(\d+)|/([^\s/\[\]()<>{}%]+)", arr):
        if tok.group(1):
            code = int(tok.group(1))
        else:
            ch = _glyph_to_unicode(tok.group(2).decode("latin-1",
                                                       "replace"))
            if ch is not None:
                out[code] = ch
            code += 1
    return out


def _balanced_dict_slice(data: bytes, start: int) -> bytes:
    """``data[start:]`` must begin at ``<<``; returns the balanced
    dict body including delimiters."""
    depth, i = 0, start
    n = len(data)
    while i < n:
        two = data[i:i + 2]
        if two == b"<<":
            depth, i = depth + 1, i + 2
        elif two == b">>":
            depth, i = depth - 1, i + 2
            if depth == 0:
                return data[start:i]
        else:
            i += 1
    return data[start:]


_FONT_RES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_BIND_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+(\d+)\s+R")
_DIFF_ARRAY_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.S)


def _font_object_slice(pdf: bytes, num: int, gen: int) -> Optional[bytes]:
    m = re.search(rb"(?<![0-9])%d\s+%d\s+obj\b" % (num, gen), pdf)
    if not m:
        return None
    end = pdf.find(b"endobj", m.end())
    return pdf[m.end():end if end >= 0 else len(pdf)]


def _encoding_map_for_font(pdf: bytes, body: bytes) -> Optional[dict]:
    """byte→char map from a simple font object's /Encoding entry —
    None when the font has no explicit encoding (or is composite)."""
    if re.search(rb"/Subtype\s*/Type0\b", body):
        return None  # composite font: /Encoding is a CMap name
    em = re.search(rb"/Encoding\s*(/(\w+)|(\d+)\s+(\d+)\s+R|<<)", body)
    if not em:
        return None
    if em.group(2):  # bare base-encoding name
        return _base_encoding_map(em.group(2)) or None
    if em.group(3):  # indirect encoding dict
        enc_body = _font_object_slice(pdf, int(em.group(3)),
                                      int(em.group(4)))
        if enc_body is None:
            return None
    else:  # inline dict
        enc_body = _balanced_dict_slice(body, em.start(1))
    base = re.search(rb"/BaseEncoding\s*/(\w+)", enc_body)
    out = _base_encoding_map(base.group(1) if base else b"")
    dm = _DIFF_ARRAY_RE.search(enc_body)
    if dm:
        out.update(_parse_differences(dm.group(1)))
    return out or None


def parse_font_encodings(pdf: bytes) -> dict:
    """{font resource name: {code: char}} for every simple font bound
    in a /Resources /Font dict with an explicit /Encoding.

    Name collisions across pages merge (last binding wins) — same
    documented heuristic as the merged ToUnicode map: correct for the
    overwhelmingly common case, never worse than the latin-1 fallback.
    """
    fonts: dict = {}
    try:
        for rm in _FONT_RES_RE.finditer(pdf):
            for bind in _FONT_BIND_RE.finditer(rm.group(1)):
                body = _font_object_slice(pdf, int(bind.group(2)),
                                          int(bind.group(3)))
                if body is None or not re.search(
                        rb"/Type\s*/Font\b", body):
                    continue
                enc = _encoding_map_for_font(pdf, body)
                if enc:
                    name = bind.group(1).decode("latin-1", "replace")
                    fonts[name] = enc
    except Exception:
        return fonts
    return fonts


class _Name(str):
    """Marker: a ``/name`` token on the operand stack (only consumed
    by Tf; show() ignores it since it is not bytes)."""


def _decode_shown(b: bytes, cmap: Optional[dict],
                  enc: Optional[dict] = None) -> str:
    if cmap and isinstance(b, _HexStr) and b:
        for nb in (2, 1):
            if len(b) % nb:
                continue
            codes = [(nb, int.from_bytes(b[i:i + nb], "big"))
                     for i in range(0, len(b), nb)]
            if all(c in cmap for c in codes):
                return "".join(cmap[c] for c in codes)
    if b.startswith(b"\xfe\xff"):  # UTF-16BE text string
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            pass
    if enc:
        # simple-font byte codes through the /Encoding /Differences
        # map; unmapped codes keep the latin-1 fallback per byte
        return "".join(enc.get(x) or chr(x) for x in b)
    return b.decode("latin-1")


def _parse_literal_string(data: bytes, i: int) -> tuple:
    """Parse a ``(...)`` string starting at ``data[i] == '('``."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        c = data[i:i + 1]
        if c == b"\\":
            nxt = data[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                while j < min(i + 4, n) and data[j:j + 1].isdigit():
                    j += 1
                out.append(int(data[i + 1:j], 8) & 0xFF)
                i = j
            else:  # line continuation or unknown escape: drop backslash
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


def _parse_hex_string(data: bytes, i: int) -> tuple:
    end = data.find(b">", i)
    if end < 0:
        return _HexStr(b""), len(data)
    hexs = re.sub(rb"\s", b"", data[i + 1:end])
    if len(hexs) % 2:
        hexs += b"0"
    try:
        return _HexStr(bytes.fromhex(hexs.decode("ascii"))), end + 1
    except ValueError:
        return _HexStr(b""), end + 1


_NUMBER_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)")
_OPERATOR_RE = re.compile(rb"[A-Za-z'\"*]+")


def _stream_lines(data: bytes, cmap: Optional[dict] = None,
                  fontmaps: Optional[dict] = None) -> List[str]:
    """Run the text-op machine over one content stream → shown lines.

    Layout-aware: text-line positions are tracked through Td/TD/Tm/T*
    (the text-line matrix), and when every line is positioned the
    lines are emitted in READING order — top-to-bottom, and if the
    x-starts form two separated clusters (a two-column page), left
    column before right column (pdfminer-style column detection).
    Streams that never position their text (no Td/Tm) fall back to
    show order.
    """
    # (x, y, seq, text) — x/y None when the stream never positioned it
    records: List[tuple] = []
    cur: List[str] = []
    operands: List[object] = []
    in_array: Optional[List[object]] = None
    pos: List[Optional[float]] = [None, None]  # current line x, y
    leading = [0.0]
    cur_enc: List[Optional[dict]] = [None]  # active font's byte map

    def flush_line() -> None:
        text = "".join(cur).strip()
        if text:
            records.append((pos[0], pos[1], len(records), text))
        cur.clear()

    def move(tx: float, ty: float) -> None:
        flush_line()
        if pos[0] is None:
            pos[0], pos[1] = tx, ty
        else:
            pos[0], pos[1] = pos[0] + tx, pos[1] + ty

    def show(parts) -> None:
        buf = []
        for p in parts:
            if isinstance(p, bytes):
                buf.append(_decode_shown(p, cmap, cur_enc[0]))
            elif isinstance(p, float) and p <= _TJ_SPACE_GAP:
                buf.append(" ")
        cur.append("".join(buf))

    i, n = 0, len(data)
    while i < n:
        c = data[i:i + 1]
        if c in b" \t\r\n\x00":
            i += 1
        elif c == b"(":
            s, i = _parse_literal_string(data, i)
            (in_array if in_array is not None else operands).append(s)
        elif c == b"<":
            if data[i:i + 2] == b"<<":  # inline dict — skip balanced
                depth, i = 1, i + 2
                while i < n and depth:
                    if data[i:i + 2] == b"<<":
                        depth, i = depth + 1, i + 2
                    elif data[i:i + 2] == b">>":
                        depth, i = depth - 1, i + 2
                    else:
                        i += 1
            else:
                s, i = _parse_hex_string(data, i)
                (in_array if in_array is not None else operands).append(s)
        elif c == b"[":
            in_array = []
            i += 1
        elif c == b"]":
            operands.append(in_array or [])
            in_array = None
            i += 1
        elif c == b"/":  # name object — kept on the stack for Tf
            m = re.match(rb"/([^\s()<>\[\]/%]*)", data[i:])
            if m:
                name = _Name(m.group(1).decode("latin-1", "replace"))
                (in_array if in_array is not None else
                 operands).append(name)
            i += m.end() if m else 1
        elif c == b"%":  # comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            m = _NUMBER_RE.match(data, i)
            if m and not _OPERATOR_RE.match(data, i):
                val = float(m.group())
                (in_array if in_array is not None else operands).append(val)
                i = m.end()
                continue
            m = _OPERATOR_RE.match(data, i)
            if not m:
                i += 1
                continue
            op = m.group()
            i = m.end()
            if op == b"BI":
                # inline image: skip to the EI delimiter — the binary
                # sample data after ID would otherwise be tokenized as
                # garbage operators (and can even contain 'Tj')
                idm = re.compile(rb"\bID[ \r\n]").search(data, i)
                j = idm.end() if idm else i
                eim = re.compile(rb"[ \r\n\t\0]EI(?=[ \r\n\t\0]|$)").search(
                    data, j)
                i = eim.end() if eim else n
                operands = []
                continue
            if op == b"Tj":
                show(operands[-1:])
            elif op == b"TJ":
                arr = operands[-1] if operands else []
                show(arr if isinstance(arr, list) else [arr])
            elif op == b"'":
                move(0.0, -leading[0])
                show(operands[-1:])
            elif op == b'"':
                move(0.0, -leading[0])
                show(operands[-1:])
            elif op in (b"Td", b"TD"):
                if len(operands) >= 2 and isinstance(operands[-2], float) \
                        and isinstance(operands[-1], float):
                    if op == b"TD":
                        leading[0] = -operands[-1]
                    move(operands[-2], operands[-1])
            elif op == b"TL":
                if operands and isinstance(operands[-1], float):
                    leading[0] = operands[-1]
            elif op == b"Tf":
                if fontmaps and len(operands) >= 2 \
                        and isinstance(operands[-2], _Name):
                    cur_enc[0] = fontmaps.get(str(operands[-2]))
            elif op == b"T*":
                move(0.0, -leading[0])
            elif op == b"Tm":
                if len(operands) >= 6 and isinstance(operands[-2], float) \
                        and isinstance(operands[-1], float):
                    flush_line()
                    pos[0], pos[1] = operands[-2], operands[-1]
            elif op == b"BT":
                # BT resets the text matrix to identity: the first
                # Td of each text object is ABSOLUTE. Without this,
                # one-BT-per-paragraph PDFs (the common case) drift
                # and _reading_order scrambles paragraphs.
                flush_line()
                pos[0] = pos[1] = None
            elif op == b"ET":
                flush_line()
            operands = []
    flush_line()
    return _reading_order(records)


# minimum x gap between line-start clusters to call them columns, and
# the minimum positioned-line count to attempt layout at all
_COLUMN_GAP = 100.0
_MIN_LAYOUT_LINES = 6


def _column_splits(records: List[tuple]) -> List[float]:
    """Column boundaries from x-start clustering (1-D gap split).

    Greedy widest-gap-first: a candidate boundary is accepted only if
    every resulting column keeps >= 3 lines, so noise lines (a stray
    pulled-out quote, an equation number) never fabricate a column.
    Generalizes the old widest-single-gap two-column logic to any
    column count — the ``pdf2txt -A`` layout-clustering analogue the
    reference leaned on (``extractor/fulltext/fulltext.py:112-130``).
    """
    from bisect import bisect_right

    xs = sorted({round(r[0]) for r in records})
    if len(xs) < 2:
        return []
    gaps = sorted(((b - a, a, b) for a, b in zip(xs, xs[1:])),
                  reverse=True)
    splits: List[float] = []
    for width, a, b in gaps:
        if width <= _COLUMN_GAP:
            break
        cand = sorted(splits + [(a + b) / 2.0])
        counts = [0] * (len(cand) + 1)
        for r in records:
            counts[bisect_right(cand, r[0])] += 1
        if min(counts) >= 3:
            splits = cand
    return splits


def _reading_order(records: List[tuple]) -> List[str]:
    """Order (x, y, seq, text) line records for reading.

    With full position info: group same-y records into visual lines
    (x-ordered), sort top-to-bottom, and split multi-column layouts
    at wide x-gaps (leftmost column first). Otherwise: show order.
    """
    from bisect import bisect_right

    if not records:
        return []
    if len(records) < _MIN_LAYOUT_LINES or \
            any(r[0] is None for r in records):
        return [r[3] for r in records]

    splits = _column_splits(records)

    def column(r) -> int:
        return bisect_right(splits, r[0])

    ordered = sorted(records, key=lambda r: (column(r), -r[1], r[0], r[2]))
    lines: List[str] = []
    prev = None
    for r in ordered:
        key = (column(r), round(r[1], 1))
        if prev == key:
            lines[-1] = lines[-1] + " " + r[3]
        else:
            lines.append(r[3])
        prev = key
    return lines


def extract_pdf_page_texts(pdf: bytes) -> List[str]:
    """Per-content-stream text blocks, in file order.

    One entry per stream that showed any text (for typical one-
    content-stream-per-page PDFs: one entry per page). ToUnicode
    CMaps, when present, decode glyph-ID hex strings back to unicode.
    """
    if is_encrypted(pdf):
        # password-less RC4 files decrypt in place (offset-preserving);
        # real passwords return None and stay 'encrypted'
        from .pdf_crypt import decrypt_pdf

        dec = decrypt_pdf(pdf)
        if dec is not None:
            pdf = dec
    # surface objects hidden in /ObjStm compressed streams (page
    # tree, font dicts, /Differences) to the lexical scanners; the
    # ObjStm streams themselves contain no text operators, so the
    # content iteration below is unaffected
    pdf = expand_object_streams(pdf)
    cmap = parse_tounicode_cmaps(pdf)
    fontmaps = parse_font_encodings(pdf)
    pages = []
    for stream in iter_streams(pdf):
        if b"beginbfchar" in stream or b"beginbfrange" in stream:
            continue  # a CMap, not page content
        lines = _stream_lines(stream, cmap or None, fontmaps or None)
        if lines:
            pages.append("\n".join(lines))
    return pages


def extract_pdf_text(pdf: bytes) -> str:
    """The whole text layer as one string (pages joined by newline)."""
    return "\n".join(extract_pdf_page_texts(pdf))


def count_pdf_images(pdf: bytes) -> int:
    """Number of image XObjects declared in the file."""
    return len(_IMAGE_RE.findall(pdf))


_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")


def pdf_page_image_counts(pdf: bytes) -> List[int]:
    """Image-XObject references per page, in page order.

    Pages follow the ``/Pages /Kids`` array when present (the PDF
    page-tree order), else file order of ``/Type /Page`` objects.
    Each page's count is the number of refs inside its
    ``/Resources /XObject << ... >>`` sub-dictionary that resolve to
    ``/Subtype /Image`` objects. Images referenced by no page (or by
    Form XObjects) are NOT counted here — callers compare against
    :func:`count_pdf_images` to place orphans at document end.
    Malformed structure degrades to ``[]``, never raises.
    """
    try:
        image_objs = set()
        page_slices = {}  # obj num -> dict slice
        kids_order: List[int] = []
        for m in _OBJ_HEAD_RE.finditer(pdf):
            num = int(m.group(1))
            end = pdf.find(b"endobj", m.end())
            body = pdf[m.end(): end if end != -1 else len(pdf)]
            head = body.split(b"stream", 1)[0]
            if _IMAGE_RE.search(head):
                image_objs.add(num)
            elif re.search(rb"/Type\s*/Pages\b", head):
                km = re.search(rb"/Kids\s*\[([^\]]*)\]", head)
                if km:
                    kids_order.extend(
                        int(r.group(1)) for r in _REF_RE.finditer(km.group(1))
                    )
            elif re.search(rb"/Type\s*/Page\b", head):
                page_slices[num] = head
        ordered = [n for n in kids_order if n in page_slices]
        ordered += [n for n in page_slices if n not in set(ordered)]
        counts = []
        for num in ordered:
            head = page_slices[num]
            xm = re.search(rb"/XObject\s*<<", head)
            if not xm:
                counts.append(0)
                continue
            xdict = _balanced_dict_slice(head, xm.end() - 2)
            refs = [int(r.group(1)) for r in _REF_RE.finditer(xdict)]
            counts.append(sum(1 for r in refs if r in image_objs))
        return counts
    except Exception:
        return []


# ---------------------------------------------------------------------------
# Minimal-but-valid PDF writer (fixtures + round-trip tests): real
# xref table, Flate-compressed content streams, escaped strings.
# ---------------------------------------------------------------------------


def _pdf_escape(s: str) -> bytes:
    b = s.encode("latin-1", "replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def make_simple_pdf(pages: List[List[str]], compress: bool = True,
                    images_per_page: Optional[List[int]] = None) -> bytes:
    """Build a valid single-font PDF showing ``pages`` of text lines.

    ``images_per_page[i]`` (default 0) embeds that many 1×1 grayscale
    image XObjects referenced from page ``i``'s resources — the
    fixture shape for interleaved media ingestion.
    """
    objs: List[bytes] = []
    imgs = list(images_per_page or [])
    imgs += [0] * (len(pages) - len(imgs))

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids = []
    content_ids = []
    pages_id_placeholder = (
        len(objs) + 2 * len(pages) + sum(imgs) + 1
    )
    for lines, n_img in zip(pages, imgs):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _pdf_escape(line) + b") Tj")
        ops.append(b"ET")
        stream = b" ".join(ops)
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        content = add(
            b"<< /Length %d%s >>\nstream\n%s\nendstream"
            % (len(stream), filt, stream)
        )
        img_ids = [
            add(b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 "
                b">>\nstream\n\x00\nendstream")
            for _ in range(n_img)
        ]
        xobj = b""
        if img_ids:
            xobj = b" /XObject << " + b" ".join(
                b"/Im%d %d 0 R" % (k, i) for k, i in enumerate(img_ids)
            ) + b" >>"
        page = add(
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >>%s >> /Contents %d 0 R >>"
            % (pages_id_placeholder, font, xobj, content)
        )
        page_ids.append(page)
        content_ids.append(content)
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    pages_id = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    )
    assert pages_id == pages_id_placeholder
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)
