"""Frozen copy of the per-line PSV chain, kept as a parity reference.

This is the line-at-a-time implementation of ``functions/tidy.py`` and
``functions/psv.py`` as it stood before the tidy chain was rewritten to
run once per document. ``tests/test_psv_parity.py`` and
``tools/psv_parity.py`` assert that the package's ``tidy_lines`` and
``normalize_text_psv`` produce byte-identical output to the functions
here. The package must never import this module; do not edit it except
to fix a bug in the reference itself.
"""

import re
from typing import Iterable, Iterator, List, Tuple

# --- stateful line passes ---------------------------------------------------

_ALL_DIGITS = re.compile(r"^\d+$")
_AFFILIATION = re.compile(r"university|institute", re.IGNORECASE)


def drop_boilerplate_lines(lines: Iterable[str]) -> Iterator[str]:
    """Drop arXiv-stamp / journal-template boilerplate lines.

    Parity: ``_remove_Keyword`` (psv.py:127-148). The affiliation rule
    looks at the *previous input line* (kept or not): a digits-only line
    followed by a University/Institute line drops the latter.
    """
    prev = ""
    for line in lines:
        keep = not (
            line.lower().startswith("arxiv")
            or "will be inserted by hand later" in line
            or "was prepared with the aas" in line
            or (_ALL_DIGITS.match(prev) and _AFFILIATION.match(line))
        )
        prev = line
        if keep:
            yield line


_INTRA_WS = re.compile(r"[\n\r\f\t]")


def blank_intra_whitespace(lines: Iterable[str]) -> Iterator[str]:
    """Turn newlines/CR/FF/tabs into spaces, per line.

    Parity: ``_remove_WhiteSpace`` (psv.py:103-108). Idempotent.
    """
    for line in lines:
        yield _INTRA_WS.sub(" ", line)


_TRAILING_HYPHEN = re.compile(r"- $")
_STARTS_LOWER = re.compile(r"^[a-z]")
_SENTENCE_END = re.compile(r"\. $")


def repair_line_breaks(lines: Iterable[str]) -> List[str]:
    """Rejoin hyphenated words and mid-sentence line breaks.

    Parity: ``_remove_BadEOL`` (psv.py:111-124): strip a trailing
    ``"- "``; a line starting lowercase whose predecessor (post-strip)
    is not exactly ``". "`` is concatenated onto the previous output
    line. Output starts with a seed empty line, as in the reference
    (its ``out = ['']``).
    """
    out: List[str] = [""]
    prev = ""
    for line in lines:
        line = _TRAILING_HYPHEN.sub("", line)
        if _STARTS_LOWER.match(line) and not _SENTENCE_END.match(prev):
            out[-1] += line
        else:
            out.append(line)
        prev = line
    return out


# --- per-line scalar chain ---------------------------------------------------

# Abbreviation expansions; parity: ``expandWords`` (psv.py:151-167).
# The reference applies six sequential case-insensitive substitutions.
# The patterns have no leading context, are prefix-disjoint, and no
# replacement text can create a match for another pattern, so one
# alternation pass with leftmost-alternative priority is equivalent to
# the sequential passes (validated by the dev-time fuzz harness
# against the reference implementation).
_EXPANSION_RX = re.compile(
    r"(?P<fig>Fig[s]?[\.]?\s)|(?P<eq>Eq[s]?[\.]?\s)"
    r"|(?P<sect>Sect[s]?[\.]?\s)|(?P<ref>Ref[s]?[\.]?\s)"
    r"|(?P<prof>Prof\.)|(?P<dr>Dr\.)",
    re.IGNORECASE,
)
_EXPANSION_OUT = {
    "fig": "Figure ", "eq": "Equation ", "sect": "Section ",
    "ref": "Reference ", "prof": "Prof", "dr": "Dr",
}


def _expand_match(m: "re.Match") -> str:
    return _EXPANSION_OUT[m.lastgroup]


# The scalar cleanup chain applied to every line, in order
# (psv.py:86-92). Each entry is (pattern, replacement) with global,
# left-to-right, non-overlapping substitution — the reference's
# sequential ``re.subn`` semantics. Two pairs of consecutive reference
# passes are merged into single alternation passes because the second
# pattern of each pair can never match text produced by the first
# ('_' is \w so the symbol class never yields it; digit runs replaced
# by spaces never yield digits) — also fuzz-validated:
# symbols -> space; parity: _remove_Symbols (psv.py:170-174)
_SYMBOLS = re.compile(r"[^\.\w ]|_")
# digits -> space; parity: _remove_Numbers (psv.py:177-181)
_DIGITS = re.compile(r"\d+[\.]?\d+/|\d")
# dotted abbreviations; parity: _remove_Abbrev (psv.py:184-193).
# NOT merged: each pass consumes surrounding whitespace, and a later
# pass must see the space characters an earlier pass re-introduced.
_ABBREV3 = re.compile(r"\s\w\.\w\.\w\.\s")
_ABBREV2 = re.compile(r"\s\w\.\w\.\s")
_ABBREV1 = re.compile(r"\s\w\.\s")
# single letters; applied twice to catch overlapping matches;
# parity: _remove_SingleAlphabet (psv.py:196-201)
_SINGLE = re.compile(r"\s[a-zA-Z]\s")
_SINGLE_DOT = re.compile(r"\s[a-zA-Z]\.")

_WS_RUN = re.compile(r"\s+")
_LEADING_WS = re.compile(r"^\s+")
_TRAILING_WS = re.compile(r"\s+$")


def expand_abbreviations(line: str) -> str:
    """Parity: ``expandWords`` (psv.py:151-167)."""
    return _EXPANSION_RX.sub(_expand_match, line)


def scrub_line(line: str) -> str:
    """Expand abbreviations then run the scalar cleanup chain.

    Same pass order as tidy_txt_from_pdf (psv.py:86-92). Passes whose
    pattern requires a literal '.' are gated on a C-level containment
    check — skipping a pass that cannot match is identical to running
    it.
    """
    line = _EXPANSION_RX.sub(_expand_match, line)
    line = _SYMBOLS.sub(" ", line)
    line = _DIGITS.sub(" ", line)
    if "." in line:
        line = _ABBREV3.sub(" ", line)
        line = _ABBREV2.sub(" ", line)
        line = _ABBREV1.sub(" ", line)
    line = _SINGLE.sub(" ", line)
    line = _SINGLE.sub(" ", line)
    if "." in line:
        line = _SINGLE_DOT.sub(".", line)
    line = _WS_RUN.sub(" ", line)
    return _LEADING_WS.sub("", line)


def collapse_spaces(line: str) -> str:
    """Parity: ``_remove_ExtraSpaces`` (psv.py:204-208)."""
    line = _WS_RUN.sub(" ", line)
    return _LEADING_WS.sub("", line)


# --- sentence passes ----------------------------------------------------------

_SENTENCE_SPLIT = re.compile(r"\.\s")
_HAS_WORD = re.compile(r"\w")
_NON_WORD = re.compile(r"\W")


def split_sentences(lines: Iterable[str]) -> Iterator[str]:
    """Flatten lines into ``". "``-delimited sentences.

    Parity: ``_split_sentence`` (psv.py:211-216).
    """
    for line in lines:
        yield from _SENTENCE_SPLIT.split(line)


def clean_sentences(lines: Iterable[str]) -> Iterator[str]:
    """Keep word-bearing sentences; strip non-word chars; lowercase.

    Parity: ``_clean_sentence`` (psv.py:219-240): sentence must *start*
    with a word char, length (post-scrub) must exceed 3.
    """
    for line in lines:
        if not _HAS_WORD.match(line):
            continue
        line = collapse_spaces(_NON_WORD.sub(" ", line))
        line = _LEADING_WS.sub("", line)
        line = _TRAILING_WS.sub("", line)
        if len(line) <= 3:
            continue
        yield line.lower()


# --- the full pipeline --------------------------------------------------------


def tidy_lines(lines: List[str]) -> List[str]:
    """Run the full tidy pipeline over a document's lines.

    Parity: ``tidy_txt_from_pdf`` (psv.py:64-100), including the exact
    pass ordering and the doubled whitespace/EOL passes.
    """
    staged = repair_line_breaks(
        blank_intra_whitespace(drop_boilerplate_lines(lines))
    )
    staged = [scrub_line(line) for line in staged]
    staged = repair_line_breaks(blank_intra_whitespace(staged))
    return list(clean_sentences(split_sentences(staged)))


# --- document-level normalization (psv.py) ---------------------------------

# Garbled xpdf accent artifacts. Parity: _recover_accents (psv.py:285-309).
# NOTE: the reference's character classes are written `[\xa8|\xb4|...]`,
# i.e. they (redundantly) include '|' as a member — we keep that member
# for byte-level parity.
_COMBINING_ACCENTS = re.compile(r"[\xa8|\xb4|\xb8|\xb0]\x0a?")
_LITERAL_ACCENTS = re.compile(r"[\x5e|\x60|\x7e]\x0a")
_CHAR_SUBS = (
    ("\xf8", "o"),   # o-slash
    ("\xd8", "O"),   # O-slash
    ("\xdf", "ss"),  # sharp s (beta-lookalike)
    ("\xe6", "ae"),
    ("\xc6", "AE"),
)

_LINE_BREAKS = re.compile(r"[\x0a-\x0d]+")

# A line that is just "References"/"Bibliography" with optional
# non-letter decoration. Parity: psv.py:251-253.
_REFS_HEADING = re.compile(
    r"^[^a-zA-Z]*(Reference[s]?|Bibliography)[\W]*$", re.IGNORECASE
)


def recover_accents(txt: str) -> str:
    """Strip multi-byte garbled-accent artifacts from xpdf output.

    Parity: ``_recover_accents`` (psv.py:285-309).
    """
    txt = _COMBINING_ACCENTS.sub("", txt)
    txt = _LITERAL_ACCENTS.sub("", txt)
    for old, new in _CHAR_SUBS:
        txt = txt.replace(old, new)
    return txt


def split_on_references(
    lines: List[str], max_refs_fraction: float = 0.5
) -> Tuple[List[str], List[str]]:
    """Split a document's lines at the LAST References/Bibliography heading.

    The heading line itself goes with the reference block. If the block
    would exceed ``max_refs_fraction`` of all lines, nothing is split
    (guards against a heading appearing early by accident).

    Parity: ``split_on_references`` (psv.py:243-282).
    """
    n = len(lines)
    cut = 0  # 1-based line number of the last heading; 0 = none
    for i, line in enumerate(lines, start=1):
        if _REFS_HEADING.match(line):
            cut = i

    if n and (1.0 - cut / n) > max_refs_fraction:
        cut = n + 1  # past the end: everything stays in the body

    if cut == 0:
        return list(lines), []
    return list(lines[: cut - 1]), list(lines[cut - 1:])


def process_text(txt: str) -> Tuple[str, str]:
    """Full-document normalization → (psv_body, cleaned_references).

    Parity: ``process_text`` (psv.py:36-61): accent recovery, split into
    newline-terminated lines, reference split, tidy both halves, join
    each with newlines.
    """
    txt = recover_accents(txt)
    lines = [piece + "\n" for piece in _LINE_BREAKS.split(txt)]
    body, refs = split_on_references(lines)
    return "\n".join(tidy_lines(body)), "\n".join(tidy_lines(refs))


def normalize_text_psv(txt: str) -> str:
    """PSV body as one space-joined string (references dropped).

    Parity: ``normalize_text_psv`` (psv.py:16-33).
    """
    body, _ = process_text(txt)
    return body.replace("\n", " ")
