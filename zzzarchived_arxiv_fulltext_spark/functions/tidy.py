"""Line-level tidy pipeline (the arXiv "TidyText" semantics).

Behavioral parity: reference ``fulltext/process/psv.py:64-240``
(itself a port of arXiv::Overlap::TidyText). Each pass below cites the
reference lines whose observable behavior it reproduces; the code is a
fresh implementation (generator-based passes, pre-compiled patterns).

Pipeline order is load-bearing (psv.py:64-100): keyword strip →
whitespace → EOL repair → scalar chain → EOL repair → sentence split →
sentence clean. (The reference blanks whitespace again before the
second EOL repair; after the scalar chain that pass changes nothing.)

The reference runs the scalar chain and the sentence passes once per
line. Here they run once per document: the repaired lines are joined
with ``"\\n"`` and no later pass can match ``"\\n"`` (each ``\\s`` of
the reference is ``[^\\S\\n]`` or a literal space). A line holds no
``"\\n"`` once ``blank_intra_whitespace`` has run, so no match crosses a
line and the result equals the per-line chain byte for byte.
``tests/psv_reference.py`` keeps the per-line chain;
``tests/test_psv_parity.py`` checks the two agree.
"""

import re
from typing import Iterable, Iterator, List

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


# --- scalar chain, once per document ------------------------------------------

# Abbreviation expansions; parity: ``expandWords`` (psv.py:151-167).
# The reference applies six sequential case-insensitive substitutions.
# The patterns have no leading context, are prefix-disjoint, and no
# replacement text can create a match for another pattern, so one
# alternation pass with leftmost-alternative priority is equivalent to
# the sequential passes. The lookahead holds the first letters of the
# six alternatives (case-folded like them), so the engine skips every
# other position with one class test instead of six branch attempts.
_EXPANSION_RX = re.compile(
    r"(?=[fesrpd])(?:"
    r"(?P<fig>Figs?\.?[^\S\n])|(?P<eq>Eqs?\.?[^\S\n])"
    r"|(?P<sect>Sects?\.?[^\S\n])|(?P<ref>Refs?\.?[^\S\n])"
    r"|(?P<prof>Prof\.)|(?P<dr>Dr\.))",
    re.IGNORECASE,
)
_EXPANSION_OUT = {
    "fig": "Figure ", "eq": "Equation ", "sect": "Section ",
    "ref": "Reference ", "prof": "Prof", "dr": "Dr",
}


def _expand_match(m: "re.Match") -> str:
    return _EXPANSION_OUT[m.lastgroup]


# The scalar cleanup chain (psv.py:86-92), each a global, left-to-right,
# non-overlapping substitution as in the reference's ``re.subn``.
# Symbols and digits -> space in one pass; parity: _remove_Symbols and
# _remove_Numbers (psv.py:170-181). The reference's digit pattern
# ``\d+[\.]?\d+/|\d`` reduces to ``\d`` because the symbol pass has
# already turned every '/' into a space, and a digit replaced by a
# space is never a symbol, so the two single-character passes fold
# into one class.
_SYMBOLS_DIGITS = re.compile(r"[^.\w \n]|[_\d]")
# After that pass the only whitespace left is ' ' (and the '\n' between
# lines), so every later reference ``\s`` is a literal space here.
# Dotted abbreviations; parity: _remove_Abbrev (psv.py:184-193).
# NOT merged: each pass consumes surrounding whitespace, and a later
# pass must see the space characters an earlier pass re-introduced.
_ABBREV3 = re.compile(r" \w\.\w\.\w\. ")
_ABBREV2 = re.compile(r" \w\.\w\. ")
_ABBREV1 = re.compile(r" \w\. ")
# single letters; applied twice to catch overlapping matches;
# parity: _remove_SingleAlphabet (psv.py:196-201)
_SINGLE = re.compile(r" [a-zA-Z] ")
_SINGLE_DOT = re.compile(r" [a-zA-Z]\.")
# space collapse; parity: _remove_ExtraSpaces (psv.py:204-208). A lone
# space maps to itself, so only runs of two or more need replacing.
_SPACE_RUN = re.compile(r" {2,}")


def expand_abbreviations(text: str) -> str:
    """Parity: ``expandWords`` (psv.py:151-167); never crosses a line."""
    return _EXPANSION_RX.sub(_expand_match, text)


def scrub_text(text: str) -> str:
    """Expand abbreviations then run the scalar cleanup chain on every
    ``"\\n"``-separated line of ``text``.

    Same pass order as tidy_txt_from_pdf (psv.py:86-92). Passes whose
    pattern requires a literal '.' are gated on a C-level containment
    check — skipping a pass that cannot match is identical to running
    it.
    """
    text = _SYMBOLS_DIGITS.sub(" ", expand_abbreviations(text))
    if "." in text:
        text = _ABBREV3.sub(" ", text)
        text = _ABBREV2.sub(" ", text)
        text = _ABBREV1.sub(" ", text)
    text = _SINGLE.sub(" ", text)
    text = _SINGLE.sub(" ", text)
    if "." in text:
        text = _SINGLE_DOT.sub(".", text)
    # after the collapse a line starts with at most one space
    text = _SPACE_RUN.sub(" ", text).replace("\n ", "\n")
    return text[1:] if text.startswith(" ") else text


# --- sentence passes ----------------------------------------------------------


def clean_sentences(text: str) -> List[str]:
    """Split scrubbed lines into sentences; keep word-bearing ones,
    strip non-word chars, lowercase.

    Parity: ``_split_sentence`` and ``_clean_sentence``
    (psv.py:211-240). ``text`` is ``scrub_text`` output, so its only
    non-word characters are ' ', '.' and the newline between lines:
    the reference's ``\\.\\s`` split is a split on ". " and on newlines,
    a sentence starts with a word char unless it starts with ' ' or
    '.', and its words are what lies between spaces and dots. The words
    joined by single spaces must exceed 3 chars.
    """
    out = []
    for sentence in text.replace(". ", "\n").split("\n"):
        if sentence and sentence[0] not in " .":
            sentence = " ".join(sentence.replace(".", " ").split())
            if len(sentence) > 3:
                out.append(sentence.lower())
    return out


# --- the full pipeline --------------------------------------------------------


def tidy_lines(lines: List[str]) -> List[str]:
    """Run the full tidy pipeline over a document's lines.

    Parity: ``tidy_txt_from_pdf`` (psv.py:64-100), in the pass order
    the module docstring gives, including the doubled EOL pass.
    """
    staged = repair_line_breaks(
        blank_intra_whitespace(drop_boilerplate_lines(lines))
    )
    staged = scrub_text("\n".join(staged)).split("\n")
    return clean_sentences("\n".join(repair_line_breaks(staged)))
