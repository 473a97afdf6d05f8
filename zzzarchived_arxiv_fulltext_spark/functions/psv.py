"""Document-level PSV normalization: accents, reference split, compose.

Behavioral parity: reference ``fulltext/process/psv.py:16-61,243-309``.
"""

import re
from typing import List, Tuple

from .tidy import tidy_lines

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


def _body_and_references(txt: str) -> Tuple[List[str], List[str]]:
    """Accent recovery, split into newline-terminated lines, reference
    split. Parity: ``process_text`` (psv.py:36-61) up to the tidy."""
    txt = recover_accents(txt)
    lines = [piece + "\n" for piece in _LINE_BREAKS.split(txt)]
    return split_on_references(lines)


def process_text(txt: str) -> Tuple[str, str]:
    """Full-document normalization → (psv_body, cleaned_references).

    Parity: ``process_text`` (psv.py:36-61): tidy both halves of the
    reference split and join each with newlines.
    """
    body, refs = _body_and_references(txt)
    return "\n".join(tidy_lines(body)), "\n".join(tidy_lines(refs))


def normalize_text_psv(txt: str) -> str:
    """PSV body as one space-joined string (references dropped).

    Parity: ``normalize_text_psv`` (psv.py:16-33), which tidies the
    reference block too and then discards it; here it is never tidied.
    No tidied sentence holds a newline, so joining with spaces equals
    the reference's newline join followed by newline → space.
    """
    body, _ = _body_and_references(txt)
    return " ".join(tidy_lines(body))
