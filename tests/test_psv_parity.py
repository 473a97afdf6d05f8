"""Byte parity of the document-level PSV chain with the frozen per-line one.

``tidy_lines`` and ``normalize_text_psv`` must equal the per-line
implementation kept in ``psv_reference.py`` on

- a seeded fuzz of token-stuffed documents (``fuzz_cases``), whose
  alphabet is every construct some pass of the chain reacts to, and
- the engine's own fixture documents (``sources.fixtures.make_doc``).

``tools/psv_parity.py`` runs the same fuzz for longer.
"""

import random
import re

import psv_reference as ref
from zzzarchived_arxiv_fulltext_spark.functions.psv import normalize_text_psv
from zzzarchived_arxiv_fulltext_spark.functions.tidy import tidy_lines
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import make_doc

FUZZ_CASES = 12_000
FUZZ_SEED = 20261017
FIXTURE_DOCS = range(0, 600)

# Abbreviations the expansion pass rewrites, in mixed case.
_ABBREVS = [
    "Fig.", "fig", "FIGS.", "Figs", "fIg. ", "Eq.", "eqs", "EQS.", "Eq",
    "Sect.", "sects", "SECT", "Ref", "refs.", "REF.", "Refs", "Prof.",
    "prof.", "PROF", "Dr.", "dr.", "DR", "ſect.", "Dr.Fig.",
]
# Dotted abbreviations, single letters, digits and symbols.
_TOKENS = [
    "e.g.", "i.e.", "U.S.A.", "u.s.", "a.b.", "x.", "a.", "a", "B", "x",
    "I", "z.", "12/3", "3.5/7", "1/2", "2/", "42", "7", "0.5", "foo",
    "bar", "quantum", "Field", "theory.", "end.", ".", "..", "...", "-",
    "_", "$", "(a)", "[1]", "a_b", "x-ray", "é", "İ", "ß", "ﬁ", "ø", "Æ",
    "K", "\xa8", "\xb4", "`", "~", "^", "|", "word.word", "Section",
    "université", "١٢٣", "ǅ",
]
# What goes between tokens: spaces, line ends and every whitespace
# character the line passes treat differently.
_SEPS = [
    " ", " ", " ", " ", "  ", "\n", "\n", "- \n", "-\n", ". ", ".\n",
    ". \n", "\r", "\t", "\f", "\x0b", "\x1c", "\x85", "　", "\xa0",
    "\r\n", "", " ",
]
# Whole lines the stateful passes react to.
_LINES = [
    "References", "REFERENCES:", "  Bibliography  ", "References.",
    "1. References", "arXiv:1701.00001v1 [cs.DB] 1 Jan 2017",
    "ARXIV preprint", "1234", "University of Somewhere", "institute x",
    "Will be inserted by hand later", "will be inserted by hand later",
    "was prepared with the aas macros", ". ", ".", "- ", "lower start",
]


def fuzz_case(rng: random.Random) -> tuple:
    """One ``(text, lines)`` pair: a document for ``normalize_text_psv``
    and the same characters cut into lines at random points (so lines
    also carry interior line breaks) for ``tidy_lines``."""
    parts = []
    for _ in range(rng.randint(0, 60)):
        r = rng.random()
        if r < 0.08:
            parts.append("\n" + rng.choice(_LINES) + "\n")
        elif r < 0.3:
            parts.append(rng.choice(_ABBREVS))
        else:
            parts.append(rng.choice(_TOKENS))
        parts.append(rng.choice(_SEPS))
    text = "".join(parts)
    cuts = sorted(rng.sample(range(len(text) + 1),
                             min(len(text) + 1, rng.randint(0, 12))))
    lines = [text[a:b] for a, b in zip([0] + cuts, cuts + [len(text)])]
    return text, lines


def fuzz_cases(n: int, seed: int):
    rng = random.Random(seed)
    for _ in range(n):
        yield fuzz_case(rng)


def mismatch(text: str, lines: list) -> str:
    """Which function differs from the reference on this case, or ''."""
    if tidy_lines(lines) != ref.tidy_lines(lines):
        return "tidy_lines"
    if normalize_text_psv(text) != ref.normalize_text_psv(text):
        return "normalize_text_psv"
    return ""


def _fixture_text(i: int) -> str:
    _, spans = make_doc(i)
    return "\n".join(s["text"] for s in spans if s["text"] is not None)


def test_fuzz_parity():
    bad = [(text, lines, which) for text, lines in fuzz_cases(FUZZ_CASES, FUZZ_SEED)
           if (which := mismatch(text, lines))]
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]!r}"


def test_fixture_parity():
    for i in FIXTURE_DOCS:
        text = _fixture_text(i)
        assert normalize_text_psv(text) == ref.normalize_text_psv(text), i
        lines = text.split("\n")
        assert tidy_lines(lines) == ref.tidy_lines(lines), i


def test_reference_is_not_imported_by_the_package():
    import pathlib

    import zzzarchived_arxiv_fulltext_spark as pkg

    imports = re.compile(r"^\s*(from|import)\s+\S*psv_reference", re.M)
    root = pathlib.Path(pkg.__file__).parent
    assert not [p for p in root.rglob("*.py") if imports.search(p.read_text())]
