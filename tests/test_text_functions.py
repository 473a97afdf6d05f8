"""Golden tests for the pure text pipeline.

Fixtures transplanted from the reference's own suite
(``fulltext/process/tests/test_process_psv.py`` — cited per test) so
this engine reproduces the reference's observable behavior verbatim.
"""

from zzzarchived_arxiv_fulltext_spark.functions import (
    MAX_AVG_WORD_LENGTH,
    average_word_length,
    fix_unicode,
    normalize_text_psv,
    split_on_references,
    tidy_lines,
)
from zzzarchived_arxiv_fulltext_spark.functions.psv import recover_accents
from zzzarchived_arxiv_fulltext_spark.functions.quality import strip_layout_junk
from zzzarchived_arxiv_fulltext_spark.functions.tidy import (
    blank_intra_whitespace,
    drop_boilerplate_lines,
    expand_abbreviations,
    repair_line_breaks,
)
from psv_reference import scrub_line  # noqa: F401

# Reference test corpus: test_process_psv.py:6-21.
PAULI = """
**Pauli Virtanen** is SciPy's Benevolent Dictator For Life (BDFL).  He says:

*Truthfully speaking, we could have released a SciPy 1.0 a long time ago, so
I'm happy we do it now at long last. The project has a long history, and during
the years it has matured also as a software project.  I believe it has well
proved its merit to warrant a version number starting with unity.*

*Since its conception 15+ years ago, SciPy has largely been written by and for
scientists, to provide a box of basic tools that they need. Over time, the set
of people active in its development has undergone some rotation, and we have
evolved towards a somewhat more systematic approach to development.
Regardless, this underlying drive has stayed the same, and I think it will also
continue propelling the project forward in future. This is all good, since not
long after 1.0 comes 1.1.*
"""


def test_tidy_golden_pauli():
    # Expected output: test_process_psv.py:27-49.
    lines = PAULI.replace("\n", " \n").split("\n")
    expected = [
        "pauli virtanen is scipy benevolent dictator for life bdfl",
        "he says",
        "truthfully speaking we could have released scipy",
        "long time ago so",
        "i happy we do it now at long last",
        "the project has long history and during the years it has matured"
        " also as software project",
        "believe it has well proved its merit to warrant version number"
        " starting with unity",
        "since its conception years ago scipy has largely been written by"
        " and for scientists to provide box of basic tools that they need",
        "over time the set of people active in its development has"
        " undergone some rotation and we have evolved towards somewhat"
        " more systematic approach to development",
        "regardless this underlying drive has stayed the same and think it"
        " will also continue propelling the project forward in future",
        "this is all good since not long after",
        "comes",
    ]
    assert tidy_lines(lines) == expected


def test_psv_golden_pauli():
    # Expected output: test_process_psv.py:51-67.
    expected = (
        "pauli virtanen is scipy benevolent dictator for life bdfl"
        " he says truthfully speaking we could have released scipy long"
        " time ago so i happy we do it now at long last the project has"
        " long history and during the years it has matured also as"
        " software project believe it has well proved its merit to warrant"
        " version number starting with unity since its conception years"
        " ago scipy has largely been written by and for scientists to"
        " provide box of basic tools that they need over time the set of"
        " people active in its development has undergone some rotation and"
        " we have evolved towards somewhat more systematic approach to"
        " development regardless this underlying drive has stayed the same"
        " and think it will also continue propelling the project forward"
        " in future this is all good since not long after comes"
    )
    assert normalize_text_psv(PAULI) == expected


def test_expand_abbreviations():
    # test_process_psv.py:73-83
    raw = "Lorem Prof. Dr. ipsum dolor Fig. sit amet Sects. 1 Refs Eqs. 2"
    assert expand_abbreviations(raw) == (
        "Lorem Prof Dr ipsum dolor Figure sit "
        "amet Section 1 Reference Equation 2"
    )


def test_scrub_symbols():
    # test_process_psv.py:84-89 (symbols only — isolate via scrub chain prefix)
    import re

    raw = "Bacon ipsum$@@ dolor amet lan!!!#djaeger chuc&&&^k bacon"
    line = re.sub(r"[^\.\w ]", " ", raw)
    line = re.sub(r"\_", " ", line)
    assert line == "Bacon ipsum    dolor amet lan    djaeger chuc    k bacon"


def test_scrub_numbers():
    # test_process_psv.py:91-96
    import re

    raw = "Pork 2chop boudin5 picanha chic4ken"
    line = re.sub(r"\d+[\.]?\d+/", " ", raw)
    line = re.sub(r"\d", " ", line)
    assert line == "Pork  chop boudin  picanha chic ken"


def test_drop_boilerplate_lines():
    # test_process_psv.py:98-118
    raw = [
        "Bacon ipsum dolor amet landjaeger chuck bacon boudin sausage",
        "arxiv ribs meatloaf chicken turducken bresaola shoulder. Pork",
        "chop boudin will be inserted by hand later picanha chicken short",
        "loin alcatra, turducken flank t-bone tail sirloin hamburger",
        "turkey short ribs prosciutto. Pork was prepared with the aas",
        "chop ribeye strip steak jerky, ball tip andouille leberkas cupim",
        "1234567890",
        "university",
        "ham. Pig meatloaf short ribs leberkas, cupim pork chop",
    ]
    expected = [
        "Bacon ipsum dolor amet landjaeger chuck bacon boudin sausage",
        "loin alcatra, turducken flank t-bone tail sirloin hamburger",
        "chop ribeye strip steak jerky, ball tip andouille leberkas cupim",
        "1234567890",
        "ham. Pig meatloaf short ribs leberkas, cupim pork chop",
    ]
    assert list(drop_boilerplate_lines(raw)) == expected


def test_repair_line_breaks():
    # test_process_psv.py:120-133
    raw = [
        "Bacon ipsum dolor amet landjaeger chuck bacon boudin saus- ",
        "age.",
        "Chop boudin picanha chicken short ",
        "hmmm",
    ]
    expected = [
        "",
        "Bacon ipsum dolor amet landjaeger chuck bacon boudin sausage.",
        "Chop boudin picanha chicken short hmmm",
    ]
    assert repair_line_breaks(raw) == expected


def test_whitespace_blanking_and_idempotence():
    # test_process_psv.py:135-165
    raw = [
        "Meatball\t pastrami chicken hamburger brisket ham hock capicola.",
        "Shankle turkey tongue\n\nsirloin meatloaf corned beef tail strip",
        "steak   sausage bacon beef ribs. ",
    ]
    expected = [
        "Meatball  pastrami chicken hamburger brisket ham hock capicola.",
        "Shankle turkey tongue  sirloin meatloaf corned beef tail strip",
        "steak   sausage bacon beef ribs. ",
    ]
    result = list(blank_intra_whitespace(raw))
    assert result == expected
    for _ in range(5):
        result = list(blank_intra_whitespace(result))
        assert result == expected


def test_fix_unicode_ligatures_and_typography():
    # Mapping facts: reference fixunicode.py:26-89.
    assert fix_unicode("eﬃcient ﬁnding of ﬂows") == "efficient finding of flows"
    assert fix_unicode("Æsop œuvre Ĳsselmeer") == "AEsop oeuvre IJsselmeer"
    assert fix_unicode("Straße") == "Strasse"
    # leading sharp-s is guarded by \B (word boundary before it)
    assert fix_unicode("ß-decay") == "ß-decay"
    assert fix_unicode("a\xa0b ‘c’ “d” e\xade f—g h·i") == "a b 'c' \"d\" e-e f-g h*i"
    # NFKC pass catches compatibility forms
    assert fix_unicode("½") == "1⁄2"


def test_average_word_length_and_gate():
    # average_word_length: reference fulltext.py:27-44; gate 45 at :166,173.
    assert average_word_length("") == 0.0
    assert average_word_length("ab cd") == 5 / 3
    junk = "(cid:123)(cid:456)lllll....." * 100
    assert average_word_length(junk) == 0.0
    assert MAX_AVG_WORD_LENGTH == 45.0


def test_strip_layout_junk_removes_stamp():
    stamped = "arXiv:1701.00001v1 [cs.DB] (cool paper) 1 Jan 2017\nbody text"
    assert "arXiv" not in strip_layout_junk(stamped)
    assert "body text" in strip_layout_junk(stamped)


def test_split_on_references_basic():
    lines = ["intro\n", "body\n", "References\n", "[1] one\n"]
    body, refs = split_on_references(lines)
    assert body == ["intro\n", "body\n"]
    assert refs == ["References\n", "[1] one\n"]


def test_split_on_references_last_heading_wins():
    lines = ["References\n", "a\n", "b\n", "c\n", "d\n", "e\n", "References\n", "x\n"]
    body, refs = split_on_references(lines)
    assert refs == ["References\n", "x\n"]
    assert len(body) == 6


def test_split_on_references_guard_on_oversized_block():
    # refs block >50% of lines must NOT be stripped (psv.py:265-273)
    lines = ["Bibliography\n", "r1\n", "r2\n", "r3\n"]
    body, refs = split_on_references(lines)
    assert body == lines
    assert refs == []


def test_recover_accents():
    # parity: psv.py:285-309
    assert recover_accents("a\xa8\nb") == "ab"
    assert recover_accents("x`\ny^\nz~\nw") == "xyzw"
    assert recover_accents("\xf8\xd8\xdf\xe6\xc6") == "oOssaeAE"
