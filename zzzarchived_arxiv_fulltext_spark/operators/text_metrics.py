"""Text analysis operators: language ID, quality scoring, token
counting, fingerprinting. All JVM-native except the winnowing
fingerprint (vectorized numpy inside a pandas UDF).
"""

from typing import Dict, List

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .dedup import drop_hot_keys

# --------------------------------------------------------------------------
# token counting
# --------------------------------------------------------------------------

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space
# symbols (the GPT-2 pre-tokenizer's shape without lookaheads, which
# neither Java regex in codegen nor RE2 oracle engines agree on).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(text, " ", -1))


def bpe_token_count(text: Column) -> Column:
    """Count regex token matches without materializing the tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), 0))


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col),
        whitespace_token_count(F.col(text_col)).alias("ws_tokens"),
        bpe_token_count(F.col(text_col)).alias("bpe_tokens"),
        F.length(text_col).alias("n_chars"),
    )


# --------------------------------------------------------------------------
# quality scoring
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "in", "and", "to", "is", "was", "for", "on")


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword / repetition heuristics.

    One JVM projection; every score is a pure expression so Catalyst
    can pipeline it with the scan.
    """
    text = F.col(text_col)
    toks = F.split(text, " ", -1)
    n_toks = F.size(toks)
    stop = F.size(F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS)))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    uniq = F.size(F.array_distinct(toks))
    return df.select(
        F.col(id_col),
        F.length(text).alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(F.length(text) / n_toks, 6).alias("avg_token_len"),
        F.round(stop / n_toks, 6).alias("stopword_ratio"),
        F.round(punct / F.length(text), 6).alias("punct_ratio"),
        F.round(uniq / n_toks, 6).alias("distinct_token_ratio"),
    )


# --------------------------------------------------------------------------
# language identification (character n-gram heuristic)
# --------------------------------------------------------------------------

# Tiny trigram/marker profiles per language. Deliberately simple and
# deterministic: score = marker hit count weighted by specificity.
_LANG_MARKERS: Dict[str, List[str]] = {
    "en": [" the ", " and ", " of ", " is ", "ing ", " that "],
    "de": [" der ", " und ", " die ", " ist ", "sch", " nicht "],
    "es": [" el ", " de la ", " que ", " los ", "ción", " una "],
    "fr": [" le ", " la ", " les ", " est ", " une ", " dans "],
    "zh": ["的", "是", "了", "在", "我", "不"],
}


def language_scores(text: Column) -> Dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        s = F.lit(0)
        for m in markers:
            # occurrence count via length difference (no regex engine
            # variance; literal markers only)
            occ = (
                (F.length(padded)
                 - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                / F.lit(len(m))
            )
            s = s + occ
        scores[lang] = s
    return scores


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, predicted_lang, lang_score) by marker-profile argmax."""
    scores = language_scores(F.col(text_col))
    pairs = F.array(*[
        F.struct(s.cast("double").alias("score"), F.lit(lang).alias("lang"))
        for lang, s in scores.items()
    ])
    best = F.array_max(pairs)
    return df.select(
        F.col(id_col),
        best["lang"].alias("predicted_lang"),
        F.round(best["score"], 6).alias("lang_score"),
    )


# --------------------------------------------------------------------------
# document fingerprinting (winnowing)
# --------------------------------------------------------------------------

WINNOW_K = 8   # characters per k-gram
WINNOW_W = 16  # k-grams per winnowing window


def _winnow_minima(h, n: int) -> List[int]:
    """Distinct sliding-window minima of the k-gram hash sequence."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    if n <= WINNOW_W:
        return [int(h.min())]
    mins = sliding_window_view(h, WINNOW_W).min(axis=1)
    return [int(v) for v in np.unique(mins).tolist()]


@pandas_udf(T.ArrayType(T.LongType()))
def winnowing_fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Winnowing fingerprints: k-gram hashes, window minima.

    k=8, window=16 (Schleimer et al., SIGMOD'03 scheme). The k-gram
    hash is the top 60 bits of md5 — the engine-portable family used
    throughout (MinHash, SimHash), so a DuckDB oracle reproduces the
    fingerprints exactly. Window minima are numpy-vectorized; the
    per-k-gram md5 loop is interpreter-bound, so production corpora
    should use the ``family="rolling"`` fast path (same winnowing
    guarantees, ~10-100x cheaper hashes, no cross-engine oracle).
    """
    import hashlib

    import numpy as np

    k = WINNOW_K

    def fp(text: str) -> List[int]:
        if not text or len(text) < k:
            return []
        n = len(text) - k + 1
        h = np.fromiter(
            (int(hashlib.md5(text[i:i + k].encode("utf-8"))
                 .hexdigest()[:15], 16) for i in range(n)),
            dtype=np.int64, count=n,
        )
        return _winnow_minima(h, n)

    return texts.map(fp)


# polynomial rolling-hash base (odd, large, arbitrary); arithmetic is
# uint64 wraparound (mod 2^64), masked to 60 bits at the end so the
# fingerprint domain matches the md5 family's non-negative int64 range
_ROLL_BASE = 0x100000001B3  # the FNV-1a prime, reused as a multiplier


@pandas_udf(T.ArrayType(T.LongType()))
def winnowing_fingerprint_fast_udf(texts: pd.Series) -> pd.Series:
    """Winnowing with a VECTORIZED polynomial k-gram hash.

    Same scheme (k=8, w=16, distinct window minima) but the k-gram
    hash is ``sum(cp[i+j] * BASE^(k-1-j)) mod 2^64`` over unicode code
    points, computed in k numpy passes per document — no per-position
    Python calls. Fingerprint VALUES differ from the md5 family, so
    this path has no cross-engine SQL oracle; overlap/containment
    semantics are identical (pytest-pinned against the md5 family).
    """
    import numpy as np

    k = WINNOW_K
    weights = [(pow(_ROLL_BASE, k - 1 - j, 1 << 64)) for j in range(k)]

    def fp(text: str) -> List[int]:
        if not text or len(text) < k:
            return []
        n = len(text) - k + 1
        cps = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        h = np.zeros(n, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(k):
                h += cps[j:j + n] * np.uint64(weights[j])
        h = (h & np.uint64((1 << 60) - 1)).astype(np.int64)
        return _winnow_minima(h, n)

    return texts.map(fp)


_FP_FAMILIES = {
    "md5": winnowing_fingerprint_udf,
    "rolling": winnowing_fingerprint_fast_udf,
}


def document_fingerprints(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          family: str = "md5") -> DataFrame:
    """(id, fingerprints). ``family``: "md5" (oracle-reproducible,
    slow hashes) or "rolling" (vectorized production path)."""
    if family not in _FP_FAMILIES:
        raise ValueError(f"unknown fingerprint family {family!r}; "
                         f"choose from {sorted(_FP_FAMILIES)}")
    udf = _FP_FAMILIES[family]
    return df.select(
        F.col(id_col),
        udf(F.col(text_col)).alias("fingerprints"),
    )


def cross_fingerprint_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_shared: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    family: str = "md5",
    with_containment: bool = False,
) -> DataFrame:
    """Decontamination: corpus docs sharing fingerprints with a
    benchmark/eval set.

    (doc_id, benchmark_id, shared_fingerprints) for every corpus
    document that shares >= ``min_shared`` winnowing fingerprints with
    a benchmark document — the standard pre-training leak check. The
    benchmark side is small by nature, so its fingerprint set is
    broadcast: the corpus-side scan stays a single map pass.

    ``with_containment=True`` adds ``containment`` — the fraction of
    the BENCHMARK document's fingerprints found in the corpus doc
    (1.0 = the eval item is fully contained; the usual drop-threshold
    is ~0.8).
    """
    def fps(df: DataFrame) -> DataFrame:
        return document_fingerprints(df, text_col, id_col, family).select(
            F.col(id_col).alias("id"), F.explode("fingerprints").alias("fp")
        ).distinct()

    bench_fps = fps(benchmark)
    out = (
        fps(corpus).alias("c")
        .join(F.broadcast(bench_fps.alias("b")), on="fp")
        .groupBy(
            F.col("c.id").alias("doc_id"),
            F.col("b.id").alias("benchmark_id"),
        )
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )
    if with_containment:
        sizes = bench_fps.groupBy("id").agg(F.count("*").alias("_nb"))
        out = (
            out.join(F.broadcast(sizes.withColumnRenamed(
                "id", "benchmark_id")), on="benchmark_id")
            .withColumn(
                "containment",
                F.round(F.col("shared_fingerprints") / F.col("_nb"), 6))
            .drop("_nb")
            .select("doc_id", "benchmark_id", "shared_fingerprints",
                    "containment")
        )
    return out


DEFAULT_MAX_FP_DOCS = 10_000


def fingerprint_overlap_pairs(df: DataFrame, min_shared: int = 3,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              family: str = "md5",
                              max_fp_docs: int = DEFAULT_MAX_FP_DOCS,
                              with_drop_stats: bool = False):
    """Plagiarism-style candidate pairs: docs sharing >= N fingerprints.

    Hot-fingerprint cap (``dedup.drop_hot_keys``): a fingerprint
    shared by m documents (ubiquitous boilerplate) produces m² join
    rows; fingerprints held by more than ``max_fp_docs`` documents are
    dropped before the self-join. ``max_fp_docs=None`` disables it.
    ``with_drop_stats=True`` returns ``(pairs, dropped)`` with the
    (fp, n_docs) table of every dropped fingerprint.
    """
    fps = document_fingerprints(df, text_col, id_col, family).select(
        F.col(id_col).alias("id"), F.explode("fingerprints").alias("fp")
    ).distinct()
    fps, dropped = drop_hot_keys(fps, ["fp"], max_fp_docs)
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )
    return (pairs, dropped) if with_drop_stats else pairs


# UTF-8-as-Latin-1 double-decode artifacts: 'Ã©'-style lead bytes,
# Windows-1252 'â€œ' curly-quote wrecks, bare replacement chars, and
# stray 'Â ' (NBSP mojibake). The canonical symptom set of encoding
# mix-ups in web crawls.
_MOJIBAKE_RE = "(Ã[-¿]|â€.|�|Â )"


def mojibake_score(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Encoding-corruption score per document: occurrences of classic
    mojibake byte-sequences per 100 characters, plus the raw count.

    A cheap pure-JVM projection (regexp_count) that catches the
    double-decoded UTF-8 and charset-mislabel artifacts that survive
    naive ingestion — score > ~0.5 marks a document for re-decode or
    drop in web-pipeline practice.
    """
    n = F.regexp_count(F.col(text_col), F.lit(_MOJIBAKE_RE))
    length = F.length(text_col)
    return df.select(
        F.col(id_col),
        n.alias("mojibake_count"),
        F.round(
            F.when(length > 0, n * 100.0 / length).otherwise(0.0), 6
        ).alias("mojibake_per_100_chars"),
    )


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Repair UTF-8-as-Latin-1 double decoding (the artifact family
    :func:`mojibake_score` detects): re-encode the text as Latin-1 and
    re-decode as UTF-8 — on genuinely double-decoded text this inverts
    the corruption exactly.

    The repair is GUARDED, applied only when it provably helps:
    the text must be Latin-1-representable (else encode() substitutes
    '?'), must contain artifacts at all, the candidate must strictly
    reduce the artifact count, and must introduce no new replacement
    characters (a false positive on legitimate text decodes to
    invalid UTF-8 and fails these guards). Pure JVM expression —
    encode/decode/regexp_count — no Python, pipelines with the scan.

    Schema-preserving: ``text_col`` is replaced in place and a
    ``repaired`` 0/1 flag appended (0 for NULL text) — all other
    columns pass through, so the repair composes mid-funnel.
    """
    text = F.col(text_col)
    as_bytes = F.encode(text, "ISO-8859-1")
    # ANSI mode: decode(_, 'UTF-8') THROWS on invalid bytes, so the
    # validity check must gate the decode (CASE WHEN short-circuits
    # per row); text that isn't double-decoded simply fails the gate.
    decodable = (
        ~text.rlike("[^\\x00-\\xff]")       # Latin-1-representable
        & F.is_valid_utf8(as_bytes)
    )
    candidate = F.when(decodable, F.decode(as_bytes, "UTF-8")) \
        .otherwise(text)
    score = F.regexp_count(text, F.lit(_MOJIBAKE_RE))
    cand_score = F.regexp_count(candidate, F.lit(_MOJIBAKE_RE))
    repl = F.lit("�")
    no_new_repl = (F.regexp_count(candidate, repl)
                   <= F.regexp_count(text, repl))
    use = F.coalesce(
        decodable & (score > 0) & (cand_score < score) & no_new_repl,
        F.lit(False))
    # flag FIRST (bound to the original text), then replace the text
    # gated on the materialized flag — a flag computed after the
    # replacement would re-evaluate against the repaired text and
    # always read 0
    return (
        df.withColumn("repaired", use.cast("int"))
        .withColumn(text_col,
                    F.when(F.col("repaired") == 1, candidate)
                    .otherwise(text))
    )


# Unicode scripts worth distinguishing in a web-crawl triage pass;
# Java regex needs the Is- prefix (\p{IsHan}), RE2/DuckDB takes the
# bare name (\p{Han}) — oracle twins must mind the spelling.
_SCRIPTS = ["latin", "cyrillic", "han", "arabic", "devanagari",
            "greek", "hangul", "hiragana", "katakana"]


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Writing-system composition per document: per-script character
    counts plus the dominant script — the multilingual-corpus triage
    signal that catches what token-level language ID misses (mixed-
    script spam, mojibake that decodes into the wrong plane,
    transliteration). Pure JVM ``regexp_count`` projection — no
    Python, no shuffle, pipelines with the scan.

    Returns (id, n_<script>... , n_other, dominant_script); dominant
    is the max-count script with lexicographic tie-break, or 'none'
    when no scripted character occurs. NULL text counts as empty
    (all-zero counts, dominant 'none') — NULL-propagating regexp
    counts would diverge from any SQL twin's CASE fall-through.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        s: F.regexp_count(text, F.lit(rf"\p{{Is{s.capitalize()}}}"))
        for s in _SCRIPTS
    }
    total_scripted = None
    for c in counts.values():
        total_scripted = c if total_scripted is None else total_scripted + c
    dominant = F.lit("none")
    best = F.lit(0)
    # forward lexicographic order + strict > : the smallest name sets
    # the count first and an equal later count cannot displace it, so
    # ties resolve to the lexicographically smallest script
    for s in sorted(_SCRIPTS):
        take = counts[s] > best
        dominant = F.when(take, F.lit(s)).otherwise(dominant)
        best = F.when(take, counts[s]).otherwise(best)
    out = [F.col(id_col).alias("id")]
    out += [counts[s].alias(f"n_{s}") for s in _SCRIPTS]
    out.append((F.length(text) - total_scripted).alias("n_other"))
    out.append(dominant.alias("dominant_script"))
    return df.select(*out)


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """zlib compression ratio per document — the Gopher/RefinedWeb
    redundancy signal: highly compressible text (ratio << 1 relative
    to prose's ~0.3-0.5) is near-certainly boilerplate, templating, or
    machine-generated repetition; incompressible text (ratio ~1) is
    often binary junk or ciphertext that leaked into the text column.

    One Arrow-batched pass (zlib is C-speed; the batch loop is the
    only Python). No SQL twin exists (no oracle engine exposes zlib),
    so the contract is the pytest battery: ordering properties and
    exact ratios on planted inputs.

    Returns (id, n_bytes, n_compressed, compression_ratio).
    """
    import zlib

    @pandas_udf("n_bytes long, n_compressed long, ratio double")
    def comp(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            raw = (t or "").encode("utf-8", "replace")
            comp_len = len(zlib.compress(raw, 6))
            rows.append((len(raw), comp_len,
                         round(comp_len / len(raw), 6) if raw else None))
        return pd.DataFrame(rows,
                            columns=["n_bytes", "n_compressed", "ratio"])

    out = df.select(F.col(id_col).alias("id"),
                    comp(F.col(text_col)).alias("c"))
    return out.select(
        "id", F.col("c.n_bytes").alias("n_bytes"),
        F.col("c.n_compressed").alias("n_compressed"),
        F.col("c.ratio").alias("compression_ratio"))


def latex_math_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document LaTeX/math markup profile — the arXiv-corpus
    quality signal: extracted scientific text keeps math remnants
    (``$x$`` inline spans, ``\\begin{equation}`` display blocks, bare
    ``\\commands``), and their density decides whether a document is
    prose, math-heavy prose, or an extraction failure (formula soup).

    Counted per document, all JVM ``regexp_count`` projections:

    - ``n_inline``: ``$...$`` inline-math spans (non-``$`` body);
      ``$$`` display delimiters never match (empty body excluded).
    - ``n_display``: display-math environments
      (``\\begin{equation|align|eqnarray|displaymath}``, star forms)
      plus ``$$...$$`` blocks.
    - ``n_commands``: every ``\\word`` control sequence anywhere
      (including inside math — the raw markup burden).
    - ``math_char_fraction``: chars inside dollar-delimited spans
      (inline + ``$$`` blocks; environment bodies are unbounded by a
      regex and excluded) over all chars, rounded to 6 (double).

    Scale shape: a single whole-stage-codegen projection — no
    shuffle, no Python. Pairs with ``quality_scores`` in corpus-prep
    gates (drop or route-to-math-pipeline above a density cut).

    Reference analogue: none — the reference's psv step only lowercased
    symbols away (psv.py); an LLM-corpus engine wants the signal, not
    just the removal.
    """
    t = F.col(text_col)
    inline_re = r"\$[^$]+\$"
    display_env_re = (r"\\begin\{(?:equation|align|eqnarray|"
                      r"displaymath|gather|multline)\*?\}")
    dollars_re = r"\$\$[^$]+\$\$"
    cmd_re = r"\\[a-zA-Z]+"
    # inline count must not double-count $$...$$ bodies: strip display
    # blocks first, then count inline on the remainder.
    no_display = F.regexp_replace(t, dollars_re, " ")
    inline_chars_arr = F.regexp_extract_all(
        no_display, F.lit(inline_re), 0)
    display_chars_arr = F.regexp_extract_all(t, F.lit(dollars_re), 0)
    span_chars = (
        F.aggregate(inline_chars_arr, F.lit(0),
                    lambda acc, s: acc + F.length(s))
        + F.aggregate(display_chars_arr, F.lit(0),
                      lambda acc, s: acc + F.length(s))
    )
    return df.select(
        F.col(id_col),
        F.regexp_count(no_display, F.lit(inline_re)).cast("long")
        .alias("n_inline"),
        (F.regexp_count(t, F.lit(display_env_re))
         + F.regexp_count(t, F.lit(dollars_re))).cast("long")
        .alias("n_display"),
        F.regexp_count(t, F.lit(cmd_re)).cast("long")
        .alias("n_commands"),
        F.round(span_chars / F.greatest(F.length(t), F.lit(1)), 6)
        .cast("double").alias("math_char_fraction"),
    )
