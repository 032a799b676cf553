"""Text-analysis functions for the documents table (LLM-data pipeline).

The reference has no text operators at all (SURVEY §2.B) — its records
are opaque strings (`lakeflush/core/collector.py:97-103`). This module
adds the text layer a training-data pipeline needs: tokenization,
quality scoring, language ID, and content fingerprinting.

Design rules:

- Every function is a pure ``pyspark.sql.functions`` Column builder —
  JVM-side, codegen-friendly, zero Python in the row path. At 100 TB
  these are embarrassingly parallel map-only projections: no shuffle,
  no skew sensitivity, throughput scales with executor count.
- Every function has an exact DuckDB-SQL twin (see
  ``plans/text_queries.py``) built from the SAME constants below, so
  the oracle comparison checks real value equality, not just shape.
- Hashing uses md5 (identical output in Spark and DuckDB) truncated to
  32 bits and widened to BIGINT, so all modular arithmetic stays far
  from int64 overflow (DuckDB raises on overflow; Spark wraps —
  staying < 2**53 keeps both engines exact and identical).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# --------------------------------------------------------------------------
# Shared constants — single source of truth for BOTH the Spark builders
# here and the DuckDB oracle SQL generated in plans/text_queries.py.
# --------------------------------------------------------------------------

TOKEN_SEP = " "

#: polynomial rolling-hash modulus (fits comfortably in int64 math:
#: acc < P so acc*31 + h < 31e9 + 4.3e9 << 2**63)
FP_MOD = 1_000_000_007
FP_BASE = 31

#: punctuation class counted by punct_count (kept to characters whose
#: regex meaning is identical in Java regex and RE2/DuckDB)
PUNCT_CLASS = r"[.,;:!?]"

#: BPE-ish pre-tokenizer pattern: letter runs | digit runs | any single
#: non-alphanumeric non-space mark — the GPT-2 pre-tokenizer's shape
#: minus its lookaheads/unicode categories, restricted to syntax whose
#: left-to-right non-overlapping matching is identical in Java regex
#: and RE2/DuckDB. Approximates subword token counts (punctuation
#: split from words, digit runs separated) far better than whitespace
#: counting for budget/packing decisions.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

#: language profiles for the n-gram/function-word language-ID heuristic.
#: Order matters: deterministic argmax tie-break is first-listed wins.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ein"),
    "es": ("el", "los", "de", "y", "una"),
    "fr": ("le", "les", "et", "un", "une"),
    "zh": ("的", "了", "是"),
}

#: stopwords used by quality scoring (subset of the en profile that
#: actually occurs in the corpus vocabulary)
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and")


# --------------------------------------------------------------------------
# Tokenization & hashing
# --------------------------------------------------------------------------


def bind(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass it to ``fn`` as a bound
    HOF lambda variable.

    Inside a single projection expression, Spark's interpreted
    higher-order-function path re-evaluates every reference to an
    outer column expression on each lambda invocation (HOFs disable
    whole-stage codegen, so no common-subexpression elimination
    applies). ``transform(array(col), fn)[1]`` instead materializes
    ``col`` as a lambda value bound exactly once per row — measured
    3-5x on the k-gram shingle pipeline at sf0.1, where the naive form
    re-ran ``split(text)`` for every gram position.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the corpus is single-space separated)."""
    return F.split(F.col(text) if isinstance(text, str) else text, TOKEN_SEP)


#: whitespace-run class for Gopher WORD splitting. An explicit class,
#: not \s: Java's \s includes \x0B (vertical tab) where RE2/DuckDB's
#: does not — the explicit class means identical semantics in both
#: engines. Kept r-string so both sides receive the escapes verbatim.
WORD_SEP_RE = r"[ \t\n\r]+"


def words(text: Column | str) -> Column:
    """Whitespace-run word split — the published Gopher/MassiveText
    notion of a "word" (Rae et al. 2021 count whitespace-split words):
    words adjacent across a newline/tab separate, unlike ``tokens``
    (single-space, the corpus storage contract). Use this for the
    word-based quality counters; keep ``tokens`` for fingerprints,
    shingles and packing, whose oracles are pinned to the single-space
    split.

    Boundary empties are FILTERED: ``F.split`` (limit -1) keeps the
    empty strings a leading/trailing whitespace run produces, which
    would give every '\\n'-terminated doc a phantom extra "word" and
    skew the Gopher word-count / mean-word-length / alpha-ratio
    counters. Dropping them matches Python's ``str.split()`` (the
    paper's whitespace-split semantics): ``words('') == []``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, WORD_SEP_RE), lambda w: w != F.lit(""))


def word_count(text: Column | str) -> Column:
    return F.size(words(text)).cast("bigint")


def _total_word_len(text: Column | str) -> Column:
    return F.aggregate(
        F.transform(words(text), lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (see BPE_TOKEN_PATTERN) — the
    training-token budget estimate; map-only JVM regexp, scan speed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN)).cast("bigint")


def token_hash(tok: Column) -> Column:
    """Deterministic 32-bit token hash widened to BIGINT.

    ``conv(substring(md5(t),1,8),16,10)`` — md5 hex is identical across
    engines, so DuckDB's ``('0x'||substring(md5(t),1,8))::BIGINT`` is
    the exact twin. Value range [0, 2**32).
    """
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def arr_fingerprint(arr: Column) -> Column:
    """Order-sensitive rolling polynomial hash over a string array.

    fp = fold(arr, 0, (acc, s) -> (acc*31 + h(s)) % FP_MOD).
    Map-only: at 100 TB this is a single projection pass, no shuffle.
    """
    return F.aggregate(
        F.transform(arr, token_hash),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Rolling polynomial document fingerprint over token hashes."""
    return arr_fingerprint(tokens(text))


def grams_from(tk: Column, k: int) -> Column:
    """Word k-gram array from a BOUND token array (the ``shingles``
    core, exposed so fused panels share one token materialization).
    Empty array for docs shorter than k tokens (guard needed: Spark's
    ``sequence(1, n)`` with n<1 would count DOWN, not return empty).
    """
    n = F.size(tk)
    idx = F.sequence(F.lit(1), n - (k - 1))  # 1-based start positions
    grams = F.transform(idx, lambda i: F.concat_ws(TOKEN_SEP, F.slice(tk, i, k)))
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-grams joined by a single space (for MinHash/Jaccard).

    The token array is ``bind``-ed so the underlying split runs once
    per row, not once per gram position (see ``bind``); each gram is a
    ``slice`` + ``concat_ws`` over the bound array.
    """
    return bind(tokens(text), lambda tk: grams_from(tk, k))


# --------------------------------------------------------------------------
# Quality metrics
# --------------------------------------------------------------------------


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PUNCT_CLASS)).cast("bigint")


def avg_token_len(text: Column | str) -> Column:
    """Mean token length in characters (DOUBLE, unrounded)."""
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.size(toks).cast("double")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return hits.cast("double") / F.size(toks).cast("double")


def _total_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    return F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _stopword_hits(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("bigint")


def _round_half_up_div(num: Column, den: Column) -> Column:
    """round-half-up(num/den) for positive BIGINTs, exactly.

    floor((2*num + den) / (2*den)). The double division is safe: both
    operands are < 2**53 so they are exact, and the true quotient is a
    rational with denominator 2*den — its distance from any integer is
    either 0 or >= 1/(2*den), far above double rounding error.
    """
    return F.floor((F.lit(2) * num + den) / (F.lit(2) * den)).cast("bigint")


def avg_token_len_4dp(text: Column | str) -> Column:
    """avg token length rounded HALF_UP to 4 decimals via exact integer
    arithmetic — bit-identical in any engine (no double `round` knife-edge:
    Spark rounds the binary double via BigDecimal while DuckDB multiplies by
    10^4 first, so `round(x, 4)` can disagree on .xxxx5 boundaries)."""
    n = token_count(text)
    total = _total_token_len(text)
    return _round_half_up_div(F.lit(10000) * total, n).cast("double") / F.lit(10000.0)


def stopword_ratio_4dp(text: Column | str) -> Column:
    """stopword ratio rounded HALF_UP to 4 decimals, exact (see avg_token_len_4dp)."""
    n = token_count(text)
    s = _stopword_hits(text)
    return _round_half_up_div(F.lit(10000) * s, n).cast("double") / F.lit(10000.0)


def quality_score_4dp(text: Column | str) -> Column:
    """quality_score rounded HALF_UP to 4 decimals, exact.

    quality*10000 = (40*min(n,100)*n + 3000*(n-s) + 375*min(8n, L)) / n
    — a rational with denominator n, rounded with integer arithmetic so
    Spark and the DuckDB oracle agree bit-for-bit on every row.
    """
    n = token_count(text)
    s = _stopword_hits(text)
    total = _total_token_len(text)
    qnum = (
        F.lit(40) * F.least(n, F.lit(100).cast("bigint")) * n
        + F.lit(3000) * (n - s)
        + F.lit(375) * F.least(F.lit(8) * n, total)
    )
    return _round_half_up_div(qnum, n).cast("double") / F.lit(10000.0)


def document_chunks(text: Column | str, window: int = 64, stride: int = 48) -> Column:
    """Sliding-window token chunks (context-window splitting).

    Returns ``array<struct<chunk_idx, n_toks, chunk_text>>``: chunk c
    covers tokens [c*stride+1, c*stride+window] (1-based); the last
    chunk may be short. ``n_chunks = floor((n-1)/stride)+1``, so every
    token lands in at least one chunk and consecutive chunks overlap
    by ``window - stride`` tokens — the standard long-document
    splitting step before tokenization/packing. Map-only over the
    bound token array; at 100 TB this is scan-speed, and the explode
    that follows multiplies rows by only ~n/stride.
    """

    def build(tk: Column) -> Column:
        n = F.size(tk)
        n_chunks = (F.floor((n - 1) / F.lit(stride)) + 1).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda c: F.struct(
                c.cast("bigint").alias("chunk_idx"),
                F.least(F.lit(window).cast("bigint"), (n - c * stride).cast("bigint")).alias(
                    "n_toks"
                ),
                F.concat_ws(TOKEN_SEP, F.slice(tk, c * stride + 1, window)).alias(
                    "chunk_text"
                ),
            ),
        )

    return bind(tokens(text), build)


def distinct_token_ratio_4dp(text: Column | str) -> Column:
    """Type/token ratio (distinct tokens / tokens), 4-dp HALF_UP exact.

    The Gopher-style repetition signal: low values flag repetitious or
    machine-looped text. Map-only; the token array is bound once.
    """

    def build(tk: Column) -> Column:
        n = F.size(tk).cast("bigint")
        d = F.size(F.array_distinct(tk)).cast("bigint")
        return _round_half_up_div(F.lit(10000) * d, n).cast("double") / F.lit(10000.0)

    return bind(tokens(text), build)


def dup_3gram_ratio_4dp(text: Column | str) -> Column:
    """Fraction of 3-gram occurrences repeating an earlier gram, 4-dp
    HALF_UP exact; 0.0 for docs under 3 tokens.

    The Gopher "duplicate n-gram fraction" filter: boilerplate and
    looping generations repeat whole phrases, which survives the
    distinct-token check. Map-only over the bound shingle array.
    """

    def build(g: Column) -> Column:
        tot = F.size(g).cast("bigint")
        dup = tot - F.size(F.array_distinct(g)).cast("bigint")
        return F.when(
            tot > 0,
            _round_half_up_div(F.lit(10000) * dup, tot).cast("double")
            / F.lit(10000.0),
        ).otherwise(F.lit(0.0))

    return bind(shingles(text, 3), build)


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    0.4 * min(1, n_tokens/100) + 0.3 * (1 - stopword_ratio)
    + 0.3 * min(1, avg_token_len/8). Pure double arithmetic in a fixed
    evaluation order — bit-identical to the SQL twin.
    """
    n = token_count(text).cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - stopword_ratio(text))
        + F.lit(0.3) * F.least(F.lit(1.0), avg_token_len(text) / F.lit(8.0))
    )


# --------------------------------------------------------------------------
# Language ID
# --------------------------------------------------------------------------


def _profile_hits(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")


def lang_id(text: Column | str) -> Column:
    """Function-word language-ID heuristic.

    Scores each language profile by function-word hits; returns the
    argmax (ties broken by LANG_PROFILES order), or 'und' when every
    profile scores zero. Map-only projection; at scale this runs inside
    the same codegen stage as the rest of the row pipeline.
    """
    toks = tokens(text)
    scores = {lang: _profile_hits(toks, words) for lang, words in LANG_PROFILES.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build the CASE chain in reverse so first-listed language wins ties
    for lang in reversed(list(LANG_PROFILES)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, appendix A — the
# published heuristic filter every large text-curation pipeline ships
# a variant of). All counters are exact BIGINTs and every rule
# threshold compares integers (10*sym >= n, not sym/n >= 0.1), so the
# DuckDB oracle twin agrees bit-for-bit — no float knife-edges.
# Map-only JVM Column expressions; at 100 TB this runs at scan speed
# inside whole-stage codegen (the HOF filters drop to interpreted
# eval but stay JVM-side and per-row-bounded).
# --------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_RE = "^[-*•]"
ELLIPSIS_RE = "(\\.\\.\\.|…)$"


def symbol_hits(text: Column | str) -> Column:
    """Count of '#' occurrences + non-overlapping '...' occurrences."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.regexp_count(c, F.lit("#")) + F.regexp_count(c, F.lit("\\.\\.\\."))
    ).cast("bigint")


def doc_lines(text: Column | str) -> Column:
    return F.split(F.col(text) if isinstance(text, str) else text, "\n")


def bullet_line_hits(text: Column | str) -> Column:
    """Lines whose left-trimmed form starts with -, * or the bullet glyph."""
    return F.size(
        F.filter(doc_lines(text), lambda l: F.ltrim(l).rlike(BULLET_RE))
    ).cast("bigint")


def ellipsis_line_hits(text: Column | str) -> Column:
    """Lines whose right-trimmed form ends with '...' or the ellipsis glyph."""
    return F.size(
        F.filter(doc_lines(text), lambda l: F.rtrim(l).rlike(ELLIPSIS_RE))
    ).cast("bigint")


def alpha_word_hits(text: Column | str) -> Column:
    """Whitespace-split words containing at least one ASCII letter."""
    return F.size(
        F.filter(words(text), lambda t: t.rlike("[A-Za-z]"))
    ).cast("bigint")


def gopher_stopword_hits(text: Column | str) -> Column:
    """How many DISTINCT Gopher stop words appear in the document
    (whitespace-split words — a stop word at end-of-line counts)."""
    ws = words(text)
    return bind(
        ws,
        lambda tk: F.size(
            F.filter(
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
                lambda w: F.array_contains(tk, w),
            )
        ).cast("bigint"),
    )


def dup_line_ratio_4dp(text: Column | str) -> Column:
    """Fraction of lines that are repeats of an earlier line
    (MassiveText's duplicate-line filter signal), 4dp half-up exact:
    (nlines - distinct lines) / nlines. Delegates to the shared unit
    counters defined with the repetition block below."""

    def build(ls: Column) -> Column:
        nl = F.size(ls).cast("bigint")
        return _round_half_up_div(
            F.lit(10000) * dup_unit_count(ls), nl
        ).cast("double") / F.lit(10000.0)

    return bind(doc_lines(text), build)


def dup_line_char_ratio_4dp(text: Column | str) -> Column:
    """Fraction of characters in repeated line occurrences (all
    occurrences AFTER the first of each line value), 4dp half-up
    exact. Denominator = total line characters (separators excluded);
    0.0 for all-empty lines. Shared-counter twin of the paragraph
    version."""

    def build(ls: Column) -> Column:
        tot = unit_char_total(ls)
        dup = dup_unit_char_count(ls)
        return F.when(
            tot > 0,
            _round_half_up_div(F.lit(10000) * dup, tot).cast("double")
            / F.lit(10000.0),
        ).otherwise(F.lit(0.0))

    return bind(doc_lines(text), build)


def strip_duplicate_lines(text: Column | str) -> Column:
    """Rewrite the document keeping only the FIRST occurrence of each
    line (``array_distinct`` preserves first-occurrence order in
    Spark). The published in-document repetition scrub; map-only.
    Not oracle-twinned: DuckDB's list_distinct does not document
    order preservation — unit-tested instead."""
    return F.concat_ws("\n", F.array_distinct(doc_lines(text)))


# --------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020, §2.2) and MassiveText's
# top-n-gram coverage signal (Rae et al. 2021, A1.1 repetition table)
# --------------------------------------------------------------------------

#: a C4-kept line ends in terminal punctuation (period, !, ?, closing
#: quote); regex meaning identical in Java regex and RE2/DuckDB
C4_TERMINAL_RE = '[.!?"”]$'
#: C4 keeps only lines with at least 5 words
C4_MIN_LINE_WORDS = 5


def c4_keep_line(line: Column) -> Column:
    """C4's per-line retention predicate: >= 5 words, ends in terminal
    punctuation, and no 'javascript' (case-insensitive)."""
    return (
        (F.size(F.split(line, TOKEN_SEP)) >= C4_MIN_LINE_WORDS)
        & F.rtrim(line).rlike(C4_TERMINAL_RE)
        & ~F.lower(line).contains("javascript")
    )


def c4_kept_lines(text: Column | str) -> Column:
    return F.filter(doc_lines(text), c4_keep_line)


def c4_clean(text: Column | str) -> Column:
    """Rewrite the document keeping only C4-retained lines (original
    order). Map-only JVM expression — scan speed at any scale."""
    return F.concat_ws("\n", c4_kept_lines(text))


def c4_kept_line_ratio_4dp(text: Column | str) -> Column:
    """Fraction of lines C4's line filter retains, 4dp half-up exact."""
    nl = F.size(doc_lines(text)).cast("bigint")
    kept = F.size(c4_kept_lines(text)).cast("bigint")
    return _round_half_up_div(F.lit(10000) * kept, nl).cast("double") / F.lit(
        10000.0
    )


def sentence_terminator_count(text: Column | str) -> Column:
    """Count of sentence terminators ([.!?]) — the sentence-count
    proxy C4's >= 3-sentence page rule needs."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit("[.!?]")).cast("bigint")


def top_2gram_char_ratio_4dp(text: Column | str) -> Column:
    """Fraction of document characters covered by the most frequent
    word 2-gram (MassiveText's top-n-gram repetition signal), 4dp
    half-up exact.

    Coverage = count(g) * chars(g) for the most frequent gram g; ties
    on count break toward the LARGEST coverage (deterministic in both
    engines). Denominator = length(text); 0.0 when the doc has < 2
    tokens or no characters. O(distinct-grams x grams) per row, all
    JVM higher-order functions over one bound gram array — no shuffle.
    See ``top_kgram_char_ratio_4dp`` (the generalized form this
    delegates to, defined below with the repetition counters).
    """
    return top_kgram_char_ratio_4dp(text, 2)


# --------------------------------------------------------------------------
# MassiveText repetition counters (Rae et al. 2021, A1.1 table) —
# exact BIGINT building blocks shared by the ratio columns and the
# repetition-rule bitmask (operators/quality.massivetext_repetition_flags)
# --------------------------------------------------------------------------


def doc_paragraphs(text: Column | str) -> Column:
    """Paragraph split (blank-line separated)."""
    return F.split(F.col(text) if isinstance(text, str) else text, "\n\n")


def dup_unit_count(units: Column) -> Column:
    """Occurrences repeating an earlier unit (line or paragraph)."""
    return (F.size(units) - F.size(F.array_distinct(units))).cast("bigint")


def unit_char_total(units: Column) -> Column:
    """Total characters across units (separators excluded)."""
    return F.aggregate(
        F.transform(units, lambda u: F.length(u).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dup_unit_char_count(units: Column) -> Column:
    """Characters in repeated unit occurrences (after each first)."""
    return unit_char_total(units) - unit_char_total(F.array_distinct(units))


def _union_chars(cov: Column, tk: Column) -> Column:
    """Characters in a covered-token-position set: token lengths plus
    one separator per ADJACENT covered pair, computed in ONE fold over
    the sorted positions (O(m log m)). The naive adjacency count —
    filter(cov, j -> array_contains(cov, j+1)) — is O(m^2) and stalls
    on machine-looped long docs where cov is nearly every position."""
    zero = F.struct(
        F.lit(-(10**9)).cast("bigint").alias("prev"),
        F.lit(0).cast("bigint").alias("tot"),
    )

    def step(acc: Column, j: Column) -> Column:
        jj = j.cast("bigint")
        return F.struct(
            jj.alias("prev"),
            (
                acc["tot"]
                + F.length(F.element_at(tk, j)).cast("bigint")
                + F.when(jj == acc["prev"] + 1, F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint")
            ).alias("tot"),
        )

    return F.aggregate(F.array_sort(cov), zero, step, lambda a: a["tot"])


def top_kgram_coverage(text: Column | str, k: int) -> Column:
    """Characters contained within occurrences of the most frequent
    word k-gram — MassiveText's exact wording — as positional UNION
    coverage: overlapping occurrences of a self-overlapping gram count
    each character once, so coverage never exceeds the document
    length. Ties on occurrence count break toward the LARGEST union
    coverage (deterministic in both engines). BIGINT; 0 when the doc
    has fewer than k tokens.

    Shape per row (all JVM HOFs, map-only): one sorted-run fold finds
    the max count and the candidate grams holding it (O(n log n));
    when maxcount == 1 (the common non-repetitive case) coverage is
    simply the longest gram, else each candidate's occurrence
    positions are unioned (O(candidates x n) — candidates <=
    n/maxcount, typically a handful). Covered chars = token lengths
    over the covered positions + one separator per ADJACENT covered
    pair. The sentinel prev='' is safe: a k>=2 gram always contains
    the separator, so no gram is the empty string. The DuckDB oracle
    recomputes via distinct-count lists — different algorithm, same
    integers, hash-pinned.
    """

    def build(tk: Column) -> Column:
        return bind(
            grams_from(tk, k), lambda g: top_kgram_cov_from(tk, g, k)
        )

    return bind(tokens(text), build)


def top_kgram_cov_from(tk: Column, grams: Column, k: int) -> Column:
    """``top_kgram_coverage``'s core over a BOUND token array and its
    BOUND ``grams_from(tk, k)`` array — fused panels build each gram
    array once and feed both this and the dup-gram counters."""
    starts = F.sequence(F.lit(1), F.size(grams))

    def with_grams(grams: Column) -> Column:
        zero = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("maxc"),
            F.array().cast("array<string>").alias("cands"),
        )

        def step(acc: Column, x: Column) -> Column:
            same = acc["prev"] == x
            keep = same | (acc["run"] == 0)
            c = acc["run"]
            # cands only needs runs with count >= 2 (the maxc<=1
            # consumer short-circuits to longest-gram): without
            # the guard every count-1 run of a mostly-unique long
            # doc appends — O(n^2) array copying (measured 2.3 ->
            # 7.7 s/doc going 8k -> 16k tokens)
            return F.struct(
                x.alias("prev"),
                F.when(same, acc["run"] + 1)
                .otherwise(F.lit(1).cast("bigint"))
                .alias("run"),
                F.when(keep, acc["maxc"])
                .otherwise(F.greatest(acc["maxc"], c))
                .alias("maxc"),
                F.when(keep | (c < 2), acc["cands"])
                .when(c > acc["maxc"], F.array(acc["prev"]))
                .when(c == acc["maxc"], F.array_append(acc["cands"], acc["prev"]))
                .otherwise(acc["cands"])
                .alias("cands"),
            )

        def finish(acc: Column) -> Column:
            c = acc["run"]
            return F.struct(
                F.greatest(acc["maxc"], c).alias("maxc"),
                F.when(c < 2, acc["cands"])
                .when(c > acc["maxc"], F.array(acc["prev"]))
                .when(c == acc["maxc"], F.array_append(acc["cands"], acc["prev"]))
                .otherwise(acc["cands"])
                .alias("cands"),
            )

        mc = F.aggregate(F.array_sort(grams), zero, step, finish)

        def union_cov(cand: Column) -> Column:
            occ = F.filter(
                starts, lambda i: F.element_at(grams, i) == cand
            )
            covered = F.array_distinct(
                F.flatten(
                    F.transform(
                        occ, lambda s: F.sequence(s, s + F.lit(k - 1))
                    )
                )
            )
            return _union_chars(covered, tk)

        def with_mc(m: Column) -> Column:
            max_len = F.coalesce(
                F.array_max(
                    F.transform(grams, lambda x: F.length(x).cast("bigint"))
                ),
                F.lit(0).cast("bigint"),
            )
            return F.when(m["maxc"] <= 1, max_len).otherwise(
                F.coalesce(
                    F.array_max(F.transform(m["cands"], union_cov)),
                    F.lit(0).cast("bigint"),
                )
            )

        return bind(mc, with_mc)

    return F.when(F.size(grams) >= 1, with_grams(grams)).otherwise(
        F.lit(0).cast("bigint")
    )


def top_kgram_char_ratio_4dp(text: Column | str, k: int) -> Column:
    """top_kgram_coverage / doc chars, 4dp half-up exact; a true
    fraction in [0, 1] (union coverage never exceeds the text). 0.0
    for docs with no k-grams or no characters."""
    cov = top_kgram_coverage(text, k)
    nch = F.length(F.col(text) if isinstance(text, str) else text).cast("bigint")
    return F.when(
        (cov > 0) & (nch > 0),
        _round_half_up_div(F.lit(10000) * cov, nch).cast("double")
        / F.lit(10000.0),
    ).otherwise(F.lit(0.0))


def dup_para_ratio_4dp(text: Column | str) -> Column:
    """Duplicate-paragraph fraction, 4dp half-up exact (the
    paragraph-level twin of ``dup_line_ratio_4dp``)."""

    def build(ps: Column) -> Column:
        n = F.size(ps).cast("bigint")
        return _round_half_up_div(
            F.lit(10000) * dup_unit_count(ps), n
        ).cast("double") / F.lit(10000.0)

    return bind(doc_paragraphs(text), build)


def dup_para_char_ratio_4dp(text: Column | str) -> Column:
    """Fraction of characters in repeated paragraph occurrences, 4dp
    half-up exact; 0.0 for all-empty paragraphs."""

    def build(ps: Column) -> Column:
        tot = unit_char_total(ps)
        dup = dup_unit_char_count(ps)
        return F.when(
            tot > 0,
            _round_half_up_div(F.lit(10000) * dup, tot).cast("double")
            / F.lit(10000.0),
        ).otherwise(F.lit(0.0))

    return bind(doc_paragraphs(text), build)


def dup_kgram_char_coverage(text: Column | str, k: int) -> Column:
    """Characters covered by AT LEAST ONE occurrence of a duplicated
    word k-gram (MassiveText's dup-n-gram signal for n in 5..10):
    positional UNION coverage — overlapping duplicate occurrences
    count each character once. BIGINT; 0 when the doc has fewer than
    k tokens or no gram repeats.

    Covered chars = sum of len(token) over covered token positions,
    plus one separator char for each ADJACENT covered pair (the
    separator between two covered tokens lies inside a covered span).

    Shape per row (all JVM HOFs over bound arrays, map-only):
    duplicated gram VALUES from one sorted-run fold (O(n log n)),
    their start positions by membership test (O(n * dups)), and the
    covered-position union via flatten + distinct. The DuckDB twin in
    plans/text_queries.py recomputes dup values by distinct-count —
    same set, different algorithm, hash-pinned.
    """

    def build(tk: Column) -> Column:
        return bind(
            grams_from(tk, k), lambda g: dup_kgram_cov_from(tk, g, k)
        )

    return bind(tokens(text), build)


def dup_kgram_cov_from(tk: Column, grams: Column, k: int) -> Column:
    """``dup_kgram_char_coverage``'s core over a BOUND token array and
    its BOUND ``grams_from(tk, k)`` array (see top_kgram_cov_from)."""
    starts = F.sequence(F.lit(1), F.size(grams))

    def with_grams(grams: Column) -> Column:
        zero = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.array().cast("array<string>").alias("dups"),
        )

        def step(acc: Column, x: Column) -> Column:
            same = acc["prev"] == x
            return F.struct(
                x.alias("prev"),
                F.when(same, acc["run"] + 1)
                .otherwise(F.lit(1).cast("bigint"))
                .alias("run"),
                F.when(
                    ~same & (acc["run"] >= 2),
                    F.array_append(acc["dups"], acc["prev"]),
                )
                .otherwise(acc["dups"])
                .alias("dups"),
            )

        def finish(acc: Column) -> Column:
            return F.when(
                acc["run"] >= 2, F.array_append(acc["dups"], acc["prev"])
            ).otherwise(acc["dups"])

        dupvals = F.aggregate(F.array_sort(grams), zero, step, finish)

        def with_dupvals(dv: Column) -> Column:
            dup_starts = F.filter(
                starts,
                lambda i: F.array_contains(dv, F.element_at(grams, i)),
            )
            covered = F.array_distinct(
                F.flatten(
                    F.transform(
                        dup_starts,
                        lambda s: F.sequence(s, s + F.lit(k - 1)),
                    )
                )
            )

            return _union_chars(covered, tk)

        return bind(dupvals, with_dupvals)

    return F.when(F.size(grams) >= 1, with_grams(grams)).otherwise(
        F.lit(0).cast("bigint")
    )


def dup_kgram_char_ratio_4dp(text: Column | str, k: int) -> Column:
    """dup_kgram_char_coverage / doc chars, 4dp half-up exact; 0.0
    when nothing repeats or the doc is empty."""
    cov = dup_kgram_char_coverage(text, k)
    nch = F.length(F.col(text) if isinstance(text, str) else text).cast("bigint")
    return F.when(
        (cov > 0) & (nch > 0),
        _round_half_up_div(F.lit(10000) * cov, nch).cast("double")
        / F.lit(10000.0),
    ).otherwise(F.lit(0.0))


def strip_duplicate_paragraphs(text: Column | str) -> Column:
    """Keep only the FIRST occurrence of each paragraph (the
    paragraph-level twin of ``strip_duplicate_lines``); map-only."""
    return F.concat_ws("\n\n", F.array_distinct(doc_paragraphs(text)))


# --------------------------------------------------------------------------
# Bound-array panel cores — every *_from takes ALREADY-MATERIALIZED
# arrays (lambda-bound via ``bind`` or an inline() source struct), so
# a fused quality panel (operators/quality.text_quality_profile)
# computes each split/gram array ONCE per row and feeds all consumers.
# Same arithmetic as the text-based functions above — values are
# bit-identical; only the evaluation sharing changes.
# --------------------------------------------------------------------------


def arr_len_sum(arr: Column) -> Column:
    """Σ length(element) over a bound string array (BIGINT)."""
    return F.aggregate(
        F.transform(arr, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def avg_token_len_4dp_from(tk: Column) -> Column:
    n = F.size(tk).cast("bigint")
    return _round_half_up_div(F.lit(10000) * arr_len_sum(tk), n).cast(
        "double"
    ) / F.lit(10000.0)


def stopword_ratio_4dp_from(
    tk: Column, stopwords: tuple[str, ...] = STOPWORDS
) -> Column:
    n = F.size(tk).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(
        F.filter(tk, lambda t: F.array_contains(stop_arr, t))
    ).cast("bigint")
    return _round_half_up_div(F.lit(10000) * hits, n).cast("double") / F.lit(
        10000.0
    )


def distinct_token_ratio_4dp_from(tk: Column) -> Column:
    n = F.size(tk).cast("bigint")
    d = F.size(F.array_distinct(tk)).cast("bigint")
    return _round_half_up_div(F.lit(10000) * d, n).cast("double") / F.lit(10000.0)


def dup_gram_ratio_4dp_from(g: Column) -> Column:
    """Duplicate-gram occurrence fraction over a bound gram array
    (``dup_3gram_ratio_4dp``'s core); 0.0 for an empty array."""
    tot = F.size(g).cast("bigint")
    dup = tot - F.size(F.array_distinct(g)).cast("bigint")
    return F.when(
        tot > 0,
        _round_half_up_div(F.lit(10000) * dup, tot).cast("double")
        / F.lit(10000.0),
    ).otherwise(F.lit(0.0))


def dup_unit_ratio_4dp_from(units: Column) -> Column:
    """Duplicate line/paragraph fraction over bound units."""
    n = F.size(units).cast("bigint")
    return _round_half_up_div(
        F.lit(10000) * dup_unit_count(units), n
    ).cast("double") / F.lit(10000.0)


def dup_unit_char_ratio_4dp_from(units: Column) -> Column:
    """Characters-in-repeated-occurrences fraction over bound units;
    0.0 for all-empty units."""
    tot = unit_char_total(units)
    dup = dup_unit_char_count(units)
    return F.when(
        tot > 0,
        _round_half_up_div(F.lit(10000) * dup, tot).cast("double")
        / F.lit(10000.0),
    ).otherwise(F.lit(0.0))


def top_kgram_char_ratio_4dp_from(cov: Column, nch: Column) -> Column:
    """top-k-gram coverage / doc chars, 4dp half-up, from a bound
    coverage value and char count."""
    return F.when(
        (cov > 0) & (nch > 0),
        _round_half_up_div(F.lit(10000) * cov, nch).cast("double")
        / F.lit(10000.0),
    ).otherwise(F.lit(0.0))


def lang_id_from(tk: Column) -> Column:
    """``lang_id`` over a bound token array (one membership filter per
    language profile instead of one token split per profile)."""
    scores = {
        lang: _profile_hits(tk, words_) for lang, words_ in LANG_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def stopword_hits_from(
    tk: Column, stopwords: tuple[str, ...] = STOPWORDS
) -> Column:
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tk, lambda t: F.array_contains(stop_arr, t))
    ).cast("bigint")


def quality_score_4dp_from(tk: Column) -> Column:
    """``quality_score_4dp`` over a bound token array (same qnum
    rational, same half-up rounding)."""
    n = F.size(tk).cast("bigint")
    s = stopword_hits_from(tk)
    total = arr_len_sum(tk)
    qnum = (
        F.lit(40) * F.least(n, F.lit(100).cast("bigint")) * n
        + F.lit(3000) * (n - s)
        + F.lit(375) * F.least(F.lit(8) * n, total)
    )
    return _round_half_up_div(qnum, n).cast("double") / F.lit(10000.0)


def stopword_ratio_from(
    tk: Column, stopwords: tuple[str, ...] = STOPWORDS
) -> Column:
    """Unrounded stopword ratio over a bound token array (the
    ``stopword_ratio`` twin corpus_report's averages are built on)."""
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(tk, lambda t: F.array_contains(stop_arr, t)))
    return hits.cast("double") / F.size(tk).cast("double")


def avg_token_len_from(tk: Column) -> Column:
    """Unrounded mean token length over a bound token array."""
    return arr_len_sum(tk).cast("double") / F.size(tk).cast("double")


def quality_score_from(tk: Column) -> Column:
    """``quality_score`` over a bound token array — same arithmetic,
    same evaluation order, bit-identical doubles."""
    n = F.size(tk).cast("bigint").cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - stopword_ratio_from(tk))
        + F.lit(0.3) * F.least(F.lit(1.0), avg_token_len_from(tk) / F.lit(8.0))
    )
