"""Text-analysis column functions for LLM-data pipelines.

All functions return Spark ``Column`` expressions built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly, no
Python UDFs in the hot path. Each has a deliberately SQL-expressible
definition so the driver's DuckDB oracle can verify it exactly.

These extend the reference's surface (xbrianh/xdlake has no text
operators); mandated by the build brief's LLM-pipeline requirements.

Higher-order functions (``transform``, ``aggregate``, ``zip_with``,
``filter``) are evaluated by the interpreter, and Catalyst never
eliminates common subexpressions inside their lambda bodies. A row-derived
array referenced inside a lambda is therefore rebuilt once per element:
re-tokenizing a document per token is O(tokens^2). So:

- hoist row-derived arrays out of the lambda; per-position windows are
  ``arrays_zip`` of shifted ``slice``s, and the lambda reads only its own
  variable (:func:`dup_ngram_fraction`, :func:`shingles`,
  :func:`kgram_hashes`);
- build literal arrays with ``lit_longs``/``lit_doubles``
  (``functions/vectors.py``): one parsed expression, one py4j call,
  folded to a single ``Literal``, where ``F.array(*lits)`` costs one
  py4j call per element.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small, fixed English stopword list (public-domain common words).
STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "be", "for", "on", "with", "as", "by", "at", "it", "this", "that",
    "from", "but", "not", "have", "has",
]

# Marker words for the n-gram/lexicon language-ID heuristic. Each entry is
# (language, markers); scoring counts DISTINCT marker words present.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "is", "of", "to", "a", "in", "that", "it", "for"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht", "ein", "mit",
            "auf", "für"]),
    ("es", ["el", "la", "los", "las", "es", "y", "en", "que", "un", "por"]),
    ("fr", ["le", "la", "les", "et", "est", "un", "une", "dans", "que",
            "pour"]),
    ("zh", ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"]),
]

#: BPE-ish token pattern: word pieces or single non-space symbols.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalize_text(col: Column) -> Column:
    """Lowercase + whitespace-collapse + trim; canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def whitespace_tokens(col: Column) -> Column:
    """Array of whitespace-delimited tokens of the raw text."""
    return F.split(F.trim(col), r"\s+")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(col)).cast("long")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and single symbols."""
    return F.regexp_count(col, F.lit(TOKEN_PATTERN)).cast("long")


def char_count(col: Column) -> Column:
    return F.length(col).cast("long")


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(col)
    p = F.regexp_count(col, F.lit(r"[!-/:-@\[-`{-~]"))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def digit_ratio(col: Column) -> Column:
    n = F.length(col)
    d = F.regexp_count(col, F.lit(r"[0-9]"))
    return F.when(n > 0, d.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def space_ratio(col: Column) -> Column:
    n = F.length(col)
    s = F.regexp_count(col, F.lit(r"\s"))
    return F.when(n > 0, s.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    sw = F.array([F.lit(w) for w in STOPWORDS_EN])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")) \
        .otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Deterministic quality heuristic in [0, 1].

    0.25 * (length in [100, 2000])
    + 0.25 * (stopword ratio >= 0.05)
    + 0.25 * (punct ratio <= 0.2)
    + 0.25 * (mean word length in [3, 12])
    """
    n = F.length(col)
    mean_wl = F.when(token_count_ws(col) > 0,
                     n.cast("double") / token_count_ws(col).cast("double")) \
        .otherwise(F.lit(0.0))
    return (
        F.when((n >= 100) & (n <= 2000), 0.25).otherwise(0.0)
        + F.when(stopword_ratio(col) >= 0.05, 0.25).otherwise(0.0)
        + F.when(punct_ratio(col) <= 0.2, 0.25).otherwise(0.0)
        + F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), 0.25).otherwise(0.0)
    ).cast("double")


#: PII patterns — deliberately restricted to syntax shared by Java regex
#: (Spark) and RE2 (DuckDB) so the same string drives both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9() -]{6,}[0-9]"


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ipv4, n_phones) occurrence counts."""
    def n(pat):
        # idx=0 (whole match): the patterns carry no capture groups
        return F.size(F.regexp_extract_all(col, F.lit(pat),
                                           F.lit(0))).cast("long")
    return n(PII_EMAIL), n(PII_IPV4), n(PII_PHONE)


def redact_pii(col: Column) -> Column:
    """Replace emails / IPv4s / phone numbers with typed placeholders —
    the standard pre-release scrub. Order matters: emails first so an
    address is never half-eaten by the phone pattern."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def dup_line_fraction(col: Column) -> Column:
    """Fraction of non-empty trimmed lines that repeat an earlier line —
    the Gopher-style line-repetition quality signal. 0 when the text has
    no non-empty lines."""
    lines = F.filter(
        F.transform(F.split(col, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0)
    n = F.size(lines)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(lines))).cast("double") / n) \
        .otherwise(F.lit(0.0))


def _windows(arr: Column, k: int) -> Column:
    """Every run of k consecutive elements of ``arr``, in order, as
    structs with fields ``'0'`` .. ``'k-1'``: one ``arrays_zip`` of k
    shifted slices. Callers gate on ``size(arr) >= k``; below it the
    single window is null-padded."""
    m = F.greatest(F.size(arr) - (k - 1), F.lit(1))
    return F.arrays_zip(*[F.slice(arr, F.lit(i + 1), m) for i in range(k)])


def dup_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Fraction of word n-grams (in order, with repeats) that duplicate
    an earlier n-gram — the Gopher duplicate-n-gram signal. 0 when the
    text has fewer than n tokens.

    Built as ``arrays_zip`` of n shifted slices, not a per-position
    transform lambda (see the module docstring). Tokens contain no
    whitespace, so zipped tuples and space-joined strings dedupe
    identically — the DuckDB oracle keeps the join form."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    m = F.size(toks) - (n - 1)
    grams = _windows(toks, n)
    return F.when(
        m > 0,
        (m - F.size(F.array_distinct(grams))).cast("double") / m) \
        .otherwise(F.lit(0.0))


def lang_score(col: Column, markers: list[str]) -> Column:
    """Number of DISTINCT marker words present in the text."""
    toks = F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))
    mk = F.array([F.lit(w) for w in markers])
    return F.size(F.array_intersect(toks, mk)).cast("long")


def lang_id(col: Column) -> Column:
    """Lexicon language-ID: language with the highest distinct-marker count;
    ties break by LANG_MARKERS order; all-zero -> 'und'."""
    scores = [(lang, lang_score(col, markers))
              for lang, markers in LANG_MARKERS]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("und")
    # first language reaching the max wins — build the when-chain in order
    expr = None
    for lang, s in scores:
        cond = (s == best) & (best > 0)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(out)


def fingerprint_md5(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (md5 is identical
    in Spark and DuckDB, making this oracle-checkable)."""
    return F.md5(normalize_text(col))


#: Polynomial rolling-hash parameters. 31-bit modulus keeps every partial
#: product inside int64 (h < 2^31, h*257 + c < 2^40), so the fold is
#: ANSI-safe in Spark AND reproducible with DuckDB bigint arithmetic.
ROLL_BASE = 257
ROLL_MOD = (1 << 31) - 1


def codepoints(col: Column) -> Column:
    """Array of Unicode code points of the string (``ascii()`` returns
    the first code point in both Spark and DuckDB)."""
    return F.transform(F.split(col, ""), lambda ch: F.ascii(ch))


def _roll(h: Column, c: Column) -> Column:
    """One Horner step of the rolling hash."""
    return F.pmod(h * F.lit(ROLL_BASE) + c, F.lit(ROLL_MOD))


def rolling_hash(col: Column) -> Column:
    """Polynomial (Rabin-Karp) rolling hash of the whole normalized text:
    ``h = fold(h * 257 + codepoint) mod (2^31 - 1)``; empty -> 0."""
    return F.aggregate(
        codepoints(normalize_text(col)), F.lit(0).cast("long"), _roll)


def kgram_hashes(col: Column, k: int = 8) -> Column:
    """Rolling hash of every k-char gram of the normalized text, in
    position order — the winnowing substrate. Position i's hash is the
    fold over codepoints [i, i+k).

    The k-grams are ``arrays_zip`` of k shifted slices of the code
    points, each folded by an unrolled Horner step over its struct
    fields (see the module docstring), so the text is decoded O(k) times
    per document, not once per position.

    A text shorter than k yields a single whole-text hash.
    """
    cps = codepoints(normalize_text(col))
    n = F.size(cps)

    def fold(g):
        h = F.lit(0).cast("long")
        for i in range(k):
            h = _roll(h, g.getField(str(i)))
        return h

    return F.when(n >= k, F.transform(_windows(cps, k), fold)) \
        .otherwise(F.array(F.aggregate(cps, F.lit(0).cast("long"), _roll)))


def shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-gram word shingles (arrays of 'w1 w2 w3' strings).

    The grams are ``arrays_zip`` of k shifted slices of the token
    array, so the ``transform`` lambda reads only its own struct and a
    document is tokenized O(k) times, not once per token (see the module
    docstring)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(toks)
    sh = F.transform(_windows(toks, k), lambda g: F.concat_ws(
        " ", *[g.getField(str(i)) for i in range(k)]))
    return F.when(n >= k, F.array_distinct(sh)) \
        .otherwise(F.array_distinct(F.array(F.concat_ws(" ", toks))))
