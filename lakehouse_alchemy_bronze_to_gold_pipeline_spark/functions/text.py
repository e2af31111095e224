"""Text-analysis column functions for LLM-data pipelines, in both
engines' forms.

Whitespace tokenization, token statistics, quality scoring, language
identification, and document fingerprinting — every function is a
``pyspark.sql.functions`` composition (split / transform / filter /
aggregate / md5), fully codegen'd; there is deliberately no UDF here.
These run as narrow per-row transforms: at 100 TB they cost one scan,
no shuffle.

Each text rule a DuckDB oracle reproduces also has its DuckDB form
here, next to the Spark original it mirrors (``tokens_sql``,
``nonempty_tokens_sql``, ``STOPWORDS_SQL``, ``BPE_ISH_PATTERN_SQL``,
``fingerprint_sql``, ``lang_id_sql``), so an oracle builds its text
rules from these and never from a hand copy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small english stopword list used by quality scoring / lang-id.
STOPWORDS = ("the", "a", "of", "and", "to", "in")

#: DuckDB form of ``STOPWORDS``: a SQL ``IN`` list.
STOPWORDS_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

#: Java's ``\s`` (the class Spark's regex functions match), spelled out
#: for DuckDB: RE2's ``\s`` lacks U+000B, so ``'a\x0bb'`` would stay
#: one token there while Spark splits it in two.
_WS_CLASS_SQL = r" \t\n\x0B\f\r"
_WHITESPACE_SQL = f"[{_WS_CLASS_SQL}]+"


def tokens(text: Column | str, lowercase: bool = False) -> Column:
    """Whitespace tokens of trimmed text (empty-safe)."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def tokens_sql(text: str = "text", lowercase: bool = False) -> str:
    """DuckDB form of :func:`tokens` over the SQL expression ``text``."""
    c = f"lower({text})" if lowercase else text
    return f"string_split_regex(trim({c}), '{_WHITESPACE_SQL}')"


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


#: GPT-2-style pretokenizer shape: contraction suffixes, space-prefixed
#: letter runs, digit runs, punctuation runs.  ASCII classes so the
#: pattern is engine-portable, once its ``\s`` is spelled out for RE2
#: (``BPE_ISH_PATTERN_SQL``).
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"
)


def bpe_ish_tokens(text: Column | str) -> Column:
    """Subword-ish tokens via the BPE pretokenizer regex — the token
    accounting LLM pipelines bill by (a real BPE merge table would
    refine these; the regex pass is the expensive scan and is exact
    here)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0))


#: DuckDB form of ``BPE_ISH_PATTERN``: Java's ``\s`` spelled out and
#: single quotes doubled for a SQL string literal.
BPE_ISH_PATTERN_SQL = BPE_ISH_PATTERN.replace(r"\s", _WS_CLASS_SQL).replace(
    "'", "''"
)


def nonempty_tokens(text: Column | str, lowercase: bool = True) -> Column:
    """Tokens with empty strings removed (split('') yields [''] —
    hash-based operators must not fingerprint the empty token)."""
    return F.filter(tokens(text, lowercase), lambda t: t != "")


def nonempty_tokens_sql(text: str = "text", lowercase: bool = True) -> str:
    """DuckDB form of :func:`nonempty_tokens`."""
    return f"list_filter({tokens_sql(text, lowercase)}, x -> x != '')"


def token_length_sum(toks: Column) -> Column:
    """Total characters across tokens (sequential fold, exact)."""
    return F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def stopword_count(toks: Column, stopwords: Sequence[str] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("bigint")


def normalize_text(text: Column | str) -> Column:
    """lower + collapse whitespace + strip non-alphanumerics — the
    canonical form used by fingerprinting and near-dup shingling."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text).cast("binary"))


def fingerprint_sql(text: str = "text") -> str:
    """DuckDB form of :func:`fingerprint`."""
    c = f"regexp_replace(lower({text}), '[^a-z0-9{_WS_CLASS_SQL}]', '', 'g')"
    return f"md5(trim(regexp_replace({c}, '{_WHITESPACE_SQL}', ' ', 'g')))"


#: ``lang_id``'s marker words per language, in CASE order
_LANG_MARKERS = (("en", "the", "and"), ("de", "der", "und"),
                 ("es", "el", "la"), ("fr", "le", "et"))


def lang_id(text: Column | str) -> Column:
    """Deterministic marker-word language heuristic.

    A real model is out of scope (no external libs); this demonstrates
    the classify-by-ngram-evidence *shape*: the CASE chain is a
    codegen'd per-row expression, trivially swappable for a richer
    scored variant."""
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    out = F  # F.when opens the chain, Column.when extends it
    for lang, a, b in _LANG_MARKERS:
        out = out.when(
            padded.contains(f" {a} ") | padded.contains(f" {b} "), F.lit(lang)
        )
    return out.otherwise(F.lit("unknown"))


def lang_id_sql(text: str = "text") -> str:
    """DuckDB form of :func:`lang_id`."""
    padded = f"' ' || lower({text}) || ' '"
    whens = "\n".join(
        f"  WHEN contains({padded}, ' {a} ') OR contains({padded}, ' {b} ')"
        f" THEN '{lang}'"
        for lang, a, b in _LANG_MARKERS
    )
    return f"CASE\n{whens}\n  ELSE 'unknown'\nEND"


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-gram word shingles as an array<string> (space-joined),
    distinct.  No explode, so grain is preserved (one row per doc).

    Built as a ``zip_with`` chain over shifted copies of the token
    array: ``zip_with(toks, slice(toks, 2, ...), concat)`` pairs each
    token with its successor, etc.  Crucially the token array is only
    referenced at ROW scope (as zip_with/slice inputs) — never inside
    a per-element lambda.  An index-based ``transform(sequence(...),
    i -> slice(toks, i+1, n))`` formulation re-evaluates the token
    expression (a regex split, once CollapseProject inlines it) per
    ELEMENT: O(tokens^2) regex work per row, measured ~20x slower on
    real documents.  zip_with pads the shorter side with null and
    ``concat`` null-propagates, so trailing partial grams filter out.
    """
    if n == 1:
        return F.array_distinct(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, F.lit(k + 1), F.size(toks))
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t)
        )
    return F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string-array *sets*."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))
