"""Text analysis for large-scale training-data pipelines — pure Column.

Language-ID (stopword-hit heuristic), quality scoring (length/punct/
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (md5) and word shingles. Every function is
Catalyst expressions only — no Python in the hot path; the tokenizer is
mirrored by a SQL emitter so DuckDB oracles share its semantics (the
engine's cross-checking pattern, see driverq.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: languages and their stopword probes (word-boundary regex hits)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "und", "die", "das", "ist"],
    "es": ["el", "los", "de", "y", "que"],
}

#: generic stopwords for the quality score
QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "is", "in"]

BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty text → empty array)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alpha runs + digit runs + single
    punctuation marks (a cheap stand-in for BPE tokenization)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), 0))


def stopword_count(text: Column, words: list[str] | None = None) -> Column:
    toks = tokens(text)
    wl = words or QUALITY_STOPWORDS
    return F.size(F.filter(toks, lambda t: t.isin(*wl)))


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features: returns named Columns."""
    n_tok = token_count(text)
    n_chars = F.length(text)
    n_stop = stopword_count(text)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    safe_tok = F.greatest(n_tok, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "n_stopwords": n_stop,
        "stop_ratio": n_stop / safe_tok,
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1)),
        "mean_token_len": (n_chars - (n_tok - 1)) / safe_tok,
    }


def _hit_count(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {lang: _hit_count(toks, words) for lang, words in LANG_STOPWORDS.items()}


def predicted_lang(text: Column) -> Column:
    """Argmax language with fixed tie-break order en > fr > de > es."""
    s = lang_scores(text)
    return (
        F.when((s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]), "en")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]), "fr")
        .when(s["de"] >= s["es"], "de")
        .otherwise("es")
    )


# ---------------------------------------------------------------- shingles
def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings (documents shorter than k words → empty).

    Built from arrays_zip of k shifted slices — NOT element_at inside a
    transform lambda: Catalyst cannot eliminate subexpressions inside
    higher-order lambdas, so a lambda referencing the tokenizer would
    re-split the text per element (O(tokens²) per document)."""
    toks = tokens(text)
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, length) for j in range(k)])
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )


def doc_fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of the normalized token stream."""
    return F.md5(F.array_join(tokens(text), " "))


# ---------------------------------------------------------------- SQL emitters
def tokens_sql(text: str) -> str:
    return (
        f"case when length(trim({text})) = 0 then []::varchar[] "
        f"else string_split_regex(trim({text}), '\\s+') end"
    )
