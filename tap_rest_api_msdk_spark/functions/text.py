"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are NATIVE ``pyspark.sql.functions`` column
expressions (JVM-side, whole-stage codegen) — zero Python on row data.
Each operator has an exact ANSI-SQL twin registered in
``__spark_entry__.oracle_sql`` so DuckDB verifies values byte-for-byte.

Operators (engine extensions beyond the reference tap, which is ingest-only;
analog surface: the tap's flatten/`records_path` are its only "text" ops):

* token counting   — whitespace tokens + a BPE-ish regex token count
* quality scoring  — length / punctuation ratio / stopword ratio /
                     uppercase ratio composite
* language ID      — stopword-hit n-gram heuristic over {en, fr, de, es}
* fingerprinting   — md5 of whitespace-normalized lowercase text
                     (document-level content fingerprint for dedup joins)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deliberately small, deterministic stopword lists (shared with the SQL oracle)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "mit"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "por"],
}

# BPE-ish lexer: words, numbers, or single non-space symbols
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
PUNCT_RE = "[.,;:!?'\"()\\[\\]{}-]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(F.trim(text)), "\\s+")


def token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish lexer tokens (regexp_extract_all, JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(
        F.filter(ws_tokens(text), lambda x: x.isin(*[F.lit(w) for w in words]))
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return stopword_hits(text, lang) / token_count(text)


def punct_ratio(text: Column) -> Column:
    # r7 note: a translate()-based delete was A/B'd against this regex
    # char class at sf1.0 and lost warm (0.97s vs 0.68s on the ratio
    # projection) — the JVM regex on a simple class outruns translate's
    # per-char dict once JIT'd, so the regex stays.
    return (
        F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))
    ) / F.length(text)


def upper_ratio(text: Column) -> Column:
    return (
        F.length(text) - F.length(F.regexp_replace(text, "[A-Z]", ""))
    ) / F.length(text)


def quality_score(text: Column) -> Column:
    """Composite in [0,1]: long enough, punctuation-sane, stopword-bearing,
    not shouting. Deterministic closed form (shared with the SQL oracle)."""
    length_term = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(5.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text, "en") * F.lit(4.0), F.lit(1.0))
    upper_term = F.lit(1.0) - F.least(upper_ratio(text) * F.lit(5.0), F.lit(1.0))
    return F.round(
        (length_term + punct_term + stop_term + upper_term) / F.lit(4.0), 6
    )


def lang_id(text: Column) -> Column:
    """Stopword-hit argmax over {en,fr,de,es}; ties resolve in that order;
    zero hits everywhere -> 'und' (undetermined). A null text is the empty
    document."""
    text = F.coalesce(text, F.lit(""))
    hits = {lang: stopword_hits(text, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # build reversed so earlier langs win ties via later when() precedence
    for lang in reversed(list(STOPWORDS)):
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """md5 of lowercase, whitespace-collapsed text — the exact-dedup key.

    Collapse BEFORE trim: ``trim`` only strips spaces, so tabs/newlines at
    the edges must first become spaces."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), "\\s+", " ")))


def analyze(df, text_col: str = "text"):
    """Attach all text-analysis columns in one pass."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t, "en"), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality filter (Rae et al. 2021, "Scaling Language Models:
# ... Gopher", Appendix A — the published web-scale data-prep rule set;
# thresholds are configurable, defaults adapted to short-doc corpora)
# ---------------------------------------------------------------------------

def gopher_quality_flags(
    text: Column,
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    max_symbol_word_ratio: float = 0.1,
) -> Column:
    """Struct of per-rule booleans + overall ``pass`` for one document.

    Every rule is a pure JVM expression over the whitespace tokenization:
    word-count bounds, mean word length band, fraction of words containing
    a letter, minimum stop-word evidence, and symbol-to-word ratio
    (# / ellipsis). Exactly twinnable in SQL — integer counts and single
    IEEE divisions only. A null text is the empty document (one empty
    token).
    """
    text = F.coalesce(text, F.lit(""))
    toks = ws_tokens(text)
    n = F.size(toks)
    # sum of token lengths == length of the separator-free concat (native
    # codegen) — replaces an interpreted per-token aggregate fold (r7)
    total_len = F.length(F.concat_ws("", toks))
    mean_len = total_len / n
    # rlike kept deliberately: a translate()-based letter test was A/B'd
    # at sf1.0 (warmup absorbed) and lost ~1.4x — the JIT'd JVM regex on
    # a one-class pattern is faster than translate's per-char mapping
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    symbols = F.size(F.filter(toks, lambda t: (t == "#") | (t == "...")))
    stop_hits = stopword_hits(text, "en")

    ok_count = (n >= min_words) & (n <= max_words)
    ok_mean = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_alpha = (alpha_words / n) >= min_alpha_word_ratio
    ok_stop = stop_hits >= min_stopword_hits
    ok_symbol = (symbols / n) <= max_symbol_word_ratio
    return F.struct(
        ok_count.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        ok_symbol.alias("ok_symbol_ratio"),
        (ok_count & ok_mean & ok_alpha & ok_stop & ok_symbol).alias("pass"),
    )
