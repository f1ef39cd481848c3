"""Text-analysis Column functions (SURVEY.md §2.K): tokenization,
shingles, quality scoring, language-ID heuristic, fingerprinting.
Everything here is Column algebra (JVM-side) unless noted.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language identifier. Public knowledge (most-frequent function words).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}

# Languages written without whitespace between words: stopword matching
# must be boundary-free (character occurrences), not whole-token.
_UNSEGMENTED_LANGS = {"zh"}


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenizer; empty strings removed (split on '' yields
    one empty token both in Spark and DuckDB's string_split_regex)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, pattern), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Token-count proxy for BPE vocabularies: every alphanumeric run is
    one piece, every other character its own piece — a regex
    approximation of subword tokenizer behavior (counts ≈ GPT-style
    tokens for ASCII text).

    Computed as length(regexp_replace(text, '[A-Za-z0-9]+', 'X')): each
    run collapses to one char, so the result length IS the piece count.
    Verified piece-exact against the lookaround-split formulation
    (split on boundary positions, drop empties) on the full fixture —
    this form is one regex pass instead of materializing a ~300-element
    array per row (measured 5.1 s → ~0.5 s at sf0.1), and it is
    RE2-compatible so the DuckDB oracle states the identical expression."""
    t = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(t, "[A-Za-z0-9]+", "X")).cast("long")


def avg_word_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return total / F.greatest(F.size(toks).cast("double"), F.lit(1.0))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``.

    Both counts run as single regex passes (regexp_count) instead of
    materializing and HOF-filtering a token array per row (measured
    ~10 s → ~0.5 s at sf0.1): tokens are '\\S+' runs; stopword hits are
    whole-token alternation matches — '(^|\\s)(w1|w2|…)(?=\\s|$)', the
    trailing lookahead keeping adjacent hits non-overlapping. Verified
    count-exact against the token-array formulation on the fixture."""
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    pat = r"(^|\s)(" + "|".join(STOPWORDS[lang]) + r")(?=\s|$)"
    n_stop = F.regexp_count(t, F.lit(pat))
    n_tok = F.regexp_count(t, F.lit(r"\S+"))
    return n_stop.cast("double") / F.greatest(n_tok.cast("double"), F.lit(1.0))


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(t).cast("double"), F.lit(1.0))


def quality_score(text: Column | str) -> Column:
    """Deterministic document-quality heuristic in [0,1]: rewards
    mid-length docs and plausible word lengths, penalizes punctuation
    soup. Pure Column algebra → SQL-expressible for the oracle."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    wl = avg_word_len(text)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    p_score = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return F.round(0.5 * len_score + 0.3 * wl_score + 0.2 * p_score, 6)


def lang_id(text: Column | str) -> Column:
    """Stopword-profile language guess: score each language by stopword
    hits per token, pick the argmax ('und' = undetermined when no
    profile matches). Heuristic → rows-only / unit-tested, no oracle."""
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    n = F.greatest(F.regexp_count(t, F.lit(r"\S+")).cast("double"), F.lit(1.0))

    def _score(lang, sw_words):
        if lang in _UNSEGMENTED_LANGS:
            # unsegmented script (zh): real text has no whitespace
            # between words, so whole-token matching would never fire —
            # count stopword CHARACTERS anywhere, normalized per char
            pat = "[" + "".join(sw_words) + "]"
            return F.regexp_count(t, F.lit(pat)).cast("double") / F.greatest(
                F.length(t).cast("double"), F.lit(1.0)
            )
        # whole-token alternation, one regex pass per language profile
        # (same counts as HOF-filtering the token array against the
        # stopword list — verified on the fixture; ~3x faster)
        pat = r"(^|\s)(" + "|".join(sw_words) + r")(?=\s|$)"
        return F.regexp_count(t, F.lit(pat)).cast("double") / n

    scored = F.array(
        *[
            F.struct(
                _score(lang, sw).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, sw in STOPWORDS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0.0, best["lang"]).otherwise(F.lit("und"))


def adjacent_token_pairs(toks: Column | str) -> Column:
    """array<struct<w1,w2>> of ADJACENT token pairs — the bigram stream
    both the bigram LM (selection.py) and PMI collocation mining
    (assoc.py) explode. Empty array for docs with <2 tokens: Spark's
    ``sequence(1, 0)`` counts DOWN (not empty, unlike DuckDB), so the
    short-doc guard lives here, once.

    ``toks`` MUST be an already-tokenized ``array<string>`` column —
    ideally a projected attribute (``.select(tokens(text).alias("_toks"))``
    then consume ``F.col("_toks")``). HOF lambdas are INTERPRETED with
    no common-subexpression elimination, so an inline ``tokens(text)``
    expression here re-runs the regex split for EVERY element_at — an
    O(tokens²)-per-doc plan with 4 ``split()`` copies (the 5d161bd
    regression: bigram_lm_quality 2.1 s → 12.1 s). Catalyst's
    CollapseProject keeps the two-select structure because the non-cheap
    producer is referenced 4× by the consumer; ``test_plans`` asserts
    ONE ``split(`` in the optimized plan (W_REPEATED_EXPR lint)."""
    w = F.col(toks) if isinstance(toks, str) else toks
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.struct(
            F.element_at(w, i).alias("w1"),
            F.element_at(w, i + 1).alias("w2"),
        ),
    )
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    return F.when(F.size(w) >= 2, pairs).otherwise(empty)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the MinHash input unit."""
    toks = tokens(F.col(text) if isinstance(text, str) else text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def chunk_text(text: Column | str, size: int, stride: int) -> Column:
    """Overlapping fixed-size character chunks (array<string>): window
    starts 1, 1+stride, ... over the doc — the long-document splitter a
    training pipeline runs before tokenization (stride < size gives
    overlap; stride = size gives a partition). Empty docs yield one ''
    chunk, mirroring shingles()' degenerate case. Pure Column algebra —
    a handful of interpreted HOF elements per doc, no kernel needed.

    stride > size would leave unseen gaps between windows — silent text
    loss in a training pipeline — so it is rejected outright."""
    if stride > size:
        raise ValueError(
            f"chunk_text: stride ({stride}) > size ({size}) would drop "
            "characters between windows; use stride <= size"
        )
    if size <= 0 or stride <= 0:
        raise ValueError("chunk_text: size and stride must be positive")
    t = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)), F.lit(stride))
    return F.transform(idx, lambda i: t.substr(i, F.lit(size)))


def fingerprint_md5(text: Column | str) -> Column:
    """Engine-portable 60-bit token-set fingerprint: md5 of the sorted
    distinct tokens joined by ' ', first 15 hex chars converted to a
    BIGINT — stable under token reordering, which makes it a cheap
    near-dup pre-filter key, and reproducible in any SQL engine
    (DuckDB: ``('0x' || substr(md5(...),1,15))::BIGINT``), so
    fingerprint equality carries across systems. md5 runs JVM-side
    (codegen); its per-row cost is irrelevant next to the tokenize."""
    toks = F.array_sort(
        F.array_distinct(tokens(F.col(text) if isinstance(text, str) else text))
    )
    return F.conv(F.substring(F.md5(F.concat_ws(" ", toks)), 1, 15), 16, 10).cast(
        "long"
    )


# PII patterns, deliberately restricted to syntax valid in BOTH Java
# regex (Spark, codegen'd) and RE2 (DuckDB oracle, and Go/Rust scanners
# a production pipeline might cross-check with): no backreferences, no
# lookaround. Redaction of web-scraped training text is a standard
# pre-training step; counts are computed BEFORE redaction.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9() \-]{6,}[0-9]"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_counts(text: Column | str) -> Column:
    """struct(n_emails, n_phones, n_ips) — one regexp_extract_all pass
    per class, all JVM-side."""
    t = F.col(text) if isinstance(text, str) else text
    return F.struct(
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0))).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(PII_IP), F.lit(0))).cast("long").alias("n_ips"),
    )


def redact_pii(text: Column | str) -> Column:
    """Replace every email, then phone, then IP with a typed token.
    Order matters (emails contain digits; IPs would otherwise bite into
    already-redacted phone tails) and is part of the documented
    contract."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.regexp_replace(t, PII_EMAIL, "[EMAIL]")
    t = F.regexp_replace(t, PII_PHONE, "[PHONE]")
    t = F.regexp_replace(t, PII_IP, "[IP]")
    return t

