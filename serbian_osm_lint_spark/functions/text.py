# -*- coding: utf-8 -*-
"""Text-analysis scalars for the training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure Catalyst expressions (codegen) with DuckDB SQL twins. The
heuristics are deterministic specs — the oracle recomputes the same
formula, so cross-engine equality is exact (floats rounded to 6).
"""

from __future__ import annotations

#: ASCII-whitespace tokenizer class — the ONE split spec both engines use.
#: Java regex, RE2 and Python ``re`` all read these escapes identically;
#: ``\s``/``str.split()`` would not (Java adds \x0B, RE2 lacks it, Python
#: splits on all of Unicode). Defined HERE and re-exported by
#: :mod:`..operators.dedup` so every word split in the repo shares it
#: (ADVICE r4: the `\s+` splits below diverged on vertical tab).
WS_SPLIT_RE = r"[ \t\n\r\f\x0B]+"

#: characters of :data:`WS_SPLIT_RE` for embedding in negated classes —
#: ``\s`` inside a class has the same cross-engine VT divergence.
_WS_CHARS = r" \t\n\r\f\x0B"

#: BPE-ish tokenization: letter runs | single digits | single punct.
BPE_REGEX = rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WS_CHARS}]"

#: punctuation = not word (ASCII \w) and not whitespace, both explicit.
PUNCT_REGEX = rf"[^A-Za-z0-9_{_WS_CHARS}]"

#: tiny stopword lists for the n-gram language heuristic.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "de", "que", "los", "es"],
}


def _word_boundary_pattern(words) -> str:
    return r"\b(" + "|".join(words) + r")\b"


# ------------------------------------------------------------------ spark
def token_count_cols(text_col):
    """(whitespace token count, BPE-ish token count) columns."""
    from pyspark.sql import functions as F

    ws = F.size(F.split(F.trim(text_col), WS_SPLIT_RE))
    bpe = F.regexp_count(text_col, F.lit(BPE_REGEX))
    return ws.cast("long").alias("n_tokens_ws"), bpe.cast("long").alias("n_tokens_bpe")


def quality_score_cols(text_col):
    """Length/punct/alpha components + composite quality score ∈ [0, 1]."""
    from pyspark.sql import functions as F

    n_chars = F.length(text_col).cast("double")
    n_alpha = F.regexp_count(text_col, F.lit("[A-Za-z]")).cast("double")
    n_punct = F.regexp_count(text_col, F.lit(PUNCT_REGEX)).cast("double")
    n_tok = F.size(F.split(F.trim(text_col), WS_SPLIT_RE)).cast("double")
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    score = F.round(
        F.lit(0.4) * len_score + F.lit(0.4) * alpha_ratio + F.lit(0.2) * (1.0 - punct_ratio), 6
    )
    return [
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        score.alias("quality_score"),
    ]


def lang_id_col(text_col):
    """Stopword-vote language heuristic ('sr' wins on any Cyrillic)."""
    from pyspark.sql import functions as F

    from .translit import CYRILLIC_CLASS

    votes = {
        lang: F.regexp_count(text_col, F.lit(_word_boundary_pattern(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.lit("unknown")
    best_n = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):  # deterministic tie-break: alphabetical
        v = votes[lang]
        cond = v > best_n
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, v).otherwise(best_n)
    return F.when(text_col.rlike(CYRILLIC_CLASS), F.lit("sr")).otherwise(best)


def fingerprint_col(text_col):
    """Document fingerprint: md5 of lowercased, whitespace-collapsed text."""
    from pyspark.sql import functions as F

    norm = F.lower(F.trim(F.regexp_replace(text_col, WS_SPLIT_RE, " ")))
    return F.substring(F.md5(norm), 1, 16)


# -------------------------------------------------------------------- sql
def sql_token_counts(text: str) -> tuple[str, str]:
    ws = f"CAST(len(regexp_split_to_array(trim({text}), '{WS_SPLIT_RE}')) AS BIGINT)"
    bpe = f"CAST(len(regexp_extract_all({text}, '{BPE_REGEX}')) AS BIGINT)"
    return ws, bpe


def sql_quality_cols(text: str) -> dict[str, str]:
    n_chars = f"CAST(length({text}) AS DOUBLE)"
    n_alpha = f"CAST(len(regexp_extract_all({text}, '[A-Za-z]')) AS DOUBLE)"
    n_punct = f"CAST(len(regexp_extract_all({text}, '{PUNCT_REGEX}')) AS DOUBLE)"
    n_tok = f"CAST(len(regexp_split_to_array(trim({text}), '{WS_SPLIT_RE}')) AS DOUBLE)"
    alpha = f"(CASE WHEN {n_chars} > 0 THEN {n_alpha} / {n_chars} ELSE 0.0 END)"
    punct = f"(CASE WHEN {n_chars} > 0 THEN {n_punct} / {n_chars} ELSE 0.0 END)"
    mean_tok = f"(CASE WHEN {n_tok} > 0 THEN {n_chars} / {n_tok} ELSE 0.0 END)"
    len_score = f"least({n_tok} / 50.0, 1.0)"
    score = f"round(0.4 * {len_score} + 0.4 * {alpha} + 0.2 * (1.0 - {punct}), 6)"
    return {
        "alpha_ratio": f"round({alpha}, 6)",
        "punct_ratio": f"round({punct}, 6)",
        "mean_token_len": f"round({mean_tok}, 6)",
        "quality_score": score,
    }


def sql_lang_id(text: str) -> str:
    from .translit import CYRILLIC_CLASS

    expr_best, expr_n = "'unknown'", "0"
    for lang in sorted(LANG_STOPWORDS):
        pat = _word_boundary_pattern(LANG_STOPWORDS[lang])
        v = f"len(regexp_extract_all({text}, '{pat}'))"
        expr_best = f"(CASE WHEN {v} > {expr_n} THEN '{lang}' ELSE {expr_best} END)"
        expr_n = f"(CASE WHEN {v} > {expr_n} THEN {v} ELSE {expr_n} END)"
    return (
        f"(CASE WHEN regexp_matches({text}, '{CYRILLIC_CLASS}') THEN 'sr' "
        f"ELSE {expr_best} END)"
    )


def sql_fingerprint(text: str) -> str:
    norm = f"lower(trim(regexp_replace({text}, '{WS_SPLIT_RE}', ' ', 'g')))"
    return f"substring(md5({norm}), 1, 16)"


def _bind(expr, fn):
    """Let-binding inside one Column: evaluate ``expr`` once and pass the
    bound value to ``fn`` via a single-element-array ``transform``.
    Higher-order lambdas run interpreted (no codegen, no common-subexpr
    elimination), so an expression referenced N times is re-EVALUATED N
    times — binding keeps multi-reference array pipelines linear without
    forcing a projection boundary on the caller (r5)."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(expr), fn), 1)


def repetition_cols(text_col):
    """Gopher-style within-document repetition signal: the fraction of
    duplicate word 3-grams (case-folded), 0.0 when the doc has fewer
    than 3 tokens. Boilerplate and looping generations score high; all
    list ops are native Catalyst array expressions (no UDF). The token
    array and the gram array are each let-bound (:func:`_bind`) — inline
    they would be re-split per ``element_at`` / re-built per reference."""
    from pyspark.sql import functions as F

    def with_grams(grams):
        n = F.size(grams).cast("double")
        return F.when(
            n > 0, F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / n, 6)
        ).otherwise(F.lit(0.0))

    def with_toks(toks):
        n3 = F.size(toks) - 2
        grams = F.when(
            n3 >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n3, F.lit(1))),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return _bind(grams, with_grams)

    toks = F.split(F.lower(F.trim(text_col)), WS_SPLIT_RE)
    return _bind(toks, with_toks).alias("rep_3gram_ratio")


def sql_repetition(text: str) -> str:
    toks = f"regexp_split_to_array(lower(trim({text})), '{WS_SPLIT_RE}')"
    grams = (
        f"list_transform(generate_series(1, len({toks}) - 2), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1] || ' ' || {toks}[i + 2])"
    )
    return (
        f"(CASE WHEN len({grams}) > 0 THEN "
        f"round(1.0 - len(list_distinct({grams})) / CAST(len({grams}) AS DOUBLE), 6) "
        f"ELSE 0.0 END)"
    )
