"""15-rule text-quality scorer — RuleBaseFilter re-expressed in pure Spark SQL.

Reference semantics: dataflow/operators/core_vision/filter/rule_base_filter.py
(_apply_text_filters :243-354, constants :163-203, thresholds :69-100). The
reference runs a per-row Python loop; here every rule is a Catalyst expression
(string/regex/array higher-order functions) so the whole scorer stays inside
whole-stage codegen — no Python in the hot path at all.

``quality_struct(col)`` returns a struct of 15 booleans (True = rule violated)
plus ``pass`` (True = keep row). ``rule_base_filter(df)`` applies the filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_mm_spark.functions.normalize import PUNCTUATION

# ---- constants mirrored from the reference (rule_base_filter.py:163-203) ----

ELLIPSIS_THRESHOLD = 0.3
MEAN_WORD_LEN_MIN = 3
MEAN_WORD_LEN_MAX = 20
SYMBOL_RATIO_THRESHOLD = 0.4
ID_CARD_THRESHOLD = 3
NO_PUNC_THRESHOLD = 112
CURLY_THRESHOLD = 0.025
CAPS_THRESHOLD = 0.2
LOREM_THRESHOLD = 3e-8
UNIQUE_THRESHOLD = 0.1
BULLET_THRESHOLD = 0.9
JS_THRESHOLD = 3

ID_PATTERN = (
    r"(?i)(身\s{0,10}份|id\s{0,10}number\s{0,10}|identification|identity|"
    r"\s{0,10}ID\s{0,10}No\s{0,10}|id\s{0,10}card\s{0,10}|"
    r"NRIC\s{0,10}number\s{0,10}|IC\s{0,10}number\s{0,10}|"
    r"resident\s{0,10}registration\s{0,10}|I.D.\s{0,10}Number\s{0,10})"
)
SPECIAL_CHAR_PATTERN = (
    r"u200e|&#247;|\? :|[�□]|\{\/U\}|"
    r"U\+26[0-F][0-D]|U\+273[3-4]|U\+1F[3-6][0-4][0-F]|U\+1F6[8-F][0-F]"
)
HTML_ENTITY_PATTERN = (
    r"[&＆](nbsp|lt|gt|amp|quot|apos|hellip|ndash|mdash|lsquo|rsquo|ldquo|rdquo)"
)
WATERMARK_PATTERN = r"Copyright|Watermark|Confidential"
BULLET_CHARS = "•‣▶◀◦■□▪▫–"
SENTENCE_SPLIT = r"[–.!?,;•/|…]"


def _count(col: Column, token: str) -> Column:
    """Non-overlapping substring count (== python str.count)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(token), F.lit("")))) / len(token)


def _words(col: Column) -> Column:
    """python str.split(): one regex pass over \\S+ runs. NOT
    split(trim(x)) — Spark/DuckDB trim() strips only spaces, so trailing
    '\\n' or '\\t' yields a phantom empty token (hypothesis-found); and NOT
    filter(split(...)) — the extra per-token lambda pass costs ~35%."""
    return F.regexp_extract_all(col, F.lit(r"\S+"), F.lit(0))


def _raw_lines(col: Column) -> Column:
    """Non-empty lines (split_paragraphs with identity normalizer,
    rule_base_filter.py:22-34)."""
    return F.filter(F.split(col, "\n"), lambda x: F.trim(x) != F.lit(""))


def quality_struct(
    text: Column,
    *,
    ellipsis_threshold: float = ELLIPSIS_THRESHOLD,
    mean_word_length_min: float = MEAN_WORD_LEN_MIN,
    mean_word_length_max: float = MEAN_WORD_LEN_MAX,
    symbol_word_ratio_threshold: float = SYMBOL_RATIO_THRESHOLD,
    id_card_threshold: int = ID_CARD_THRESHOLD,
    no_punc_threshold: int = NO_PUNC_THRESHOLD,
    curly_bracket_threshold: float = CURLY_THRESHOLD,
    capital_words_threshold: float = CAPS_THRESHOLD,
    lorem_ipsum_threshold: float = LOREM_THRESHOLD,
    unique_words_threshold: float = UNIQUE_THRESHOLD,
    bulletpoint_threshold: float = BULLET_THRESHOLD,
    javascript_threshold: int = JS_THRESHOLD,
    watermarks: tuple[str, ...] | None = None,
) -> Column:
    """Struct of per-rule violation flags + overall ``pass`` boolean.
    Thresholds default to the reference's __init__ defaults
    (rule_base_filter.py:69-100) and are overridable per call, matching the
    operator's configuration surface.

    Perf shape: word-level and line-level statistics are each computed in a
    SINGLE aggregate() pass with a struct accumulator (HOF lambdas are
    interpreted per element — one fused pass beats three separate
    filter/aggregate scans ~3x on the hot path). Semantics identical to the
    reference loop (pytest parity suite is the guard)."""
    watermark_pattern = (
        "|".join(watermarks) if watermarks else WATERMARK_PATTERN
    )
    # blank = python `not text.strip()`: no non-whitespace char anywhere
    # (trim() only strips spaces — '\n' must count as blank)
    blank = text.isNull() | ~text.rlike(r"\S")
    # Guard all expressions against blank text to keep semantics total;
    # the placeholder must contain a token — num_words=0 would divide by
    # zero under ANSI. Non-blank text guarantees ≥1 word and ≥1 line.
    t = F.when(blank, F.lit("x")).otherwise(text)

    words = _words(t)
    num_words = F.size(words)
    lines = _raw_lines(t)
    num_lines = F.size(lines)

    colon_end = t.endswith(":")

    # ---- word stats ----
    # total word chars == total non-whitespace chars: words are the \S+
    # runs, and Java \s is the exact complement of \S, so
    # sum(length(w)) == length(t) - count(\s chars).  One native regex
    # pass replaces the per-word interpreted HOF accumulation (r6, guide
    # §4.1: built-ins over interpreted lambdas; A/B ~25% off the whole
    # scorer together with the passes below, parity suites unchanged).
    nc = F.length(t) - F.regexp_count(t, F.lit(r"\s"))
    caps_cnt = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.when((w == F.upper(w)) & (F.upper(w) != F.lower(w)), 1).otherwise(0),
    )
    mean_len = nc.cast("double") / num_words
    mean_word_len = (mean_len < mean_word_length_min) | (mean_len >= mean_word_length_max)
    caps_ratio = caps_cnt / num_words > F.lit(capital_words_threshold)
    # distinct-count stays a native kernel (an accumulator variant is O(n²))
    unique_ratio = (
        F.size(F.array_distinct(F.transform(words, F.lower))).cast("double")
        / num_words
        <= F.lit(unique_words_threshold)
    )

    # ---- fused line pass: ellipsis endings + bullet starts ----
    lstats = F.aggregate(
        lines,
        F.struct(F.lit(0).alias("ell"), F.lit(0).alias("bul")),
        lambda acc, x: F.struct(
            (acc["ell"] + F.when(x.rlike(r"(\.\.\.|…)\s*$"), 1).otherwise(0)).alias("ell"),
            (acc["bul"] + F.when(x.rlike(f"^\\s*[{BULLET_CHARS}]"), 1).otherwise(0)).alias("bul"),
        ),
    )
    ellipsis_ratio = (num_lines > 0) & (
        lstats["ell"] / num_lines >= F.lit(ellipsis_threshold)
    )
    bullet_ratio = (num_lines > 0) & (
        lstats["bul"] / num_lines > F.lit(bulletpoint_threshold)
    )

    num_symbols = _count(t, "#") + _count(t, "...") + _count(t, "…")
    symbol_ratio = num_symbols / num_words >= F.lit(symbol_word_ratio_threshold)

    html_entity = t.rlike(HTML_ENTITY_PATTERN)

    idcard = F.regexp_count(t, F.lit(ID_PATTERN)) >= id_card_threshold

    # max words over sentences of paragraphs (rule 7); regexp_count(\S+)
    # == size(regexp_extract_all(\S+)) without materializing the match
    # array per sentence
    sentences = F.flatten(
        F.transform(F.split(t, "\n"), lambda p: F.split(p, SENTENCE_SPLIT))
    )
    max_sentence_words = F.aggregate(
        sentences,
        F.lit(0),
        lambda m, s: F.greatest(m, F.regexp_count(s, F.lit(r"\S+"))),
    )
    no_punc_span = max_sentence_words > no_punc_threshold

    special_char = t.rlike(SPECIAL_CHAR_PATTERN)
    watermark = t.rlike(watermark_pattern)

    curly_ratio = (_count(t, "{") + _count(t, "}")) / F.length(t) >= F.lit(
        curly_bracket_threshold
    )

    lorem_ipsum = (
        F.regexp_count(F.lower(t), F.lit("lorem ipsum")) / F.length(t)
        > F.lit(lorem_ipsum_threshold)
    )

    # ---- fused normalized-line pass (rule 15) ----
    # normalize each line ONCE via transform (the struct-accumulator form
    # re-evaluated lower(translate(...)) separately for both fields per
    # element — interpreted HOF lambdas share nothing)
    norm_lines = F.transform(
        F.split(t, "\n"), lambda x: F.lower(F.translate(x, PUNCTUATION, ""))
    )
    nstats = F.aggregate(
        norm_lines,
        F.struct(F.lit(0).alias("n"), F.lit(0).alias("js")),
        lambda acc, y: F.struct(
            (acc["n"] + F.when(F.trim(y) != "", 1).otherwise(0)).alias("n"),
            (
                acc["js"]
                + F.when(y.contains("javascript"), 1).otherwise(0)
            ).alias("js"),
        ),
    )
    n_norm, js_cnt = nstats["n"], nstats["js"]
    javascript = (n_norm > 0) & ~(
        (n_norm <= 3) | ((n_norm - js_cnt) >= javascript_threshold)
    )

    flags = {
        "colon_end": colon_end,
        "ellipsis_ratio": ellipsis_ratio,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "html_entity": html_entity,
        "idcard": idcard,
        "no_punc_span": no_punc_span,
        "special_char": special_char,
        "watermark": watermark,
        "curly_ratio": curly_ratio,
        "caps_ratio": caps_ratio,
        "lorem_ipsum": lorem_ipsum,
        "unique_ratio": unique_ratio,
        "bullet_ratio": bullet_ratio,
        "javascript": javascript,
    }
    any_violation = None
    for c in flags.values():
        any_violation = c if any_violation is None else (any_violation | c)
    passed = ~blank & ~any_violation
    return F.struct(
        *[F.coalesce(v, F.lit(False)).alias(k) for k, v in flags.items()],
        passed.alias("pass"),
    )


def rule_base_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep rows passing all 15 rules (RuleBaseFilter.run, :381-433)."""
    return df.filter(quality_struct(F.col(text_col))["pass"])


def with_quality(df: DataFrame, text_col: str = "text", out: str = "quality") -> DataFrame:
    """Non-destructive variant: append the quality struct column."""
    return df.withColumn(out, quality_struct(F.col(text_col)))
