"""Text normalization kernels.

Re-expresses the reference's ``normalize`` helper
(dataflow/operators/core_vision/filter/rule_base_filter.py:35-53: strip
punctuation, lowercase, collapse whitespace; the NFD step is not
reproduced — exact for ASCII corpora) and the audio transcript
normalizer's Whisper-EN rule chain and number-word engine
(dataflow/operators/core_audio/refine/audio_text_normalizer.py).

The ASCII path is pure Spark (translate/lower/regexp_replace —
whole-stage codegen); the number-word engine is an Arrow-vectorized
pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

PUNCTUATION = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def normalize_text(text: Column) -> Column:
    """Strip ASCII punctuation, lowercase, strip + collapse whitespace
    (reference ``normalize`` minus NFD — exact for ASCII corpora).
    Strip is regex-anchored: Spark trim() removes only spaces, not \\n/\\t
    (python str.strip() removes all whitespace)."""
    t = F.lower(F.translate(text, PUNCTUATION, ""))
    return F.regexp_replace(
        F.regexp_replace(t, r"^\s+|\s+$", ""), r"\s+", " "
    )


# Whisper-style English text normalization — the deterministic rule subset of
# the reference's audio transcript normalizer (audio_text_normalizer.py:20,
# which wraps an EnglishTextNormalizer: bracket removal, contraction
# expansion, title abbreviations, punctuation strip, whitespace collapse).
# The number-word engine (five hundred → 500) is intentionally out of scope.
# Rules are ORDERED (won't/can't must expand before the generic n't rule) and
# shared verbatim between the Spark chain, the DuckDB oracle, and the pinned
# Python parity oracle.
WHISPER_EN_RULES: list[tuple[str, str]] = [
    (r"\[[^\]]*\]", " "),      # [bracketed] annotations
    (r"\([^)]*\)", " "),       # (parenthesized) annotations
    (r"\bwon't\b", "will not"),
    (r"\bcan't\b", "can not"),
    (r"\blet's\b", "let us"),
    (r"n't\b", " not"),
    (r"'re\b", " are"),
    (r"'s\b", " is"),
    (r"'d\b", " would"),
    (r"'ll\b", " will"),
    (r"'ve\b", " have"),
    (r"'m\b", " am"),
    (r"\bmr\b", "mister"),
    (r"\bmrs\b", "missus"),
    (r"\bdr\b", "doctor"),
    (r"\bst\b", "saint"),
    (r"[^a-z0-9\s]", " "),     # residual punctuation
    (r"\s+", " "),             # collapse whitespace
]


def whisper_en_normalize(text: Column) -> Column:
    """Ordered regexp_replace chain — pure Catalyst, whole-stage codegen."""
    t = F.lower(text)
    for pat, rep in WHISPER_EN_RULES:
        t = F.regexp_replace(t, pat, rep)
    return F.trim(t)


# ---------------------------------------------------------------------------
# English number-word engine (Whisper EnglishNumberNormalizer analogue —
# audio_text_normalizer.py:7 wraps the public whisper_normalizer package).
# Independent implementation of the public word→digit semantics, covering the
# deterministic core: cardinals ("five hundred twenty three" → 523) with
# hundred/thousand/million/billion/trillion groups and "and"-linking,
# ordinals ("twenty first" → 21st), decimal "point" digit runs
# ("three point one four" → 3.14), year pairing ("nineteen eighty four" →
# 1984, "nineteen oh five" → 1905, "nineteen hundred and five" → 1905; r4),
# article-as-one ("a hundred and five" → 105, opening position only; r4),
# and the currency/half post-passes below. r4 also covers double/triple
# spell-out digit runs ("double oh seven" → 007, see _try_digit_run).
# Documented out of scope (rare in transcripts, ambiguous without context):
# joining BARE digit sequences ("one two" stays two numbers). Sub-dollar
# "$0.xx" → ¢xx extraction implemented r5 (see _currency_post).
# Input is expected post-whisper_en_normalize
# (lowercase,
# punctuation stripped); a maximal run of number words converts per run.
# ---------------------------------------------------------------------------

_NUM_UNITS = {
    "zero": 0, "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
    "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10, "eleven": 11,
    "twelve": 12, "thirteen": 13, "fourteen": 14, "fifteen": 15,
    "sixteen": 16, "seventeen": 17, "eighteen": 18, "nineteen": 19,
}
_NUM_TENS = {
    "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50,
    "sixty": 60, "seventy": 70, "eighty": 80, "ninety": 90,
}
_NUM_SCALES = {
    "thousand": 10**3, "million": 10**6,
    "billion": 10**9, "trillion": 10**12,
}
# ordinal word → (value, kind); kind mirrors the cardinal combination class
_ORD_UNITS = {
    "first": 1, "second": 2, "third": 3, "fourth": 4, "fifth": 5,
    "sixth": 6, "seventh": 7, "eighth": 8, "ninth": 9, "tenth": 10,
    "eleventh": 11, "twelfth": 12, "thirteenth": 13, "fourteenth": 14,
    "fifteenth": 15, "sixteenth": 16, "seventeenth": 17, "eighteenth": 18,
    "nineteenth": 19,
}
_ORD_TENS = {
    "twentieth": 20, "thirtieth": 30, "fortieth": 40, "fiftieth": 50,
    "sixtieth": 60, "seventieth": 70, "eightieth": 80, "ninetieth": 90,
}
_ORD_SCALES = {"hundredth": 100, "thousandth": 10**3, "millionth": 10**6,
               "billionth": 10**9, "trillionth": 10**12}

_NUMBER_WORDS = (
    set(_NUM_UNITS) | set(_NUM_TENS) | set(_NUM_SCALES) | {"hundred"}
    | set(_ORD_UNITS) | set(_ORD_TENS) | set(_ORD_SCALES) | {"point"}
)
# what may follow a linking "and" inside one number: a group/ordinal opener,
# never a scale/hundred/point ("one hundred and five" links; "one and
# million" is two tokens of soup, not a number — r4 grammar alignment with
# oracles/reading_oracle)
_AND_CONTINUERS = (
    set(_NUM_UNITS) | set(_NUM_TENS) | set(_ORD_UNITS) | set(_ORD_TENS)
)
# digit words that may appear inside a double/triple spell-out run
# ("double oh seven" → 007). "oh" reads 0 only here and in year pairing.
_DIGIT_WORDS = {w: v for w, v in _NUM_UNITS.items() if v <= 9}
_DIGIT_WORDS["oh"] = 0
_REPEATERS = {"double": 2, "triple": 3}


def _try_digit_run(toks: list[str], i: int):
    """Spell-out digit run OPENED by double/triple (Whisper
    EnglishNumberNormalizer's repeater semantics, scoped): ``double``/
    ``triple`` repeats the next digit word 2/3x, and adjacent digit words
    or further repeater pairs join the same concatenation — "double oh
    seven" → 007, "double two double five" → 2255. Leading zeros are kept
    (the run is an identifier, not a quantity). A bare digit sequence
    without a repeater is NOT joined (kept out of scope: "one two" stays
    two numbers). Returns (digits | None, next_index)."""
    if toks[i] not in _REPEATERS:
        return None, i
    digits, j, opened = "", i, False
    while j < len(toks):
        w = toks[j]
        if w in _REPEATERS:
            if j + 1 < len(toks) and toks[j + 1] in _DIGIT_WORDS:
                digits += str(_DIGIT_WORDS[toks[j + 1]]) * _REPEATERS[w]
                j, opened = j + 2, True
                continue
            break
        if opened and w in _DIGIT_WORDS and w != "zero":
            # plain digits extend an open run; "zero" keeps its own
            # cardinal reading ("double two zero" → "22 0")
            digits += str(_DIGIT_WORDS[w])
            j += 1
            continue
        break
    return (digits, j) if opened else (None, i)


def _ordinal_suffix(n: int) -> str:
    if n % 100 in (11, 12, 13):
        return "th"
    return {1: "st", 2: "nd", 3: "rd"}.get(n % 10, "th")


def _year_second(toks: list[str], j: int):
    """Year-pairing second half at toks[j] → (value, next) | None.
    tens[+unit] | teen/ten | 'oh'+unit(1-9). Kernel twin of the grammar
    oracle's _year_half — independent code, same public semantics (r4)."""
    if j >= len(toks):
        return None
    t = toks[j]
    if t in _NUM_TENS:
        v = _NUM_TENS[t]
        k = j + 1
        if k < len(toks) and 1 <= _NUM_UNITS.get(toks[k], 0) <= 9:
            return v + _NUM_UNITS[toks[k]], k + 1
        return v, k
    if _NUM_UNITS.get(t, 0) >= 10:
        return _NUM_UNITS[t], j + 1
    if t == "oh" and j + 1 < len(toks) and 1 <= _NUM_UNITS.get(toks[j + 1], 0) <= 9:
        return _NUM_UNITS[toks[j + 1]], j + 2
    return None


def _sub_hundred(toks: list[str], j: int):
    """1-99 cardinal at toks[j] → (value, next) | None (year 'hundred'
    continuation — "nineteen hundred and five")."""
    if j >= len(toks):
        return None
    t = toks[j]
    if t in _NUM_TENS:
        v = _NUM_TENS[t]
        k = j + 1
        if k < len(toks) and 1 <= _NUM_UNITS.get(toks[k], 0) <= 9:
            return v + _NUM_UNITS[toks[k]], k + 1
        return v, k
    if _NUM_UNITS.get(t, 0) >= 1:
        return _NUM_UNITS[t], j + 1
    return None


def _unit_fits(group: int, v: int) -> bool:
    """Can a 0-19 cardinal extend the current <1000 group?"""
    if v < 10:
        return group % 10 == 0 and group % 100 != 10
    return group % 100 == 0


def _try_number(toks: list[str], i: int):
    """Parse a maximal number-word run starting at toks[i].
    Returns (rendered_string | None, next_index)."""
    total, group = 0, 0
    started, ordinal, zero_only = False, False, False
    frac: str | None = None
    min_scale_used = None
    j, pending_and = i, None
    while j < len(toks):
        w = toks[j]
        if zero_only and w != "point":
            break  # "zero" combines with nothing but a decimal point
        # a linking "and" is valid only at a hundreds/scale boundary
        # ("one hundred and five", "two thousand and one") — never inside a
        # sub-hundred ("ninety and one" is two numbers; r4 grammar alignment)
        if w == "and" and started and pending_and is None and group % 100 == 0:
            if j + 1 < len(toks) and toks[j + 1] in _AND_CONTINUERS:
                pending_and = j
                j += 1
                continue
            break
        consumed = False
        if w in _NUM_UNITS:
            v = _NUM_UNITS[w]
            if not started:
                group, started, consumed = v, True, True
                zero_only = v == 0
            elif v != 0 and _unit_fits(group, v):
                group, consumed = group + v, True
        elif w in _NUM_TENS:
            if not started or group % 100 == 0:
                group, started, consumed = group + _NUM_TENS[w], True, True
        elif w == "hundred":
            if started and 1 <= group <= 9:
                group, consumed = group * 100, True
        elif w in _NUM_SCALES:
            s = _NUM_SCALES[w]
            if started and group > 0 and (
                min_scale_used is None or s < min_scale_used
            ):
                total += group * s
                group, min_scale_used, consumed = 0, s, True
        elif w in _ORD_UNITS:
            v = _ORD_UNITS[w]
            if not started or _unit_fits(group, v):
                group, started, ordinal, consumed = group + v, True, True, True
        elif w in _ORD_TENS:
            if not started or group % 100 == 0:
                group += _ORD_TENS[w]
                started, ordinal, consumed = True, True, True
        elif w in _ORD_SCALES:
            # ordinal scales compose onto a PURE group prefix only ("three
            # thousandth"); after a consumed cardinal scale the run ends —
            # "ninety thousand hundredth" is 90000 then 100th, not 90100th
            # (r4 grammar alignment with oracles/reading_oracle)
            s = _ORD_SCALES[w]
            if min_scale_used is None:
                if s == 100:
                    if group <= 9:
                        group = (group or 1) * 100
                        started, ordinal, consumed = True, True, True
                else:
                    total += (group or 1) * s
                    group, started, ordinal, consumed = 0, True, True, True
        elif w == "a":
            # article-as-one: only directly before 'hundred' or a scale
            # ("a hundred and five" → 105, "a thousand" → 1000); any other
            # 'a' stays an article (r4)
            if (
                not started
                and j + 1 < len(toks)
                and (toks[j + 1] == "hundred" or toks[j + 1] in _NUM_SCALES)
            ):
                group, started, consumed = 1, True, True
        elif w == "point" and started and frac is None:
            if (
                j + 1 < len(toks)
                and toks[j + 1] in _NUM_UNITS
                and _NUM_UNITS[toks[j + 1]] < 10
            ):
                frac = ""
                j += 1
                while (
                    j < len(toks)
                    and toks[j] in _NUM_UNITS
                    and _NUM_UNITS[toks[j]] < 10
                ):
                    frac += str(_NUM_UNITS[toks[j]])
                    j += 1
                break
        if not consumed:
            if pending_and is not None:
                j = pending_and  # the "and" did not extend the number
            break
        pending_and = None
        j += 1
        if ordinal:
            break  # ordinals terminate the run ("twenty first century")
    if not started:
        return None, i
    # year pairing (r4): a pure sub-hundred 10-99 run (no scale/hundred/
    # ordinal/decimal consumed) pairs with a following tens/teen run,
    # 'oh'+digit, or 'hundred' [['and'] sub100] — "nineteen eighty four" →
    # 1984, "nineteen oh five" → 1905, "twenty twenty one" → 2021,
    # "nineteen hundred and five" → 1905. Terminal render.
    if (
        not ordinal
        and frac is None
        and not zero_only
        and min_scale_used is None
        and total == 0
        and 10 <= group <= 99
        and j < len(toks)
    ):
        ys = _year_second(toks, j)
        if ys is not None:
            return str(group * 100 + ys[0]), ys[1]
        if toks[j] == "hundred":
            v2, k = group * 100, j + 1
            if k < len(toks) and toks[k] == "and":
                rest = _sub_hundred(toks, k + 1)
                if rest is not None:
                    return str(v2 + rest[0]), rest[1]
            rest = _sub_hundred(toks, k)
            if rest is not None:
                return str(v2 + rest[0]), rest[1]
            return str(v2), k
    n = total + group
    if ordinal:
        return f"{n}{_ordinal_suffix(n)}", j
    if frac is not None:
        return f"{n}.{frac}", j
    return str(n), j


# Whisper-style post-passes (EnglishNumberNormalizer behavior):
# * "N and a half" → N.5 (integers only — "3.2 and a half" passes through);
# * a rendered number followed by a currency word takes its symbol prefix
#   ("three dollars" → "$3"); "$A and ¢B" merges to "$A.BB" (cents
#   zero-padded); sub-dollar "$0.xx" extracts to "¢xx" (r5 — closes the
#   last documented currency exclusion; int() strips leading cent zeros,
#   "$0.05" → ¢5, faithful to the public extract_cents pass — we escape
#   its literal-dot quirk since our $0 forms only arise from our own
#   merge output).
_CURRENCY_RE = None


def _currency_post(s: str) -> str:
    import re

    global _CURRENCY_RE
    if _CURRENCY_RE is None:
        _CURRENCY_RE = (
            re.compile(r"(?<![\w.$£¢])(\d+) and a half\b"),
            re.compile(r"(?<![\w.$£¢])(\d+(?:\.\d+)?) (dollars?|pounds?)(?!\w)"),
            re.compile(r"(?<![\w.$£¢])(\d+(?:\.\d+)?) (cents?|pence)(?!\w)"),
            re.compile(r"([$£])(\d+) and [¢p](\d{1,2})(?!\d)"),
            re.compile(r"([€£$])0\.(\d{1,2})\b"),
        )
    half, big, small, merge, subdollar = _CURRENCY_RE
    s = half.sub(lambda m: m.group(1) + ".5", s)
    s = big.sub(lambda m: ("$" if m.group(2)[0] == "d" else "£") + m.group(1), s)
    s = small.sub(lambda m: ("¢" if m.group(2)[0] == "c" else "p") + m.group(1), s)
    s = merge.sub(lambda m: f"{m.group(1)}{m.group(2)}.{int(m.group(3)):02d}", s)
    s = subdollar.sub(lambda m: f"¢{int(m.group(2))}", s)
    return s


def number_words_to_digits_py(s: str | None) -> str | None:
    """Python twin (parity oracle + driver-pin derivation)."""
    if s is None:
        return None
    toks = s.split()
    out: list[str] = []
    i = 0
    while i < len(toks):
        if toks[i] in _REPEATERS:
            digits, j = _try_digit_run(toks, i)
            if digits is not None:
                out.append(digits)
                i = j
                continue
        if toks[i] in _NUMBER_WORDS or (
            toks[i] == "a"
            and i + 1 < len(toks)
            and (toks[i + 1] == "hundred" or toks[i + 1] in _NUM_SCALES)
        ):
            rendered, j = _try_number(toks, i)
            if rendered is not None:
                out.append(rendered)
                i = j
                continue
        out.append(toks[i])
        i += 1
    return _currency_post(" ".join(out))


@pandas_udf(T.StringType())
def number_words_to_digits(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized column form. Hot-path note: apply AFTER cheap
    Catalyst filters and keep other wide columns out of the exchange
    (CLAUDE.md Arrow rule)."""
    return texts.map(number_words_to_digits_py)


def whisper_en_normalize_py(text: str) -> str:
    """Pinned pure-Python oracle for the hypothesis parity suite."""
    import re

    t = text.lower()
    for pat, rep in WHISPER_EN_RULES:
        t = re.sub(pat, rep, t)
    return t.strip(" ")


def whisper_en_normalize_sql(expr: str) -> str:
    """DuckDB form of the same chain (regexp_replace needs the 'g' flag)."""
    t = f"lower({expr})"
    for pat, rep in WHISPER_EN_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        t = f"regexp_replace({t}, '{p}', '{r}', 'g')"
    return f"trim({t})"
