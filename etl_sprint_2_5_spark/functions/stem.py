"""English stemming for the analyzer chain — SURVEY.md §2.7 F11.

The reference's ES indexes run a ru+en analyzer with a Snowball
stemmer + stopword filter (/root/reference/movies.es.schema.json:4-40;
same block in persons/genres schemas). This module supplies the
stemming stage: the classic Porter algorithm (Porter 1980, public
domain — the basis of Snowball's English stemmer), implemented in
pure Python because no stemming library ships in this container.

This is the ONE sanctioned Python-per-token stage (SURVEY.md §2.9):
stemming is a character-level rewrite no Column expression can
express. It runs as an Arrow-batched pandas UDF with a per-batch memo
cache (natural-language token batches repeat heavily, so the
amortized cost is a dict lookup, not a stem).

Divergences, documented: Porter ≈ Snowball-English with small suffix
differences (Snowball is Porter2). The Russian half of the reference's
ru_en analyzer lives in functions/stem_ru.py (Snowball-Russian +
russian_stop + the combined analyze_ru_en chain); the default ascii
tokenizer here drops Cyrillic, so Russian text must go through the
ru_en chain (``stem="ru_en"`` / ``lang="ru_en"``). All stemming is a
config-gated opt-in, so the default analyzer stays oracle-expressible
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Porter's m: number of VC sequences in the C?(VC)^m V? form."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if cons and prev_vowel:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    """Ends consonant-vowel-consonant, last consonant not w/x/y."""
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)
_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def porter_stem(word: str) -> str:
    """Porter 1980, all steps. Input is assumed lowercase ascii (the
    engine's tokenizer output); words of length ≤ 2 pass through."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                if suf == "ion" and (not stem or stem[-1] not in "st"):
                    break
                w = stem
            break

    # Step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _cvc(w[:-1])):
            w = w[:-1]

    # Step 5b
    if _ends_double_cons(w) and w[-1] == "l" and _measure(w) > 1:
        w = w[:-1]

    return w


def stem_tokens(col: Column | str) -> Column:
    """array<string> → array<string>: Porter-stem every token.

    Arrow-batched pandas UDF with a cross-row memo cache per batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _stem_arrays(s):
        memo: dict[str, str] = {}

        def one(tokens):
            if tokens is None:
                return None
            out = []
            for t in tokens:
                r = memo.get(t)
                if r is None:
                    r = memo[t] = porter_stem(t)
                out.append(r)
            return out

        return s.apply(one)

    _stem_arrays.__annotations__ = {"s": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_stem_arrays, "array<string>")(c)


def tokenize_stemmed(col: Column | str, lang: str = "en") -> Column:
    """The opt-in analyzer chain: tokenize → stem (the engine twin of
    the reference's es analyzer tokenizer+snowball pipeline).

    ``lang="en"`` is ascii tokenize → Porter. ``lang="ru_en"`` is the
    full reference chain — Unicode tokenize → english_stop → Porter →
    russian_stop → Snowball-Russian (functions/stem_ru.py)."""
    if lang == "ru_en":
        from etl_sprint_2_5_spark.functions.stem_ru import analyze_ru_en

        return analyze_ru_en(col)
    from etl_sprint_2_5_spark.functions.text import tokenize

    return stem_tokens(tokenize(col))
