"""Russian stemming + the combined ru_en analyzer chain — SURVEY.md
§2.7 F11 (second half).

The reference's ES indexes analyze every text field with a `ru_en`
analyzer: standard tokenizer → lowercase → english_stop →
english_stemmer → english_possessive_stemmer → russian_stop →
russian_stemmer (/root/reference/movies.es.schema.json:4-40; identical
block in the persons/genres schemas). The English half shipped in
round 2 (functions/stem.py, Porter). This module supplies the Russian
half — the Snowball Russian stemming algorithm (Porter's framework
applied to Russian; published at snowballstem.org, public domain) and
the Snowball Russian stopword list — plus `analyze_ru_en`, the full
chain twin.

Like Porter, this is a sanctioned Python-per-token stage (SURVEY.md
§2.9): a character-level rewrite no Column expression can express,
run as an Arrow-batched pandas UDF with a per-batch memo cache. It is
a config-gated opt-in (`stem="ru_en"`); the default analyzer chain
stays UDF-free and oracle-expressible.

Documented divergences from ES: the engine's ru_en tokenizer is a
regex split on [^a-zа-я0-9]+ after lowercase + ё→е folding (the
standard tokenizer's Unicode word-break rules differ on punctuation
edge cases); the possessive stemmer is subsumed because "john's"
splits into (john, s) at tokenization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------
# Snowball Russian stemmer (snowballstem.org/algorithms/russian/)
# --------------------------------------------------------------------

_RU_VOWELS = "аеиоуыэюя"

# Suffix classes from the published algorithm. Group-1 entries (cond
# True) must be preceded by а or я — the а/я itself is kept. Matching
# is Snowball `among` semantics: the longest suffix lying entirely
# inside RV wins; if the winner's а/я condition then fails, the whole
# class fails (no backtracking to a shorter candidate).
_PERFECTIVE_GERUND = (
    ("вшись", True), ("вши", True), ("в", True),
    ("ившись", False), ("ывшись", False), ("ивши", False),
    ("ывши", False), ("ив", False), ("ыв", False),
)
_ADJECTIVE = tuple(
    (s, False)
    for s in (
        "ее", "ие", "ые", "ое", "ими", "ыми", "ей", "ий", "ый", "ой",
        "ем", "им", "ым", "ом", "его", "ого", "ему", "ому", "их", "ых",
        "ую", "юю", "ая", "яя", "ою", "ею",
    )
)
_PARTICIPLE = (
    ("ем", True), ("нн", True), ("вш", True), ("ющ", True), ("щ", True),
    ("ивш", False), ("ывш", False), ("ующ", False),
)
_REFLEXIVE = (("ся", False), ("сь", False))
_VERB = (
    ("ла", True), ("на", True), ("ете", True), ("йте", True), ("ли", True),
    ("й", True), ("л", True), ("ем", True), ("н", True), ("ло", True),
    ("но", True), ("ет", True), ("ют", True), ("ны", True), ("ть", True),
    ("ешь", True), ("нно", True),
    ("ила", False), ("ыла", False), ("ена", False), ("ейте", False),
    ("уйте", False), ("ите", False), ("или", False), ("ыли", False),
    ("ей", False), ("уй", False), ("ил", False), ("ыл", False),
    ("им", False), ("ым", False), ("ен", False), ("ило", False),
    ("ыло", False), ("ено", False), ("ят", False), ("ует", False),
    ("уют", False), ("ит", False), ("ыт", False), ("ены", False),
    ("ить", False), ("ыть", False), ("ишь", False), ("ую", False),
    ("ю", False),
)
_NOUN = tuple(
    (s, False)
    for s in (
        "а", "ев", "ов", "ие", "ье", "е", "иями", "ями", "ами", "еи",
        "ии", "и", "ией", "ей", "ой", "ий", "й", "иям", "ям", "ием",
        "ем", "ам", "ом", "о", "у", "ах", "иях", "ях", "ы", "ь", "ию",
        "ью", "ю", "ия", "ья", "я",
    )
)
_DERIVATIONAL = ("ость", "ост")
_SUPERLATIVE = ("ейше", "ейш")


def _regions(word: str) -> tuple[int, int]:
    """(rv, r2) start offsets per the Snowball definitions: RV begins
    after the first vowel; R1 after the first non-vowel following a
    vowel; R2 after the first non-vowel following a vowel in R1."""
    n = len(word)
    rv = n
    for i, ch in enumerate(word):
        if ch in _RU_VOWELS:
            rv = i + 1
            break
    r1 = n
    for i in range(1, n):
        if word[i] not in _RU_VOWELS and word[i - 1] in _RU_VOWELS:
            r1 = i + 1
            break
    r2 = n
    for i in range(r1 + 1, n):
        if word[i] not in _RU_VOWELS and word[i - 1] in _RU_VOWELS:
            r2 = i + 1
            break
    return rv, r2


def _among(word: str, rv: int, suffixes) -> str | None:
    """Snowball `among` within the RV limit: longest suffix that lies
    entirely in RV wins; a group-1 winner additionally requires а/я
    immediately before it (also inside RV) — condition failure fails
    the whole class. Returns the shortened word, or None."""
    best = None
    for suf, cond in suffixes:
        start = len(word) - len(suf)
        if start >= rv and word.endswith(suf):
            if best is None or len(suf) > len(best[0]):
                best = (suf, cond)
    if best is None:
        return None
    suf, cond = best
    start = len(word) - len(suf)
    if cond and (start - 1 < rv or word[start - 1] not in "ая"):
        return None
    return word[:start]


def russian_stem(word: str) -> str:
    """Snowball Russian, all steps. Input is assumed lowercase; ё is
    folded to е (the algorithm's prelude). Words with no Cyrillic
    vowel (RV empty) pass through unchanged."""
    w = word.replace("ё", "е")
    rv, r2 = _regions(w)
    if rv >= len(w):
        return w

    # Step 1: perfective gerund, else [reflexive] + one of
    # adjectival / verb / noun.
    res = _among(w, rv, _PERFECTIVE_GERUND)
    if res is not None:
        w = res
    else:
        res = _among(w, rv, _REFLEXIVE)
        if res is not None:
            w = res
        res = _among(w, rv, _ADJECTIVE)
        if res is not None:
            # ADJECTIVAL = [participle +] adjective
            w = res
            res = _among(w, rv, _PARTICIPLE)
            if res is not None:
                w = res
        else:
            res = _among(w, rv, _VERB)
            if res is not None:
                w = res
            else:
                res = _among(w, rv, _NOUN)
                if res is not None:
                    w = res

    # Step 2: trailing и (inside RV).
    if w.endswith("и") and len(w) - 1 >= rv:
        w = w[:-1]

    # Step 3: derivational ость/ост — the suffix must lie in R2.
    for suf in _DERIVATIONAL:
        start = len(w) - len(suf)
        if w.endswith(suf) and start >= r2:
            w = w[:start]
            break

    # Step 4 (tidy_up): longest of {ейше, ейш, нн, ь} in RV —
    # superlative removal then н-undoubling, or н-undoubling, or
    # dropping a final soft sign.
    matched_sup = False
    for suf in _SUPERLATIVE:
        start = len(w) - len(suf)
        if w.endswith(suf) and start >= rv:
            w = w[:start]
            matched_sup = True
            break
    if matched_sup or (w.endswith("нн") and len(w) - 2 >= rv):
        if w.endswith("нн") and len(w) - 2 >= rv:
            w = w[:-1]
    elif w.endswith("ь") and len(w) - 1 >= rv:
        w = w[:-1]
    return w


# --------------------------------------------------------------------
# Stopword sets
# --------------------------------------------------------------------

# The Snowball Russian stopword list — what Lucene/ES resolves
# `"stopwords": "_russian_"` to (the reference's russian_stop filter,
# movies.es.schema.json:30-33).
RUSSIAN_STOPWORDS: frozenset[str] = frozenset(
    """и в во не что он на я с со как а то все она так его но да ты к
    у же вы за бы по только ее мне было вот от меня еще нет о из ему
    теперь когда даже ну вдруг ли если уже или ни быть был него до вас
    нибудь опять уж вам ведь там потом себя ничего ей может они тут
    где есть надо ней для мы тебя их чем была сам чтоб без будто чего
    раз тоже себе под будет ж тогда кто этот того потому этого какой
    совсем ним здесь этом один почти мой тем чтобы нее сейчас были
    куда зачем всех никогда можно при наконец два об другой хоть
    после над больше тот через эти нас про всего них какая много разве
    три эту моя впрочем хорошо свою этой перед иногда лучше чуть том
    нельзя такой им более всегда конечно всю между""".split()
)

# The ES `_english_` stopword set (the reference's english_stop
# filter) — Lucene's 33-word EnglishAnalyzer default, NOT the longer
# Snowball English list.
ES_ENGLISH_STOPWORDS: frozenset[str] = frozenset(
    """a an and are as at be but by for if in into is it no not of on
    or such that the their then there these they this to was will
    with""".split()
)


# --------------------------------------------------------------------
# The combined ru_en analyzer chain
# --------------------------------------------------------------------

RU_EN_SPLIT_RE = r"[^a-zа-я0-9]+"


def _is_ascii(tok: str) -> bool:
    return tok.isascii()


def stem_term_ru_en(term: str) -> str | None:
    """Apply the full ru_en chain to one term (query-side twin of the
    token stream): lowercase + ё-fold → english_stop → Porter (ascii
    tokens) → russian_stop → Snowball-Russian (Cyrillic tokens).
    Returns None for stopwords (dropped from the stream, exactly as
    the ES stop filters drop them)."""
    from etl_sprint_2_5_spark.functions.stem import porter_stem

    t = term.lower().replace("ё", "е")
    if not t:
        return None
    if t in ES_ENGLISH_STOPWORDS:
        return None
    if _is_ascii(t):
        return porter_stem(t)
    if t in RUSSIAN_STOPWORDS:
        return None
    return russian_stem(t)


def tokenize_ru_en(col: Column | str) -> Column:
    """JVM-side ru_en tokenization: lowercase, fold ё→е, split on
    [^a-zа-я0-9]+, drop empties. Mixed-script tokens survive intact
    (they carry both letter classes, as under the standard tokenizer).
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(
            F.translate(F.lower(c), "ё", "е"), RU_EN_SPLIT_RE, " "
        )
    )
    return F.filter(F.split(norm, " "), lambda t: F.length(t) > 0)


def analyze_ru_en(col: Column | str) -> Column:
    """array<string> analyzer chain twin of the reference's `ru_en` ES
    analyzer: tokenize_ru_en → english_stop → Porter → russian_stop →
    Snowball-Russian. One Arrow-batched pandas UDF over the token
    arrays with a cross-row memo (token vocabularies repeat heavily).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _analyze(s):
        memo: dict[str, str | None] = {}

        def one(tokens):
            if tokens is None:
                return None
            out = []
            for t in tokens:
                if t not in memo:
                    memo[t] = stem_term_ru_en(t)
                r = memo[t]
                if r:
                    out.append(r)
            return out

        return s.apply(one)

    _analyze.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_analyze, "array<string>")(tokenize_ru_en(col))
