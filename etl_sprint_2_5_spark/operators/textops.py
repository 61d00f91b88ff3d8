"""Text-analysis operators — language ID, quality scoring, token
counting, full-text scoring (BASELINE.json extension surface +
SURVEY.md §2.7 F11/F12).

Pure Column expressions (codegen'd) throughout; the one sanctioned
Python stage is the OPT-IN Porter stemming pass (functions/stem.py,
``stem=True``) — the default chain stays UDF-free, so the same
formulas are mirrored in the DuckDB oracles and hash-verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.functions.text import TOKEN_SPLIT_RE, tokenize, tokenize_sql
from etl_sprint_2_5_spark.operators.pagination import paginate

# Function-word marker lists for n-gram-free language ID. Tiny on
# purpose: the operator contract is "deterministic heuristic vote",
# not a production model (reference delegates analysis to ES analyzers
# — movies.es.schema.json:4-40 ru/en analyzer).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "los", "es", "en", "un", "por"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"]


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in the word list (with multiplicity)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Two-stage language ID: a SCRIPT check first — a document whose
    chars are ≥10% CJK ideographs is 'zh' (the ascii marker tokenizer
    drops CJK entirely, so no word vote can ever see it) — then the
    marker-word vote over latin-script languages; argmax wins, ties
    break to the alphabetically earlier language, zero hits → 'und'.
    The ratio test is integer arithmetic (cjk·10 ≥ len) so both
    engines decide identically."""
    toks = tokenize(text_col)
    langs = sorted(LANG_MARKERS)
    cjk = F.length(
        F.regexp_replace(F.col(text_col), "[^一-鿿]", "")
    )
    total = F.length(F.col(text_col))
    out = df.select(
        F.col(id_col),
        (cjk * 10 >= F.greatest(total, F.lit(1))).alias("_is_cjk"),
        *[_hits(toks, LANG_MARKERS[lg]).alias(f"hits_{lg}") for lg in langs],
    )
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier languages override on ties
        pred = F.when(F.col(f"hits_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    pred = F.when(F.col("_is_cjk"), F.lit("zh")).otherwise(pred)
    return out.withColumn("pred_lang", pred).drop("_is_cjk")


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Composite quality score in [0,1]:

    0.4·min(len/400, 1)  — enough content
    0.4·(distinct/total) — lexical diversity (anti-boilerplate)
    0.2·(1 − stopword_ratio) — information density

    The classic cheap pre-filter for training-data pipelines; exact
    formula mirrored in the oracle."""
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    len_score = F.least(F.length(F.col(text_col)) / 400.0, F.lit(1.0))
    diversity = F.when(n_tok > 0, n_dist / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0, _hits(toks, ENGLISH_STOPWORDS) / n_tok
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_dist.alias("n_distinct"),
        F.round(
            0.4 * len_score + 0.4 * diversity + 0.2 * (1 - stop_ratio), 4
        ).alias("quality"),
    )


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, chars, and
    the chars/4 LLM-token heuristic."""
    toks = tokenize(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(F.col(text_col)).alias("n_chars_actual"),
        F.ceil(F.length(F.col(text_col)) / 4.0).cast("long").alias("approx_llm_tokens"),
    )


def hashed_linear_score(
    df: DataFrame, text_col: str, id_col: str, salt: str = "qclf-v1"
) -> DataFrame:
    """fastText-style linear classifier over hashed token features:
    logit(doc) = Σ_t w(h(t)) / (1000 · n_tokens).

    The per-token weight sum runs as ``F.aggregate`` over the token
    array INSIDE the row's projection — no explode, no shuffle: the
    naive explode → groupBy(doc) shape ships every token through an
    exchange (60M rows at sf1 — profiled 10× slower, round 13) to
    recombine rows that were never apart. The weight table is a
    deterministic md5 stand-in (w_int(t) = md5₆₀(salt‖t) mod 2001 −
    1000 ∈ [−1000, 1000]), the same fake-but-pinned convention as the
    multimodal codecs: a trained model swaps in a broadcast
    id→weight map lookup inside the same lambda without touching the
    dataflow.

    The whole computation stays in INTEGERS — weight sums are exact
    and order-independent (double summation would make the shuffle
    order observable), and the score ships as fixed-point
    parts-per-million (``logit_ppm`` = logit·10⁶, truncated): a
    float division + round() here would hit decimal-halfway ties
    where Spark (shortest-repr BigDecimal) and other engines (binary
    value) legitimately disagree by 1 ulp of the rounding grid. The
    offset-then-divide keeps the integer division on positive values,
    where floor and truncate agree across engines."""
    toks = tokenize(text_col)

    def w_int(t):  # noqa: ANN001 - Column lambda
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 15), 16, 10
            ).cast("long")
            % 2001
            - 1000
        )

    return (
        df.select(
            F.col(id_col),
            F.size(toks).alias("_n"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + w_int(t)
            ).alias("_sw"),
        )
        .where(F.col("_n") > 0)  # explode semantics: token-free docs drop
        .select(
            F.col(id_col),
            F.col("_n").alias("n_tokens"),
            (
                F.expr("((_sw + 1000 * _n) * 1000000) div (1000 * _n)")
                - F.lit(1000000)
            ).alias("logit_ppm"),
        )
    )


def _analyzer(stem: bool | str):
    """Resolve the `stem` option to a tokenizer: False → plain ascii
    tokenize; True/"en" → Porter chain; "ru_en" → the full reference
    ru_en analyzer chain (functions/stem_ru.py)."""
    if not stem:
        return tokenize
    from etl_sprint_2_5_spark.functions.stem import tokenize_stemmed

    lang = "ru_en" if stem == "ru_en" else "en"
    return lambda c: tokenize_stemmed(c, lang=lang)


def _query_terms(terms: tuple[str, ...], stem: bool | str) -> tuple[str, ...]:
    """Query-side twin of the token-stream analyzer: lowercase each term
    and split it on the chain's tokenizer separators (ru_en folds ё→е
    first), stem each token with the same chain (ru_en drops stopwords
    entirely), drop empties and duplicates — the one place query terms
    are analyzed."""
    import re

    if stem == "ru_en":
        from etl_sprint_2_5_spark.functions.stem_ru import (
            RU_EN_SPLIT_RE,
            stem_term_ru_en,
        )

        texts = (t.lower().replace("ё", "е") for t in terms)
        sep, analyze = RU_EN_SPLIT_RE, stem_term_ru_en
    else:
        from etl_sprint_2_5_spark.functions.stem import porter_stem

        texts = (t.lower() for t in terms)
        sep, analyze = TOKEN_SPLIT_RE, porter_stem if stem else str
    tokens = (tok for t in texts for tok in re.split(sep, t) if tok)
    return tuple(dict.fromkeys(a for a in map(analyze, tokens) if a))


def _token_arrays(fields, stem: bool | str) -> list[Column]:
    """``_tk{i}``: field i's analyzed token array (a NULL field is an
    empty array). A field is a column name or a SQL expression over the
    row."""
    if stem:
        toks = [_analyzer(stem)(F.expr(f)) for f in fields]
    else:
        toks = [F.expr(tokenize_sql(f)) for f in fields]
    return [F.coalesce(t, F.array()).alias(f"_tk{i}") for i, t in enumerate(toks)]


def _analyzed(
    df: DataFrame, terms: tuple[str, ...], fields, stem: bool | str
) -> DataFrame:
    """``df`` plus ``_q`` (the query terms as ONE literal array column,
    so user text never enters SQL) and the ``_tk{i}`` token arrays. The
    token arrays are referenced more than once downstream, so
    projection collapse keeps them here: each field is tokenized once
    per row."""
    return df.select(
        "*", F.lit(list(terms)).alias("_q"), *_token_arrays(fields, stem)
    )


def term_counters(
    df: DataFrame,
    fields: tuple[str, ...],
    stem: bool | str = False,
    by: Column | None = None,
) -> DataFrame:
    """The whole vocabulary's ``corpus_term_stats`` counters as ONE
    aggregate, optionally per group ``by``: rows ``(by, field, term,
    n)`` where

    - ``(field, term)``: n = docs whose analyzed field contains term
      (the document frequency);
    - ``(field, NULL)``: n = the field's token count summed over docs;
    - ``(NULL, NULL)``: n = the number of docs.

    Each row is tokenized once, its distinct tokens per field exploded
    with the length and row counters, and everything summed in one
    group-by. Counters of disjoint row sets add up, so per-file rows
    summed on the driver equal the corpus-wide figures exactly. This is
    the one vocabulary builder: the per-file view statistics
    (operators/view_stats.py) read it."""
    keys = [] if by is None else ["by"]
    tok = df.select(*[by.alias(k) for k in keys], *_token_arrays(fields, stem))

    def counter(field: str | None, term: Column, n: Column) -> Column:
        return F.struct(
            F.lit(field).cast("string").alias("field"),
            term.cast("string").alias("term"),
            n.cast("long").alias("n"),
        )

    def postings(field: str):  # noqa: ANN202 - Column lambda
        return lambda t: counter(field, t, F.lit(1))

    no_term = F.lit(None)
    entries = [F.array(counter(None, no_term, F.lit(1)))]
    for i, f in enumerate(fields):
        tk = F.col(f"_tk{i}")
        entries.append(F.transform(F.array_distinct(tk), postings(f)))
        entries.append(F.array(counter(f, no_term, F.size(tk))))
    return (
        tok.select(*keys, F.explode(F.concat(*entries)).alias("_c"))
        .groupBy(*keys, "_c.field", "_c.term")
        .agg(F.sum("_c.n").alias("n"))
    )


def corpus_term_stats(
    df: DataFrame,
    terms: tuple[str, ...],
    fields: tuple[str, ...],
    stem: bool | str = False,
) -> dict:
    """Corpus statistics for idf weighting: one aggregate pass over the
    tokenized fields → ``{"n": N, "df": {(field, term): doc_freq}}``.

    |fields|×|terms| counters (plus one token-length sum per field, for
    BM25 length normalization) in a single-row agg — the "small
    broadcast" of the scoring design. ``with_fulltext_score`` runs it
    per request for a frame that is not a parquet view, and the per-file
    view statistics (operators/view_stats.py) must equal it."""
    return _term_stats(_analyzed(df, terms, fields, stem), terms, fields)


def _term_stats(tok: DataFrame, terms: tuple[str, ...], fields) -> dict:
    """corpus_term_stats over an ``_analyzed`` frame."""
    aggs = ["count(1) AS _n"]
    for i in range(len(fields)):
        aggs.append(f"sum(size(_tk{i})) AS _len_{i}")
        aggs += [
            f"count_if(array_contains(_tk{i}, _q[{j}])) AS _df_{i}_{j}"
            for j in range(len(terms))
        ]
    row = tok.selectExpr(*aggs).first()
    return term_stats_dict(
        row["_n"],
        {
            (field, term): row[f"_df_{i}_{j}"]
            for i, field in enumerate(fields)
            for j, term in enumerate(terms)
        },
        {field: row[f"_len_{i}"] or 0 for i, field in enumerate(fields)},
    )


def term_stats_dict(n: int, df: dict, lengths: dict) -> dict:
    """The statistics dict ``with_fulltext_score`` weighs terms by, from
    the counters: ``n`` docs, ``df[(field, term)]`` and each field's
    token-length sum."""
    return {
        "n": n,
        "df": df,
        # avg field length, rounded HALF_UP to 6 (matches the oracle's
        # round(CAST(sum .. AS DOUBLE)/count, 6) — DuckDB rounds half up,
        # Python's round() is half-even, so don't use it here)
        "avglen": {
            field: _round_half_up6(total / n) if n else 0.0
            for field, total in lengths.items()
        },
    }


def _round_half_up6(x: float) -> float:
    """Scalar HALF_UP rounding to 6 decimals — the cross-engine pin
    (DuckDB/Spark round() are HALF_UP; Python round() is half-even)."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def idf_weight(n: int, df_count: int) -> float:
    """BM25-style idf, rounded to 6 decimals so the Spark literal and
    the oracle's ``ln`` agree regardless of libm ulp differences."""
    import math

    return round(math.log(1.0 + (n - df_count + 0.5) / (df_count + 0.5)), 6)


def _dbl(x: float) -> str:
    """Exact SQL DOUBLE literal (repr round-trips; bare 1.2 is DECIMAL)."""
    return f"{float(x)!r}D"


def with_fulltext_score(
    df: DataFrame,
    terms: tuple[str, ...],
    fields: dict[str, float],
    stem: bool | str = False,
    k1: float | None = None,
    b: float = 0.75,
) -> DataFrame:
    """Every row of ``df`` plus its weighted multi-field tf·idf
    ``score`` — the in-engine approximation of the reference's ES
    multi_match with per-field boosts (search_api/api.py:94-100:
    title^4, description^3, ...; ES scores with BM25 = idf-weighted,
    length-normalized tf). Rows without a term hit score 0.0.

    score(doc) = Σ_field Σ_term (w_f · idf(field, term)) · tf(field, term)
    idf(f, t)  = ln(1 + (N − df + 0.5)/(df + 0.5))   [BM25 idf]

    A field is a column name or a SQL expression over the row (the
    serving layer scores its name arrays as ``array_join(arr, ' ')``).

    Execution shape: ONE projection over the input rows — no explode,
    no shuffle, no join back. Each field is tokenized once per row into
    an array column; tf(f, t) = size(tokens_f) − size(array_remove(
    tokens_f, t)) (the tokens equal to t, counted by codegen'd array
    ops instead of a per-term lambda), and the weighted sum is one SQL
    expression summed field-major then term-major, the order the DuckDB
    oracles sum in. The idf weights come from the per-file statistics
    when ``df`` is a parquet view (``view_term_stats``: summed from
    memoized per-file counters, built once per file), else from one
    single-row aggregate over the same token arrays; the query terms
    ride in one literal array column, never in SQL text.

    With ``k1=None`` (default) the score is plain tf·idf — no tf
    saturation, no length normalization. Pass ``k1`` (e.g. 1.2) to get
    the FULL BM25 formula the reference's ES deployment runs:

    score(doc) = Σ_f Σ_t w_f · idf_{f,t} ·
                 tf·(k1+1) / (tf + k1·(1 − b + b·len_f/avglen_f))

    where len_f = size(tokens_f) and avglen_f is the corpus mean from
    the same stats pass — the same projection; the formula reads each
    tf twice, and subexpression elimination computes it once."""
    from etl_sprint_2_5_spark.operators.view_stats import view_term_stats

    terms = _query_terms(terms, stem)
    if not terms:
        return df.withColumn("score", F.lit(0.0))
    tok = _analyzed(df, terms, fields, stem)
    stats = view_term_stats(df, terms, fields, stem)
    if stats is None:
        stats = _term_stats(tok, terms, tuple(fields))
    n = stats["n"]
    parts = []
    for i, f in enumerate(fields):
        for j, t in enumerate(terms):
            tf = f"(size(_tk{i}) - size(array_remove(_tk{i}, _q[{j}])))"
            wk = _dbl(fields[f] * idf_weight(n, stats["df"][(f, t)]))
            if k1 is None:
                parts.append(f"{wk} * {tf}")
                continue
            # operand order mirrors the oracle SQL exactly (IEEE doubles
            # are deterministic per-op; only the order must match)
            norm = f"{_dbl(b)} * size(_tk{i}) / {_dbl(stats['avglen'][f])}"
            parts.append(
                f"{wk} * ({tf} * {_dbl(k1 + 1.0)})"
                f" / ({tf} + {_dbl(k1)} * ({_dbl(1.0)} - {_dbl(b)} + {norm}))"
            )
    # one projection on top of the token arrays: a serving request pays
    # the JVM's analysis of each plan step it builds
    keep = ["`" + c.replace("`", "``") + "`" for c in df.columns]
    return tok.selectExpr(*keep, f"round({' + '.join(parts)}, 2) AS score")


def score_page(
    scored: DataFrame, tiebreak: Column, page: int, limit: int
) -> DataFrame:
    """One page of ``with_fulltext_score`` rows by score desc, hits
    only. The page is taken first (one top-k) and 0-score rows dropped
    after: they sort behind every hit, so this equals paging the hits,
    while a filter below the sort would be pushed under the scoring
    projection and evaluate the whole score expression twice per row."""
    top = paginate(scored, [F.col("score").desc()], tiebreak, page, limit)
    return top.where(F.col("score") > 0)


def fulltext_score(
    df: DataFrame,
    id_col: str,
    terms: tuple[str, ...],
    fields: dict[str, float],
    stem: bool | str = False,
    k1: float | None = None,
    b: float = 0.75,
) -> DataFrame:
    """``(id_col, score)`` of the rows ``with_fulltext_score`` scores
    above 0 (rounded) — the docs with at least one term hit. Spark
    pushes the filter under the scoring projection, so the score is
    evaluated twice per row; ranked consumers use ``score_page``."""
    scored = with_fulltext_score(df, terms, fields, stem, k1, b)
    return scored.where(F.col("score") > 0).select(id_col, "score")


def unigram_nll(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    cache_registry: list | None = None,
) -> DataFrame:
    """Unigram language-model surprisal per document — the CCNet/Dolma
    'perplexity filter' shape with the corpus's own unigram stats as
    the model.

    Three declarative stages, all bounded:
    1. token counts (one shuffle on token; vocab-sized result);
    2. add-one-smoothed per-token cost, fixed-pointed to ppm:
       cost_ppm = floor(-ln((c+1)/(N+V)) · 1e6 + 0.5) — BIGINT per
       token, so the later per-doc sum is order-independent (a raw
       double sum would be association-ordered and engine-unstable);
    3. broadcast the vocab-sized cost table back onto the token
       stream and aggregate per document (one shuffle on doc id).

    At 100 TB the vocab table is the only state that must fit in
    memory; past broadcast size the same plan degrades to a shuffle
    hash join without changing semantics.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("tok")
    )
    # cache the vocab table (guide §5): it feeds BOTH the corpus
    # constants and the cost table, and without the cache each
    # consumer re-derives it from the token stream — one extra full
    # corpus scan + tokenize per call. It is exactly the state the
    # docstring already requires to be memory-sized; callers that
    # consume the result twice (perplexity bucketing) avoid yet more
    # rescans by caching the doc-sized score frame on their side.
    # Lifecycle: the cache is appended to ``cache_registry`` when the
    # caller passes one, so a query can unpersist it after its final
    # action (registry.materialize_release) instead of leaving the
    # entry to accumulate across a long-lived session.
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).cache()
    if cache_registry is not None:
        cache_registry.append(vocab)
    consts = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    costs = vocab.crossJoin(F.broadcast(consts)).select(
        "tok",
        F.floor(
            -F.log(
                (F.col("c") + 1)
                / (F.col("n_total") + F.col("v")).cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cost_ppm"),
    )
    scored = toks.join(F.broadcast(costs), "tok").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("cost_ppm").alias("total_nll_ppm"),
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        "total_nll_ppm",
        F.expr("total_nll_ppm div n_tokens").alias("avg_nll_ppm"),
    )


def nfkc_clean(s: str) -> str:
    """The standard pretraining text-cleanup kernel (the step C4 /
    FineWeb / GPT-2-style pipelines run before tokenization): Unicode
    NFKC normalization (fullwidth forms, ligatures, compatibility
    digits/units, combining-sequence composition), control-character
    strip (category Cc — this is the aggressive single-line variant;
    a newline-preserving pipeline would exempt the newline), and
    unicode-whitespace collapse to single ASCII spaces with outer
    trim. Pure per-string CPU — run inside Arrow-batched pandas UDFs
    on the executors (the stemmer precedent: Python only touches the
    string payload, Spark owns the distribution)."""
    import unicodedata

    s = unicodedata.normalize("NFKC", s)
    s = "".join(ch for ch in s if unicodedata.category(ch) != "Cc")
    return " ".join(s.split())
