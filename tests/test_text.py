"""Unit tests for text expression helpers (tokenize/shingles/ngrams/minhash)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from etl_sprint_2_5_spark.functions import text as T


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_tokenize_normalizes(spark):
    v = one(spark, T.tokenize(F.lit("Hello, World!!  foo-bar 42")))
    assert v == ["hello", "world", "foo", "bar", "42"]


def test_word_shingles_exact_count(spark):
    # k tokens, n=3 → k-2 shingles, each 3 consecutive words
    v = one(spark, T.word_shingles(F.lit("a b c d e"), n=3))
    assert v == ["a b c", "b c d", "c d e"]


def test_word_shingles_short_doc_whole_text(spark):
    assert one(spark, T.word_shingles(F.lit("a b"), n=3)) == ["a b"]
    assert one(spark, T.word_shingles(F.lit("solo"), n=3)) == ["solo"]


def test_word_shingles_n2(spark):
    assert one(spark, T.word_shingles(F.lit("x y z"), n=2)) == ["x y", "y z"]


def test_char_ngrams(spark):
    v = one(spark, T.char_ngrams(F.lit("abcde"), n=4))
    assert v == ["abcd", "bcde"]


def test_minhash_matches_python_md5(spark):
    # engine MinHash == min over python md5 of "seed:shingle"
    shingles = ["a b c", "b c d"]
    expected = min(hashlib.md5(f"7:{s}".encode()).hexdigest() for s in shingles)
    got = one(
        spark,
        T.minhash_hex(F.array(*[F.lit(s) for s in shingles]), seed=7),
    )
    assert got == expected


def test_hash_bucket_range_and_determinism(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], ["x"])
    got = df.select(T.hash_bucket("x", seed=1, buckets=8).alias("b"))
    vals = [r["b"] for r in got.collect()]
    assert all(0 <= v < 8 for v in vals)
    again = [r["b"] for r in got.collect()]
    assert vals == again


def test_minhash_int_matches_python(spark):
    import hashlib

    from etl_sprint_2_5_spark.functions.text import MERSENNE31, MINHASH_PERMS

    shingles = ["a b c", "b c d", "x y z"]
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingles]
    a, b = MINHASH_PERMS[3]
    expected = min((a * (h % MERSENNE31) + b) % MERSENNE31 for h in hs)
    got = one(
        spark,
        T.minhash_int(
            T.shingle_hash64(F.array(*[F.lit(s) for s in shingles])), a, b
        ),
    )
    assert got == expected


def test_fulltext_bm25_matches_python_oracle(spark):
    """Full BM25 (k1/b) path of fulltext_score vs a pure-Python mirror,
    plus the saturation property tf·idf lacks."""
    import re

    from etl_sprint_2_5_spark.operators.textops import (
        _round_half_up6,
        fulltext_score,
        idf_weight,
    )

    rows = [
        ("d1", "spark spark spark spark", "logs"),
        ("d2", "spark window", "logs"),
        ("d3", "window merge window spark extra words here", "spark"),
        ("d4", "nothing relevant", "misc"),
    ]
    df = spark.createDataFrame(rows, "id string, text string, source string")
    terms, fields, k1, b = ("spark", "window"), {"text": 3.0, "source": 1.0}, 1.2, 0.75
    got = {
        r["id"]: r["score"]
        for r in fulltext_score(df, "id", terms, fields, k1=k1, b=b).collect()
    }

    def toks(s):
        return [t for t in re.sub("[^a-z0-9]+", " ", s.lower()).split() if t]

    docs = [(i, {"text": toks(tx), "source": toks(src)}) for i, tx, src in rows]
    n = len(docs)
    avglen = {
        f: _round_half_up6(sum(len(d[f]) for _, d in docs) / n) for f in fields
    }
    want = {}
    for i, d in docs:
        score = 0.0
        for f, w in fields.items():
            for t in terms:
                tf = d[f].count(t)
                if not tf:
                    continue
                dfc = sum(1 for _, dd in docs if t in dd[f])
                wk = w * idf_weight(n, dfc)
                score += wk * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(d[f]) / avglen[f])
                )
        if score:
            want[i] = round(score, 2)
    assert got == want
    assert "d4" not in got

    # saturation: 4× the tf must yield well under 4× the contribution
    flat = {
        r["id"]: r["score"]
        for r in fulltext_score(df, "id", ("spark",), {"text": 1.0}).collect()
    }
    sat = {
        r["id"]: r["score"]
        for r in fulltext_score(df, "id", ("spark",), {"text": 1.0}, k1=k1, b=b).collect()
    }
    assert abs(flat["d1"] - 4 * flat["d2"]) < 0.03  # tf-linear (± round-2 noise)
    assert sat["d1"] < 2.5 * sat["d2"]


def test_fulltext_score_empty_terms(spark):
    """Empty query — or terms that stem/filter away entirely — returns
    an empty (id, score) frame instead of raising from zero-arg isin()
    or create_map()."""
    from etl_sprint_2_5_spark.operators.textops import fulltext_score

    df = spark.createDataFrame([("d1", "spark rows")], "id string, text string")
    for kwargs in ({}, {"k1": 1.2}, {"stem": True}):
        out = fulltext_score(df, "id", (), {"text": 1.0}, **kwargs)
        assert out.columns == ["id", "score"]
        assert out.count() == 0
    # whitespace-ish term that stems to empty is equivalent to no terms
    out = fulltext_score(df, "id", ("",), {"text": 1.0})
    assert out.count() == 0


def test_language_id_cjk_script_detection(spark):
    """The script stage catches CJK documents that the ascii marker
    tokenizer is structurally blind to (the fixture's 'zh' rows are
    synthetic english word-soup, so only a unit fixture can exercise
    this)."""
    from etl_sprint_2_5_spark.operators.textops import language_id

    rows = [
        ("zh1", "机器学习模型的训练数据质量非常重要"),
        ("zh2", "大数据处理平台 with some spark words"),
        ("en1", "the quick brown fox jumps over the lazy dog"),
        ("mix", "only two 汉字 here in a long english sentence overall"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r["id"]: r["pred_lang"] for r in language_id(df, "text", "id").collect()}
    assert got["zh1"] == "zh"
    assert got["zh2"] == "zh"  # majority-CJK mixed doc
    assert got["en1"] == "en"
    assert got["mix"] != "zh"  # 2 ideographs in ~50 chars is below 10%


def test_gopher_gate_rule_boundaries(spark, tmp_path):
    """Each Gopher rule fires on exactly the crafted doc built to
    violate it, with boundary values sitting on the published
    thresholds (49 vs 50 words, mean word length exactly 3.0 passes,
    exactly 2 stop words pass)."""
    import etl_sprint_2_5_spark.plans.text_queries  # noqa: F401
    from etl_sprint_2_5_spark.plans.registry import REGISTRY

    docs = [
        # short: 49 words -> word-count fail (and 0 stops -> stop fail)
        (1, " ".join(["abc"] * 49)),
        # clean: 48x abc + 2 stop words = 50 words, mean len 3.0 -> pass all
        (2, " ".join(["abc"] * 48 + ["the", "the"])),
        # squashed: 50 two-char words -> mean word length 2 < 3 fail
        (3, " ".join(["ab"] * 48 + ["the", "the"])),
        # numeric: no alphabetic words -> alpha fail (plus stop fail)
        (4, " ".join(["123"] * 50)),
        # symbol soup: 10 '#' over 50 words -> symbol ratio 0.2 > 0.1 fail
        (5, " ".join(["abc"] * 48 + ["the", "the"]) + " ##########"),
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    (r,) = REGISTRY["gopher_quality_gate"].fn(spark, str(tmp_path)).collect()
    assert (
        r["n_docs"],
        r["fail_word_count"],
        r["fail_mean_word_len"],
        r["fail_symbol_ratio"],
        r["fail_alpha_words"],
        r["fail_stopwords"],
        r["n_pass_all"],
    ) == (5, 1, 1, 1, 1, 2, 1), dict(r.asDict())


def test_kneser_ney_formula_normalizes_to_one():
    """Pure-python evaluation of the exact formula the gated
    kneser_ney_trigram query implements (same tables, same D): on a
    corpus where every word occurs in both bigram positions, the
    trigram distribution must sum to 1 over the vocabulary for every
    observed context — the property that distinguishes a correctly
    interpolated KN from an unnormalized backoff hack."""
    import itertools

    docs = [
        "a b c a b d a c d b",
        "b a c b d a d c a b",
        "c d a b a b c d b a",
    ]
    toks = [d.split() for d in docs]
    vocab = sorted({w for t in toks for w in t})
    tris = [tuple(t[i : i + 3]) for t in toks for i in range(len(t) - 2)]
    bis = [tuple(t[i : i + 2]) for t in toks for i in range(len(t) - 1)]
    c3: dict = {}
    for g in tris:
        c3[g] = c3.get(g, 0) + 1
    ctx2: dict = {}
    nf12: dict = {}
    for (w1, w2, w3), c in c3.items():
        ctx2[(w1, w2)] = ctx2.get((w1, w2), 0) + c
        nf12[(w1, w2)] = nf12.get((w1, w2), 0) + 1
    np23: dict = {}
    for (w1, w2, w3) in c3:
        np23[(w2, w3)] = np23.get((w2, w3), 0) + 1
    nmid: dict = {}
    nf2: dict = {}
    for (w2, w3), c in np23.items():
        nmid[w2] = nmid.get(w2, 0) + c
        nf2[w2] = nf2.get(w2, 0) + 1
    bgt = set(bis)
    npu: dict = {}
    for _, wb in bgt:
        npu[wb] = npu.get(wb, 0) + 1
    T = len(bgt)
    # every vocab word must be a continuation somewhere, else mass leaks
    assert set(npu) == set(vocab)
    D = 0.75

    def pc(w3):
        return npu.get(w3, 0) / T

    def p2(w2, w3):
        return (
            max(np23.get((w2, w3), 0) - D, 0.0) + D * nf2[w2] * pc(w3)
        ) / nmid[w2]

    def p3(w1, w2, w3):
        return (
            max(c3.get((w1, w2, w3), 0) - D, 0.0)
            + D * nf12[(w1, w2)] * p2(w2, w3)
        ) / ctx2[(w1, w2)]

    for (w1, w2) in sorted(ctx2):
        s2 = sum(p2(w2, w3) for w3 in vocab)
        s3 = sum(p3(w1, w2, w3) for w3 in vocab)
        assert abs(s2 - 1.0) < 1e-9, (w2, s2)
        assert abs(s3 - 1.0) < 1e-9, ((w1, w2), s3)
    # and all probabilities are strictly positive (interpolation floor)
    assert min(p3(w1, w2, w3) for (w1, w2) in ctx2 for w3 in vocab) > 0


def test_tokenize_sql_matches_tokenize(spark):
    """The SQL-text tokenizer the scorer parses is the Column one."""
    df = spark.createDataFrame(
        [("Hello, World!!  foo-bar 42",), ("  ",), (None,), ("O'Brien\\x :t0",)],
        "s string",
    )
    rows = df.select(
        T.tokenize("s").alias("a"), F.expr(T.tokenize_sql("s")).alias("b")
    ).collect()
    assert all(r["a"] == r["b"] for r in rows)
    assert rows[3]["b"] == ["o", "brien", "x", "t0"]


def test_fulltext_score_repeated_terms(spark):
    """A repeated term counts once on every analyzer path, instead of
    raising a duplicate-map-key error on the unstemmed ones; and query
    terms are analyzed like the documents: lowercased and split on the
    tokenizer's separators."""
    from etl_sprint_2_5_spark.operators.textops import fulltext_score

    df = spark.createDataFrame(
        [("d1", "spark spark rows"), ("d2", "rows"), ("d3", "sparks fly"),
         ("d4", "Spark and Sci Fi")],
        "id string, text string",
    )
    same = [(("spark",), ("spark", "spark")), (("spark",), ("Spark",)),
            (("sci", "fi"), ("sci-fi",))]
    for kwargs in ({}, {"k1": 1.2}, {"stem": True}, {"stem": "ru_en"}):
        for terms, spelled in same:
            once = fulltext_score(df, "id", terms, {"text": 1.0}, **kwargs)
            twice = fulltext_score(df, "id", spelled, {"text": 1.0}, **kwargs)
            assert sorted(twice.collect()) == sorted(once.collect()), (kwargs, spelled)
            assert once.count() >= 1


def test_with_fulltext_score_keeps_every_row(spark):
    """The row-keeping scorer returns every input row and column with
    its score (0.0 without a hit); a NULL field scores as empty."""
    from etl_sprint_2_5_spark.operators.textops import with_fulltext_score

    df = spark.createDataFrame(
        [("d1", "spark", None, 1), ("d2", None, "spark spark", 2), ("d3", "x", "y", 3)],
        "id string, a string, b string, extra int",
    )
    out = with_fulltext_score(df, ("spark",), {"a": 2.0, "b": 1.0})
    assert out.columns == ["id", "a", "b", "extra", "score"]
    got = {r["id"]: r["score"] for r in out.collect()}
    assert got["d3"] == 0.0 and got["d1"] > 0 and got["d2"] > 0
    empty = with_fulltext_score(df, (), {"a": 1.0})
    assert {r["score"] for r in empty.collect()} == {0.0}
