"""Text expression helpers shared by dedup / text-analysis / full-text
operators (SURVEY.md §2.7 F11 and the BASELINE.json extension surface).

Everything is a Column expression over built-ins — tokenization,
shingling, and hashing all run JVM-side. Cross-engine determinism
matters (the DuckDB oracle recomputes the same values), so hashing is
md5-hex based: both engines produce identical lowercase hex for
identical UTF-8 input, and lexicographic MIN over hex strings is a
valid uniform MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"[^a-z0-9]+"


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse non-alphanumerics to single spaces + trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), TOKEN_SPLIT_RE, " "))


def tokenize(col: Column | str) -> Column:
    """Normalized word tokens (array<string>, no empties)."""
    return F.filter(
        F.split(normalize_text(col), " "), lambda t: F.length(t) > 0
    )


def tokenize_sql(expr: str) -> str:
    """``tokenize`` as SQL text over a SQL expression: one parse on the
    JVM instead of a dozen py4j Column calls (the per-request cost of
    building the plan in a serving path)."""
    return (
        f"filter(split(trim(regexp_replace(lower({expr}), '{TOKEN_SPLIT_RE}',"
        " ' ')), ' '), t -> length(t) > 0)"
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles as space-joined strings.

    Built as n-1 chained zip_with joins against shifted copies of the
    token array — O(tokens) per row. (The obvious transform-over-
    indexes + slice formulation is O(tokens²) per row because slice
    copies; at 300-token documents that is a 100× slowdown.)

    Documents with fewer than n tokens yield one whole-text shingle
    (mirrored by the oracle fragment: generate_series(0, greatest(
    len-3, 0)) with a clipped slice).
    """
    toks = tokenize(col)
    size = F.size(toks)
    sh = toks
    for k in range(1, n):
        sh = F.zip_with(
            sh,
            F.slice(toks, k + 1, size),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    # zip_with pads the SHORTER side with nulls (concat → null); drop
    # them to keep exactly size-n+1 shingles
    sh = F.filter(sh, lambda x: x.isNotNull())
    return F.when(size < n, F.array(F.array_join(toks, " "))).otherwise(sh)


def char_ngrams(col: Column | str, n: int = 4) -> Column:
    """Character n-grams of the normalized text (for language-ID style
    heuristics and n-gram Jaccard)."""
    norm = normalize_text(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )


def hash_bucket(col: Column | str, seed: int, buckets: int) -> Column:
    """Deterministic cross-engine bucket id: first 8 md5-hex chars of
    ``seed:value`` parsed base-16, mod buckets."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), c)), 1, 8), 16, 10)
    return (h.cast("long") % buckets).alias("bucket")


def minhash_hex(shingles: Column, seed: int) -> Column:
    """One MinHash band value: lexicographic min of md5-hex of each
    seeded shingle. A string min over uniform hex hashes is an
    order-statistic MinHash — identical in Spark and ANSI SQL.

    Cost: one md5 per (shingle, seed). Prefer the integer pipeline
    (shingle_hash64 + minhash_int) for multi-hash signatures — one md5
    per shingle total, then integer permutations."""
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
    )


MERSENNE31 = 2_147_483_647  # 2^31 - 1, the classic universal-hash modulus

# 12 fixed (a, b) permutation constants (odd multipliers < 2^31).
# Hard-coded so the DuckDB oracle can inline the identical literals.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1297321, 911), (2254397, 3571), (3376579, 7919), (4583561, 14593),
    (5729743, 22571), (6834101, 31357), (7942907, 40253), (9123749, 51679),
    (10456747, 63809), (11678923, 75691), (12895601, 88643), (14102723, 99991),
)


def shingle_hash64(shingles: Column) -> Column:
    """One 60-bit integer hash per shingle: first 15 md5-hex chars
    parsed base-16 (fits int64; identical arithmetic in DuckDB via
    ('0x' || substr(md5(s),1,15))::BIGINT). The single expensive hash
    per shingle — every downstream permutation is integer math."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def minhash_int(hashes: Column, a: int, b: int) -> Column:
    """min over (a·(h mod p) + b) mod p, p = 2^31-1 — a universal-hash
    permutation MinHash over pre-hashed shingles. a·(h%p) < 2^62, no
    int64 overflow."""
    return F.array_min(
        F.transform(
            hashes,
            lambda h: (F.lit(a) * (h % MERSENNE31) + F.lit(b)) % MERSENNE31,
        )
    )
