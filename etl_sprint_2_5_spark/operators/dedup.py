"""Document deduplication operators — the BASELINE.json extension
surface for large-scale training-data pipelines.

Five dedup families, each designed for the 100 TB shape of the
problem (never all-pairs over the corpus):

- exact: hash-groupBy on a normalized fingerprint (one shuffle).
- fingerprint (key collision): same, over the sorted distinct token
  set — catches token-permuted copies.
- MinHash + LSH: per-doc signature computed with array expressions
  (zero shuffle), banded, candidates found by an equi-join on
  (band, band_key) — the only shuffle is on the band key, and each
  band bucket is tiny. Candidates are then verified with exact
  Jaccard via array_intersect (no second explode).
- SimHash: one 32-bit hash per distinct token, then 32 codegen'd
  bit-vote sums per doc (map-side combine — the shuffle carries 33
  ints per doc, not tokens).
- embedding cosine: blocked by a coarse key (label / IVF cell) so the
  pair space is per-block, then exact cosine on double precision.

Cross-engine determinism: every hash bottoms out in md5-hex (identical
in Spark and DuckDB) parsed to int64 once per token/shingle; MinHash
and SimHash are then pure integer arithmetic with constants shared
between the engine and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from etl_sprint_2_5_spark.functions.text import (
    MINHASH_PERMS,
    minhash_int,
    normalize_text,
    shingle_hash64,
    tokenize,
    word_shingles,
)

SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: one hash-groupBy.

    Output: fingerprint, keeper (min id), n_docs, member ids sorted
    and comma-joined. At scale this is a single shuffle on a 32-byte
    key with map-side partial aggregation.
    """
    return (
        df.select(
            F.md5(normalize_text(text_col)).alias("fingerprint"),
            F.col(id_col).cast("string").alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(F.col("_id").cast("long")).alias("keeper"),
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_list("_id")), ",").alias("member_ids"),
        )
    )


def token_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Key-collision fingerprint: md5 of the sorted distinct token set
    (catches reordered/duplicated-token copies)."""
    toks = tokenize(text_col)
    return df.select(
        F.col(id_col),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fingerprint"
        ),
    )


def hashed_shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle set as 60-bit integer hashes (array
    <long>) — ONE md5 per shingle; signatures, postings and Jaccard
    verification all run on the integers. ~8 bytes/shingle cached vs
    a full shingle string, and integer intersections/joins instead of
    string ones at corpus scale."""
    return df.select(
        F.col(id_col),
        shingle_hash64(F.array_distinct(word_shingles(text_col, n))).alias("hs"),
    )


def minhash_signature(shingled: DataFrame, num_hashes: int = 12) -> DataFrame:
    """MinHash signature as array<long> of length num_hashes over the
    pre-hashed shingles (``hs``): integer universal-hash permutations
    (functions.text.MINHASH_PERMS) — no per-seed rehash of the text."""
    perms = MINHASH_PERMS[:num_hashes]
    sig = F.array(*[minhash_int(F.col("hs"), a, b) for a, b in perms])
    return shingled.withColumn("sig", sig)


def pairs_within_bucket(ids_sorted: Column) -> Column:
    """All (a, b) pairs with a < b from a sorted id array — array
    comprehension, no self-join. Bucket contents are tiny (LSH bands /
    shared-shingle postings), so the quadratic stays local."""
    return F.flatten(
        F.transform(
            ids_sorted,
            lambda x, i: F.transform(
                F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def capped_postings(
    occ: DataFrame, s_col: str = "s", max_df: int = 1000
) -> DataFrame:
    """Hot-shingle guard for inverted-index joins: given exploded
    (doc, shingle) occurrences (one row per DISTINCT shingle per doc),
    drop every shingle whose document frequency exceeds ``max_df``.

    A stop-shingle — a 5-gram appearing in 1% of a 100 TB corpus —
    otherwise makes one join key's pair expansion quadratic (df² pairs
    from a single posting): the classic skewed-shuffle OOM. Dropping
    it is also the right SEMANTICS: a shingle shared by thousands of
    documents is boilerplate, not evidence of duplication, exactly as
    idf treats ubiquitous terms as weightless. The df count itself is
    a map-side-combinable groupBy (never a collect_list), so the hot
    key costs one long counter, not a giant bucket; the filter join is
    co-partitioned on the shingle key it just grouped on.

    Same guardrail as ``lsh_candidate_pairs``'s ``max_bucket``, applied
    to the posting-list formulation."""
    dfc = occ.groupBy(s_col).agg(F.count(F.lit(1)).alias("_df"))
    return occ.join(
        dfc.where(F.col("_df") <= max_df).select(s_col), s_col
    )


def inverted_index_jaccard(
    sh: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "hs",
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """n-gram Jaccard WITHOUT LSH: inverted-index self-join on shared
    shingles (only co-occurring pairs are scored — no all-pairs scan),
    guarded by the ``capped_postings`` stop-shingle filter, then exact
    Jaccard from co-occurrence counts.

    Set semantics: Jaccard is computed over the CAPPED shingle
    vocabulary — set sizes count only surviving (df ≤ max_df)
    shingles, so numerator and denominator agree. collect_list bucket
    sizes are bounded by ``max_df`` by construction.
    Output: id_a, id_b, jaccard (round 4), jaccard ≥ threshold."""
    occ = sh.select(F.col(id_col), F.explode(shingle_col).alias("s"))
    # cached: feeds both the per-doc surviving-size count and the
    # posting lists (at corpus scale this IS the persisted dedup index)
    kept = capped_postings(occ, "s", max_df).cache()
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    postings = (
        kept.groupBy("s")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    co = (
        postings.select(F.explode(pairs_within_bucket(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    la = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    lb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        co.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature, bucket by (band, band_key), emit in-bucket
    pairs.

    groupBy + collect + local pair expansion instead of a self-join:
    the shingle/signature computation runs ONCE (a self-join would
    recompute it for both sides), and the only shuffle is on the band
    key. Buckets above ``max_bucket`` are dropped (a degenerate key —
    e.g. the empty document — would otherwise explode quadratically;
    the cap is the standard LSH guardrail at corpus scale).
    """
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
            for b in range(n_bands)
        ]
    )
    banded = signed.select(
        F.col(id_col), F.posexplode(bands).alias("band", "band_key")
    )
    buckets = banded.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    return (
        buckets.where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        .select(F.explode(pairs_within_bucket(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str,
    threshold: float,
    shingle_col: str = "hs",
) -> DataFrame:
    """Exact Jaccard on candidate pairs via array_intersect (the
    verify step of MinHash-LSH; candidates ≪ corpus²). Runs on the
    hashed shingle sets by default — integer intersection."""
    sa = shingled.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash as a bit string: hash each distinct token ONCE
    to a 32-bit int (md5-hex prefix), explode, and take 32 codegen'd
    conditional sums per doc — bit i is set when the majority of token
    hashes have bit i set (2·ones ≥ n ⟺ the classic ±1 vote ≥ 0).

    Explode + partial aggregation beats an in-array fold here: higher-
    order array functions run interpreted per element, while the 32
    bit-extraction sums run inside whole-stage codegen with map-side
    combine — the shuffle carries 33 ints per doc, not the tokens.
    Docs with zero tokens get the all-zero signature (oracle parity:
    sum over an empty list is NULL → every vote fails).
    """
    toks = F.array_distinct(tokenize(text_col))
    ex = df.select(F.col(id_col), F.explode(toks).alias("_t")).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("_t"), 1, 8), 16, 10).cast("long").alias("_h"),
    )
    votes = [
        F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(SIMHASH_BITS)
    ]
    g = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *votes)
    bitstr = F.concat(
        *[
            F.when(2 * F.col(f"_b{i}") >= F.col("_n"), F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(SIMHASH_BITS)
        ]
    )
    sigs = g.select(F.col(id_col), bitstr.alias("simhash"))
    # keep zero-token docs (explode drops them): all-zero signature
    return df.select(F.col(id_col)).join(sigs, id_col, "left").select(
        F.col(id_col),
        F.coalesce("simhash", F.lit("0" * SIMHASH_BITS)).alias("simhash"),
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash as TWO 32-bit integer words — the web-scale
    operating point (64 bits / Hamming ≤ 3 is the classic
    Manku-et-al configuration; the 32-bit simhash() exists for the
    tiny-vocabulary fixture regime). Same vote arithmetic as
    simhash(), widened: each distinct token is md5-hashed once, hex
    chars 1-8 vote the LO word's 32 bits and chars 9-16 vote the HI
    word's, so (id, sim_lo, sim_hi) with each word in [0, 2^32) —
    two BIGINT halves, no signed-64 overflow anywhere, and the LO
    word is bit-identical to the 32-bit signature's integer form
    (property-tested in tests/test_dedup_operators.py).

    Plan shape matches simhash(): explode + 64 codegen'd conditional
    sums with map-side combine; the shuffle carries 65 ints per doc.
    Zero-token docs keep the all-zero signature."""
    toks = F.array_distinct(tokenize(text_col))
    ex = (
        df.select(F.col(id_col), F.explode(toks).alias("_t"))
        .select(F.col(id_col), F.md5("_t").alias("_m"))
        .select(
            F.col(id_col),
            F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("_hlo"),
            F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("_hhi"),
        )
    )
    votes = [
        F.sum(F.shiftright(F.col(w), i).bitwiseAND(F.lit(1))).alias(f"_{w}{i}")
        for w in ("_hlo", "_hhi")
        for i in range(32)
    ]
    g = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *votes)

    def word(src: str):
        terms = [
            F.when(
                2 * F.col(f"_{src}{i}") >= F.col("_n"), F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out.cast("long")

    sigs = g.select(
        F.col(id_col), word("_hlo").alias("sim_lo"), word("_hhi").alias("sim_hi")
    )
    return df.select(F.col(id_col)).join(sigs, id_col, "left").select(
        F.col(id_col),
        F.coalesce("sim_lo", F.lit(0)).cast("long").alias("sim_lo"),
        F.coalesce("sim_hi", F.lit(0)).cast("long").alias("sim_hi"),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns in double
    precision, as an in-order left fold (deterministic summation order
    — matches the DuckDB oracle bit-for-bit)."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(da, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(db, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return dot / (na * nb)


def cosine_pandas(a_col, b_col):  # noqa: ANN201
    """Arrow-vectorized cosine (pandas UDF): numpy double-precision
    row-wise dot/norms. The fast path for large pair batches — the
    expression-tree cosine() is an interpreted per-element fold, ~10×
    slower per pair; numpy is C-vectorized over the whole Arrow batch.
    Summation-order float jitter vs the in-order fold is < 1 ulp and
    absorbed by the round(6) contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a, b):
        va = np.stack(a.to_numpy()).astype("float64")
        vb = np.stack(b.to_numpy()).astype("float64")
        dots = np.einsum("ij,ij->i", va, vb)
        na = np.sqrt(np.einsum("ij,ij->i", va, va))
        nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
        return pd.Series(dots / (na * nb))

    # real class annotations: `from __future__ import annotations` would
    # stringify inline hints, which pandas_udf cannot resolve
    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    return pandas_udf(_cos, "double")(a, b)


def round_half_up6(x):
    """round(x, 6) with HALF_UP ties in numpy — matches Spark's
    BigDecimal ROUND and DuckDB's round(), unlike numpy's half-even."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    max_block: int = 16384,
    on_oversize: str = "error",
) -> DataFrame:
    """Blocked cosine near-dup pairs: all-pairs only WITHIN a block
    (label / IVF cell / LSH bucket), never corpus-wide.

    Execution: ONE shuffle of the vectors on the block key into
    ``applyInPandas``, which computes the whole block's cosine matrix
    with a single BLAS gemm and emits only the i<j pairs at/above the
    threshold. Contrast the pair-join formulation, whose exchange
    carries BOTH vectors for every candidate pair — O(block²·dim)
    shuffle bytes vs O(block·dim) here. cos = dot/(|a||b|) rounded to
    6 HALF_UP, identical to the expression/oracle formulation.
    Output: id_a, id_b, cos (rounded).

    ``max_block`` makes the within-block quadratic term STRUCTURAL
    instead of prose (the basket_pair_counts precedent): block sizes
    are bounded by construction (label / IVF cell / LSH bucket), but
    at 100 TB one degenerate key would put a B²·8-byte cosine matrix
    in a single task — 16384 caps that at ~2 GiB, the executor-task
    ceiling. The default ``on_oversize='error'`` raises NAMING the
    block, its size, the cap, and the escape hatch (the gated oracle
    computes pairs uncapped, so a silently binding cap would surface
    as an opaque hash mismatch); ``'drop'`` skips oversize blocks for
    corpora where a degenerate block is a data artifact — with the
    pointer that unbounded blocks belong in minhash-LSH / SemDeDup
    instead."""
    import numpy as np
    import pandas as pd

    if on_oversize not in ("error", "drop"):
        raise ValueError(f"on_oversize must be error|drop, got {on_oversize!r}")

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_block:
            if on_oversize == "drop":
                return pd.DataFrame(
                    {
                        "id_a": pdf[id_col].iloc[:0],
                        "id_b": pdf[id_col].iloc[:0],
                        "cos": pd.Series([], dtype="float64"),
                    }
                )
            raise ValueError(
                f"embedding_near_dups: block {pdf['_blk'].iloc[0]!r} "
                f"holds {len(pdf)} vectors > max_block={max_block}; "
                "all-pairs within this block would be quadratic in one "
                "task — raise max_block, pass on_oversize='drop', or "
                "use minhash-LSH/SemDeDup for unbounded blocks"
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        V = np.stack(pdf[vec_col].to_numpy())[order].astype("float64")
        dots = V @ V.T
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        cos = round_half_up6(dots / np.outer(n, n))
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cos": cos[ia, ib][keep]}
        )

    return (
        df.select(F.col(block_col).alias("_blk"), F.col(id_col), F.col(vec_col))
        .groupBy("_blk")
        .applyInPandas(block, out_schema)
    )


def _union_find_local(
    pairs: list[tuple], spark, id_type
) -> DataFrame:
    """Driver-side union-find over a small edge list → (id, label)
    DataFrame with label = min id per component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    labels = [(x, find(x)) for x in parent]
    schema = StructType(
        [StructField("id", id_type), StructField("label", id_type)]
    )
    return spark.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_limit: int = 200_000,
    local_byte_limit: int = 64 << 20,
) -> DataFrame:
    """Connected components over a pair list → (id, label), label =
    min id in the component. Completes the dedup story: the pair
    queries say WHO overlaps; clustering says which docs to KEEP
    (one representative per component).

    Adaptive execution: the edge list is the OUTPUT of the dedup
    reduce (verified near-dup pairs), orders of magnitude smaller
    than the corpus, so its size is known cheaply after the checkpoint
    that cuts the pair-plan lineage anyway. At or below
    ``local_limit`` edges the component solve is a driver-side
    union-find (O(E α(E)), microseconds per edge) — dozens of tiny
    shuffle rounds cost more in job scheduling than the whole graph
    costs to solve. Above the limit, distributed min-label
    propagation: each round every node takes the min of its own and
    its neighbors' labels — converges in O(component diameter)
    rounds; near-dup components are dense and shallow, so a handful.
    Each round is one join + one partial-aggregating groupBy; lineage
    is cut with localCheckpoint per round (25 chained joins would
    otherwise stack into one giant plan). Raises if ``max_iter``
    rounds don't converge rather than returning silently-wrong labels.

    The driver gate is row-count AND byte-aware: variable-width
    (string/binary) ids additionally need the summed edge bytes under
    ``local_byte_limit`` (one cheap aggregate over the already-
    checkpointed edges) — 200k edges of 1 KB ids would otherwise pull
    hundreds of MB through collect(). Fixed-width ids skip the extra
    job (local_limit alone bounds their bytes).

    Min-label is the DEFAULT distributed path by design: near-dup
    components are dense and shallow (a cluster of mutually-similar
    docs has diameter ≈ 2), so min-label converges in 3-4 rounds of
    one join + one map-side-combinable groupBy each, beating
    large-star/small-star's two groupBys per round. The star variant
    (connected_components_star below) is the right choice only for
    UNKNOWN or adversarial graph shapes (long chains: diameter rounds
    vs O(log² n)); both emit identical (id, min-id-label) rows
    (property-tested equal in tests/test_dedup_operators.py).
    """
    spark = edges.sparkSession
    dedup_edges = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint()  # detaches the (possibly huge) pair plan
    )
    if dedup_edges.count() <= local_limit and _edges_fit_driver(
        dedup_edges, local_byte_limit
    ):
        pairs = [(r["src"], r["dst"]) for r in dedup_edges.collect()]
        id_type = dedup_edges.schema["src"].dataType
        return _union_find_local(pairs, spark, id_type)

    sym = (
        dedup_edges
        .unionByName(
            dedup_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nmin = (
            sym.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("_dl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_dl").alias("_nmin"))
            .select(F.col("src").alias("id"), "_nmin")
        )
        new = (
            labels.join(nmin, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_nmin", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "_old"), "id")
            .where(F.col("label") != F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def _edges_fit_driver(dedup_edges: DataFrame, byte_limit: int) -> bool:
    """True when the edge list is safe to collect(): fixed-width id
    types always are (the row-count gate bounds their bytes);
    string/binary ids are summed (octet_length) against the budget."""
    from pyspark.sql.types import BinaryType, StringType

    dt = dedup_edges.schema["src"].dataType
    if not isinstance(dt, (StringType, BinaryType)):
        return True
    total = (
        dedup_edges.agg(
            F.sum(F.octet_length("src") + F.octet_length("dst"))
        ).first()[0]
        or 0
    )
    return total <= byte_limit


def connected_components_star(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) → (id, label), label = min id in the component.

    This is the WEB-SCALE path: min-label propagation needs
    O(component diameter) rounds — an adversarial chain of n nodes
    needs n rounds — while star operations contract the graph in
    O(log² n) (O(log n) observed) rounds regardless of shape:

    - large-star: every node points its LARGER neighbors at its
      current minimum neighbor (keeps edges v>u only);
    - small-star: every node points its smaller-or-equal neighbors
      at its minimum neighbor.

    Each round is one groupBy per star (map-side-combinable min) and
    one projection — no joins against a growing label table, and the
    edge set shrinks monotonically toward a star forest. Convergence
    is detected when the edge set is stable (every node points
    directly at its component minimum).

    Used as the ``connected_components`` distributed path's
    documented swap-in for adversarial graph shapes; parity with the
    union-find and min-label paths is pytest-enforced.
    """

    def large_star(e: DataFrame) -> DataFrame:
        # neighborhood of u includes u itself so the min is stable
        nbrs = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = (
            nbrs.groupBy("src")
            .agg(F.least(F.min("dst"), F.col("src")).alias("m"))
            .select(F.col("src").alias("u"), "m")
        )
        return (
            nbrs.where(F.col("dst") > F.col("src"))
            .join(mins, F.col("src") == F.col("u"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins = (
            directed.groupBy("src")
            .agg(F.least(F.min("dst"), F.col("src")).alias("m"))
            .select(F.col("src").alias("u"), "m")
        )
        moved = (
            directed.join(mins, F.col("src") == F.col("u"))
            .select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
        )
        selfed = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
        return (
            moved.unionByName(selfed)
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    cur = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nxt = small_star(large_star(cur)).localCheckpoint()
        # converged when every edge already points at the component min:
        # the edge multiset is unchanged by another round
        delta = nxt.exceptAll(cur).limit(1).count() + cur.exceptAll(nxt).limit(1).count()
        cur = nxt
        if delta == 0:
            members = cur.select(F.col("src").alias("id"), F.col("dst").alias("label"))
            roots = (
                cur.select(F.col("dst").alias("id"))
                .distinct()
                .join(
                    cur.select(F.col("src").alias("id")).distinct(),
                    "id",
                    "left_anti",
                )
                .withColumn("label", F.col("id"))
            )
            return members.unionByName(roots)
    raise RuntimeError(f"connected_components_star: no convergence in {max_iter} rounds")


def srp_planes(n_bits: int, dim: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes for sign-random-
    projection (SRP / hyperplane) LSH: component r[j][d] is an integer
    in [-1000, 1000] derived from md5(f"{seed}:{j}:{d}") — the same
    value SQL `('0x' || substr(md5(...), 1, 15))::BIGINT % 2001 - 1000`
    yields, so a DuckDB oracle regenerates the exact matrix. Integer
    components over integer-quantized vectors make every SRP bit pure
    BIGINT arithmetic: no float sign boundary can disagree across
    engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:15], 16)
            % 2001
            - 1000
            for d in range(1, dim + 1)
        ]
        for j in range(n_bits)
    ]


def srp_band_keys(
    df: DataFrame,
    id_col: str,
    qvec_col: str,
    n_bands: int = 16,
    rows_per_band: int = 16,
    dim: int = 64,
    seed: str = "srp",
) -> DataFrame:
    """SRP-LSH band keys (Charikar 2002) over an int8-quantized vector
    column: bit j = (q . r_j >= 0) for the deterministic integer
    hyperplanes of ``srp_planes`` (n_bands*rows_per_band of them), the
    bits packed per band into an integer key. Per-vector positive
    quantization scales preserve direction, so the bits are the
    standard cosine-LSH family over the quantized corpus.

    SRP needs LONG bands: a random near-orthogonal pair matches a
    k-bit band w.p. ~2^-k, so short bands flood the candidate join at
    corpus scale; 16-bit bands put the random collision rate at
    ~1.5e-5 per band while a true near-duplicate (cos >= 0.9,
    p_bit ~ 0.93) still matches each band w.p. ~0.3 and ANY of 16
    bands w.p. ~99.7%.

    Execution: ONE integer gemm per Arrow batch (sign(Q @ R.T), numpy
    int64 — |dot| <= 127*1000*dim, exact), banding entirely map-side;
    the only shuffle downstream is the (band, key) candidate join.
    Returns (id, bkeys array<long> of n_bands keys)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    R = np.array(srp_planes(n_bands * rows_per_band, dim, seed), dtype="int64")
    weights = 1 << np.arange(rows_per_band, dtype="int64")

    def _keys(qv):
        Q = np.stack(qv.to_numpy()).astype("int64")  # (B, dim)
        bits = (Q @ R.T >= 0).astype("int64")  # (B, n_bands*rows)
        keys = bits.reshape(len(Q), n_bands, rows_per_band) @ weights
        return pd.Series(list(keys))

    # real annotations: `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf cannot resolve (see cosine_pandas)
    _keys.__annotations__ = {"qv": pd.Series, "return": pd.Series}
    keys_udf = pandas_udf(_keys, "array<long>")
    return df.select(F.col(id_col), keys_udf(F.col(qvec_col)).alias("bkeys"))
