"""Multimodal extension queries over the documents table.

The container has no real media corpus, so payloads are the documents'
UTF-8 bytes treated as opaque blobs — which exercises exactly the same
plumbing (binary column, JVM-side stats, Arrow-batched Python decode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.operators import multimodal as M
from etl_sprint_2_5_spark.plans.registry import query
from etl_sprint_2_5_spark.sources.parquet import load_table


@query(
    "multimodal_blob_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS blob_md5
    FROM documents
    ORDER BY doc_id
    LIMIT 100
    """,
    covers=("X-multimodal-stats",),
)
def multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side blob routing stats (byte length + content fingerprint)
    on binary payloads — the predicate layer that runs BEFORE any
    Python decode at corpus scale. md5 over utf-8 bytes is identical
    cross-engine."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    stats = M.attach_blob_stats(d, "payload")
    return (
        stats.select("doc_id", "byte_len", "blob_md5")
        .orderBy("doc_id")
        .limit(100)
    )


# The deterministic fake codec is pure md5 arithmetic, so the oracle
# can reproduce it in SQL:
# - dims: first/second byte of md5(payload) → 16 + b % 240;
# - 16-dim feature vector: bytes of md5(payload || ':v0'), each mapped
#   b/127.5 - 1.0 and quantized to float32 (Spark stores array<float>);
# - feat_sq_norm: Spark's F.aggregate folds acc + x*x left-to-right
#   with a DOUBLE acc but a FLOAT multiply, so each term is
#   CAST(x*x AS REAL)::DOUBLE and the sum is written left-associative
#   in the same element order.
def _feat_sq_norm_sql() -> str:
    terms = []
    for i in range(16):
        x = f"CAST(('0x'||substr(fh, {2 * i + 1}, 2))::INT / 127.5 - 1.0 AS REAL)"
        terms.append(f"CAST({x} * {x} AS REAL)::DOUBLE")
    return " + ".join(["0.0", *terms])


@query(
    "multimodal_decode_features",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(doc_id AS VARCHAR) AS id,
             md5(text)               AS dh,
             md5(text || ':v0')      AS fh
      FROM documents
    )
    SELECT id,
           16 + ('0x'||substr(dh, 1, 2))::INT % 240 AS width,
           16 + ('0x'||substr(dh, 3, 2))::INT % 240 AS height,
           round({_feat_sq_norm_sql()}, 4)          AS feat_sq_norm
    FROM hashed
    ORDER BY id
    LIMIT 200
    """,
    covers=("X-multimodal-decode", "X-multimodal-features"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal path: blob → Arrow-batched decode (stubbed codec,
    deterministic fake dims) → feature extraction (16-dim vector) →
    JVM-side aggregation of the result. The shape under test is the
    plan: binary never leaves the executors, Python sees Arrow batches,
    output schemas are static."""
    d = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    d = M.repartition_by_bytes(d, "payload")
    fused = M.decode_and_features(d, "doc_id", "payload", dim=16)
    return (
        fused
        .select(
            "id",
            "width",
            "height",
            F.round(
                F.aggregate(
                    "features", F.lit(0.0), lambda acc, x: acc + x * x
                ),
                4,
            ).alias("feat_sq_norm"),
        )
        .orderBy("id")
        .limit(200)
    )


@query(
    "multimodal_resize",
    oracle="""
    WITH dims AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, text,
             16 + ('0x'||substr(md5(text), 1, 2))::INT % 240 AS w,
             16 + ('0x'||substr(md5(text), 3, 2))::INT % 240 AS h
      FROM documents
    ), scaled AS (
      -- scale = min(1, 224/max(w,h)); no .5 ties are reachable
      -- (448*w would need a 2^6 factor in max(w,h) <= 255), so
      -- round() agrees with the operator's Python round()
      SELECT id, text, w, h,
             CASE WHEN greatest(w, h) <= 224 THEN w
                  ELSE greatest(1, CAST(round(w * 224.0 / greatest(w, h))
                                        AS INT)) END AS nw,
             CASE WHEN greatest(w, h) <= 224 THEN h
                  ELSE greatest(1, CAST(round(h * 224.0 / greatest(w, h))
                                        AS INT)) END AS nh
      FROM dims
    )
    SELECT id, nw AS width, nh AS height,
           md5(text || ':' || nw || 'x' || nh) AS payload_md5
    FROM scaled
    ORDER BY id
    LIMIT 200
    """,
    covers=("X-multimodal-resize",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage plumbing: decode fake dims, clamp the longer side
    to 224 preserving aspect, re-encode (deterministic fake payload —
    md5 of source bytes + ':NWxNH'). The shape under test: Arrow
    mapInPandas with a static schema, binary in/binary out, one
    Python stage; the oracle reproduces the dimension arithmetic and
    the fake codec's digest exactly."""
    d = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    out = M.resize_images(d, "doc_id", "payload", max_side=224)
    return (
        out.select(
            "id",
            "width",
            "height",
            F.lower(F.hex("payload")).alias("payload_md5"),
        )
        .orderBy("id")
        .limit(200)
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT CAST(doc_id AS VARCHAR) AS id, text,
             n_chars * 37 AS duration_ms
      FROM documents
    )
    SELECT id, CAST(k AS INT) AS frame_idx, k * 1000 AS ts_ms,
           md5(text || ':f' || (k * 1000)) AS frame_md5
    FROM vids, generate_series(0, 7) AS t(k)
    WHERE k < least(8, greatest(1, duration_ms // 1000))
      AND CAST(id AS BIGINT) < 60
    ORDER BY id, frame_idx
    """,
    covers=("X-multimodal-frames",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (video/audio): one output row per
    sampled timestamp — the row-EXPANDING mapInPandas shape (UDTF) —
    with a pseudo-duration derived from the doc length. Payloads are
    the deterministic fake (md5 of source bytes + ':f<ts>'); the
    oracle reproduces sampling cadence, frame count clamps, and the
    digests."""
    d = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.encode("text", "utf-8").alias("payload"),
            (F.col("n_chars") * 37).alias("duration_ms"),
        )
    )
    out = M.sample_frames(
        d, "doc_id", "payload", "duration_ms", every_ms=1000, max_frames=8
    )
    return (
        out.select(
            "id",
            "frame_idx",
            "ts_ms",
            F.lower(F.hex("payload")).alias("frame_md5"),
        )
        .orderBy("id", "frame_idx")
    )


@query(
    "multimodal_exact_dedup",
    oracle="""
    WITH payloads AS (
      SELECT doc_id AS src_id, text FROM documents
    ), blobs AS (
      SELECT d.doc_id, p.text
      FROM documents d
      JOIN payloads p ON p.src_id = (d.doc_id // 4) * 4
    ), stats AS (
      SELECT doc_id,
             md5(text)                  AS blob_md5,
             octet_length(encode(text)) AS byte_len
      FROM blobs
    )
    SELECT min(doc_id)        AS rep_id,
           count(*)           AS n_copies,
           min(byte_len)      AS byte_len,
           blob_md5
    FROM stats
    GROUP BY blob_md5
    HAVING count(*) > 1
    ORDER BY rep_id
    """,
    covers=("X-multimodal-exact-dedup",),
)
def multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blob dedup — THE baseline image/audio dedup every
    multimodal corpus runs before any perceptual hashing: group by
    content fingerprint, keep the lowest id, report the duplicate
    groups. The fingerprint (md5 of the payload bytes) is computed
    JVM-SIDE on the binary column (attach_blob_stats), so at 100 TB
    the blobs are hashed where they are read and only (hash, id,
    length) — not the bytes — cross the one dedup shuffle.

    The fixture corpus has no duplicate payloads, so blobs are staged
    deterministically with groups of four doc_ids sharing one payload
    (the augmented-fixture convention of text_pii_scrub) — both
    engines build the same assignment, and every group must surface
    with n_copies in {2..4} (tail groups are smaller)."""
    d = load_table(spark, "documents", sf_dir)
    payloads = d.select(
        F.col("doc_id").alias("src_id"), F.encode("text", "utf-8").alias("payload")
    )
    blobs = d.select(
        "doc_id", (F.floor(F.col("doc_id") / 4) * 4).cast("long").alias("src_id")
    ).join(payloads, "src_id")
    stats = M.attach_blob_stats(blobs, "payload")
    return (
        stats.groupBy("blob_md5")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("byte_len").alias("byte_len"),
        )
        .where(F.col("n_copies") > 1)
        .select("rep_id", "n_copies", "byte_len", "blob_md5")
        .orderBy("rep_id")
    )


def _image_dims(blobs: DataFrame) -> DataFrame:
    """The production decode stage's mode and dims per (doc_id,
    payload) blob, shared by every image decode gate."""
    # the decode stage's output id is a string (DECODED_SCHEMA) — feed
    # it one and cast back for the gate's BIGINT doc_id
    return M.decode_images(
        blobs.select(
            F.col("doc_id").cast("string").alias("doc_id"), "payload"
        ),
        "doc_id",
        "payload",
    ).select(
        F.col("id").cast("long").alias("doc_id"),
        "width", "height", "channels", "decode_ok",
    )


def _pixel_checksums(spark: SparkSession, blobs: DataFrame, decode) -> DataFrame:  # noqa: ANN001
    """The decode gates' result: :func:`_image_dims` beside a second
    Arrow stage that decodes each blob with ``decode`` and sums its
    pixels."""
    import numpy as np
    import pandas as pd

    dims = _image_dims(blobs)

    def pixsum(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = [
                (int(d), int(decode(bytes(p)).astype(np.int64).sum()))
                for d, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "pix_sum"])

    sums = blobs.mapInPandas(pixsum, "doc_id long, pix_sum long")
    out = (
        dims.join(sums, "doc_id")
        .select(
            "doc_id", "width", "height", "channels", "pix_sum", "decode_ok"
        )
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "png_decode_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    dims AS (
      SELECT doc_id,
             16 + doc_id % 16 AS w,
             16 + (doc_id * 7) % 16 AS h
      FROM ids
    ),
    pix AS (
      SELECT d.doc_id, d.w, d.h,
             ((x.range + y.range + d.doc_id) % 256)
           + ((2 * x.range + y.range + d.doc_id) % 256)
           + ((x.range + 2 * y.range + d.doc_id) % 256) AS v
      FROM dims d
      JOIN range(0, 32) x ON x.range < d.w
      JOIN range(0, 32) y ON y.range < d.h
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           'real' AS decode_ok
    FROM pix
    GROUP BY doc_id, w, h
    ORDER BY doc_id
    """,
    covers=("X-multimodal-decode", "X-png-codec"),
)
def png_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image decode stage with a REAL codec under the oracle gate
    (operators/png_codec.py — round 12 closed the standing
    image-codec hook for PNG, pure stdlib zlib + numpy, no PIL).
    Per doc_id < 64 a deterministic RGB image is generated from a
    pixel FORMULA (W=16+d%16, H=16+7d%16, channel k at (x,y) =
    (kx-ish linear form + d) mod 256), PNG-encoded on the EXECUTORS
    (Arrow mapInPandas), and then:
    - the production decode stage (operators/multimodal.decode_images
      — the same stage every multimodal query runs) must report mode
      'real' with the formula's exact dims: the real-codec dispatch,
      not the deterministic fake, handled these blobs;
    - a second Arrow stage decodes the blobs back to pixels and sums
      them; the gated per-image checksum equals DuckDB's closed-form
      evaluation of the formula itself — so encode→wire→decode is
      PIXEL-lossless end-to-end, proven against an oracle that never
      touches a codec (a swapped width/height convention, a broken
      filter, or a channel reorder all bend pix_sum or dims).
    Spec-level unfilter behavior (Sub/Up/Average/Paeth by hand) and
    real-world PNGs (CPython's own icons, incl. palette) are
    pytest-pinned in tests/test_png_codec.py. Non-PNG formats keep
    the documented deterministic-fake fallback; corrupt claimed-PNGs
    quarantine as decode_ok='corrupt' (zero dims), never fake dims."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.png_codec import (
        png_decode,
        png_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 16, 16 + (d * 7) % 16
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                chans = [
                    (x + y + d) % 256,
                    (2 * x + y + d) % 256,
                    (x + 2 * y + d) % 256,
                ]
                arr = np.stack(chans, axis=2).astype(np.uint8)
                rows.append((d, png_encode(arr)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id long, payload binary")

    return _pixel_checksums(spark, blobs, png_decode)


def _block_flat_oracle(hmul: int, a: int, b: int, c: int) -> str:
    """Closed-form dims and pixel sum of the block-flat R=G=B JPEG
    fixtures: W = 16(1 + d%3), H = 16(1 + hmul·d%3), each 8×8 block
    flat at (a·bx + b·by + c·d) mod 256."""
    return f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
    dims AS (
      SELECT doc_id,
             16 * (1 + doc_id % 3) AS w,
             16 * (1 + (doc_id * {hmul}) % 3) AS h
      FROM ids
    ),
    blocks AS (
      SELECT d.doc_id, d.w, d.h,
             ({a} * bx.range + {b} * by.range + {c} * d.doc_id) % 256 AS v
      FROM dims d
      JOIN range(0, 6) bx ON bx.range < d.w // 8
      JOIN range(0, 6) by ON by.range < d.h // 8
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(192 * sum(v) AS BIGINT) AS pix_sum,
           'real' AS decode_ok
    FROM blocks
    GROUP BY doc_id, w, h
    ORDER BY doc_id
    """


@query(
    "jpeg_decode_real",
    oracle=_block_flat_oracle(7, 17, 29, 13),
    covers=("X-multimodal-decode", "X-jpeg-codec"),
)
def jpeg_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image decode stage with a REAL **JPEG** codec under the
    oracle gate (operators/jpeg_codec.py — round 13 closes the largest
    remaining fake-codec surface: baseline T.81 Huffman + IDCT in pure
    numpy, 4:2:0 MCU interleave, restart markers; no PIL/libjpeg).

    Gating a LOSSY codec with a cross-engine hash needs a fixture
    class where the round-trip is provably EXACT: per doc_id < 48 a
    BLOCK-FLAT R=G=B image (W=16(1+d%3), H=16(1+7d%3); each 8×8 block
    flat at (17bx+29by+13d) mod 256) is JPEG-encoded at quality=100
    (all-ones quant tables) with 4:2:0 subsampling ON THE EXECUTORS —
    flat blocks make every AC coefficient exactly 0, the DC an exact
    integer, and R=G=B pins chroma at exactly 128, so DCT, subsampling
    and color conversion are all bit-exact. Then:
    - the production decode stage (operators/multimodal.decode_images)
      must report mode 'real' with the formula's exact dims — the
      FF D8 FF dispatch hit the real codec, not the deterministic
      fake;
    - a second Arrow stage decodes the blobs back and sums all pixels;
      the gated per-image checksum equals DuckDB's closed-form
      evaluation of the block formula (pix_sum = 3·64·Σv) — an oracle
      that never touches a codec.
    Lossy-path behavior (bounded error on arbitrary images, smooth
    4:2:0, grayscale), spec-level Huffman/EXTEND decisions, restart
    markers, CPython's real shipped JPEGs, and the corrupt →
    ValueError / lossless-SOF3 → NotImplementedError lanes are
    pytest-pinned in tests/test_jpeg_codec.py."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select("doc_id")
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 * (1 + d % 3), 16 * (1 + (d * 7) % 3)
                bx = np.arange(w // 8, dtype=np.int64)[None, :]
                by = np.arange(h // 8, dtype=np.int64)[:, None]
                vals = (17 * bx + 29 * by + 13 * d) % 256
                plane = np.repeat(
                    np.repeat(vals, 8, axis=0), 8, axis=1
                ).astype(np.uint8)
                arr = np.stack([plane] * 3, axis=2)
                rows.append(
                    (d, jpeg_encode(arr, quality=100, subsampling="4:2:0"))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id long, payload binary")

    return _pixel_checksums(spark, blobs, jpeg_decode)


@query(
    "jpeg_decode_progressive",
    oracle=_block_flat_oracle(5, 19, 23, 11),
    covers=("X-multimodal-decode", "X-jpeg-codec-progressive"),
)
def jpeg_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG (SOF2, T.81 Annex G) under the oracle gate —
    round 14 makes the last in-scope JPEG coding process real
    (operators/jpeg_codec.py: spectral-selection + successive-
    approximation scans, DC/AC first and refinement passes, EOB runs
    spanning blocks; baseline went real in round 13).

    Same closed-form-exactness fixture class as `jpeg_decode_real`
    (block-flat R=G=B at quality=100 → every coefficient survives the
    lossy pipeline bit-exactly), but the executors emit SOF2 files via
    `jpeg_encode_progressive`: an interleaved DC scan, then one
    full-band AC scan per component — and for ODD doc_ids the DC band
    is split into two successive-approximation passes (Al=1 point
    transform + 1-bit refinement scan), so BOTH Annex G scan scripts
    cross the gate. The production decode stage
    (operators/multimodal.decode_images) must classify these blobs
    'real' with the formula's exact dims, and the decoded pixel
    checksum must equal DuckDB's codec-free evaluation of the block
    formula (pix_sum = 3·64·Σv). Progressive-vs-baseline bit-equality
    on arbitrary content (4:2:0/4:4:4, grayscale, odd dims, EOB-run
    alignment) is pytest-pinned in tests/test_jpeg_codec.py."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode_progressive,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select("doc_id")
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 * (1 + d % 3), 16 * (1 + (d * 5) % 3)
                bx = np.arange(w // 8, dtype=np.int64)[None, :]
                by = np.arange(h // 8, dtype=np.int64)[:, None]
                vals = (19 * bx + 23 * by + 11 * d) % 256
                plane = np.repeat(
                    np.repeat(vals, 8, axis=0), 8, axis=1
                ).astype(np.uint8)
                arr = np.stack([plane] * 3, axis=2)
                rows.append(
                    (
                        d,
                        jpeg_encode_progressive(
                            arr,
                            quality=100,
                            subsampling="4:2:0",
                            dc_sa=bool(d % 2),
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id long, payload binary")

    return _pixel_checksums(spark, blobs, jpeg_decode)


@query(
    "wav_decode_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
    spec AS (
      SELECT doc_id,
             8000 + 100 * (doc_id % 8) AS rate,
             400 + 16 * (doc_id % 16) AS n
      FROM ids
    ),
    amp AS (
      SELECT s.doc_id, s.rate, s.n,
             abs((3 * k.range + s.doc_id) % 200 - 100) AS a
      FROM spec s
      JOIN range(0, 1024) k ON k.range < s.n
    )
    SELECT doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(1 AS INTEGER) AS channels,
           CAST((n * 1000) // rate AS BIGINT) AS duration_ms,
           CAST(sum(a) AS BIGINT) AS amp_sum,
           'real' AS decode_ok
    FROM amp
    GROUP BY doc_id, rate, n
    ORDER BY doc_id
    """,
    covers=("X-multimodal-audio", "X-wav-codec"),
)
def wav_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio decode stage with a REAL codec under the oracle gate
    (operators/wav_codec.py — stdlib ``wave`` + numpy; round 12's
    audio half of closing the codec hooks). Per doc_id < 48 a mono
    16-bit PCM stream is generated from a sample FORMULA
    (rate = 8000+100·(d%8), n = 400+16·(d%16), sample k =
    (3k+d) mod 200 − 100), WAV-encoded on the EXECUTORS, then:
    - the production audio stage (operators/multimodal.decode_audio)
      must report mode 'real' with the formula's exact
      rate/frames/channels and the exact integer duration
      (n·1000 // rate — no float in the gate);
    - a second Arrow stage decodes the samples back and sums |value|;
      the gated per-stream amplitude checksum equals DuckDB's
      closed-form evaluation of the formula — encode→wire→decode is
      SAMPLE-lossless, proven against an oracle that never touches a
      codec. Non-WAV audio keeps the deterministic-fake fallback;
      corrupt claimed-WAVs quarantine as decode_ok='corrupt'."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.wav_codec import (
        wav_decode,
        wav_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for ds in pdf["doc_id"]:
                d = int(ds)
                rate = 8000 + 100 * (d % 8)
                n = 400 + 16 * (d % 16)
                k = np.arange(n, dtype=np.int64)
                samples = ((3 * k + d) % 200 - 100).astype(np.int16)
                rows.append((ds, wav_encode(samples, rate)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id string, payload binary")
    meta = M.decode_audio(blobs, "doc_id", "payload").select(
        F.col("id").cast("long").alias("doc_id"),
        "sample_rate", "n_frames", "channels", "duration_ms", "decode_ok",
    )

    def ampsum(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = [
                (
                    int(ds),
                    int(np.abs(wav_decode(bytes(p))[0].astype(np.int64)).sum()),
                )
                for ds, p in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "amp_sum"])

    sums = blobs.mapInPandas(ampsum, "doc_id long, amp_sum long")
    out = (
        meta.join(sums, "doc_id")
        .select(
            "doc_id", "sample_rate", "n_frames", "channels",
            "duration_ms", "amp_sum", "decode_ok",
        )
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "wav_features_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
    spec AS (
      SELECT doc_id,
             8000 + 100 * (doc_id % 8) AS rate,
             400 + 16 * (doc_id % 16) AS n
      FROM ids
    ),
    pcm AS (
      SELECT s.doc_id, s.rate, s.n, k.range AS k,
             50 * ((3 * k.range + s.doc_id) % 200 - 100) AS v
      FROM spec s
      JOIN range(0, 1024) k ON k.range < s.n
    ),
    lagged AS (
      SELECT doc_id, rate, n, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
      FROM pcm
    )
    SELECT doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_frames,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(abs(v)) AS INTEGER) AS peak,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v * pv < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM lagged
    GROUP BY doc_id, rate, n
    ORDER BY doc_id
    """,
    covers=("X-multimodal-audio", "X-audio-features"),
)
def wav_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction over real WAV bytes — the
    feature-extract half of the audio stage family (decode went real
    in round 12 via wav_decode_real; this closes the signal-analysis
    step with an actual DSP kernel, not a blob-hash fake).

    Per doc_id < 48 a SIGNED 16-bit PCM waveform is generated from an
    integer formula (s_k = 50·((3k+d) mod 200 − 100) — a sawtooth
    crossing zero ~3 times per 200-sample period), WAV-encoded on the
    executors, then a second Arrow stage DECODES the blobs and
    computes the three classic clip-level features in exact integer
    arithmetic: total energy Σs², peak |s|max, and the zero-crossing
    rate's numerator (count of strict sign flips between consecutive
    frames — the standard voiced/unvoiced and noisiness signal).
    int64 accumulation makes every value bit-comparable to DuckDB's
    closed-form evaluation of the same formula (lag window for the
    flips), so the gate proves encode→wire→decode→DSP end-to-end with
    no codec on the oracle side. At corpus scale this is the shape of
    any executor-side feature pass: blobs stay in Arrow batches,
    per-clip numpy kernels, only (id, features) leave the stage."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.wav_codec import (
        wav_decode,
        wav_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select("doc_id")
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate = 8000 + 100 * (d % 8)
                n = 400 + 16 * (d % 16)
                k = np.arange(n, dtype=np.int64)
                s = (50 * ((3 * k + d) % 200 - 100)).astype(np.int16)
                rows.append((d, wav_encode(s, rate)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id long, payload binary")

    def feats(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                pcm, rate = wav_decode(bytes(p))
                s = pcm[:, 0].astype(np.int64)  # mono fixture
                energy = int((s * s).sum())
                peak = int(np.abs(s).max())
                zc = int(((s[1:] * s[:-1]) < 0).sum())
                rows.append((int(d), rate, len(s), energy, peak, zc))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_frames",
                    "energy", "peak", "zero_crossings",
                ],
            )

    out = blobs.mapInPandas(
        feats,
        "doc_id long, sample_rate int, n_frames long, "
        "energy long, peak int, zero_crossings long",
    ).orderBy("doc_id")
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "png_resize_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
    spec AS (SELECT doc_id, 2 + doc_id % 2 AS f FROM ids),
    pix AS (
      SELECT s.doc_id,
             ((i.range * s.f + j.range * s.f + s.doc_id) % 256)
           + ((2 * i.range * s.f + j.range * s.f + s.doc_id) % 256)
           + ((i.range * s.f + 2 * j.range * s.f + s.doc_id) % 256) AS v
      FROM spec s
      CROSS JOIN range(0, 16) i
      CROSS JOIN range(0, 16) j
    )
    SELECT doc_id,
           CAST(16 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           'real' AS resize_ok
    FROM pix
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    covers=("X-multimodal-resize", "X-png-codec"),
)
def png_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize stage with the REAL PNG codec under the oracle gate:
    per doc_id < 48 a square formula image of side 16f (f = 2+d%2 →
    32 or 48 px) is PNG-encoded on the executors, resized by the
    PRODUCTION stage (operators/multimodal.resize_images, max_side=16
    → exact 1/f nearest-neighbor with the floor-index convention
    out[j,i] = in[(j·h)//nh, (i·w)//nw], here index = f·i exactly),
    and the resized PAYLOAD is decoded back and checksummed. The gate
    equals DuckDB's closed-form evaluation of the formula AT THE
    SAMPLED COORDINATES (f·i, f·j) — so the stage provably resampled
    real pixels (resize_ok='real' pinned), produced a valid PNG, and
    used the exact claimed index map; a rounding drift, transposed
    axes, or fake-path fallthrough all bend pix_sum or the pin.
    Non-PNG payloads keep the deterministic-fake resize
    (multimodal_resize gates that path, byte-stable since r04)."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.png_codec import (
        png_decode,
        png_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for ds in pdf["doc_id"]:
                d = int(ds)
                s = 16 * (2 + d % 2)
                x = np.arange(s, dtype=np.int64)[None, :]
                y = np.arange(s, dtype=np.int64)[:, None]
                arr = np.stack(
                    [(x + y + d) % 256, (2 * x + y + d) % 256,
                     (x + 2 * y + d) % 256],
                    axis=2,
                ).astype(np.uint8)
                rows.append((ds, png_encode(arr)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id string, payload binary")
    resized = M.resize_images(blobs, "doc_id", "payload", max_side=16)

    def pixsum(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = [
                (int(i), int(png_decode(bytes(p)).astype(np.int64).sum()))
                for i, p in zip(pdf["id"], pdf["payload"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "pix_sum"])

    sums = resized.select("id", "payload").mapInPandas(
        pixsum, "doc_id long, pix_sum long"
    )
    out = (
        resized.select(
            F.col("id").cast("long").alias("doc_id"),
            "width", "height", "resize_ok",
        )
        .join(sums, "doc_id")
        .select("doc_id", "width", "height", "pix_sum", "resize_ok")
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "mp4_probe_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
    spec AS (
      SELECT doc_id,
             600 AS ts,
             600 * (1 + doc_id % 8) + (doc_id * 37) % 600 AS units
      FROM ids
    ),
    meta AS (
      SELECT doc_id, ts, units,
             (units * 1000) // ts AS duration_ms
      FROM spec
    )
    SELECT m.doc_id,
           'isom' AS brand,
           CAST(m.ts AS INTEGER) AS timescale,
           CAST(m.units AS BIGINT) AS duration_units,
           CAST(m.duration_ms AS BIGINT) AS duration_ms,
           CAST(least(8, greatest(1, m.duration_ms // 1000))
                AS BIGINT) AS n_frames,
           'real' AS decode_ok
    FROM meta m
    ORDER BY m.doc_id
    """,
    covers=("X-multimodal-frames", "X-mp4-probe"),
)
def mp4_probe_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video probe with a REAL container parser under the oracle
    gate (operators/mp4_probe.py — pure-struct ISO-BMFF box walk; the
    video half of closing the codec hooks; frame-PIXEL decode still
    needs a codec library and keeps the documented fake). Per
    doc_id < 48 a well-formed ftyp+moov/mvhd container is built from
    a duration FORMULA (timescale 600, units = 600·(1+d%8)+37d%600 —
    deliberately NOT a whole second, so the integer division
    units·1000 // ts is actually exercised), probed by the PRODUCTION
    stage (operators/multimodal.probe_video, decode_ok='real'
    pinned), and the probe's REAL duration then drives the
    sample_frames cadence — n_frames counts the stage's actual output
    rows per stream, gated against the oracle's closed-form clamp
    (least(8, greatest(1, ms // 1000))). A box-size lie, a v0/v1
    field-offset slip, or a float sneaking into the duration math all
    bend the gated numbers. mvhd v1 (64-bit), largesize boxes, and
    malformed-container quarantine are pytest-pinned
    (tests/test_mp4_probe.py)."""
    import pandas as pd

    from etl_sprint_2_5_spark.operators.mp4_probe import mp4_build_minimal

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for ds in pdf["doc_id"]:
                d = int(ds)
                units = 600 * (1 + d % 8) + (d * 37) % 600
                ver = d % 2  # exercise BOTH mvhd versions under the gate
                rows.append(
                    (ds, mp4_build_minimal("isom", 600, units, version=ver))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id string, payload binary")
    meta = M.probe_video(blobs, "doc_id", "payload")
    frames = M.sample_frames(
        meta.join(blobs, meta["id"] == blobs["doc_id"]).select(
            "id", "payload", "duration_ms"
        ),
        "id", "payload", "duration_ms", every_ms=1000, max_frames=8,
    )
    counts = frames.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    out = (
        meta.join(counts, "id")
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "brand", "timescale", "duration_units", "duration_ms",
            "n_frames", "decode_ok",
        )
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "mp4_sample_table_real",
    oracle="""
    WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id < 48),
    ks AS (
      SELECT d, g.k FROM ids CROSS JOIN generate_series(0, 11) g(k)
      WHERE g.k < 8 + d % 5
    ),
    spec AS (
      SELECT d, k,
             CASE WHEN k < 4 THEN 100 ELSE 150 END AS dur,
             CASE WHEN k < 4 THEN 100 * k
                  ELSE 400 + 150 * (k - 4) END AS dts,
             16 + ((d * 7 + k * 13) % 32) AS sz,
             (d * 31 + k * 17) % 251 AS v,
             CASE WHEN k < 3 THEN 0 ELSE 1 + (k - 3) // 2 END AS ci
      FROM ks
    ),
    cum AS (
      SELECT *,
             COALESCE(SUM(sz) OVER (
               PARTITION BY d ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cumsz
      FROM spec
    )
    SELECT d AS doc_id,
           CAST(k AS BIGINT) AS sample_i,
           CAST(dts AS BIGINT) AS dts,
           CAST(dur AS BIGINT) AS dur_ticks,
           CAST(sz AS BIGINT) AS size_bytes,
           CAST(ci AS BIGINT) AS chunk_i,
           CAST(CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS keyframe,
           CAST(cumsz + 4 * ci AS BIGINT) AS rel_off,
           CAST(sz * v AS BIGINT) AS byte_sum,
           'real' AS decode_ok
    FROM cum
    ORDER BY doc_id, sample_i
    """,
    covers=("X-mp4-samples",),
)
def mp4_sample_table_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MP4 SAMPLE TABLES made real (operators/mp4_probe.
    mp4_sample_table — ISO 14496-12 stts/stsc/stsz/stco/stss walk):
    per doc_id < 48 a single-track container is built from closed-form
    parameters (n = 8+d%5 samples; two stts runs 100→150 ticks; a
    3-then-2 samples-per-chunk stsc plan whose LAST chunk runs short;
    per-sample sizes 16+((7d+13k)%32); every 4th sample a sync frame;
    4 pad bytes before EVERY chunk so stco offsets are load-bearing;
    mdhd/mvhd v0 and v1 alternating by doc). The production stage
    (operators/multimodal.video_sample_table) walks the tables and
    EXTRACTS each sample's bytes at its absolute offset — ``byte_sum``
    gates that the offsets address the real payload (constant-fill
    v = (31d+17k)%251 ⇒ sum = size·v closed-form), ``rel_off``
    (offset − the track's first offset) gates the chunk/pad layout,
    dts/dur gate the stts expansion, chunk_i/keyframe gate stsc/stss.
    A walk that concatenates instead of honoring stco reads a pad
    byte and bends byte_sum; an stsc expansion off by one bends
    chunk_i and rel_off. Frame-pixel decode stays behind the
    documented fake (needs a codec library); frame ADDRESSING — what
    sampling/clipping pipelines actually shuffle at 100 TB — is now
    fully real and value-gated."""
    import pandas as pd

    from etl_sprint_2_5_spark.operators.mp4_probe import mp4_build_sampled
    from pyspark.sql import Window

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 48)
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for ds in pdf["doc_id"]:
                d = int(ds)
                n = 8 + d % 5
                sizes = [16 + ((d * 7 + k * 13) % 32) for k in range(n)]
                durs = [100 if k < 4 else 150 for k in range(n)]
                nch = 1 + (n - 3 + 1) // 2
                blob = mp4_build_sampled(
                    "isom", 600, durs, sizes,
                    chunking=[3] + [2] * (nch - 1),
                    sync=[k for k in range(n) if k % 4 == 0],
                    payload=lambda k, d=d, sz=sizes: (
                        bytes([(d * 31 + k * 17) % 251]) * sz[k]
                    ),
                    chunk_pad=bytes([d % 7]) * 4,
                    version=d % 2,
                    use_co64=d % 3 == 0,  # 64-bit offsets ride the
                    # same gate: moov grows but rel_off/byte_sum are
                    # layout-relative, so the oracle is unchanged
                )
                rows.append((ds, blob))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id string, payload binary")
    st = M.video_sample_table(blobs, "doc_id", "payload")
    w = Window.partitionBy("id")
    out = (
        st.select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("sample_i").cast("long").alias("sample_i"),
            "dts",
            "dur_ticks",
            "size_bytes",
            F.col("chunk_i").cast("long").alias("chunk_i"),
            F.col("keyframe").cast("long").alias("keyframe"),
            (F.col("abs_offset") - F.min("abs_offset").over(w))
            .cast("long")
            .alias("rel_off"),
            "byte_sum",
            "decode_ok",
        )
        .orderBy("doc_id", "sample_i")
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "gif_decode_real",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    dims AS (
      SELECT doc_id,
             8 + doc_id % 24 AS w,
             8 + (doc_id * 5) % 24 AS h
      FROM ids
    ),
    pix AS (
      SELECT d.doc_id, d.w, d.h,
             ((7 * ((3 * x.range + 5 * y.range + d.doc_id) % 256) + d.doc_id) % 256)
           + ((11 * ((3 * x.range + 5 * y.range + d.doc_id) % 256)) % 256)
           + ((13 * ((3 * x.range + 5 * y.range + d.doc_id) % 256) + 2 * d.doc_id) % 256)
               AS v,
             y.range * d.w + x.range + 1 AS pos
      FROM dims d
      JOIN range(0, 32) x ON x.range < d.w
      JOIN range(0, 32) y ON y.range < d.h
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           CAST(sum(v * pos) AS BIGINT) AS pos_sum,
           'real' AS decode_ok
    FROM pix
    GROUP BY doc_id, w, h
    ORDER BY doc_id
    """,
    covers=("X-multimodal-decode", "X-gif-codec"),
)
def gif_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode under the oracle gate (operators/gif_codec.py —
    round 15 closes another slice of the non-PNG/JPEG fake lane:
    real LZW with variable code width, interlace, color tables;
    conformance pinned both directions against the JVM's own
    javax.imageio GIF codec in tests/test_gif_codec.py).

    Per doc_id < 64 a deterministic palette image is generated from
    integer formulas (W=8+d%24, H=8+5d%24; index at (x,y) =
    (3x+5y+d) mod 256; palette entry i = ((7i+d)%256, (11i)%256,
    (13i+2d)%256)), GIF-encoded on the executors — ODD doc_ids
    INTERLACED — then:
    - the production decode stage (operators/multimodal.decode_images)
      must report mode 'real' with the formula's exact dims: the GIF
      branch of the real-codec dispatch handled these blobs;
    - a second Arrow stage decodes back to RGB and emits BOTH the
      plain pixel-value checksum and a POSITION-WEIGHTED one
      (Σ v·(y·W+x+1)) — the weighted sum is what makes the
      interlace row-reorder load-bearing: a decoder that ignored the
      interlace flag would permute rows, keep pix_sum, and bend
      pos_sum. DuckDB evaluates the same formulas closed-form,
      never touching a codec."""
    import numpy as np
    import pandas as pd

    from etl_sprint_2_5_spark.operators.gif_codec import (
        gif_decode,
        gif_encode,
    )

    ids = (
        load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def _image(d: int) -> tuple[np.ndarray, np.ndarray]:
        w, h = 8 + d % 24, 8 + (d * 5) % 24
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        idx = ((3 * x + 5 * y + d) % 256).astype(np.uint8)
        i = np.arange(256, dtype=np.int64)
        pal = np.stack(
            [(7 * i + d) % 256, (11 * i) % 256, (13 * i + 2 * d) % 256],
            axis=1,
        ).astype(np.uint8)
        return idx, pal

    def gen(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                idx, pal = _image(d)
                rows.append(
                    (d, gif_encode(idx, pal, interlace=bool(d % 2)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    blobs = ids.mapInPandas(gen, "doc_id long, payload binary")

    dims = _image_dims(blobs)

    def sums(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                rgb = gif_decode(bytes(p)).astype(np.int64)
                h, w, _ = rgb.shape
                v = rgb.sum(axis=2)
                pos = (
                    np.arange(h, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                    + 1
                )
                rows.append((int(d), int(v.sum()), int((v * pos).sum())))
            yield pd.DataFrame(rows, columns=["doc_id", "pix_sum", "pos_sum"])

    checks = blobs.mapInPandas(
        sums, "doc_id long, pix_sum long, pos_sum long"
    )
    out = (
        dims.join(checks, "doc_id")
        .select(
            "doc_id", "width", "height", "channels",
            "pix_sum", "pos_sum", "decode_ok",
        )
        .orderBy("doc_id")
    )
    return spark.createDataFrame(out.collect(), out.schema)
