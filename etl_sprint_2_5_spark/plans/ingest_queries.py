"""Training-corpus ingest front door: the file/container formats a
100-TB text pipeline actually receives data in, each gated as a full
round-trip against the documents table.

- ``jsonl_gz_ingest`` — sharded JSONL.gz (the dominant LLM-corpus
  exchange format): executors WRITE shards with stdlib gzip+json,
  Spark's native JSON source reads them back (JVM/Jackson parse with
  an EXPLICIT schema — at corpus scale you never pay an inference
  pass). Gzip is not splittable, so parallelism = shard count; the
  scale story is many bounded shards (like input splits), not one
  big file.
- ``warc_ingest_roundtrip`` — WARC/1.1 gzip-member shards (the
  CommonCrawl layout, operators/warc.py): pack and parse both run as
  Arrow ``mapInPandas`` stages over binary rows, so the container
  codec never leaves the executors and no shared filesystem is
  assumed.
- ``orc_interchange_roundtrip`` — columnar interchange via Spark's
  native ORC source, with the readback filter + projection pushed
  into the scan (searchArgument pushdown + column pruning), which is
  what makes selective reads over a 100-TB archive cheap.

All three oracles are the documents table itself — the round trip
must be LOSSLESS, proven by the driver's value-hash over every
column, not by a summary statistic.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sprint_2_5_spark.plans.registry import materialize_release, query
from etl_sprint_2_5_spark.sources.parquet import load_table
from etl_sprint_2_5_spark.streaming.gate import streaming_gate

_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_DOC_ORACLE = """
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    ORDER BY doc_id
    """
# the two-wave streaming ingest gates: the documents table plus each
# wave's row count
_WAVE_ORACLE = """
    SELECT doc_id, text, lang, source, n_chars,
           CAST((SELECT count(*) FROM documents
                 WHERE doc_id < (SELECT count(*) // 2 FROM documents))
                AS BIGINT) AS phase_a_rows,
           CAST((SELECT count(*) FROM documents
                 WHERE doc_id >= (SELECT count(*) // 2 FROM documents))
                AS BIGINT) AS phase_b_rows
    FROM documents
    ORDER BY doc_id
    """


def _two_wave_ingest(
    spark: SparkSession, name: str, docs: DataFrame, ext: str,
    write_shard, parse,  # noqa: ANN001
) -> DataFrame:
    """The two-wave checkpoint-discipline gate shared by the streaming
    ingest twins: stage wave A (doc_id below half) as 4 shards named
    ``*{ext}`` in an inbox, drain it into the keyed manifest view,
    stage wave B and drain again from the same checkpoint.
    ``write_shard(path, batches)`` writes one executor-side shard and
    returns its row count; ``parse`` is the ``mapInPandas`` body that
    turns the file source's ``content`` column back into documents."""
    import os

    import pandas as pd

    from etl_sprint_2_5_spark.streaming.sink import (
        read_bucketed_view,
        upsert_keyed_parquet_bucketed,
    )

    root = os.environ.get("SPARK_GRAFT_INGEST_ROOT")
    with streaming_gate(spark, name, root or None) as gate:
        inbox, view = f"{gate.dir}/inbox", f"{gate.dir}/view"
        os.makedirs(inbox)

        def stage_wave(wave: str, part: DataFrame) -> None:
            def write(batches):  # noqa: ANN001 - Arrow iterator
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                path = os.path.join(inbox, f"{wave}-{pid:04d}{ext}")
                n = write_shard(path, batches)
                yield pd.DataFrame({"path": [path], "rows": [n]})

            part.repartition(4, "doc_id").mapInPandas(
                write, "path string, rows long"
            ).collect()

        def drain_once() -> int:
            stream = (
                spark.readStream.format("binaryFile")
                # the source's fixed schema, stated explicitly — streaming
                # sources refuse inference by design
                .schema(
                    "path string, modificationTime timestamp, "
                    "length long, content binary"
                )
                .option("pathGlobFilter", f"*{ext}")
                .option("maxFilesPerTrigger", 2)
                .load(inbox)
                .select("content")
                .mapInPandas(parse, _DOC_SCHEMA)
            )
            seen = []

            def commit(b, _eid) -> None:  # noqa: ANN001 - micro-batch DF
                b.persist()
                seen.append(b.count())
                upsert_keyed_parquet_bucketed(spark, b, view, "doc_id",
                                              n_buckets=8)
                b.unpersist()

            gate.drain(stream.writeStream.foreachBatch(commit))
            return sum(seen)

        half = docs.count() // 2  # SF-independent wave split
        stage_wave("wave_a", docs.where(F.col("doc_id") < half))
        drain_once()
        phase_a = read_bucketed_view(spark, view).count()

        stage_wave("wave_b", docs.where(F.col("doc_id") >= half))
        phase_b = drain_once()

        out = (
            read_bucketed_view(spark, view)
            .select(*_DOC_COLS)
            .withColumn("phase_a_rows", F.lit(phase_a).cast("bigint"))
            .withColumn("phase_b_rows", F.lit(phase_b).cast("bigint"))
            .orderBy("doc_id")
        )
        return materialize_release(out)


@query(
    "jsonl_gz_ingest",
    oracle=_DOC_ORACLE,
    covers=("X-ingest-jsonl",),
)
def jsonl_gz_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through sharded JSONL.gz.

    Write side: 8 hash-partitioned shards, each an executor-side
    ``mapInPandas`` task streaming ``json.dumps`` lines into a gzip
    file named by partition id (local mode shares the filesystem; on
    a cluster the same code points at shared storage, which is the
    real shape). The manifest (path, rows, bytes) is materialized
    BEFORE the read so the files provably exist. Read side: Spark's
    native JSON source with an explicit schema — JVM-side Jackson
    parse, no Python in the loop, no schema-inference scan. JSON
    escaping (quotes, newlines, non-ASCII) is owned by json.dumps on
    the way out and Jackson on the way back, so the value hash gates
    the full escape surface."""
    import gzip
    import json
    import os

    import pandas as pd

    with tempfile.TemporaryDirectory(prefix="jsonl_ingest_") as tmp:
        docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)

        def write_shard(batches):  # noqa: ANN001 - Arrow iterator
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            path = os.path.join(tmp, f"part-{pid:05d}.jsonl.gz")
            rows = 0
            with gzip.open(path, "wt", encoding="utf-8") as fh:
                for pdf in batches:
                    for rec in pdf.to_dict("records"):
                        fh.write(json.dumps(rec, ensure_ascii=False))
                        fh.write("\n")
                        rows += 1
            yield pd.DataFrame(
                [(path, rows, os.path.getsize(path))],
                columns=["path", "rows", "bytes"],
            )

        manifest = (
            docs.repartition(8, "doc_id")
            .mapInPandas(write_shard, "path string, rows long, bytes long")
            .collect()
        )
        written = sum(m.rows for m in manifest)

        back = (
            spark.read.schema(_DOC_SCHEMA)
            .json(tmp)  # .gz handled by the Hadoop codec, per-file tasks
            .select(*_DOC_COLS)
            .orderBy("doc_id")
        )
        rows = back.collect()
        # manifest-vs-readback invariant: every row the writers
        # counted must parse back (a silent Jackson drop or codec
        # truncation shows here before the hash even runs). Explicit
        # raise — an assert is stripped under python -O — and it
        # reuses counts already materialized, no extra scan.
        # Source completeness is owned by the oracle value hash.
        if len(rows) != written:
            raise ValueError(
                f"jsonl ingest row-count mismatch: wrote {written}, "
                f"read back {len(rows)}"
            )
        return spark.createDataFrame(rows, back.schema)


@query(
    "warc_ingest_roundtrip",
    oracle=_DOC_ORACLE,
    covers=("X-ingest-warc",),
)
def warc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through WARC/1.1 gzip-member
    shards (operators/warc.py — the CommonCrawl container).

    Pack stage: each of 8 hash partitions concatenates its documents
    into one shard of independent gzip members (uri carries doc_id;
    lang/source/n_chars ride as extension headers; the text is the
    record block). Parse stage: a second ``mapInPandas`` splits
    members, parses framing, and re-derives every column — both
    stages are executor-side Arrow batches over binary rows, the
    plan a 100-TB CommonCrawl ingest runs (shard rows in, typed
    columns out, no driver loop, no shared-FS assumption). Framing
    violations raise (three-mode codec contract), so a silent
    truncation cannot pass the value hash."""
    import pandas as pd

    from etl_sprint_2_5_spark.operators.warc import (
        warc_pack_record,
        warc_parse_record,
        warc_split_members,
    )

    docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)

    def pack(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            if pdf.empty:
                continue
            shard = b"".join(
                warc_pack_record(
                    f"http://corpus.local/docs/{int(r.doc_id)}",
                    str(r.text).encode("utf-8"),
                    extra_headers={
                        "X-Doc-Lang": str(r.lang),
                        "X-Doc-Source": str(r.source),
                        "X-Doc-NChars": str(int(r.n_chars)),
                    },
                )
                for r in pdf.itertuples()
            )
            yield pd.DataFrame({"shard": [shard]})

    shards = docs.repartition(8, "doc_id").mapInPandas(pack, "shard binary")

    def parse(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for shard in pdf["shard"]:
                for raw in warc_split_members(bytes(shard)):
                    hdr, block = warc_parse_record(raw)
                    uri = hdr["warc-target-uri"]
                    rows.append(
                        (
                            int(uri.rsplit("/", 1)[1]),
                            block.decode("utf-8"),
                            hdr["x-doc-lang"],
                            hdr["x-doc-source"],
                            int(hdr["x-doc-nchars"]),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    out = shards.mapInPandas(parse, _DOC_SCHEMA).orderBy("doc_id")
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "streaming_warc_ingest",
    oracle=_WAVE_ORACLE,
    covers=("X-ingest-warc-stream",),
)
def streaming_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl-shaped STREAMING ingest loop, end to end:
    WARC shards land in a directory, Structured Streaming's file
    source discovers them, an Arrow stage parses records on the
    executors, and an idempotent keyed manifest upsert commits each
    micro-batch exactly-once.

    Two waves prove the checkpoint discipline: wave A (doc_id below
    half the corpus) is staged and drained with ``availableNow``
    (maxFilesPerTrigger=2 forces multiple micro-batches through the
    same commit path); the view must then hold exactly wave A's row
    count — stamped into the gated
    ``phase_a_rows`` column, so a stream that under- or over-read
    wave A fails the hash. Wave B stages the remaining shards and a
    SECOND stream resumes from the same checkpoint: the file-source
    offset log must skip every wave-A file and ingest only the new
    ones — proven by ``phase_b_rows``, the rows that actually crossed
    wave B's ``foreachBatch`` (a re-read of wave-A files would be
    masked by the idempotent upsert but inflates this count and fails
    the hash). Exactly-once is the sink's: file-source offsets commit
    after ``foreachBatch`` returns, and a redelivered batch re-runs
    the same idempotent bucket merge (streaming/sink.py CAS
    manifest). This is the composition a 100-TB crawl ingest runs —
    shard discovery scales with new files per trigger, parse is
    executor-side per shard, and upsert cost tracks the CHANGE via
    bucket pruning, not the corpus.

    Deployment root: inbox/checkpoint/view live under ONE root that
    every executor and the driver must reach. On a cluster that root
    is object storage or a shared filesystem (``s3a://bucket/ingest``
    / HDFS / NFS) — the file source lists the inbox remotely, the
    checkpoint's offset log needs durable shared storage to survive
    driver failover, and the writers here address the inbox by the
    same URI. Injectable via ``SPARK_GRAFT_INGEST_ROOT`` (a fresh
    subdirectory is created per run and removed afterward); the
    default — a driver-local temp dir — is exactly as portable as
    local[*], where driver and executors share one filesystem."""
    import pandas as pd

    from etl_sprint_2_5_spark.operators.warc import (
        warc_pack_record,
        warc_parse_record,
        warc_split_members,
    )

    def write_shard(path: str, batches) -> int:  # noqa: ANN001
        n = 0
        with open(path, "wb") as fh:
            for pdf in batches:
                for r in pdf.itertuples():
                    fh.write(
                        warc_pack_record(
                            f"http://corpus.local/docs/{int(r.doc_id)}",
                            str(r.text).encode("utf-8"),
                            extra_headers={
                                "X-Doc-Lang": str(r.lang),
                                "X-Doc-Source": str(r.source),
                                "X-Doc-NChars": str(int(r.n_chars)),
                            },
                        )
                    )
                    n += 1
        return n

    def parse(batches):  # noqa: ANN001 - Arrow iterator
        for pdf in batches:
            rows = []
            for shard in pdf["content"]:
                for raw in warc_split_members(bytes(shard)):
                    hdr, block = warc_parse_record(raw)
                    rows.append(
                        (
                            int(hdr["warc-target-uri"].rsplit("/", 1)[1]),
                            block.decode("utf-8"),
                            hdr["x-doc-lang"],
                            hdr["x-doc-source"],
                            int(hdr["x-doc-nchars"]),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)
    return _two_wave_ingest(
        spark, "streaming_warc_ingest", docs, ".warc.gz", write_shard, parse
    )


@query(
    "orc_interchange_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE doc_id > 100 AND doc_id <= 350 AND lang IS NOT NULL
    ORDER BY doc_id
    """,
    covers=("X-ingest-orc",),
)
def orc_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar interchange through Spark's native ORC source: write
    the documents table as ORC (zlib, the archival default), read it
    back with a selective RANGE filter + 3-column projection. Range
    and null predicates push into the ORC scan as searchArguments and
    the projection prunes ReadSchema to 3 columns (verified in
    tests/test_ingest.py against the formatted plan) — the properties
    that make a selective read over a 100-TB ORC archive touch only
    matching stripes and requested columns; values gate against
    DuckDB evaluating the same predicate on the original parquet, so
    the ORC round trip is value-lossless."""
    with tempfile.TemporaryDirectory(prefix="orc_ingest_") as tmp:
        docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)
        docs.write.mode("overwrite").option("compression", "zlib").orc(tmp)
        back = (
            spark.read.orc(tmp)
            .where(
                (F.col("doc_id") > 100)
                & (F.col("doc_id") <= 350)
                & F.col("lang").isNotNull()
            )
            .select("doc_id", "lang", "n_chars")
            .orderBy("doc_id")
        )
        return spark.createDataFrame(back.collect(), back.schema)


@query(
    "csv_ingest_roundtrip",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 6 = 0 THEN NULL
                WHEN doc_id % 6 = 1 THEN ''
                WHEN doc_id % 6 = 2 THEN text || '"q,uo"te'
                WHEN doc_id % 6 = 3 THEN text || chr(10) || 'line2'
                WHEN doc_id % 6 = 4 THEN text || chr(92) || 'back'
                ELSE text || chr(13) || chr(10) || 'crlf' END AS txt,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_n,
           source,
           CASE WHEN doc_id % 11 = 0 THEN NULL
                ELSE n_chars END AS n_chars_n
    FROM documents
    ORDER BY doc_id
    """,
    covers=("X-ingest-csv",),
)
def csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV interchange through Spark's native source, with
    every classic CSV landmine ON the gated rows: embedded quotes +
    commas (quote-doubling, not backslash escape — ``escape='"'``
    pinned on both sides), embedded LF and CRLF (``multiLine`` read),
    a raw backslash (corrupts silently under Spark's DEFAULT
    backslash escape — the option pin is load-bearing), and the
    NULL-vs-empty-string seam (``nullValue='\\\\N'`` so '' and NULL
    survive as distinct values, which default CSV conflates). The
    record separator is PINNED (``lineSep='\\n'``) because univocity's
    auto-detection reads the first separator-looking bytes in the
    stream — if a shard's first record carries a quoted CRLF, the
    parser locks onto ``\\r\\n``, never finds the real record ends,
    and one column swallows the file (reproduced at sf1; invisible at
    sf0.01 where no shard led with the CRLF case).
    Deterministic hostile suffixes + NULL cells are derived per
    doc_id so the DuckDB oracle states the expected final content
    closed-form — a quoting/escaping/null-marker drift on either leg
    bends a string and fails the value hash.

    Scale shape: written as gzip shards (one per hash partition) —
    the same whole-file-per-task parallelism the JSONL.gz path has;
    ``multiLine`` makes a single file non-splittable, so the 100-TB
    deployment keeps shards at ~128 MB and parallelism rides the
    shard count, not intra-file splits (the tradeoff for honest
    embedded newlines; single-line CSV would split but cannot carry
    real text)."""
    with tempfile.TemporaryDirectory(prefix="csv_ingest_") as tmp:
        txt = (
            F.when(F.col("doc_id") % 6 == 0, F.lit(None))
            .when(F.col("doc_id") % 6 == 1, F.lit(""))
            .when(F.col("doc_id") % 6 == 2,
                  F.concat(F.col("text"), F.lit('"q,uo"te')))
            .when(F.col("doc_id") % 6 == 3,
                  F.concat(F.col("text"), F.lit("\nline2")))
            .when(F.col("doc_id") % 6 == 4,
                  F.concat(F.col("text"), F.lit("\\back")))
            .otherwise(F.concat(F.col("text"), F.lit("\r\ncrlf")))
        )
        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id",
            txt.alias("txt"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(None))
            .otherwise(F.col("lang"))
            .alias("lang_n"),
            "source",
            F.when(F.col("doc_id") % 11 == 0, F.lit(None))
            .otherwise(F.col("n_chars"))
            .alias("n_chars_n"),
        )
        (
            docs.repartition(8, "doc_id")
            .write.mode("overwrite")
            .option("compression", "gzip")
            .option("quote", '"')
            .option("escape", '"')
            .option("nullValue", "\\N")
            .csv(tmp)
        )
        back = (
            spark.read.schema(
                "doc_id long, txt string, lang_n string, "
                "source string, n_chars_n long"
            )
            .option("multiLine", True)
            .option("lineSep", "\n")
            .option("quote", '"')
            .option("escape", '"')
            .option("nullValue", "\\N")
            .csv(tmp)
            .orderBy("doc_id")
        )
        return spark.createDataFrame(back.collect(), back.schema)


@query(
    "avro_ingest_roundtrip",
    oracle=_DOC_ORACLE,
    covers=("X-ingest-avro",),
)
def avro_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the documents table through Avro Object Container
    Files — WITH the split-read path as the readback plan, so OCF's
    sync-marker splittability itself sits under the value-hash gate.

    No spark-avro datasource jar ships in this container (external
    module since Spark 2.4; verified AnalysisException), so the
    format is implemented from the public Avro 1.12 spec in
    operators/avro_ocf.py and conformance-pinned both directions
    against the Apache Java implementation on the session classpath
    (tests/test_avro_ocf.py). Write side: 8 hash partitions, each an
    executor task encoding its rows into one deflate-codec .avro
    shard (bounded 64-row blocks — the split granularity). Read
    side: every shard is read as TWO byte-range splits cut at
    bytes//2 — almost always mid-block — via ``read_ocf_range``,
    the Hadoop input-split contract (scan to sync, decode blocks
    whose preceding sync starts in-range). A duplicated or dropped
    row at any split boundary breaks the driver's value hash. At
    100 TB this is the shape that matters: parallelism from byte
    ranges of large archive files, not from file count, with
    nullable unions carrying NULLs losslessly."""
    import os

    import pandas as pd

    from etl_sprint_2_5_spark.operators.avro_ocf import (
        avro_schema_of,
        read_ocf_range,
    )
    from etl_sprint_2_5_spark.operators.avro_ocf import (
        write_ocf_stream,
    )

    with tempfile.TemporaryDirectory(prefix="avro_ingest_") as tmp:
        docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)
        avro_schema = avro_schema_of(docs.schema, name="document")

        def write_shard(batches):  # noqa: ANN001 - Arrow iterator
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            path = os.path.join(tmp, f"part-{pid:05d}.avro")
            recs = (
                rec
                for pdf in batches
                for rec in pdf.to_dict("records")
            )
            rows = write_ocf_stream(
                path, recs, avro_schema, codec="deflate", block_rows=64
            )
            yield pd.DataFrame(
                [(path, rows, os.path.getsize(path))],
                columns=["path", "rows", "bytes"],
            )

        manifest = (
            docs.repartition(8, "doc_id")
            .mapInPandas(write_shard, "path string, rows long, bytes long")
            .collect()
        )
        written = sum(m.rows for m in manifest)

        # two byte-range splits per shard, cut mid-file (mid-block in
        # practice) — the union must reproduce the table exactly
        splits = [
            (m.path, int(lo), int(hi))
            for m in manifest
            for lo, hi in ((0, m.bytes // 2), (m.bytes // 2, m.bytes))
        ]
        ranges = spark.createDataFrame(
            splits, "path string, start long, end long"
        ).repartition(len(splits))

        def decode_split(batches):  # noqa: ANN001 - Arrow iterator
            cols = list(_DOC_COLS)
            for pdf in batches:
                for r in pdf.itertuples():
                    with open(r.path, "rb") as fh:
                        data = fh.read()
                    rows = read_ocf_range(data, int(r.start), int(r.end))
                    yield pd.DataFrame(rows, columns=cols)

        back = (
            ranges.mapInPandas(decode_split, _DOC_SCHEMA)
            .select(*_DOC_COLS)
            .orderBy("doc_id")
        )
        rows = back.collect()
        if len(rows) != written:
            raise ValueError(
                f"avro ingest row-count mismatch: wrote {written}, "
                f"split-read back {len(rows)}"
            )
        return spark.createDataFrame(rows, back.schema)


@query(
    "streaming_avro_ingest",
    oracle=_WAVE_ORACLE,
    covers=("X-ingest-avro-stream",),
)
def streaming_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka-archive-shaped STREAMING ingest loop for Avro OCF —
    the same two-wave checkpoint-discipline gate as
    ``streaming_warc_ingest``, composed with the spec-implemented
    codec (operators/avro_ocf.py): .avro shards land in an inbox,
    the file source discovers them, an Arrow stage decodes whole
    containers on the executors, and the idempotent keyed manifest
    upsert commits each micro-batch exactly-once.

    Wave A (doc_id below half) drains under ``availableNow`` with
    maxFilesPerTrigger=2; ``phase_a_rows`` gates the view's exact
    row count. Wave B stages the rest and a SECOND stream resumes
    from the same checkpoint — ``phase_b_rows`` counts rows that
    actually crossed wave B's ``foreachBatch``, so a file-source
    offset log that re-read wave-A shards (masked by the idempotent
    sink) still fails the hash. Deployment root injectable via
    ``SPARK_GRAFT_INGEST_ROOT`` (cluster shape: object-store inbox +
    durable shared checkpoint), same contract as the WARC twin.
    Within a micro-batch each task decodes whole shards; the
    byte-range split path is gated separately by
    ``avro_ingest_roundtrip`` (a streaming trigger's unit of work is
    the discovered FILE)."""
    import pandas as pd

    from etl_sprint_2_5_spark.operators.avro_ocf import (
        avro_schema_of,
        read_ocf,
        write_ocf_stream,
    )

    docs = load_table(spark, "documents", sf_dir).select(*_DOC_COLS)
    avro_schema = avro_schema_of(docs.schema, name="document")

    def write_shard(path: str, batches) -> int:  # noqa: ANN001
        recs = (rec for pdf in batches for rec in pdf.to_dict("records"))
        return write_ocf_stream(
            path, recs, avro_schema, codec="deflate", block_rows=64
        )

    def parse(batches):  # noqa: ANN001 - Arrow iterator
        cols = list(_DOC_COLS)
        for pdf in batches:
            for blob in pdf["content"]:
                _, rows = read_ocf(bytes(blob))
                yield pd.DataFrame(rows, columns=cols)

    return _two_wave_ingest(
        spark, "streaming_avro_ingest", docs, ".avro", write_shard, parse
    )
