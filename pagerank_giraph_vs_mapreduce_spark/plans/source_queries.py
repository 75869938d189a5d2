"""Source-format round-trip queries: prove the engine's non-parquet
source/sink paths (JSON-lines, CSV) preserve data exactly.

Each query writes the documents table out in the target format (eager
side effect, same precedent as the staged curation pipeline), reads it
back with an explicit schema, and aggregates per language. The oracle
computes the same aggregate from the original parquet — any loss in the
format writer/reader (escaping, quoting, encoding, type coercion) breaks
the hash match. min/max over the text column make string corruption
visible, not just row loss.

The reference's only format is whitespace-delimited text (SURVEY.md
§2.1), covered by edge_parse_snap and the CLI e2e; these queries are the
extension-surface analog for the formats a corpus pipeline actually
ingests.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table

_ROUNDTRIP_ORACLE = """SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(sum(CAST(strlen(text) AS BIGINT)) AS BIGINT) AS sum_bytes,
       min(text) AS min_text,
       max(text) AS max_text
FROM documents GROUP BY lang"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_n_chars"),
        F.sum(F.octet_length("text").cast("bigint")).alias("sum_bytes"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


_DOC_SCHEMA = "doc_id bigint, text string, lang string, n_chars bigint"

# One staging dir per (prefix, sf_dir), reused across invocations and removed
# at process exit — repeated gate/bench runs must not accumulate
# documents-sized copies in /tmp.
_STAGING: dict[tuple[str, str], str] = {}


def _staging_dir(prefix: str, sf_dir: str) -> str:
    key = (prefix, sf_dir)
    if key not in _STAGING:
        path = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _STAGING[key] = path
    return _STAGING[key]


@query("source_json_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> JSON-lines -> read back (explicit schema) -> per-lang
    aggregate. Certifies the JSON source/sink path end-to-end: unicode
    escaping, quoting and bigint fidelity all land in the value hash."""
    out = _staging_dir("src_json_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(_DOC_SCHEMA).json(out)
    return _roundtrip_agg(back)


@query("source_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> CSV (RFC-4180 double-quote escaping, header) -> read
    back (explicit schema, multiLine) -> per-lang aggregate. The text
    column carries commas and quotes, so a wrong quote/escape option
    pair corrupts min/max_text and fails the oracle."""
    out = _staging_dir("src_csv_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    back = (
        spark.read.schema(_DOC_SCHEMA)
        .option("header", "true")
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(out)
    )
    return _roundtrip_agg(back)


@query(
    "source_json_corrupt_records",
    oracle="""SELECT
  CAST(count(CASE WHEN doc_id % 13 <> 0 THEN 1 END) AS BIGINT) AS n_valid,
  CAST(count(CASE WHEN doc_id % 13 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
  CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN doc_id END) AS BIGINT)
    AS sum_valid_ids
FROM documents""",
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input quarantine for the JSON source (the P1 malformed-row
    predicate generalized to real ingest): a JSONL file is written with a
    deterministic mix of well-formed rows and truncated garbage (doc_id %
    13 == 0), then read back in PERMISSIVE mode with a _corrupt_record
    column — valid rows parse, bad lines are counted instead of killing
    the job (the dead-letter pattern; in production the quarantined lines
    go to their own sink). The oracle derives the expected valid/corrupt
    split and the valid-id checksum from the original table, so a reader
    that silently drops or half-parses rows breaks the hash."""
    out = _staging_dir("src_json_bad_", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "lang": '),
            ),
        )
        .otherwise(
            F.to_json(F.struct(F.col("doc_id"), F.col("lang")))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    back = (
        spark.read.schema("doc_id bigint, lang string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    valid = F.col("_corrupt_record").isNull()
    return back.agg(
        F.count(F.when(valid, 1)).cast("bigint").alias("n_valid"),
        F.count(F.when(~valid, 1)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(valid, F.col("doc_id"))).cast("bigint").alias("sum_valid_ids"),
    )


@query(
    "source_schema_evolution",
    oracle="""SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_evolved,
  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
    AS sum_evolved_chars
FROM documents GROUP BY lang""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution tolerant scan: two parquet batches of the same
    logical table written under one root with DIFFERENT schemas (batch=0
    predates the ``n_chars`` column; batch=1 carries it), read back as one
    table with ``mergeSchema`` — old rows surface NULL for the late
    column, partition discovery contributes the ``batch`` column. This is
    the ingest reality of any long-lived 100 TB corpus: producers add
    columns over time and the reader must union schemas without a
    rewrite. The oracle derives the same per-lang rollup from the
    original table (evolved rows are doc_id % 2 = 1), so dropped rows,
    misaligned columns, or a reader that nulls the wrong side all break
    the hash."""
    out = _staging_dir("src_evo_", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(out + "/batch=0")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(out + "/batch=1")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("n_chars").cast("bigint").alias("n_evolved"),
        F.sum("n_chars").cast("bigint").alias("sum_evolved_chars"),
    )


_ZBITS = 16
_ZVAL_SQL = " + ".join(
    f"(((l_partkey >> {i}) & 1) << {2 * i + 1}) + "
    f"(((l_suppkey >> {i}) & 1) << {2 * i})"
    for i in range(_ZBITS)
)


@query(
    "storage_zorder_buckets",
    oracle=f"""SELECT ({_ZVAL_SQL}) >> 12 AS zbucket,
  CAST(count(*) AS BIGINT) AS n_rows,
  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
FROM lineitem GROUP BY 1""",
)
def storage_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key, declaratively audited: interleave
    l_partkey x l_suppkey bits (sources/sinks.py:zvalue_col — pure
    shift/mask codegen, no UDF), bucket by the key's high bits (>>12: each bucket is a 64x64 tile), and emit
    each bucket's (partkey, suppkey) bounding box. Tight per-bucket boxes
    in BOTH columns are exactly the property that makes parquet min/max
    footer stats prune 2-D predicates once files are written in z order
    (sources/sinks.py:write_zordered; test_storage_layout proves the
    file-skipping win against a single-column sort). The oracle replays
    the interleave with integer shifts — bit-exact on both engines."""
    from pagerank_giraph_vs_mapreduce_spark.sources.sinks import zvalue_col

    li = load_table(spark, sf_dir, "lineitem")
    z = zvalue_col(F.col("l_partkey"), F.col("l_suppkey"), _ZBITS)
    return (
        li.select(F.shiftright(z, 12).alias("zbucket"), "l_partkey", "l_suppkey")
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )


@query("source_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> ORC -> read back -> per-lang aggregate. ORC is the
    other columnar format long-lived warehouses carry; the round trip
    certifies the built-in ORC source/sink (dictionary + RLE encodings,
    unicode strings, bigint fidelity) against the same oracle as the
    JSON/CSV trips."""
    out = _staging_dir("src_orc_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return _roundtrip_agg(back)


@query(
    "source_python_datasource",
    oracle="""SELECT grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(txt)) AS BIGINT) AS sum_len,
       min(txt) AS min_text,
       max(txt) AS max_text
FROM (
  SELECT 'g' || (i % 7) AS grp,
         'document ' || i || ' body ' || repeat('ab', CAST(i % 5 AS INT)) AS txt
  FROM (SELECT unnest(range(0, 1000)) AS i))
GROUP BY grp""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM CONNECTOR through Spark 4's Python DataSource API
    (sources/python_datasource.py): a deterministic generator source with
    real partition planning (8 independent id-range slices — the shape a
    sharded-service connector scales with). The oracle reproduces the
    generator in SQL, so schema declaration, partition iteration, and
    the Arrow hand-off all land in the value hash."""
    from pagerank_giraph_vs_mapreduce_spark.sources.python_datasource import (
        register,
    )

    register(spark)
    df = spark.read.format("synthetic_docs").option("n", "1000").load()
    return df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text").cast("bigint")).alias("sum_len"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


@query(
    "storage_time_travel",
    oracle="""SELECT 1 AS version,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT 2 AS version,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
FROM documents""",
)
def storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over snapshot-versioned parquet
    (sources/versioned.py): v1 (even docs) is written and committed,
    v2 (all docs) supersedes it, then BOTH versions are read back
    side-by-side — proving a reader pinned to v1 still sees exactly
    v1's rows after later commits. Commits are manifest renames (atomic
    on POSIX and object stores); crash-orphaned data dirs are invisible
    to readers and reclaimed by vacuum(). The pytest twin exercises the
    crash/orphan and vacuum paths no SQL oracle can express."""
    import os

    from pagerank_giraph_vs_mapreduce_spark.sources.versioned import (
        read_version,
        versions,
        write_version,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    base = os.path.join(_staging_dir("src_tt_", sf_dir), "table")
    # versions are deterministic per sf_dir: write once per session,
    # re-invocations read the already-committed v1/v2 (no accumulation)
    if len(versions(base)) < 2:
        write_version(docs.filter(F.col("doc_id") % 2 == 0), base)
        write_version(docs, base)
    out = []
    for v in (1, 2):
        out.append(
            read_version(spark, base, v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_n_chars"),
            ).select("version", "n_docs", "sum_n_chars")
        )
    return out[0].unionAll(out[1])


_BUCKETED: dict[str, tuple[str, str]] = {}


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write (once per sf_dir per session) orders+lineitem bucketed by the
    join key; returns the two catalog table names."""
    if sf_dir in _BUCKETED:
        return _BUCKETED[sf_dir]
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    to, tl = f"bq_orders_{tag}", f"bq_lineitem_{tag}"
    base = _staging_dir("src_bucketed_", sf_dir)
    for t_ in (to, tl):
        spark.sql(f"DROP TABLE IF EXISTS {t_}")
    (
        load_table(spark, sf_dir, "orders")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/{to}")
        .mode("overwrite")
        .saveAsTable(to)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/{tl}")
        .mode("overwrite")
        .saveAsTable(tl)
    )
    _BUCKETED[sf_dir] = (to, tl)
    return to, tl


@query(
    "storage_bucketed_join",
    oracle="""SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,12))), 6) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""",
)
def storage_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED big-big join: both fact tables are written
    bucketed(8)+sorted by the join key, so the sort-merge join runs with
    NO shuffle exchange on either side — the storage technique a 100 TB
    fact table joined on the same key daily pays for once at write time
    (zero-exchange property pinned by tests/test_bucketing.py; this
    declared query certifies the bucketed write→read→join VALUES against
    the plain-table oracle)."""
    to, tl = _bucketed_pair(spark, sf_dir)
    o = spark.table(to).select("o_orderkey", "o_orderpriority")
    li = spark.table(tl).select(
        "o_orderkey",
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev"),
    )
    return (
        o.join(li, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("rev").cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "source_variant_props",
    oracle="""SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE try_cast(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
GROUP BY event_type""",
)
def source_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: the raw
    JSON ``props`` column is parsed ONCE into a binary variant
    (``parse_json``) and fields are extracted with typed ``variant_get``
    paths — the shred-free path for schema-on-read payloads. Unlike
    ``get_json_object`` (string re-parse per extraction, cf.
    rel_json_props) a variant parses once and serves every path, and
    unlike a rigid ``from_json`` schema it tolerates heterogeneous /
    evolving payloads: at 100 TB of clickstream ingest that is the
    difference between one decode pass and one per referenced field.
    ``try_variant_get`` semantics on the filter keep malformed payloads
    out instead of failing the scan (ANSI discipline)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return (
        v.filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "stream_python_source",
    oracle="""SELECT grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(txt)) AS BIGINT) AS sum_len
FROM (
  SELECT 'g' || (i % 7) AS grp,
         'document ' || i || ' body ' || repeat('ab', CAST(i % 5 AS INT)) AS txt
  FROM (SELECT unnest(range(0, 2000)) AS i))
GROUP BY grp""",
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of the custom Python DataSource
    (sources/python_datasource.py:SyntheticDocsStreamReader): the same
    deterministic generator served as a micro-batched stream — offsets
    are row ids, 512-id batches, end-of-data is an empty read. The
    stream drains to a memory sink until all 2000 rows arrive, then the
    per-group aggregate must equal the batch connector's oracle — so
    offset bookkeeping, batch framing, and the Arrow hand-off of the
    streaming connector path all land in the value hash."""
    import time

    from pagerank_giraph_vs_mapreduce_spark.sources.python_datasource import (
        register,
    )

    register(spark)
    n = 2000
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("n", str(n))
        .option("batch", "512")
        .load()
    )
    name = "stream_python_source_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if spark.table(name).count() >= n:
                break
            time.sleep(0.3)
        else:
            # A silent partial drain would surface as an
            # inscrutable oracle hash mismatch on a slow machine — fail
            # loudly at the source instead.
            raise TimeoutError(
                f"stream_python_source: sink drained only "
                f"{spark.table(name).count()}/{n} rows within 120 s"
            )
    finally:
        q.stop()
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("text").cast("bigint")).alias("sum_len"),
        )
    )


@query(
    "source_tar_members",
    oracle="""SELECT 'corpus/doc_' || doc_id || '.tar' AS path,
       'doc_' || doc_id || '/text.txt' AS member,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS member_md5
FROM documents
UNION ALL
SELECT 'corpus/doc_' || doc_id || '.tar' AS path,
       'doc_' || doc_id || '/meta.json' AS member,
       CAST(strlen('{"doc_id": ' || doc_id || '}') AS BIGINT) AS n_bytes,
       md5('{"doc_id": ' || doc_id || '}') AS member_md5
FROM documents""",
)
def source_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-container ingestion (sources/archives.py:tar_members): a
    REAL tar per document (text member + JSON meta member, built by the
    stdlib writer with pinned mtimes) expanded back through the stdlib
    reader behind an Arrow-batched map — the curated-dump ingest shape.
    Member names, byte counts and md5s all derive from the documents
    table, so the whole container round-trip has an exact SQL oracle."""
    from pagerank_giraph_vs_mapreduce_spark.sources.archives import (
        tar_members,
        tar_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tar_members(tar_payload(docs))


@query(
    "source_warc_records",
    oracle="""SELECT printf('crawl/part-%05d.warc.gz', CAST(doc_id % 8 AS INT)) AS path,
       CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
            AS INT) AS record_idx,
       'response' AS warc_type,
       'http://example.com/doc/' || doc_id AS target_uri,
       CAST(strlen(text) AS BIGINT) AS content_length,
       md5(text) AS body_md5
FROM documents""",
)
def source_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl-shaped ingestion (sources/archives.py:parse_warc):
    documents bucketed into 8 REAL WARC/1.0 files — one gzip member PER
    RECORD, the actual CC layout, which a naive gzip.decompress would
    silently truncate after the first record — then parsed back:
    version-line framing, header fields, Content-Length-delimited
    bodies, CRLF CRLF separators, record ordering. Every emitted field
    derives from the documents table (exact oracle incl. per-file
    record indexes via row_number)."""
    from pagerank_giraph_vs_mapreduce_spark.sources.archives import (
        parse_warc,
        warc_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return parse_warc(warc_payload(docs))


@query(
    "source_avro_roundtrip",
    oracle="""SELECT printf('events/part-%05d.avro', CAST(doc_id % 8 AS INT)) AS path,
       CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
            AS INT) AS record_idx,
       doc_id,
       lang,
       CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5,
       CAST(doc_id % 7 + doc_id % 13 AS BIGINT) AS sig_sum
FROM documents""",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF ingestion (sources/avro_ocf.py,
    upgraded from document-out): the runtime lacks the external
    spark-avro module and any Python avro package, so container framing
    and the binary encoding are implemented from the public spec.
    Documents bucket into 8 REAL OCF files (two data blocks each,
    deflate codec on even buckets, null on odd), parse back through the
    generic schema-driven reader, and project typed columns with
    from_json — schema-on-read at the same seam a spark-avro scan gives
    Catalyst. Exercises zigzag longs, nullable unions, int/string
    fields, array blocks and both codecs; every output value derives
    from the documents table (exact oracle)."""
    from pagerank_giraph_vs_mapreduce_spark.sources.avro_ocf import (
        avro_payload,
        parse_avro_records,
    )

    docs = load_table(spark, sf_dir, "documents")
    recs = parse_avro_records(avro_payload(docs))
    r = F.from_json(
        "record_json",
        "doc_id bigint, lang string, n_chars int, text_md5 string,"
        " sig array<bigint>",
    )
    return recs.select("path", "record_idx", r.alias("r")).select(
        "path",
        "record_idx",
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.col("r.n_chars").alias("n_chars"),
        F.col("r.text_md5").alias("text_md5"),
        F.aggregate(
            "r.sig", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("sig_sum"),
    )


@query("source_jsonl_gz", oracle=_ROUNDTRIP_ORACLE)
def source_jsonl_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> gzip-compressed JSON-lines -> read back (explicit
    schema) -> per-lang aggregate: the Common Crawl / web-scrape delivery
    format (*.jsonl.gz). Spark decompresses transparently via the codec
    registry. Scale caveat the plan must respect: gzip is NOT splittable
    — one .gz file = one task regardless of size, so a 100 TB corpus must
    arrive as many ~100 MB-1 GB members (as Common Crawl does) or use a
    splittable codec (bzip2, or zstd with seekable framing); the writer
    here emits one member per input partition, which is exactly that
    discipline."""
    out = _staging_dir("src_jsonl_gz_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").option("compression", "gzip").json(out)
    back = spark.read.schema(_DOC_SCHEMA).json(out)
    return _roundtrip_agg(back)


@query("source_jsonl_bz2", oracle=_ROUNDTRIP_ORACLE)
def source_jsonl_bz2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> bzip2-compressed JSON-lines -> read back -> per-lang
    aggregate. The splittable-codec answer to source_jsonl_gz's caveat:
    bzip2 is a block codec (~900 KB blocks with a scannable block magic),
    so Hadoop's BZip2Codec implements SplittableCompressionCodec and ONE
    multi-GB .jsonl.bz2 file still fans out across tasks — unlike gzip,
    where file count caps parallelism. The tradeoff is compression speed
    (bzip2 is CPU-heavy on write); at 100 TB the usual play is bzip2 or
    seekable-zstd for long-lived text at rest, gzip only for
    many-small-member deliveries."""
    out = _staging_dir("src_jsonl_bz2_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").option("compression", "bzip2").json(out)
    back = spark.read.schema(_DOC_SCHEMA).json(out)
    return _roundtrip_agg(back)


PRUNE_LANG = "en"

_PRUNE_ORACLE = f"""SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM documents WHERE lang = '{PRUNE_LANG}' GROUP BY source"""


@query("storage_partition_prune", oracle=_PRUNE_ORACLE)
def storage_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: documents written
    ``partitionBy(lang)``, read back with a literal lang filter — the
    filter resolves against DIRECTORY NAMES, so non-matching partitions
    are never opened (tests/test_storage_layout.py pins PartitionFilters
    in the scan and that the pruned scan reads only the one partition).
    The first-line defense at 100 TB: a corpus partitioned by
    lang/source/crawl-date turns every language-scoped job into a scan
    of just its slice — no file I/O for the rest. Distinct from
    storage_zorder_buckets (intra-file skipping) and
    storage_bucketed_join (shuffle avoidance): partitioning prunes
    whole directories."""
    out = _staging_dir("storage_part_", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == PRUNE_LANG)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_n_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query("source_xml_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> XML (Spark 4 native XML source, rowTag framing) ->
    read back (explicit schema) -> the shared per-lang aggregate. XML is
    the remaining text interchange format enterprise feeds still emit
    (and the one where entity escaping — &amp;, &lt;, quotes inside
    attributes — silently corrupts sloppy readers); the text column
    carries arbitrary punctuation, so a wrong escape/unescape pair in
    either direction breaks min/max_text against the same oracle as the
    JSON/CSV/ORC trips. Scale shape: identical to the other roundtrips —
    the write and read are both partition-parallel (one XML fragment per
    row, rowTag framing is splittable at the row level)."""
    out = _staging_dir("src_xml_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    docs.write.mode("overwrite").format("xml").option("rowTag", "doc").save(out)
    back = (
        spark.read.schema(_DOC_SCHEMA)
        .format("xml")
        .option("rowTag", "doc")
        .load(out)
    )
    return _roundtrip_agg(back)


# Fixed-width layout for the flat-file trip: doc_id right-padded to 12,
# lang to 8, n_chars zero-padded to 10 — the COBOL copybook shape.
_FW_ID_W, _FW_LANG_W, _FW_N_W = 12, 8, 10


@query(
    "source_fixed_width",
    oracle=f"""SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM documents GROUP BY lang""",
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width flat-file ingest — the mainframe/copybook format that
    predates every delimiter: each record is doc_id(12, right-padded) ·
    lang(8) · n_chars(10, zero-padded) with NO separators. Written as a
    text file, read back as raw lines, and sliced by substring positions
    into typed columns (try_cast after trim — ANSI-safe). There is no
    built-in fixed-width source; the point is that the SLICING is plain
    codegen expressions over a text scan, splittable by line like any
    text format. The per-lang aggregate over the round-tripped columns
    must equal the oracle computed on the original table — a wrong
    offset, width, or padding rule shifts every downstream field and
    breaks the hash."""
    out = _staging_dir("src_fw_", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # rpad/lpad silently TRUNCATE over-width values — an encode-time data
    # corruption that would only surface later as an opaque oracle hash
    # mismatch. Guard the declared widths loudly: an over-width row fails
    # the write with the offending record named (raise_error sits inside
    # a CaseWhen branch, so it fires only on bad rows and cannot be
    # pruned out of the plan).
    over = (
        (F.length(F.col("doc_id").cast("string")) > _FW_ID_W)
        | (F.length("lang") > _FW_LANG_W)
        | (F.length(F.col("n_chars").cast("string")) > _FW_N_W)
    )
    line = F.when(
        over,
        F.raise_error(
            F.concat(
                F.lit(
                    f"fixed-width overflow (widths {_FW_ID_W}/"
                    f"{_FW_LANG_W}/{_FW_N_W}): doc_id="
                ),
                F.col("doc_id").cast("string"),
                F.lit(" lang="),
                F.col("lang"),
            )
        ).cast("string"),
    ).otherwise(
        F.concat(
            F.rpad(F.col("doc_id").cast("string"), _FW_ID_W, " "),
            F.rpad(F.col("lang"), _FW_LANG_W, " "),
            F.lpad(F.col("n_chars").cast("string"), _FW_N_W, "0"),
        )
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    p_id, p_lang = 1, 1 + _FW_ID_W
    p_n = p_lang + _FW_LANG_W
    back = raw.select(
        F.trim(F.substring("value", p_id, _FW_ID_W))
        .try_cast("bigint")
        .alias("doc_id"),
        F.trim(F.substring("value", p_lang, _FW_LANG_W)).alias("lang"),
        F.trim(F.substring("value", p_n, _FW_N_W))
        .try_cast("bigint")
        .alias("n_chars"),
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_n_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )
