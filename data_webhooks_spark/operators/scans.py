"""Batch scan operators (SURVEY.md §2.1, non-streaming rows).

scan_parquet reads a fixture directly; scan_json / scan_csv read
byte-identical JSONL/CSV derivations of the fixtures (sources/derived,
generated from the driver's parquet — no synthetic data). Explicit
schemas everywhere: schema inference is a correctness risk under the
driver's schema comparison and a full extra pass over the data at
100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..io import Tables, derived, load_table, source_fingerprint
from ..norms import dec_sum, o_dec_sum
from ..regutil import registrar
from ..sources.derived import (
    BLOB_DOCS,
    CUSTOMER_CSV_COLUMNS,
    CUSTOMER_CSV_SPARK_SCHEMA,
    DERIVED_DIR,
    EVENTS_JSON_COLUMNS,
    EVENTS_JSON_SPARK_SCHEMA,
    ORACLE_CUSTOMER_CSV,
    ORACLE_EVENTS_EVOLVE,
    ORACLE_EVENTS_JSONL,
    ORACLE_SF_DIR,
    derived_path,
)

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)


def _derived_dir(sf_dir: str) -> str:
    return f"{DERIVED_DIR}/{os.path.basename(sf_dir.rstrip('/'))}"


@op(
    "scan_parquet",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_parquet(spark, sf_dir):
    """Full parquet scan, all columns."""
    t = Tables(spark, sf_dir)
    return t.nation.select("n_nationkey", "n_name", "n_regionkey")


@op(
    "scan_json",
    sql=f"""
    SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props
    FROM read_json('{ORACLE_EVENTS_JSONL}', format='newline_delimited',
                   columns={EVENTS_JSON_COLUMNS})
    """,
)
def scan_json(spark, sf_dir):
    """JSON-lines scan with explicit schema (webhook payload replay
    shape); timestamps carried as epoch-µs and re-materialized."""
    path = derived_path(sf_dir, "events.jsonl")
    raw = spark.read.schema(EVENTS_JSON_SPARK_SCHEMA).json(path)
    return raw.select(
        "event_id",
        F.expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@op(
    "scan_csv",
    sql=f"""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM read_csv('{ORACLE_CUSTOMER_CSV}', header=true,
                  columns={CUSTOMER_CSV_COLUMNS})
    """,
)
def scan_csv(spark, sf_dir):
    """CSV scan with header + explicit schema."""
    path = derived_path(sf_dir, "customer.csv")
    return spark.read.csv(path, header=True, schema=CUSTOMER_CSV_SPARK_SCHEMA)


@op(
    "scan_orc",
    sql="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def scan_orc(spark, sf_dir):
    """ORC scan: the customer fixture is written once to ORC under
    .runtime (derived 1:1 from the driver's parquet, deterministic) and
    read back with an explicit schema. The oracle reads the original
    parquet view — same rows, proving the ORC round-trip is lossless.
    DuckDB has no ORC reader, so parity runs through the content."""
    customer = Tables(spark, sf_dir).customer
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    path = derived(
        f"{_derived_dir(sf_dir)}/customer_orc",
        source_fingerprint(f"{sf_dir}/customer.parquet"),
        lambda out: customer.select(*cols).write.mode("overwrite").orc(out),
    )
    return spark.read.schema(
        "c_custkey LONG, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ).orc(path)


@op(
    "scan_python_datasource",
    sql=f"""
    SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props
    FROM read_json('{ORACLE_EVENTS_JSONL}', format='newline_delimited',
                   columns={EVENTS_JSON_COLUMNS})
    """,
)
def scan_python_datasource(spark, sf_dir):
    """Custom *batch* Python DataSource (`jsonl_ranges`): byte-range
    partitioned JSONL scan — every line parsed by exactly one of the
    planned range tasks (sources/jsonl_source.py). Same content oracle
    as scan_json, proving the range-split ownership rule drops and
    duplicates nothing."""
    from ..sources.jsonl_source import JsonlRangeDataSource

    spark.dataSource.register(JsonlRangeDataSource)
    path = derived_path(sf_dir, "events.jsonl")
    raw = (
        spark.read.format("jsonl_ranges")
        .option("path", path)
        .option("n_partitions", 8)
        .load()
    )
    return raw.select(
        "event_id",
        F.expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@op(
    "scan_text",
    sql="SELECT doc_id, text FROM documents",
)
def scan_text(spark, sf_dir):
    """Raw line-oriented text scan (`spark.read.text`) over a TSV
    derivation of the documents fixture (1:1, deterministic —
    sources/derived.py): each line splits into (doc_id, text) with
    codegen string ops. The oracle reads the original parquet — same
    rows, proving the text round-trip is byte-lossless. The text
    source is the 100 TB log-file ingestion path: splittable by line,
    no parse schema, structure applied downstream."""
    path = derived_path(sf_dir, "documents.tsv")
    raw = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    return raw.select(
        F.substring(F.col("value"), 1, tab - 1).cast("long").alias("doc_id"),
        F.substring(F.col("value"), tab + 1, F.length("value")).alias("text"),
    )


@op(
    "scan_binaryfile",
    sql=f"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {BLOB_DOCS}
    ORDER BY doc_id
    """,
)
def scan_binaryfile(spark, sf_dir):
    """Whole-file binary scan (`spark.read.format("binaryFile")`) over
    per-document blob files — the object-store model every multimodal
    pipeline starts from (one opaque file per asset; §2.11 operators
    take over after this read). Output is (doc_id parsed from the
    path, byte length, md5 of the bytes); the oracle recomputes all
    three from the documents table (content is the utf-8 text, so
    DuckDB's strlen/md5 agree byte-for-byte). At scale binaryFile
    parallelizes by file with pathGlobFilter/recursive lookup; content
    bytes never shuffle here — metadata only after the projection."""
    path = derived_path(sf_dir, "docblobs")
    raw = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.txt"
    ).load(path)
    return (
        raw.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .filter(F.col("doc_id") < BLOB_DOCS)
        .orderBy("doc_id")
    )


@op(
    "scan_parquet_evolve",
    sql=f"""
    SELECT event_id, user_id, value, event_type
    FROM read_parquet(['{ORACLE_EVENTS_EVOLVE}/v1.parquet',
                       '{ORACLE_EVENTS_EVOLVE}/v2.parquet'],
                      union_by_name=true)
    """,
)
def scan_parquet_evolve(spark, sf_dir):
    """Schema-evolution scan: one directory holding parquet written by
    two writer generations — the older file predates the event_type
    column. ``mergeSchema`` unions the footers at planning time, and
    rows from the older file surface NULL for the added column (the
    data-lake additive-evolution contract).

    At 100 TB, mergeSchema's footer pass is the cost knob: it reads
    every file's footer at planning (vs the default first-file schema)
    — enable it only on tables that actually evolved, or pin the
    merged schema explicitly once known (the ``.schema(...)`` form
    reads no extra footers and gets the same NULL-fill semantics)."""
    path = derived_path(sf_dir, "events_evolve")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("event_id", "user_id", "value", "event_type")
    )


@op(
    "scan_json_corrupt",
    sql=f"""
    WITH marked AS (
        SELECT CASE WHEN event_id % 13 = 0 THEN '__corrupt__'
                    ELSE event_type END AS bucket,
               CASE WHEN event_id % 13 = 0 THEN NULL
                    ELSE value END AS value
        FROM events
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           {o_dec_sum('value', 'value_sum')}
    FROM marked GROUP BY bucket
    """,
)
def scan_json_corrupt(spark, sf_dir):
    """Malformed-record ingest (the production webhook-replay reality:
    truncated POST bodies, half-written log lines): a JSONL input in
    which every 13th record is cut mid-object is read in PERMISSIVE
    mode with an explicit `_corrupt_record` column — bad lines become
    quarantine rows instead of failing the job, good lines parse
    exactly. Output: per-event-type row counts + exact value sums,
    with the corrupt bucket counted under '__corrupt__'.

    The corrupt twin is derived deterministically from the parquet
    fixture (corruption keys off the parsed event_id — see
    sources/derived.py), so the oracle reproduces the exact good/
    corrupt split from the ORIGINAL table: the parity check proves
    Spark's PERMISSIVE parser recovers every non-corrupt row
    bit-exactly and quarantines precisely the mutilated ones — the
    recovery contract, not just "doesn't crash". Scale: schema-on-read
    line parsing is embarrassingly parallel; the quarantine count is
    the dead-letter metric every ingest SLA monitors."""
    path = derived_path(sf_dir, "events_corrupt.jsonl")
    raw = (
        spark.read.schema(EVENTS_JSON_SPARK_SCHEMA + ", _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        raw.select(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__"))
            .otherwise(F.col("event_type"))
            .alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "value_sum"),
        )
    )


@op(
    "scan_xml",
    sql="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_xml(spark, sf_dir):
    """XML scan — Spark 4 ships the XML data source natively (the
    spark-xml package folded into core in 4.0), which is the
    enterprise-feed format webhook providers still emit (SOAP-era
    partners, RSS/sitemap ingestion). The supplier fixture is written
    once as row-tagged XML under .runtime (derived 1:1 from the
    driver's parquet, deterministic) and read back with an explicit
    schema + rowTag. The oracle reads the original parquet view —
    same rows, proving the XML round-trip is lossless (the scan_orc
    treatment; DuckDB has no XML reader, so parity runs through
    content).

    Scale: the XML reader splits by row tag and runs the same
    schema-on-read projection as JSON — embarrassingly parallel; at
    100 TB the real cost knob is multiline documents, which this
    row-per-record layout avoids by construction."""
    supplier = Tables(spark, sf_dir).supplier
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    path = derived(
        f"{_derived_dir(sf_dir)}/supplier_xml",
        source_fingerprint(f"{sf_dir}/supplier.parquet"),
        lambda out: supplier.select(*cols)
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "supplier")
        .save(out),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(
            "s_suppkey LONG, s_name STRING, s_nationkey INT, "
            "s_acctbal DOUBLE"
        )
        .load(path)
    )


@op(
    "scan_csv_corrupt",
    sql=f"""
    WITH marked AS (
        SELECT CASE WHEN c_custkey % 13 = 0 THEN '__corrupt__'
                    ELSE c_mktsegment END AS bucket,
               CASE WHEN c_custkey % 13 = 0 THEN NULL
                    ELSE c_custkey END AS key,
               CASE WHEN c_custkey % 13 = 0 THEN NULL
                    ELSE c_acctbal END AS acctbal
        FROM customer
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(key) AS BIGINT) AS n_keys,
           {o_dec_sum('acctbal', 'acctbal_sum')}
    FROM marked GROUP BY bucket
    """,
)
def scan_csv_corrupt(spark, sf_dir):
    """Malformed-CSV ingest — `scan_json_corrupt`'s flat-file twin: a
    customer CSV in which every 13th row's key field is mangled
    ('x750' in a BIGINT column) is read in PERMISSIVE mode with an
    explicit `_corrupt_record` column. The mangling is a TYPE failure
    on purpose: Spark's CSV reader null-fills short rows silently, so
    the quarantine contract everyone assumes ("bad rows land in
    _corrupt_record") only actually fires on unparseable tokens —
    this key pins that exact behavior. Output: per-segment row counts
    + exact balance sums, corrupt rows bucketed under '__corrupt__'.

    Corruption keys off the parsed c_custkey (sources/derived.py), so
    the oracle reproduces the exact good/corrupt split from the
    ORIGINAL parquet: parity proves every clean row recovers
    bit-exactly and precisely the mangled ones quarantine. Scale:
    schema-on-read line parsing is embarrassingly parallel; the
    '__corrupt__' row is the dead-letter metric the ingest SLA pages
    on."""
    path = derived_path(sf_dir, "customer_corrupt.csv")
    raw = spark.read.csv(
        path,
        header=True,
        schema=CUSTOMER_CSV_SPARK_SCHEMA + ", _corrupt_record STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return (
        raw.select(
            F.when(
                F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__")
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("bucket"),
            # touching c_custkey defeats CSV column pruning -> the bad
            # token is actually parsed and the row quarantines
            F.col("c_custkey").alias("key"),
            # PERMISSIVE retains partially-parsed fields on corrupt
            # rows; quarantined values must not leak into the totals
            F.when(
                F.col("_corrupt_record").isNull(), F.col("c_acctbal")
            ).alias("acctbal"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("key").cast("long").alias("n_keys"),
            dec_sum("acctbal", "acctbal_sum"),
        )
    )


@op(
    "scan_parquet_metadata",
    sql=f"""
    SELECT parse_filename(filename) AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM read_parquet('{ORACLE_SF_DIR}/lineitem.parquet',
                      filename=true)
    GROUP BY 1
    """,
)
def scan_parquet_metadata(spark, sf_dir):
    """File-provenance scan via Spark's hidden `_metadata` struct —
    the lineage primitive behind 'which file did this bad row come
    from': per input file, its name, row count, and key range,
    projected from `_metadata.file_name` with zero extra I/O (the
    struct is constant per split, populated by the reader). This is
    how incident response maps a corrupt aggregate back to the
    ingest batch that wrote it, and the per-file row/range audit a
    compaction job (`compact_files`) reads before and after.

    The oracle recomputes the same facts through DuckDB's
    filename=true pseudo-column over the identical path (fixed at the
    driver's sf0.01, the ORACLE_EVENTS_JSONL precedent).

    Scale (100 TB): `_metadata` adds no shuffle and no extra read —
    the groupBy on file_name is map-combinable with one group per
    split owner, output rows = |files|; on a partitioned table the
    same query audits per-partition file health (row-count skew,
    degenerate key ranges) directly from a full scan it was running
    anyway."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("_metadata.file_name").alias("file_name"), "l_orderkey"
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_orderkey").cast("long").alias("min_key"),
            F.max("l_orderkey").cast("long").alias("max_key"),
        )
    )
