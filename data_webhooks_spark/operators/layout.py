"""Storage-layout operators: the two techniques that define 100 TB
table design (SCALE.md), exercised as first-class, oracle-checked
operators rather than prose.

- ``sink_partitioned_parquet``: write events hive-partitioned by day,
  read back with a day filter — the scan must prune to the matching
  partition directories (PartitionFilters), which is what makes a
  100 TB time-series table queryable. Result (an agg over 3 days)
  is DuckDB-verified against the unpartitioned source.
- ``join_bucketed``: orders and customer persisted bucketed by the
  join key; the join then requires NO exchange on either side — at
  100 TB this is the difference between a co-located join and
  shuffling the two largest tables in the warehouse. DuckDB-verified
  against the plain join.

Layouts are written once per fixture under ``RUNTIME_DIR/layout/<sf>``
by ``io.derived`` (content derives deterministically from the events
fixture and is keyed on its source fingerprint), and read back with
``io.read_parquet``'s memoized schema, so building a layout key after
its first call launches no Spark job. Plan properties are asserted in
tests/test_plans.py.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from ..io import Tables, derived, read_parquet, source_fingerprint
from ..norms import dec_sum, finite_or_null, o_dec_sum
from ..regutil import registrar
from ..streaming.core import RUNTIME_DIR

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def _events_layout(spark, sf_dir: str, name: str, write) -> str:
    """``RUNTIME_DIR/layout/<sf>/<name>``: the events table laid out by
    ``write(events, out)``, built once per events fingerprint."""
    return derived(
        f"{RUNTIME_DIR}/layout/{_sf_name(sf_dir)}/{name}",
        source_fingerprint(f"{sf_dir}/events.parquet"),
        lambda out: write(Tables(spark, sf_dir).events, out),
    )


def partitioned_events_path(spark, sf_dir: str) -> str:
    """events written hive-partitioned by event_date (once per sf)."""
    return _events_layout(
        spark,
        sf_dir,
        "events_by_day",
        lambda ev, out: ev.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out),
    )


def read_partitioned_events(spark, sf_dir: str):
    """Read the hive-partitioned layout with an EXPLICIT schema —
    schema inference over an all-empty partitioned write has nothing
    to infer from (UNABLE_TO_INFER_SCHEMA, empty-input sweep), and a
    100 TB reader should pin its schema anyway. The schema derives
    from the writer's own plan (no scan)."""
    path = partitioned_events_path(spark, sf_dir)
    t = Tables(spark, sf_dir)
    schema = t.events.withColumn("event_date", F.to_date("ts")).schema
    return spark.read.schema(schema).parquet(path)


@op(
    "sink_partitioned_parquet",
    sql="""
    SELECT date_trunc('day', ts) AS event_day, event_type, COUNT(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-04'
    GROUP BY 1, 2
    """,
)
def sink_partitioned_parquet(spark, sf_dir):
    """Day-partitioned write + partition-pruned read-back: the filter
    prunes whole directories before any file I/O (PartitionFilters in
    the plan — asserted in test_plans). At 100 TB, date partitioning
    is what bounds a time-windowed query to touched days."""
    df = read_partitioned_events(spark, sf_dir)
    return (
        df.filter(
            F.col("event_date").between("2024-01-02", "2024-01-04")
        )
        .groupBy(
            F.col("event_date").cast("timestamp_ntz").alias("event_day"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """orders/customer persisted bucketed by the join key (once per sf).

    Bucketing fixes each table's physical distribution at write time;
    any future join/agg on the bucket key needs no shuffle. Bucket
    count 8 suits the fixtures — a cluster picks cores-scaled counts.
    """
    sf = _sf_name(sf_dir).replace(".", "_")
    o_name, c_name = f"orders_b_{sf}", f"customer_b_{sf}"
    t = Tables(spark, sf_dir)
    # External-table paths: bucket metadata lives in the (per-session,
    # in-memory) catalog, so each fresh session re-registers by
    # re-running saveAsTable — cheap at fixture scale, a one-time
    # warehouse write in production.
    for name, df, key in (
        (o_name, t.orders, "o_custkey"),
        (c_name, t.customer, "c_custkey"),
    ):
        if not spark.catalog.tableExists(name):
            (
                df.write.mode("overwrite")
                .option("path", f"{RUNTIME_DIR}/layout/bucketed/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    return o_name, c_name


@op(
    "join_bucketed",
    sql=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {o_dec_sum('o_totalprice', 'segment_value')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_bucketed(spark, sf_dir):
    """Co-located join on pre-bucketed tables: zero exchanges below
    the final aggregation (asserted in test_plans) because both sides
    already share the bucket distribution on the join key."""
    o_name, c_name = bucketed_tables(spark, sf_dir)
    o, c = spark.table(o_name), spark.table(c_name)
    # disable broadcast for this plan: the point is the co-located
    # shuffle-free SortMergeJoin, exactly what a fact-fact join at
    # 100 TB (where neither side broadcasts) must produce.
    joined = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "segment_value"),
    )


def fragmented_events_path(spark, sf_dir: str) -> str:
    """events deliberately shattered into 64 tiny unsorted files (once
    per sf) — the small-files problem every streaming ingest creates."""
    return _events_layout(
        spark,
        sf_dir,
        "events_fragmented",
        lambda ev, out: ev.repartition(64, "event_id")
        .write.mode("overwrite")
        .parquet(out),
    )


def compacted_events_path(spark, sf_dir: str) -> str:
    """The fragmented layout compacted to 4 time-clustered files (once
    per sf): range-partition by ts so each output file owns a
    contiguous time slice, sorted within for row-group stat locality."""
    return _events_layout(
        spark,
        sf_dir,
        "events_compacted",
        lambda _, out: read_parquet(spark, fragmented_events_path(spark, sf_dir))
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(out),
    )


@op(
    "compact_files",
    sql="""
    SELECT date_trunc('day', ts) AS event_day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           TRUE AS compacted_ok
    FROM events GROUP BY 1
    """,
)
def compact_files(spark, sf_dir):
    """Small-file compaction as an oracle-checked operator: a 64-file
    shattered events layout is rewritten into 4 time-range-clustered
    files, and the compacted copy must reproduce the source exactly
    (per-day row and distinct-id counts hash-checked against the
    original parquet) while actually being 4 files
    (``compacted_ok`` = distinct input_file_name <= 4, computed from
    the compacted scan itself).

    At 100 TB this is the nightly maintenance job that keeps scan task
    counts sane: repartitionByRange(ts) gives each output file one
    contiguous time slice (so time predicates prune whole files via
    row-group stats), and the sortWithinPartitions tightens min/max
    bounds per row group. The op's plan reads ONLY the compacted
    layout — equality with the oracle proves losslessness."""
    df = read_parquet(spark, compacted_events_path(spark, sf_dir))
    nfiles = df.select(F.input_file_name().alias("f")).agg(
        F.countDistinct("f").alias("nf")
    )
    return (
        df.groupBy(F.date_trunc("day", "ts").alias("event_day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        .crossJoin(nfiles)  # 1-row scalar attach
        .select(
            "event_day", "n", "n_ids", (F.col("nf") <= 4).alias("compacted_ok")
        )
    )


def _zvalue(u, h):
    """Interleave the low 16 bits of two longs into a Z-order key —
    pure codegen shift/mask arithmetic, no UDF."""
    # the shifted bit positions are disjoint, so addition == bitwise OR
    # (and stays a plain long-typed codegen expression)
    z = F.lit(0).cast("long")
    for i in range(16):
        z = (
            z
            + F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(h, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zordered_events_path(spark, sf_dir: str) -> str:
    """events clustered by the Z-order interleave of (user_id, hour
    index) into 8 range-partitioned files (once per sf)."""

    def write(ev, out):
        hour_idx = (
            F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(3600)
        ).cast("long")
        (
            ev.withColumn("zv", _zvalue(F.col("user_id"), hour_idx))
            .repartitionByRange(8, "zv")
            .sortWithinPartitions("zv")
            .drop("zv")
            .write.mode("overwrite")
            .parquet(out)
        )

    return _events_layout(spark, sf_dir, "events_zorder", write)


@op(
    "zorder_layout",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS locality_ok
    FROM events
    WHERE user_id BETWEEN 100 AND 299
      AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
)
def zorder_layout(spark, sf_dir):
    """Multi-dimensional clustering (Z-order) as an oracle-checked
    operator: events are laid out by the bit-interleave of (user_id,
    hour), so a query box selective in BOTH dimensions touches only
    the few files whose Z-range intersects the box — the
    Databricks-OPTIMIZE-ZORDER / Hudi clustering pattern, built from
    shift/mask codegen + repartitionByRange (no engine extension).

    ``locality_ok`` asserts the locality from inside the plan: the
    distinct input_file_name count over matched rows must be at most
    half the 8 clustered files (a time-only or user-only sort would
    touch nearly all of them). The aggregate itself is hash-verified
    against the unclustered source — clustering must never change
    query results, only which files hold them."""
    df = read_parquet(spark, zordered_events_path(spark, sf_dir)).filter(
        F.col("user_id").between(100, 299)
        & (F.col("ts") >= F.lit("2024-01-08").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp_ntz"))
    )
    nfiles = df.select(F.input_file_name().alias("f")).agg(
        F.countDistinct("f").alias("nf")
    )
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(nfiles)  # 1-row scalar attach
        .select("event_type", "n", (F.col("nf") <= 4).alias("locality_ok"))
    )


def versioned_events_path(spark, sf_dir: str) -> str:
    """A minimal snapshot-manifest table layout (the mechanism Delta/
    Iceberg formalize), built once per sf: one directory holds data
    files from two commits side by side, and per-version manifest
    files list which data files belong to each snapshot. Readers that
    plan from a manifest get snapshot isolation for free — files from
    later commits sit in the same directory but are invisible.

    Manifests list data files relative to the layout dir (the layout is
    built in a temp dir and renamed into place, and a table directory
    should survive a move anyway); ``_manifest_files`` resolves them."""

    def write(ev, out):
        ev.filter(F.col("event_id") % 3 != 0).repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{out}/data_v1")
        ev.filter(F.col("event_id") % 3 == 0).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/data_v2")
        v1_files = _data_files(out, "data_v1")
        os.makedirs(f"{out}/_manifests")
        _publish_manifest(out, 1, v1_files)
        _publish_manifest(out, 2, v1_files + _data_files(out, "data_v2"))

    return _events_layout(spark, sf_dir, "events_versioned", write)


def _data_files(table: str, sub: str) -> list[str]:
    """``table/sub``'s part files, relative to ``table``, sorted."""
    return sorted(
        os.path.relpath(p, table) for p in glob.glob(f"{table}/{sub}/part-*.parquet")
    )


def _publish_manifest(table: str, version: int, files: list[str]) -> None:
    """Write snapshot ``version``'s manifest ATOMICALLY (temp file +
    os.replace): a reader sees the previous manifest or this complete
    one, never a half-written file."""
    path = f"{table}/_manifests/v{version}.json"
    with open(path + ".tmp", "w") as f:
        json.dump({"version": version, "files": files}, f)
    os.replace(path + ".tmp", path)  # the atomic commit point


def _manifest_files(table: str, version: int) -> list[str]:
    """Snapshot ``version``'s data files, resolved against ``table``."""
    with open(f"{table}/_manifests/v{version}.json") as f:
        return [f"{table}/{p}" for p in json.load(f)["files"]]


@op(
    "scan_snapshot_manifest",
    sql="""
    SELECT 1 AS version, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_id % 3 <> 0 GROUP BY event_type
    UNION ALL
    SELECT 2, event_type, CAST(COUNT(*) AS BIGINT)
    FROM events GROUP BY event_type
    """,
)
def scan_snapshot_manifest(spark, sf_dir):
    """Snapshot-isolated reads / time travel from first principles:
    the table directory contains data files from two commits, and each
    query plans from a VERSION MANIFEST instead of a directory listing
    — reading snapshot v1 after v2's files have landed must still see
    exactly v1's rows (the core guarantee Delta Lake / Iceberg build
    their log/manifest machinery around; no format jars exist in this
    sandbox, so the mechanism itself is the operator).

    The manifest is metadata (a file list) — reading it driver-side is
    the same O(manifest) planning cost every table format pays; the
    data path stays `read_parquet(spark, *files)`, which preserves all
    pushdown/pruning. Output: per-type counts AS OF each version,
    hash-checked against the key-arithmetic definition of the two
    commits."""
    path = versioned_events_path(spark, sf_dir)
    out = None
    for v in (1, 2):
        df = (
            read_parquet(spark, *_manifest_files(path, v))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(v).alias("version"), "event_type", "n")
        )
        out = df if out is None else out.unionByName(df)
    return out


def bloom_events_path(spark, sf_dir: str) -> str:
    """events rewritten once per sf with parquet BLOOM FILTERS on
    user_id, range-clustered so row groups are user_id-selective."""
    return _events_layout(
        spark,
        sf_dir,
        "events_bloom",
        lambda ev, out: ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        # the per-column parquet-mr form
        # (parquet.bloom.filter.enabled#user_id) is NOT plumbed
        # through this Spark version's writer options (verified:
        # byte-identical output); the global toggle is. On a
        # production layout job, scope blooms per column via the
        # hadoop conf to avoid paying for bitsets on wide text
        # columns.
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.block.size", str(1 << 20))
        .parquet(out),
    )


@op(
    "scan_parquet_bloom",
    sql="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN ABS(value) <= 1.7976931348623157e308 AND value >= 0
                THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                WHEN ABS(value) <= 1.7976931348623157e308
                THEN -CAST(FLOOR(-value * 100.0 + 0.5) AS BIGINT) END)
             AS DOUBLE) / 100 AS sum_value
    FROM events
    WHERE user_id IN (7, 42, 77)
    GROUP BY event_type
    """,
)
def scan_parquet_bloom(spark, sf_dir):
    """Point-lookup acceleration via parquet BLOOM FILTERS: a one-time
    layout job rewrites events range-clustered by user_id with a bloom
    filter on the column (writer options, 1 MB row groups), and the
    read path pushes the IN-list predicate into the scan — the parquet
    reader then skips whole row groups whose bloom filters rule the
    keys out, the mechanism that makes needle-in-haystack lookups on a
    100 TB un-partitioned key cheap (partitioning covers date; bloom
    covers the high-cardinality id you can't partition by). min/max
    row-group stats alone can't prune scattered ids — clustering plus
    bloom is the documented combination; tests assert the bloom
    metadata is really present in the written footers and the plan
    carries the pushed filter. Results are layout-invariant: the
    oracle runs the same predicate on the ORIGINAL fixture file."""
    ev = read_parquet(spark, bloom_events_path(spark, sf_dir))
    v = finite_or_null("value")
    units = F.when(v >= 0, F.floor(v * 100.0 + F.lit(0.5))).when(
        v < 0, -F.floor(-v * 100.0 + F.lit(0.5))
    )
    return (
        ev.filter(F.col("user_id").isin(7, 42, 77))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(units).cast("double") / 100).alias("sum_value"),
        )
    )


@op(
    "sink_snapshot_commit",
    sql="""
    SELECT 1 AS version, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE event_id % 3 <> 0 GROUP BY event_type
    UNION ALL
    SELECT 2, event_type, CAST(COUNT(*) AS BIGINT)
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 3, event_type, CAST(COUNT(*) AS BIGINT)
    FROM events WHERE event_type <> 'error' GROUP BY event_type
    """,
)
def sink_snapshot_commit(spark, sf_dir):
    """The WRITE side of the snapshot-manifest mechanism
    `scan_snapshot_manifest` reads: perform commit v3 — a
    COPY-ON-WRITE row-level DELETE (drop every 'error' event) — and
    prove snapshot isolation across it by reading all three versions
    back through their manifests. This is the Delta/Iceberg
    delete-flow from first principles: rewrite the affected data
    files without the deleted rows, then publish a new manifest
    listing the rewritten files, ATOMICALLY (temp-file + os.replace —
    a reader either sees v2's complete manifest or v3's, never a
    half-commit); old files stay on disk untouched, so v1/v2 reads
    are bit-stable and time travel keeps working after the delete.

    On this un-partitioned fixture layout every file contains error
    rows, so the rewrite touches all of them; with the
    `sink_partitioned_parquet` layout only partitions whose min/max
    stats admit the predicate would rewrite — the standard COW
    amplification trade (MOR deletion vectors are the alternative
    when rewrite amplification dominates).

    Output: per (version, event_type) counts AS OF v1, v2, v3 —
    hash-checked against the key-arithmetic definition of the three
    commits. The deleted type is absent from v3 and untouched in
    v1/v2.

    The rewritten files are built once (``io.derived``: a crash leaves
    no partial data_v3), and v3's manifest is published after them."""
    path = versioned_events_path(spark, sf_dir)
    derived(
        f"{path}/data_v3",
        source_fingerprint(f"{path}/_manifests/v2.json"),
        lambda out: read_parquet(spark, *_manifest_files(path, 2))
        .filter(F.col("event_type") != "error")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(out),
    )
    _publish_manifest(path, 3, _data_files(path, "data_v3"))
    out = None
    for v in (1, 2, 3):
        df = (
            read_parquet(spark, *_manifest_files(path, v))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.lit(v).alias("version"), "event_type", "n")
        )
        out = df if out is None else out.unionByName(df)
    return out


@op(
    "scan_partition_pruned_dynamic",
    sql="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ABS(value) <= 1.7976931348623157e308 AND value >= 0
                         THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                         WHEN ABS(value) <= 1.7976931348623157e308
                         THEN -CAST(FLOOR(-value * 100.0 + 0.5) AS BIGINT)
                    END) AS DOUBLE) / 100 AS sum_value
    FROM events
    WHERE isodow(CAST(ts AS DATE)) IN (6, 7)
    GROUP BY event_type
    """,
)
def scan_partition_pruned_dynamic(spark, sf_dir):
    """DYNAMIC partition pruning — the runtime sibling of
    `sink_partitioned_parquet`'s static pruning, and one of the
    marquee mechanisms a 100 TB date-partitioned fact table lives by:
    when the pruning predicate sits on a JOINED dimension (here a
    derived calendar dimension flagging weekends) rather than on the
    partition column itself, Catalyst injects a dynamicpruning#
    subquery into the fact scan's PartitionFilters, so only the
    partitions whose keys survive the dim filter are ever listed or
    read — decided at RUNTIME from the broadcast dim, not at plan
    time. The invariant test asserts the marker is present in the
    physical plan and that the answer equals the plain predicate
    restatement.

    The calendar dim derives from the partitioned layout's own
    partition values (aggregate-sized — one row per day), flagged by
    day-of-week; the fact side is the hive-partitioned events layout.
    At 100 TB this is exactly the "fact JOIN dim WHERE
    dim.is_weekend" BI query whose scan cost collapses from the full
    table to 2/7ths of it before a single row is read.

    Value totals ride the exact cent-unit BIGINT discipline."""
    fact = read_partitioned_events(spark, sf_dir)
    # derived calendar dim: one row per partition key, weekend flag.
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek:
    # 1=Sunday..7=Saturday — align by subtracting 1 Spark-side.
    dim = (
        fact.select("event_date")
        .distinct()
        .select(
            "event_date",
            ((F.dayofweek("event_date") - 1) % 7).alias("dow"),
        )
        .filter(F.col("dow").isin(0, 6))
        .select("event_date")
    )
    v = finite_or_null("value")
    cents = F.when(
        v >= 0, F.floor(v * 100.0 + F.lit(0.5)).cast("long")
    ).when(v < 0, -F.floor(-v * 100.0 + F.lit(0.5)).cast("long"))
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(cents).cast("double") / 100).alias("sum_value"),
        )
    )
