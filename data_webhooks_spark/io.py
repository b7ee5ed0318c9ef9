"""Fixture table loaders, and the lifecycle of what the engine writes
and reads back.

``Tables(spark, sf_dir)`` gives lazy attribute access to each fixture
table as a DataFrame (``t.lineitem``, ``t.orders``, ...).

Every parquet re-read, of a fixture or of a layout the engine wrote,
goes through ``read_parquet``: ``spark.read.schema(s).parquet`` with
the inferred schema ``s`` memoized per source files and reader confs
(``inferred_schema``). Inferring a parquet schema runs a Spark job, so
without the memo every read would launch one. Supplying the schema
Spark would infer changes nothing in the plan, so Catalyst keeps full
pushdown/pruning freedom — filters and projections expressed
downstream reach the scan (PushedFilters / ReadSchema in .explain).

Every artifact derived from the fixtures (replay chunks, JSONL/CSV
twins, layouts, index codebooks and codes, the compiled checkpoint
FileContext) is built once by ``derived``: keyed on the
``source_fingerprint`` of what it reads, built into a temp sibling and
renamed into place, so a crash never leaves a partial artifact.

At 100 TB the same loader works against a partitioned table layout
(e.g. events partitioned by date(ts)); nothing here assumes a single
file.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schemas import TABLE_NAMES
from .session import tune

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def duck_parquet_src(path: str) -> str:
    """DuckDB ``read_parquet`` target for one fixture table. The
    driver's fixtures are single files; the scale sweep's amplified
    tables are DIRECTORIES of part files (multi-split, like any real
    table). Spark reads both transparently; DuckDB needs a glob for
    the directory form — route every DuckDB derivation/oracle site
    through here so both layouts work."""
    return path if os.path.isfile(path) else f"{path}/*.parquet"


def source_fingerprint(*paths: str) -> str:
    """Identity of derivation inputs: realpath + size + mtime per
    source. Derived artifacts (replay chunks, JSONL twins, layouts,
    index codes) are keyed on THIS (see ``derived``), not on the
    fixture dir's basename — two different fixtures can share a
    basename (pytest tmp dirs repeat across runs), and silently reusing
    a stale derivation is a silent-wrong-answer class of bug."""

    def one(p: str) -> str:
        st = os.stat(p)
        return f"{os.path.realpath(p)}:{st.st_size}:{st.st_mtime_ns}"

    return ";".join(one(p) for p in paths)


_MARKER = ".complete"


def derived(out: str, fingerprint: str, build: Callable[[str], object]) -> str:
    """Build-once artifact: ``out`` holding what ``build`` derives from
    the inputs ``fingerprint`` identifies (see source_fingerprint).

    If ``out/.complete`` holds ``fingerprint``, ``out`` is returned as
    it is. Otherwise ``build(tmp)`` fills a fresh temp sibling of
    ``out``, the marker is written into it, a stale ``out`` is removed
    and the temp dir is renamed into place. A crash therefore never
    leaves a partial ``out``, and a concurrent builder that loses the
    rename discards its copy."""
    if _holds(out, fingerprint):
        return out
    parent, name = os.path.split(out)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}-", dir=parent)
    try:
        build(tmp)
        with open(f"{tmp}/{_MARKER}", "w") as f:
            f.write(fingerprint + "\n")
        if not _holds(out, fingerprint):
            shutil.rmtree(out, ignore_errors=True)
            try:
                os.rename(tmp, out)
            except OSError:
                if not _holds(out, fingerprint):
                    raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone once renamed
    return out


def _holds(out: str, fingerprint: str) -> bool:
    try:
        with open(f"{out}/{_MARKER}") as f:
            return f.read().strip() == fingerprint
    except OSError:
        return False


# The parquet reader confs that change what schema inference returns
# for the same file (nanos as LongType, TIMESTAMP vs TIMESTAMP_NTZ,
# BINARY vs STRING, INT96 as timestamp): part of the memo key, so a
# session with other values infers afresh.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# (source_fingerprint, *conf values) -> inferred schema. Two threads
# that miss together both infer and store equal schemas.
_SCHEMAS: dict[tuple, StructType] = {}


def inferred_schema(spark: SparkSession, *paths: str) -> StructType:
    """The schema ``spark.read.parquet(*paths)`` infers, inferred once
    per source identity (realpath, size, mtime of each path: a file
    rewritten in place, or a derived dir rebuilt, misses) and per
    session value of the inference confs."""
    try:
        fingerprint = source_fingerprint(*paths)
    except OSError:  # not a local path: Spark resolves (or rejects) it
        return spark.read.parquet(*paths).schema
    key = (fingerprint, *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(*paths).schema
    return schema


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the memoized inferred schema:
    the same DataFrame and plan, without an inference job per call."""
    return spark.read.schema(inferred_schema(spark, *paths)).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLE_NAMES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    return _normalize_events(df) if name == "events" else df


def _normalize_events(raw: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP_NTZ regardless of fixture vintage.

    Fixture generations have stored ``ts`` differently:

    - parquet TIMESTAMP(NANOS): Spark has no native nanos type; with
      ``spark.sql.legacy.parquet.nanosAsLong`` (set by session.tune) it
      reads as epoch-nanos LongType, which we truncate to µs exactly
      like DuckDB's TIMESTAMP_NS -> TIMESTAMP cast (integer floor-div;
      fixtures are post-epoch so floor == truncate).
    - parquet timestamp[us] (current): reads natively as TIMESTAMP_NTZ
      (or TIMESTAMP depending on reader config) — pass through, casting
      to TIMESTAMP_NTZ for a stable schema.

    Sniffing the materialized type (instead of assuming one vintage)
    keeps every events-dependent operator working across fixture
    regenerations; tests/test_fixtures.py guards the admissible set.
    ``raw`` is read with the memoized inferred schema, which is keyed on
    nanosAsLong, so the sniffed type follows that conf.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(raw.schema["ts"].dataType, LongType):
        # epoch-nanos via nanosAsLong → truncate to µs
        return raw.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    # native timestamp (µs) — normalize to NTZ; no-op if already NTZ
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


class Tables:
    """Lazy accessor: ``Tables(spark, sf).lineitem`` -> DataFrame.

    Also applies runtime session tuning (UTC tz, AQE) on construction so
    every queries() callable is correctness-safe regardless of how the
    SparkSession was built.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = tune(spark)
        self.sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return load_table(self.spark, self.sf_dir, name)
        raise AttributeError(name)
