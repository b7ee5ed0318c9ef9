"""SparkSession construction and runtime tuning.

Two paths:

- ``get_spark()``: our own session (tests, bench) — local[*] with the
  full config set applied at build time.
- ``tune(spark)``: the driver hands ``queries()`` callables an
  externally-built session; ``tune`` applies the subset of configs that
  are runtime-settable (timezone, AQE, shuffle partitions, Arrow) so
  correctness-critical settings hold regardless of who built the session.

Correctness-critical settings (SURVEY.md §5.3):
- ``spark.sql.session.timeZone=UTC`` — the DuckDB oracle treats the
  tz-naive fixture timestamps as wall-clock; Spark must agree.

Scale notes (100 TB design): AQE is the load-bearing setting — runtime
shuffle-partition coalescing, skew-join splitting, and
broadcast-demotion all come from it. ``shuffle.partitions`` here is a
small-SF default; on a real cluster it should be ~2-3x total cores and
AQE coalesces down.

Checkpoint I/O (``get_spark`` only): Spark's streaming offset and commit
logs, state stores and file-sink metadata logs write through a Hadoop
``FileContext``. pip PySpark ships no libhadoop, so the stock ``file:``
FileContext forks ``chmod``/``ls``/``readlink`` about ten times per
checkpoint file. ``get_spark`` compiles ``jvm/NioLocalFs.java`` (same
files, modes and ``.crc`` sidecars, no forks), puts it on the driver
classpath and makes it the ``file:`` FileContext. ``fs.file.impl`` (parquet
I/O) stays stock. Without ``javac``, or when this process's JVM already
runs without the classes, the stock FileContext stays and one warning is
logged; ``tune`` cannot change a running JVM's classpath.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess

from collections.abc import Callable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable on an existing session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores ts as parquet TIMESTAMP(NANOS), which Spark
    # has no native type for — read as epoch-ns long, convert in io.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Small-SF default; AQE coalesces post-shuffle partitions anyway.
    "spark.sql.shuffle.partitions": "32",
    # Runtime bloom-filter semi-join reduction (Spark 3.3+, on by
    # default but gated behind thresholds tuned for clusters: creation
    # side <10 MB AND application-side scan >10 GB, so it never fires
    # at bench scale). Widen both gates so a selective dimension/filter
    # side prunes a big fact scan before the shuffle — the lever behind
    # the multi-big-table join keys (tpch_q5/join_multiway) at x100,
    # measured in BASELINE.md. The 200 MB application floor keeps every
    # sf<=0.1 plan bloom-free (zero overhead, stable plan tests); on a
    # real 100 TB cluster the stock 10 GB floor fires on its own.
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "256MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "200MB",
}

# Only settable at session build time.
BUILD_CONFS: dict[str, str] = {
    # Single-file-per-table fixtures: don't over-split tiny inputs.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; best effort
    return spark


@contextlib.contextmanager
def shuffle_partitions(
    spark: SparkSession, n: int | Callable[[int], int]
) -> Iterator[None]:
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``
    (or to ``n(current)``) and restore the prior value on exit, also
    when the block raises. The setting is session-wide and read when a
    query is planned, so the block must cover every planning it should
    apply to: for a streaming query that is ``start()`` (the query
    plans against a clone of the session taken there), plus, for a
    ``foreachBatch`` body that queries the outer session, everything
    up to termination."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n(int(prev)) if callable(n) else n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


LOCAL_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFs.java")
LOCAL_FS_CLASS = "data_webhooks_spark.jvm.NioLocalFs"


@functools.cache
def _warn_stock_local_fs(why: str) -> None:
    logging.getLogger(__name__).warning(
        "checkpoint I/O keeps the stock file: FileContext (%s); it forks ~10 processes per checkpoint file", why
    )


@functools.cache
def _local_fs_classes() -> str | None:
    """Class directory of LOCAL_FS_SOURCE, compiled once per fingerprint of
    the source and the Hadoop API jar the session's JVM will load (that of
    the Spark home pyspark launches: $SPARK_HOME, else the pip bundle);
    None without javac."""
    from pyspark.find_spark_home import _find_spark_home

    from .io import derived, source_fingerprint
    from .streaming.core import RUNTIME_DIR

    javac = shutil.which("javac")
    api = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or len(api) != 1:
        _warn_stock_local_fs("no javac" if javac is None else "no single hadoop-client-api jar")
        return None
    with open(LOCAL_FS_SOURCE, "rb") as f:
        fingerprint = f"{hashlib.sha256(f.read()).hexdigest()};{source_fingerprint(api[0])}"
    out = f"{RUNTIME_DIR}/jvm/{hashlib.sha256(fingerprint.encode()).hexdigest()[:16]}"

    def compile_into(tmp: str) -> None:
        # --release 17: Spark 4's minimum JVM, whatever JDK javac comes from
        subprocess.run(
            [javac, "--release", "17", "-cp", api[0], "-d", tmp, LOCAL_FS_SOURCE],
            check=True,
            capture_output=True,
        )

    try:
        return derived(out, fingerprint, compile_into)
    except subprocess.CalledProcessError as e:
        _warn_stock_local_fs(f"javac failed: {e.stderr.decode(errors='replace').strip()}")
        return None


def _local_fs_confs() -> dict[str, str]:
    """The classpath entry and the FileContext conf, always as a pair."""
    classes = _local_fs_classes()
    if classes is None:
        return {}
    if SparkContext._jvm is not None:  # the JVM outlives stop(): its classpath is fixed
        try:
            SparkContext._jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Py4JJavaError:
            _warn_stock_local_fs("this process's JVM started without it")
            return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS_CLASS,
    }


def get_spark(app_name: str = "data-webhooks-spark") -> SparkSession:
    """Build (or reuse) a local session with the full config set."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**BUILD_CONFS, **_local_fs_confs(), **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)
