"""Tiny registrar used by every operator module, and the execution
helpers it owns: ``pin`` (persist a multi-consumer subtree for the
running op) and ``spread`` (lift a single-split scan to the session's
parallelism).

Usage in an operator module::

    QUERIES, ORACLE = {}, {}
    op = registrar(QUERIES, ORACLE)

    @op("agg_groupby", sql="SELECT ...")        # sql -> DuckDB oracle
    def agg_groupby(spark, sf_dir): ...

    @op("stream_dedup")                          # no sql -> rows-only check
    def stream_dedup(spark, sf_dir): ...
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Pin lifecycle. A pin is a persist() of a subtree that several
# consumers of one op's plan read (the pagerank edge list feeds every
# sweep; the triangle `und` feeds four joins; a dedup shingle frame
# feeds sizes and both self-join sides; a fingerprint frame runs its
# kernel once instead of once per band-join side). Pins are never
# unpersisted inside the op: the returned DataFrame is lazy, and its
# caller collects it after the op returns. Instead, every OUTERMOST op
# entry releases each pin whose owning invocation has already
# returned, so a long driver session running many keys holds only the
# pins of ops still running plus the last finished one's, instead of
# accumulating data-sized blocks until GC. Only the outermost entry
# releases, because some ops call others (ts_holt_backtest -> ts_holt)
# and a nested entry must not free its caller's pins. A pin owned by
# an invocation still running on any thread is never released.
# Unpersisting a finished op's pin is safe by construction: persist
# keeps the lineage, so a late re-collect recomputes.
#
# persist(), unlike localCheckpoint, KEEPS the lineage: blocks lost to
# executor failure or memory-pressure eviction are recomputed, and the
# ContextCleaner can reclaim them. Lineage TRUNCATION is wanted only
# where Catalyst re-analysis of a multiplicatively self-referencing
# plan is the cost (dedup._connected_components: a 16-node chain took
# >280 s persisted vs 3.4 s checkpointed); that loop keeps its
# localCheckpoint and is not a pin.
_PIN_LOCK = threading.Lock()
_PINS: list[tuple[object, DataFrame]] = []  # (owning invocation, frame)
_RUNNING: set[object] = set()  # outermost invocations not yet returned
_CURRENT = threading.local()  # .owner: this thread's outermost invocation


def pin(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
    eager: bool = False,
) -> DataFrame:
    """persist ``df`` for the running op; released at the first
    outermost op entry after that op returns. ``level`` defaults to
    persist()'s own; ``eager`` materializes with a count() so every
    consumer starts from the cached relation instead of racing to
    fill it."""
    df = df.persist(level)
    with _PIN_LOCK:
        _PINS.append((getattr(_CURRENT, "owner", None), df))
    if eager:
        df.count()
    return df


def _release_returned() -> None:
    """Unpersist every pin whose owning invocation has returned (a pin
    made outside any op has no running owner)."""
    with _PIN_LOCK:
        done = [df for owner, df in _PINS if owner not in _RUNNING]
        _PINS[:] = [(owner, df) for owner, df in _PINS if owner in _RUNNING]
    for df in done:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Engage the session's full parallelism for a per-row-heavy kernel
    stage. The documents and embeddings fixtures are each one sub-MB
    split at every test SF, so everything upstream of the first
    Exchange (multi-second fingerprint, winnowing, dHash or dot-product
    kernels) otherwise executes as ONE task regardless of core count.
    Scale-adaptive: the target is the session's defaultParallelism and
    the repartition fires only when the scan yields fewer splits than
    that, so at real corpus scale this is a no-op. Hash-partitioning on
    ``key_col`` keeps row placement deterministic (round-robin would
    need its retry-safety sort). Callers must be placement-insensitive
    (row-local, integer-exact or deterministically ranked math); the
    KMeans-backed index builders, whose fits depend on partition
    layout, never use it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key_col)
    return df


def registrar(queries: dict, oracle: dict) -> Callable:
    def op(name: str, sql: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(f"duplicate operator key {name!r}")

            @functools.wraps(fn)
            def run(*args, **kwargs):
                if getattr(_CURRENT, "owner", None) is not None:
                    return fn(*args, **kwargs)
                owner = _CURRENT.owner = object()
                with _PIN_LOCK:
                    _RUNNING.add(owner)
                try:
                    _release_returned()
                    return fn(*args, **kwargs)
                finally:
                    _CURRENT.owner = None
                    with _PIN_LOCK:
                        _RUNNING.discard(owner)

            queries[name] = run
            if sql is not None:
                oracle[name] = sql
            return run

        return deco

    return op
