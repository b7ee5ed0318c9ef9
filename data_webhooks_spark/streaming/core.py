"""Streaming test/replay plumbing.

- ``replay_dir``: deterministic 4-chunk file replay of the events
  fixture (DuckDB-derived, ts-ordered; ``late=True`` displaces a fixed
  ~3% of rows one chunk later to exercise watermark/late-data paths
  deterministically — SURVEY §5.2.2). Chunk mtimes increase with chunk
  id so Spark's file source replays them in order with
  maxFilesPerTrigger=1 (one micro-batch per chunk).
- ``read_replay_stream``: readStream with the explicit chunk schema.
- ``drain``: run a configured streaming writer to completion
  (availableNow) on a fresh, self-removing checkpoint, with state
  partitions narrowed for the run; ``run_to_table`` is its memory-sink
  case and returns the result table.
- ``scratch_dir``: a fresh directory for an operator's own store,
  removed with this process's tree at exit.

Chunks, stores and disk checkpoints live under ``RUNTIME_DIR``
(gitignored). Fresh checkpoint + fresh sink name per run keeps every
invocation a full, deterministic replay.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid

import duckdb

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..io import derived, duck_parquet_src, source_fingerprint
from ..session import shuffle_partitions

RUNTIME_DIR = "/root/repo/.runtime"

# Chunks are written by DuckDB with µs timestamps — no nanos quirk on
# the streaming path. ts is TIMESTAMP (not NTZ): watermarks require it;
# the session timezone is pinned UTC so wall-clock matches the NTZ
# batch reads, and outputs cast window bounds back to NTZ for hashing.
REPLAY_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
N_CHUNKS = 4


def replay_dir(sf_dir: str, late: bool = False, late_by: int = 1) -> str:
    sfname = os.path.basename(sf_dir.rstrip("/"))
    kind = ("late" if late_by == 1 else f"late{late_by}") if late else "ordered"
    return derived(
        f"{RUNTIME_DIR}/stream/{sfname}/{kind}",
        source_fingerprint(f"{sf_dir}/events.parquet"),
        lambda out: _write_chunks(sf_dir, late, late_by, out),
    )


def _write_chunks(sf_dir: str, late: bool, late_by: int, out: str) -> None:
    con = duckdb.connect()
    # chunk = ts-quartile; late variant demotes event_id%37==0 rows
    # late_by chunks (deterministic late arrivals), capped at the last
    # chunk. Note Spark's late-row filter lags eviction by one batch
    # (tests/test_streaming_semantics.py), so late_by=1 rows are never
    # dropped — use late_by>=2 to exercise actual watermark drops.
    late_expr = (
        f"LEAST(chunk + CASE WHEN event_id % 37 = 0 THEN {late_by} ELSE 0 END, "
        f"{N_CHUNKS})" if late else "chunk"
    )
    con.execute(
        f"""
        CREATE TEMP TABLE chunked AS
        SELECT *, {late_expr} AS final_chunk FROM (
            SELECT event_id, ts, user_id, event_type, value, props,
                   ntile({N_CHUNKS}) OVER (ORDER BY ts, event_id) AS chunk
            FROM read_parquet('{duck_parquet_src(f'{sf_dir}/events.parquet')}')
        )
        """
    )
    base = 1_700_000_000
    for i in range(1, N_CHUNKS + 1):
        path = f"{out}/chunk_{i}.parquet"
        con.execute(
            f"""
            COPY (SELECT event_id, ts, user_id, event_type, value, props
                  FROM chunked WHERE final_chunk = {i}
                  ORDER BY ts, event_id)
            TO '{path}' (FORMAT PARQUET)
            """
        )
        os.utime(path, (base + i, base + i))  # replay order == chunk order
    con.close()


def read_replay_stream(
    spark: SparkSession,
    sf_dir: str,
    late: bool = False,
    files_per_trigger: int = 1,
    late_by: int = 1,
) -> DataFrame:
    path = replay_dir(sf_dir, late=late, late_by=late_by)
    return (
        spark.readStream.schema(REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


# Replay checkpoints are ephemeral BY DESIGN: every drain gets a
# fresh uuid dir and no query ever resumes from it (kill/resume tests
# manage their own persistent checkpoints explicitly). On a local master
# they go to tmpfs, per-uid so multi-user hosts don't fight over one
# world-shared dir (r12 advice). The tmpfs move (r12) took checkpoint
# I/O for the fixed per-micro-batch cost; the cost was process creation.
# Without libhadoop the stock file: FileContext forks chmod, ls -ld and
# readlink ~10 times per checkpoint file, about 100 child processes per
# webhook-ingest micro-batch, on tmpfs as on disk. get_spark's fork-free
# FileContext (jvm/NioLocalFs.java, see session.py) cut that batch's
# walCommit 36 -> 4 ms, commitOffsets 37 -> 3 ms and state commit
# 385 -> 33 ms summed over its 4 stores (triggerExecution 397 -> 238 ms;
# medians of 3 traced pairs, 1 s trigger, 500 ev/s, 4-vCPU VM).
# tmpfs ONLY when the session master is local (r12 verdict item 4): on
# a cluster a node-local /dev/shm path is not shared storage, so driver
# and executors would each see a different directory and state-store
# recovery breaks; the non-local default stays on the repo-local disk
# path. A real deployment needs durable checkpoints for exactly-once
# recovery — point SPARK_GRAFT_CKPT_BASE at shared storage there (the
# env always wins).


def _ckpt_base() -> str:
    env = os.environ.get("SPARK_GRAFT_CKPT_BASE")
    if env:
        return env
    try:
        spark = SparkSession.getActiveSession()
        master = spark.sparkContext.master if spark is not None else ""
    except Exception:  # Connect-only session or context already stopped
        master = ""
    if master.startswith("local") and os.path.isdir("/dev/shm"):
        return f"/dev/shm/dws-ckpt-{os.getuid()}"
    return f"{RUNTIME_DIR}/ckpt"


_CLEANUP_REGISTERED: set[str] = set()


def _purge_stale_pid_dirs(base: str) -> None:
    """Remove trees left by DEAD processes (a crashed run never reaches
    its atexit hook; on tmpfs the leak is RAM — r12 advice). Only
    numeric (pid-named) children are touched."""
    try:
        children = os.listdir(base)
    except OSError:
        return
    for name in children:
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            os.kill(int(name), 0)  # raises if the pid is gone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except (OSError, OverflowError):
            pass  # alive but not ours, not permitted, or not a pid


def _fresh_under(base: str) -> str:
    """Fresh path under ``base/<pid>/``: this process's whole tree is
    removed at exit, and trees of dead processes are purged on first
    use."""
    mine = f"{base}/{os.getpid()}"
    if mine not in _CLEANUP_REGISTERED:
        _purge_stale_pid_dirs(base)
        atexit.register(shutil.rmtree, mine, ignore_errors=True)
        _CLEANUP_REGISTERED.add(mine)
    return f"{mine}/{uuid.uuid4().hex}"


def checkpoint_dir() -> str:
    """Fresh ephemeral checkpoint dir (see _fresh_under). drain
    additionally removes its own dir as soon as the query
    terminates."""
    return _fresh_under(_ckpt_base())


def scratch_dir(kind: str) -> str:
    """Fresh store dir under ``RUNTIME_DIR/kind`` for an operator whose
    lazy result reads it after the operator returns, so it must live
    until this process exits (see _fresh_under)."""
    return _fresh_under(f"{RUNTIME_DIR}/{kind}")


# Stateful streaming operators create one state-store instance per
# shuffle partition per micro-batch, and each store commits a delta file
# every batch. 4 partitions fit the local fixture scale (measured 3.8s
# -> 2.0s on the tumbling agg at sf0.1) when a store commit cost ~100 ms,
# nearly all of it the stock file: FileContext's forks (see _ckpt_base).
# With get_spark's fork-free FileContext a store commit costs ~8 ms, so
# this value and STREAM_PY_STATE_PARTITIONS were tuned against a cost
# that is mostly gone; re-tuning both is open (ROADMAP items 4 and 5).
# At cluster scale, state partitions must instead scale with key
# cardinality x executor count (drain's ``state_partitions``).
# Checkpoints here are fresh per run, so the partition count never
# conflicts with a prior checkpoint's.
STREAM_STATE_PARTITIONS = 4

# applyInPandasWithState keys invert the trade (r13 A/B): their
# per-batch cost is PYTHON-side per-group work (state (de)serialization
# + a 1-row pandas frame per user), which parallelizes across workers,
# so more state partitions win where the JVM-stateful aggregates lose
# to per-store commit overhead — measured while that overhead was still
# the forking stock FileContext. Measured best-of-3 noop at sf0.1 over
# {4, 8, 16, 32} partitions: stream_funnel 5.45/4.24/3.57/5.58 s,
# stream_stateful 3.96/2.97/2.63/3.23 s, stream_custom_state
# 4.94/3.07/3.21/3.05 s — 16 is the local[32] sweet spot, while the
# JVM-stateful keys regress there (tumbling 1.46 -> 2.10 s, session
# 2.74 -> 3.65 s), hence the per-call override rather than one global.
# At cluster scale both values scale with cores.
STREAM_PY_STATE_PARTITIONS = 16


def drain(
    writer: DataStreamWriter, state_partitions: int | None = None
) -> None:
    """Run ``writer``'s query to completion under an availableNow
    trigger on a fresh checkpoint, removed once the query terminates
    (nothing ever resumes from it). Shuffle partitions are
    ``state_partitions`` (default STREAM_STATE_PARTITIONS) from start()
    to termination, which also covers foreachBatch bodies that query
    the outer session."""
    ckpt = checkpoint_dir()
    writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
    try:
        with shuffle_partitions(
            writer._spark, state_partitions or STREAM_STATE_PARTITIONS
        ):
            writer.start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_table(
    sdf: DataFrame,
    output_mode: str = "append",
    extra_options: dict | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a fresh memory sink and return
    the materialized result as a batch DataFrame."""
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    writer = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    for k, v in (extra_options or {}).items():
        writer = writer.option(k, v)
    drain(writer, state_partitions)
    return sdf.sparkSession.table(name)
