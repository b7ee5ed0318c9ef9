"""Round-13 optimization-round fixes.

- checkpoint_dir placement: tmpfs is a LOCAL-MASTER-ONLY default (a
  node-local /dev/shm is not shared storage on a cluster — r12 verdict
  item 4), per-uid (multi-user hosts), env-overridable, and cleaned up
  (run_to_table removes its checkpoint at termination; pid-scoped trees
  of dead processes are purged — r12 advice item 2).
- run_to_table state_partitions override: python-stateful keys run at
  STREAM_PY_STATE_PARTITIONS, everything else at the
  STREAM_STATE_PARTITIONS default, and the session conf is restored.
"""

from __future__ import annotations

import os
from unittest import mock

import pytest

from data_webhooks_spark.streaming import core


class _FakeSC:
    def __init__(self, master):
        self.master = master


class _FakeSession:
    def __init__(self, master):
        self.sparkContext = _FakeSC(master)


def _base_with_master(master, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CKPT_BASE", raising=False)
    with mock.patch.object(
        core.SparkSession,
        "getActiveSession",
        staticmethod(lambda: _FakeSession(master)),
    ):
        return core._ckpt_base()


def test_ckpt_base_is_disk_on_non_local_master(monkeypatch):
    """Cluster masters must NOT get the node-local tmpfs default."""
    for master in ("spark://host:7077", "yarn", "k8s://https://host"):
        assert _base_with_master(master, monkeypatch) == (
            f"{core.RUNTIME_DIR}/ckpt"
        )


def test_ckpt_base_is_tmpfs_per_uid_on_local_master(monkeypatch):
    if not os.path.isdir("/dev/shm"):  # pragma: no cover - linux-only
        return
    base = _base_with_master("local[32]", monkeypatch)
    assert base == f"/dev/shm/dws-ckpt-{os.getuid()}"


def test_ckpt_base_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_BASE", "/somewhere/shared")
    with mock.patch.object(
        core.SparkSession,
        "getActiveSession",
        staticmethod(lambda: _FakeSession("spark://host:7077")),
    ):
        assert core._ckpt_base() == "/somewhere/shared"


def test_ckpt_base_no_active_session_falls_back_to_disk(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CKPT_BASE", raising=False)
    with mock.patch.object(
        core.SparkSession, "getActiveSession", staticmethod(lambda: None)
    ):
        assert core._ckpt_base() == f"{core.RUNTIME_DIR}/ckpt"


def test_stale_pid_checkpoint_trees_are_purged(tmp_path):
    """A tree left by a dead process is removed; live-pid and
    non-numeric trees are kept."""
    dead = tmp_path / "999999999"  # pid_max is < 2^22 on linux
    dead.mkdir()
    (dead / "state").write_text("x")
    alive = tmp_path / str(os.getpid())
    alive.mkdir()
    other = tmp_path / "not-a-pid"
    other.mkdir()
    core._purge_stale_pid_dirs(str(tmp_path))
    assert not dead.exists()
    assert alive.exists()
    assert other.exists()


def test_run_to_table_removes_its_checkpoint_and_restores_conf(
    spark, sf_dir, monkeypatch, tmp_path
):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_BASE", str(tmp_path))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    s = core.read_replay_stream(spark, sf_dir)
    out = core.run_to_table(
        s.groupBy("event_type").count(), "complete", state_partitions=2
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    pid_dir = tmp_path / str(os.getpid())
    # the pid dir may remain, but the per-run checkpoint inside it is gone
    leftovers = list(pid_dir.glob("*")) if pid_dir.exists() else []
    assert leftovers == []


# --- r13 session 2: pin lifecycle, _spread, winnowing predicate ---


def test_dedup_pin_lifecycle_releases_previous_invocation(spark, sf_dir):
    """The r12 persist() pins accumulated forever (r12 advice #1); the
    _pin/_fresh_pins tracker must hold at most ONE op's pins resident
    and unpersist the previous invocation's on the next op's entry."""
    from data_webhooks_spark.operators import dedup

    dedup.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    assert dedup._LIVE_PINS, "pinning op must register its pin"
    first = list(dedup._LIVE_PINS)
    dedup.QUERIES["dedup_containment"](spark, sf_dir)
    # previous invocation's pins were released and replaced
    # (is_cached, not storageLevel: the jdf keeps reporting the old
    # level after unpersist on Spark 4.1)
    assert all(p.is_cached is False for p in first)
    assert len(dedup._LIVE_PINS) >= 1
    assert all(p not in first for p in dedup._LIVE_PINS)
    dedup._fresh_pins()
    assert dedup._LIVE_PINS == []


def test_spread_engages_session_parallelism(spark, sf_dir):
    """documents.parquet is a single split at fixture SFs, so heavy
    per-row kernels ran as ONE task; _spread must lift the stage to the
    session's defaultParallelism — and must be a NO-OP when the input
    already has at least that many partitions (the 100 TB case)."""
    from data_webhooks_spark.io import Tables
    from data_webhooks_spark.operators.dedup import _spread

    docs = Tables(spark, sf_dir).documents
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target + 7, "doc_id")
    assert _spread(wide) is wide  # already-parallel input untouched
    if target <= docs.rdd.getNumPartitions():
        pytest.skip(
            f"defaultParallelism={target} <= the fixture's "
            f"{docs.rdd.getNumPartitions()} partition(s): nothing to lift"
        )
    assert _spread(docs).rdd.getNumPartitions() == target


def test_winnowing_exists_form_matches_array_min_form(spark):
    """The r13 short-circuit predicate (NOT exists(window, x -> x < h))
    must select exactly the positions the array_min form selected,
    including ties and document edges, on adversarial hash arrays."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = []
    for i in range(60):
        n = rng.randint(1, 40)
        # small alphabet forces frequent ties; include constant runs
        hs = [rng.choice("aabbc") * 2 for _ in range(n)]
        if i % 5 == 0:
            hs = ["aa"] * n  # all-tie document: every position selects
        rows.append((i, hs))
    df = spark.createDataFrame(rows, "doc_id long, hs array<string>")
    W = 7
    lo = lambda p: F.greatest(p - W, F.lit(1))  # noqa: E731
    hi = lambda p: F.least(p + W, F.size(F.col("hs")))  # noqa: E731
    old = F.filter(
        F.sequence(F.lit(1), F.size(F.col("hs"))),
        lambda p: F.element_at(F.col("hs"), p)
        == F.array_min(F.slice(F.col("hs"), lo(p), hi(p) - lo(p) + 1)),
    )
    new = F.filter(
        F.sequence(F.lit(1), F.size(F.col("hs"))),
        lambda p: ~F.exists(
            F.slice(F.col("hs"), lo(p), hi(p) - lo(p) + 1),
            lambda x: x < F.element_at(F.col("hs"), p),
        ),
    )
    bad = df.filter(old.alias("a") != new.alias("b")).count()
    assert bad == 0
