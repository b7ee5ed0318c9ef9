"""Round-13 optimization-round fixes.

- checkpoint_dir placement: tmpfs is a LOCAL-MASTER-ONLY default (a
  node-local /dev/shm is not shared storage on a cluster — r12 verdict
  item 4), per-uid (multi-user hosts), env-overridable, and cleaned up
  (run_to_table removes its checkpoint at termination; pid-scoped trees
  of dead processes are purged — r12 advice item 2).
- run_to_table/drain state_partitions override: python-stateful keys run at
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


# --- r13: pin lifecycle, spread, winnowing predicate ---


def _live_pins():
    from data_webhooks_spark import regutil

    return [df for _, df in regutil._PINS]


def test_dedup_pin_lifecycle_releases_previous_invocation(spark, sf_dir):
    """The r12 persist() pins accumulated forever (r12 advice #1); the
    registrar's pin tracker must hold at most ONE finished op's pins
    resident and unpersist them on the next op's entry."""
    from data_webhooks_spark import regutil
    from data_webhooks_spark.operators import dedup

    dedup.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    assert _live_pins(), "pinning op must register its pin"
    first = _live_pins()
    dedup.QUERIES["dedup_containment"](spark, sf_dir)
    # previous invocation's pins were released and replaced
    # (is_cached, not storageLevel: the jdf keeps reporting the old
    # level after unpersist on Spark 4.1)
    assert all(p.is_cached is False for p in first)
    assert len(_live_pins()) >= 1
    assert all(p not in first for p in _live_pins())
    regutil._release_returned()
    assert _live_pins() == []


def test_running_ops_pin_survives_another_threads_op_entry(spark):
    """A pin belongs to its op's invocation: another thread entering an
    op while that invocation still runs must not unpersist it (a
    module-global release-everything tracker does), and the first op
    entry after the owner returns must."""
    import threading

    from data_webhooks_spark import regutil

    op = regutil.registrar({}, {})
    pinned, entered, resume = [], threading.Event(), threading.Event()

    @op("pins_and_waits")
    def pins_and_waits(spark, sf_dir):
        pinned.append(regutil.pin(spark.range(10)))
        entered.set()
        resume.wait(60)
        return pinned[0]

    @op("noop")
    def noop(spark, sf_dir):
        return spark.range(1)

    a = threading.Thread(target=pins_and_waits, args=(spark, None))
    a.start()
    try:
        assert entered.wait(60)
        b = threading.Thread(target=noop, args=(spark, None))
        b.start()
        b.join(60)
        assert not b.is_alive()
        assert pinned[0].is_cached
    finally:
        resume.set()
        a.join(60)
    assert not a.is_alive()
    assert pinned[0].is_cached  # nothing has entered an op since A returned
    noop(spark, None)
    assert not pinned[0].is_cached
    assert all(p is not pinned[0] for p in _live_pins())


class _FakeFrame:
    """Just the DataFrame surface pin() and release touch."""

    is_cached = False

    def persist(self, *level):
        self.is_cached = True
        return self

    def unpersist(self):
        self.is_cached = False
        return self


def test_pin_tracker_under_thread_contention():
    """More threads than cores pin and enter ops concurrently with a
    short switch interval: no op ever loses a pin while it runs, and no
    pin is lost from the tracker (all are released afterwards)."""
    import sys
    import threading

    from data_webhooks_spark import regutil

    op = regutil.registrar({}, {})
    made, lost = [], []

    @op("pins_many")
    def pins_many(spark, sf_dir):
        mine = [regutil.pin(_FakeFrame()) for _ in range(5)]
        made.extend(mine)
        if not all(f.is_cached for f in mine):
            lost.append(mine)

    def worker():
        for _ in range(200):
            pins_many(None, None)

    n_threads = (os.cpu_count() or 1) + 4
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert lost == []
    regutil._release_returned()
    assert _live_pins() == []
    assert len(made) == n_threads * 200 * 5
    assert not any(f.is_cached for f in made)


def test_nested_op_entry_keeps_callers_pins(spark):
    """Only the outermost entry releases: an op calling another op must
    not free the pins it made before the call."""
    from data_webhooks_spark import regutil

    op = regutil.registrar({}, {})

    @op("inner")
    def inner(spark, sf_dir):
        return spark.range(1)

    @op("outer")
    def outer(spark, sf_dir):
        df = regutil.pin(spark.range(5))
        inner(spark, sf_dir)
        assert df.is_cached
        return df

    df = outer(spark, None)
    assert df.is_cached
    regutil._release_returned()
    assert not df.is_cached


def test_spread_engages_session_parallelism(spark, sf_dir):
    """documents.parquet is a single split at fixture SFs, so heavy
    per-row kernels ran as ONE task; spread must lift the stage to the
    session's defaultParallelism — and must be a NO-OP when the input
    already has at least that many partitions (the 100 TB case)."""
    from data_webhooks_spark.io import Tables
    from data_webhooks_spark.regutil import spread

    docs = Tables(spark, sf_dir).documents
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target + 7, "doc_id")
    assert spread(wide, "doc_id") is wide  # already-parallel input untouched
    if target <= docs.rdd.getNumPartitions():
        pytest.skip(
            f"defaultParallelism={target} <= the fixture's "
            f"{docs.rdd.getNumPartitions()} partition(s): nothing to lift"
        )
    assert spread(docs, "doc_id").rdd.getNumPartitions() == target


def test_shuffle_partitions_scope_restores_when_body_raises(spark):
    """A failing start() inside the scope must not leave the session
    narrowed (the webhook source once restored outside any try)."""
    from data_webhooks_spark.session import shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with shuffle_partitions(spark, 3):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("start() failed")
    assert spark.conf.get(key) == prev
    with shuffle_partitions(spark, lambda cur: cur + 1):
        assert spark.conf.get(key) == str(int(prev) + 1)
    assert spark.conf.get(key) == prev


def test_scratch_dir_is_pid_scoped_under_runtime_dir():
    a, b = core.scratch_dir("rollup"), core.scratch_dir("rollup")
    mine = f"{core.RUNTIME_DIR}/rollup/{os.getpid()}"
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == mine
    assert mine in core._CLEANUP_REGISTERED


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
