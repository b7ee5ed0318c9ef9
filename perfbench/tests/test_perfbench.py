"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests run every workload at scale 0.001 through run.py (about
a minute each) and need root for the private mount namespace.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import hermetic  # noqa: E402
import stats  # noqa: E402
import run  # noqa: E402
from run import WORKLOADS  # noqa: E402

SPEC = run.load_spec(CHECKOUT)


def test_tail_takes_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(list(range(1000))) == (99.0, 989.0, 1000)
    # 100 samples: p95 has only 5 beyond it, p90 has 10
    assert stats.tail(list(range(100))) == (90.0, 89.0, 100)
    assert stats.tail(list(range(25)), wanted=99.0) == (50.0, 12.0, 25)
    assert stats.tail([1.0] * 5) == (0.0, 0.0, 5)


def test_percentile_is_nearest_rank():
    assert stats.percentile([5, 1, 3, 2, 4], 50) == 3
    assert stats.percentile([5, 1, 3, 2, 4], 100) == 5
    assert stats.percentile([7], 1) == 7


def test_an_offset_is_carried_by_the_first_commit_covering_it():
    # end offsets are exclusive: a batch ending at 3 holds offsets 0..2;
    # the second batch read nothing new
    ends = [3, 3, 7]
    assert stats.carrying_batch([0, 2, 3, 6, 7], ends) == [0, 0, 2, 2, None]
    assert stats.carrying_batch([0], []) == [None]


def test_backlog_counts_acked_but_uncommitted():
    ack_times = [0.1, 0.2, 0.3, 1.5, 1.6]
    commits = [(1.0, 2), (2.0, 5)]
    assert stats.backlog(ack_times, commits) == [1, 0]


def test_self_time_subtracts_direct_children_only():
    tr = stats.Tracer(True)
    tr.add("pass", "bench", 0.0, 10.0)
    tr.add("query", "bench", 1.0, 9.0, parent=0)
    tr.add("build", "operators", 1.0, 3.0, parent=1)
    tr.add("collect", "collect", 3.0, 8.5, parent=1)
    assert stats.self_times(tr.spans) == pytest.approx([2.0, 0.5, 2.0, 5.5])
    by_layer = stats.self_time_by_layer(tr.spans)
    assert by_layer == pytest.approx({"bench": 2.5, "operators": 2.0, "collect": 5.5})
    assert sum(by_layer.values()) == pytest.approx(10.0)


def test_tracer_nests_and_disabled_tracer_records_nothing():
    tr = stats.Tracer(True)
    with tr.span("outer", "bench"):
        with tr.span("inner", "collect"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.end >= s.start for s in tr.spans)
    off = stats.Tracer(False)
    with off.span("outer", "bench") as s:
        assert s is None
    assert off.spans == []


def test_snapshot_diff_sees_content_and_new_paths(tmp_path):
    (tmp_path / "a").write_text("x")
    before = hermetic.snapshot(str(tmp_path))
    assert hermetic.diff(before, hermetic.snapshot(str(tmp_path))) == []
    (tmp_path / "a").write_text("xy")
    (tmp_path / "d").mkdir()
    changes = hermetic.diff(before, hermetic.snapshot(str(tmp_path)))
    assert any(c.startswith("a:") for c in changes)
    assert any(c.startswith("d:") for c in changes)


def test_a_metric_the_run_did_not_report_is_missing_unless_not_applicable():
    res = {"e2e": {"setup_s": 1.0, "result_ms": 2.0}, "layer": {"pass_s": 3.0}}
    shown, missing = run.metrics(SPEC, "batch", res, trace=True)
    assert shown["pass_s"]["value"] == 3.0
    assert shown["traced.result_ms"]["value"] == 2.0
    assert shown["max_rate_eps"]["value"] == 0
    assert "max_rate_eps" not in missing  # batch has no webhook edge
    assert "build.s" in missing
    _, missing = run.metrics(SPEC, "webhook-ingest", res, trace=True)
    assert "max_rate_eps" in missing
    shown, missing = run.metrics(SPEC, "batch", res, trace=False)
    assert list(shown) == ["setup_s", "result_ms"] and missing == []


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


needs_root = pytest.mark.skipif(
    os.geteuid() != 0 or shutil.which("unshare") is None,
    reason="the run needs root and unshare for its mount namespace",
)


@needs_root
@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_workload_leaves_the_checkout_unchanged(workload, trace):
    before = hermetic.snapshot(CHECKOUT)
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert hermetic.diff(before, hermetic.snapshot(CHECKOUT)) == []
