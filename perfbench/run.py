"""perfbench: the repo's benchmark, one workload per invocation.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout, as root (the run needs a private mount
namespace; see hermetic.py). It snapshots the checkout, runs the
workload in a child process inside the namespace, checks that the
checkout is unchanged, and prints as its last stdout line

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer ones for
``--trace 1``. The line before it is a JSON record of host stamps, the
oracle verdicts and sample counts. ``--out DIR`` additionally writes the
full record, spans included, to DIR after the checkout check; pick a
directory outside the checkout. Metric names and units come from
BENCHMARK.json; their definitions are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import collections
import ctypes
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout must stay byte-for-byte as found

import hermetic  # noqa: E402

WORKLOADS = ("batch", "webhook-ingest")
DEFAULT_SCALE = "0.01"
DEADLINE_S = 170.0
PR_SET_PDEATHSIG = 1

# per-layer metrics of layers a workload does not exercise: reported as 0
NOT_APPLICABLE = {
    "batch": {
        *(f"stream.{m}" for m in ("batches", "trigger_ms", "add_batch_ms", "planning_ms",
                                  "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
                                  "input_rows")),
        "state.rows_total", "state.commit_ms", "state.memory_bytes",
        "edge.accepted", "edge.rejected_429", "edge.errors", "edge.accept_ratio",
        "edge.backlog_events", "gen.late_ms", "ack_p50_ms", "ack_p99_ms",
        "visible_p50_ms", "visible_p99_ms", "max_rate_eps",
        "self.streaming_s", "self.webhook_s",
    },
    # coverage is build plus collect over a closed-loop pass
    "webhook-ingest": {"trace.span_coverage"},
}


def load_spec(checkout: str) -> dict:
    """Metric names and units come from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def metrics(spec: dict, workload: str, res: dict, trace: bool) -> tuple[dict, list[str]]:
    """The metrics to print, and the names of those the run did not
    report although they apply to the workload."""
    if not trace:
        flat = res["e2e"]
        wanted = spec["end_to_end"]
    else:
        flat = dict(res["layer"])
        for layer, t in flat.pop("self", {}).items():
            flat[f"self.{layer}_s"] = t
        for k, v in res["e2e"].items():
            flat[f"traced.{k}"] = v
        wanted = spec["per_layer"]
    out, missing = {}, []
    for m in wanted:
        name = m["name"]
        if name not in flat and name not in NOT_APPLICABLE[workload]:
            missing.append(name)
        out[name] = {"value": flat.get(name, 0), "unit": m["unit"]}
    return out, missing


def _die_with_parent() -> None:
    """In the forked child: take SIGKILL when run.py dies. ``unshare``
    ignores SIGTERM while it waits, and SIGKILL on it reaches the whole
    namespace through ``--kill-child``."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def run_child(cmd: list[str], deadline: float) -> tuple[int | None, str, list[str]]:
    """Run the child; keep its stdout and the tail of its stderr."""
    proc = subprocess.Popen(
        cmd,
        cwd="/",
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        preexec_fn=_die_with_parent,
    )
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), sys.exit(143)))
    err_tail: collections.deque[str] = collections.deque(maxlen=60)
    pump = threading.Thread(target=lambda: err_tail.extend(proc.stderr), daemon=True)
    pump.start()
    out: list[str] = []
    reader = threading.Thread(target=lambda: out.extend(proc.stdout), daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        proc.kill()  # the namespace's init dies with it, and so does the rest
        proc.wait()
        code = None
    reader.join(5)
    pump.join(5)
    return code, "".join(out), list(err_tail)


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=DEFAULT_SCALE, help=f"fixture scale factor (default {DEFAULT_SCALE})")
    ap.add_argument("--out", help="directory for the full run record")
    args = ap.parse_args()

    checkout = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(checkout, "data_webhooks_spark")):
        print(f"perfbench: no engine package under {checkout}", file=sys.stderr)
        return 2
    try:
        spec = load_spec(checkout)
    except OSError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if os.geteuid() != 0:
        print("perfbench: needs root for its private mount namespace", file=sys.stderr)
        return 2

    before = hermetic.snapshot(checkout)
    cmd = hermetic.UNSHARE + [
        sys.executable,
        "-B",
        os.path.join(HERE, "child.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--scale", args.scale,
        "--checkout", checkout,
        "--t-spawn", repr(time.monotonic()),
    ]
    code, out, err_tail = run_child(cmd, t_start + DEADLINE_S)
    changes = hermetic.diff(before, hermetic.snapshot(checkout))

    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: run {why}; last stderr lines:", file=sys.stderr)
        sys.stderr.writelines(err_tail)
        return 1
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    if changes:
        print("perfbench: the run changed the checkout:", file=sys.stderr)
        for c in changes:
            print("  " + c, file=sys.stderr)
    for p in res["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)

    res["checkout_changes"] = changes
    res["args"] = vars(args)
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(args.out, name), "w") as f:
            json.dump(res, f)
    out_metrics, missing = metrics(spec, args.workload, res, bool(args.trace))
    if missing:
        print(f"perfbench: the run did not report {missing}", file=sys.stderr)
    failed = res["failed"] + (1 if changes else 0) + len(missing)
    summary = {"workload": args.workload, "info": res["info"]}
    if args.trace:
        summary["self_time_s"] = res["layer"].get("self", {})
        summary["spans"] = len(res["spans"])
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(res["attempted"], 1),
                "failed": failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
