"""Keep a benchmark run from changing anything on disk.

The engine writes while it runs: under its absolute ``RUNTIME_DIR``
(derived inputs, replay chunks, checkpoints, sink output),
``spark-warehouse/`` in the working directory, ``/dev/shm`` checkpoints,
and temp files. At import it also reads fixtures from an absolute
``ORACLE_SF_DIR``, and the benchmark reads its tables from the same
fixture directory. Both paths are read from the engine's source
(``engine_paths``). A run happens in a private mount namespace
(``unshare --mount --pid``) where

- a tmpfs at ``BASE`` holds everything the run writes;
- the checkout is seen through an overlay at ``BASE/co`` whose upper
  layer is on that tmpfs; the engine is imported from there;
- the top-level directories holding ``RUNTIME_DIR`` and the fixtures
  (the home directory, as it happens) are overlays too, so writes there
  land in the tmpfs whether or not the directory exists, and the
  fixtures are read through the overlay, never written;
- ``/tmp`` and ``/dev/shm`` are fresh tmpfs mounts.

``snapshot`` records every path under a tree, ignored ones included,
with type, size and mtime; comparing two snapshots is the guard that
the run left the tree as it found it.
"""

from __future__ import annotations

import ast
import os
import subprocess

BASE_CANDIDATES = ("/mnt", "/media", "/srv")


def _constant(path: str, name: str) -> str:
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise LookupError(f"{name} not assigned in {path}")


def engine_paths(checkout: str) -> tuple[str, str]:
    """The engine's runtime directory and its import-time fixture
    directory, read from its source without importing it (importing
    ``sources.derived`` already reads the fixtures)."""
    pkg = os.path.join(checkout, "data_webhooks_spark")
    runtime = _constant(os.path.join(pkg, "streaming", "core.py"), "RUNTIME_DIR")
    fixtures = _constant(os.path.join(pkg, "sources", "derived.py"), "ORACLE_SF_DIR")
    return runtime, fixtures


def _top(path: str) -> str:
    return "/" + path.strip("/").split("/")[0]


UNSHARE = [
    "unshare",
    "--mount",
    "--propagation",
    "private",
    "--pid",
    "--fork",
    "--mount-proc",
    "--kill-child=SIGKILL",
    "--",
]


def pick_base(checkout: str) -> str:
    """A mount point for the run's tmpfs that does not hide the checkout."""
    for cand in BASE_CANDIDATES:
        if os.path.isdir(cand) and not _inside(checkout, cand):
            return cand
    raise RuntimeError(f"no mount point among {BASE_CANDIDATES} outside {checkout}")


def _inside(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return path == root or path.startswith(root.rstrip("/") + "/")


def _mount(*args: str) -> None:
    subprocess.run(["mount", *args], check=True)


def enter(checkout: str) -> dict[str, str]:
    """Build the private view; return the paths the run should use.

    Must run as root inside a fresh mount namespace (see ``UNSHARE``). Raises if any mount is not in place afterwards.
    """
    checkout = os.path.realpath(checkout)
    runtime, fixtures = engine_paths(checkout)
    base = pick_base(checkout)
    _mount("-t", "tmpfs", "-o", "size=4g,mode=0755", "perfbench", base)
    paths = {k: f"{base}/{k}" for k in ("co", "work")}
    for d in ("co", "co.up", "co.wk", "work"):
        os.makedirs(f"{base}/{d}")
    _overlay(checkout, f"{base}/co.up", f"{base}/co.wk", paths["co"])
    expected = {base: "tmpfs", paths["co"]: "overlay"}
    for i, top in enumerate(sorted({_top(runtime), _top(fixtures)})):
        os.makedirs(f"{base}/top{i}.up")
        os.makedirs(f"{base}/top{i}.wk")
        _overlay(top, f"{base}/top{i}.up", f"{base}/top{i}.wk", top)
        expected[top] = "overlay"
    _mount("-t", "tmpfs", "-o", "mode=1777", "perfbench-tmp", "/tmp")
    _mount("-t", "tmpfs", "-o", "mode=1777", "perfbench-shm", "/dev/shm")
    paths["fixtures"] = os.path.dirname(fixtures)
    os.makedirs(runtime, exist_ok=True)
    paths["spark-local"] = "/tmp/spark-local"
    os.makedirs(paths["spark-local"])
    expected.update({"/tmp": "tmpfs", "/dev/shm": "tmpfs"})
    for target, fstype in expected.items():
        got = subprocess.run(
            ["findmnt", "-n", "-o", "FSTYPE", "--mountpoint", target],
            capture_output=True,
            text=True,
        ).stdout.split()
        if not got or got[-1] != fstype:
            raise RuntimeError(f"{target}: expected a {fstype} mount, found {got}")
    return paths


def _overlay(lower: str, upper: str, work: str, target: str) -> None:
    _mount(
        "-t",
        "overlay",
        "overlay",
        "-o",
        f"lowerdir={lower},upperdir={upper},workdir={work}",
        target,
    )


def snapshot(root: str) -> dict[str, tuple]:
    """Every path under ``root`` → (kind, size, mtime_ns, link target)."""
    out: dict[str, tuple] = {}
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            entries = list(os.scandir(d))
        except OSError as e:
            out[os.path.relpath(d, root)] = ("unreadable", e.errno, 0, "")
            continue
        for e in entries:
            st = e.stat(follow_symlinks=False)
            rel = os.path.relpath(e.path, root)
            if e.is_symlink():
                out[rel] = ("link", 0, st.st_mtime_ns, os.readlink(e.path))
            elif e.is_dir(follow_symlinks=False):
                out[rel] = ("dir", 0, st.st_mtime_ns, "")
                stack.append(e.path)
            else:
                out[rel] = ("file", st.st_size, st.st_mtime_ns, "")
    return out


def diff(before: dict, after: dict, limit: int = 20) -> list[str]:
    changes = []
    for p in sorted(before.keys() | after.keys()):
        if before.get(p) != after.get(p):
            changes.append(f"{p}: {before.get(p)} -> {after.get(p)}")
    return changes[:limit] + ([f"... {len(changes) - limit} more"] if len(changes) > limit else [])
