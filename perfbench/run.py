"""Benchmark launcher: one workload run in a fresh Spark driver process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload city_pages --seed 7 --seconds 20 --trace 0

The launcher pins the Spark settings to the machine (``local[nproc]``, a
driver heap sized under physical RAM), gives the run its own empty temp
root inside the checkout, starts ``perfbench/child.py`` in a new process
group, waits for it, stops anything it left running, deletes the temp
root and prints the result. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The line before
it is a JSON detail record (pass walls, per-output digests, the bytes the
run wrote into its root and the bytes it left behind in the checkout) for
humans.

Exit codes: 0 when a result was produced (``correct`` may still be
false), 2 when the engine package is missing, 3 when the child failed or
timed out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("city_pages", "checkpointed_job")
# Whole-run ceiling; the benchmark contract allows 180 s per run.
CHILD_TIMEOUT_S = 170
MAX_HEAP_MB = 4096


def driver_heap_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the inputs are small and
    the rest of the machine is shared."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(MAX_HEAP_MB, total_mb // 4))
    return 2048


def child_env(run_root: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(run_root, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{driver_heap_mb()}m",
        SPARK_DRIVER_JAVA_OPTS=f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(run_root, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Terminate every process left in the child's group and wait until
    none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


# Directories of the checkout a run may leave files in on purpose: the
# traced run's span dump, and version control.
KEPT_DIRS = (".perfbench_out", ".git")


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} under path, outside KEPT_DIRS."""
    files = {}
    for root, dirs, names in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in KEPT_DIRS]
        for fn in names:
            full = os.path.join(root, fn)
            try:
                st = os.lstat(full)
            except OSError:
                continue
            files[full] = (st.st_size, st.st_mtime_ns)
    return files


def bytes_left(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> int:
    """Bytes of the files that are new or changed since ``before``."""
    return sum(size for f, (size, mtime) in after.items() if before.get(f) != (size, mtime))


def remove_run_root(run_root: str) -> None:
    shutil.rmtree(run_root, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_root))
    except OSError:
        pass  # another run still uses it


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")

    if not os.path.isfile(os.path.join(ROOT, "osm_spark", "__init__.py")):
        print("perfbench: osm_spark package not found beside perfbench/", file=sys.stderr)
        return 2

    checkout_before = tree_files(ROOT)
    run_root = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_root, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_root, sub))
    result_path = os.path.join(run_root, "result.json")

    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-root", run_root, "--result", result_path,
    ]
    # The child's stdout goes to our stderr: Spark and the JVM may print,
    # and our stdout must end in the one result line.
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(run_root), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, start_new_session=True,
    )

    def interrupted(signum, _frame):
        stop_group(proc.pid)
        proc.wait()
        remove_run_root(run_root)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    stop_group(proc.pid)
    if rc is None:
        proc.wait()

    result = None
    if rc == 0 and os.path.exists(result_path):
        with open(result_path) as fh:
            result = json.load(fh)
    run_root_bytes = sum(size for size, _ in tree_files(run_root).values())
    remove_run_root(run_root)
    if result is None:
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"perfbench: child {why}; no result", file=sys.stderr)
        return 3

    detail = result["detail"]
    detail["run_root_bytes"] = run_root_bytes
    detail["bytes_left_behind"] = bytes_left(checkout_before, tree_files(ROOT))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
