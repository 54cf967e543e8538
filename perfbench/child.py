"""One benchmark run inside a fresh Spark driver process (started by
``run.py``, which sets the environment). Writes ``{"result", "detail"}``
as JSON to ``--result``.

Untraced run (``--trace 0``): set up ``SETUP_REPS`` times, then warm-up
passes, then timed passes until ``--seconds`` have passed; every pass is
checked against the reference digests. Peak RSS of the driver JVM and
Python workers is sampled during the timed passes.

Traced run (``--trace 1``): Spark's event log is on; untraced and traced
passes alternate, and the per-layer metrics come from the traced passes'
spans and the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

import tracing
from workloads import WORKLOADS

SETUP_REPS = 3
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 1
RSS_PERIOD_S = 0.25
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Samples the summed resident set of every descendant of this process
    (the driver JVM, the PySpark daemon and its workers)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self.active = threading.Event()
        self.done = threading.Event()

    @staticmethod
    def descendants_rss_mb() -> float:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        me = os.getpid()
        mine, frontier = set(), [me]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            mine.update(kids)
            frontier.extend(kids)
        total = 0.0
        for pid in mine:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE_MB
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self.done.wait(RSS_PERIOD_S):
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, self.descendants_rss_mb())


def session(run_root: str, traced: bool):
    from osm_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_root, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(run_root, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failures: list[str] = []

    def checked_pass(self, tr=None) -> float:
        """Run and verify one pass; returns its wall time."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            outs = self.wl.run_pass(tr)
        except Exception:
            self.failures.append(f"pass {self.attempted}: " + traceback.format_exc(limit=3))
            return time.monotonic() - t0
        wall = time.monotonic() - t0
        bad = [n for n, (got, pdf) in outs.items() if not self.wl.check(n, got, pdf)]
        missing = [n for n in self.wl.expected if n not in outs]
        if bad or missing:
            self.failures.append(f"pass {self.attempted}: mismatch {bad} missing {missing}")
        return wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    t0 = time.monotonic()
    spark = session(args.run_root, traced)
    session_s = time.monotonic() - t0

    wl = WORKLOADS[args.workload](spark, args.seed, args.run_root)
    setup_walls = []
    for rep in range(SETUP_REPS):
        if rep:
            wl.release()
        t0 = time.monotonic()
        wl.setup()
        setup_walls.append(time.monotonic() - t0)
    setup_s = session_s + statistics.median(setup_walls)
    wl.layer["session.start_s"] = session_s

    t0 = time.monotonic()
    wl.prepare()
    prepare_s = time.monotonic() - t0
    pin = wl.pin_status()
    runner = Runner(wl)
    tracer = tracing.Tracer(spark) if traced else None
    warm = [runner.checked_pass() for _ in range(WARMUP_PASSES)]
    wl.walls.clear()

    sampler = RssSampler()
    sampler.start()
    walls, traced_walls = [], []
    start = time.monotonic()
    sampler.active.set()
    # A traced run alternates untraced and traced passes.
    while time.monotonic() - start < args.seconds or len(walls) < MIN_TIMED_PASSES:
        walls.append(runner.checked_pass())
        if traced:
            tracer.pass_no += 1
            with tracer.span("pass"):
                traced_walls.append(runner.checked_pass(tracer))
    sampler.active.clear()
    sampler.done.set()
    sampler.join()

    pass_s = statistics.median(walls)
    t0 = time.monotonic()
    stop_session(spark)
    stop_s = time.monotonic() - t0

    failed = len(runner.failures)
    correct = failed == 0 and pin != "mismatch"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": traced,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "input_rows": wl.input_rows,
        "input_digest": wl.input_digest,
        "input_pin": pin,
        "session_s": session_s,
        "setup_walls_s": setup_walls,
        "prepare_s": prepare_s,
        "warmup_walls_s": warm,
        "pass_walls_s": walls,
        "stop_s": stop_s,
        "passes_timed": len(walls),
        "failed_frac": failed / runner.attempted,
        "failures": runner.failures[:5],
        "expected": wl.expected,
    }
    for k in ("lineage.resume_s", "tiles.refresh_s"):
        if k in wl.layer:
            detail[k.split(".")[1]] = wl.layer[k]

    if traced:
        metrics = layer_metrics(wl, tracer, args, pass_s, traced_walls)
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": wl.input_rows / pass_s, "unit": "1/s"},
            "peak_rss_mb": {"value": sampler.peak_mb, "unit": "MB"},
        }
    result = {
        "correct": correct,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    with open(args.result, "w") as fh:
        json.dump({"result": result, "detail": detail}, fh)
    return 0


SPAN_METRICS = {
    "spatial_join.extract_s": "extract",
    "spatial_join.pip_s": "pip",
    "knn.knn_s": "knn",
    "contours.tile_density_s": "tile_density",
    "contours.contours_s": "contours",
}
ZERO_WHEN_ABSENT = (
    "spatial_join.points_out", "spatial_join.pairs_out", "knn.rows_out",
    "contours.tiles_out", "lineage.bytes_written", "lineage.files_written",
    "lineage.resume_skipped", "lineage.resume_s", "tiles.refresh_s", "tiles.delta_rows",
    "pages.synth_s", "pages.rows", "geometry.covering_s", "geometry.covering_cells",
) + tuple(f"lineage.stage_s.{s}" for s in ("pages", "points", "way_cells", "pip", "tiles"))


def layer_metrics(wl, tracer, args, untraced_pass_s: float, traced_walls: list[float]) -> dict:
    """Every per-layer metric; 0 where the layer does not run on this
    workload."""
    log_dir = os.path.join(args.run_root, "eventlog")
    [log_name] = os.listdir(log_dir)
    ev = tracing.parse_event_log(os.path.join(log_dir, log_name), len(traced_walls))
    vals: dict[str, float] = {k: 0.0 for k in ZERO_WHEN_ABSENT}
    vals.update(wl.layer)
    for metric, span in SPAN_METRICS.items():
        vals[metric] = tracer.median_self(span)
    if args.workload == "checkpointed_job":
        # run_flagship runs extract, pip and tiles as checkpoint stages
        vals["spatial_join.extract_s"] = vals["lineage.stage_s.points"]
        vals["spatial_join.pip_s"] = vals["lineage.stage_s.pip"]
        vals["contours.tile_density_s"] = vals["lineage.stage_s.tiles"]
    vals["spatial_join.candidates"] = ev["candidates"]
    vals["spatial_join.refine_yield"] = (
        vals["spatial_join.pairs_out"] / ev["candidates"] if ev["candidates"] else 0.0
    )
    vals["spatial_join.task_skew"] = ev["task_skew"]
    for group, counters in ev["counters"].items():
        for k, v in counters.items():
            vals[f"{group}.{k}"] = v
    traced_pass_s = statistics.median(traced_walls)
    vals["trace.pass_s"] = traced_pass_s
    vals["trace.untraced_pass_s"] = untraced_pass_s
    vals["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    vals["trace.digest_s"] = tracer.median_wall("digest")
    return {name: {"value": float(vals[name]), "unit": unit} for name, unit in metric_units().items()}


def metric_units() -> dict[str, str]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
