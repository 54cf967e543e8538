"""Regenerate ``pins.json``: the input table digest per seed.

    python3 perfbench/make_pins.py --seeds 0-99

A run whose input digest differs from its pin fails, so a change to the
engine's synthesizers cannot silently change the benchmark's load. Re-pin
only when such a change is intended, and say so.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="0-99", help="inclusive range a-b")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    from osm_spark.session import get_spark

    run_root = os.path.join(ROOT, ".perfbench_runs", "pins")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    os.environ.update(run.child_env(run_root))
    spark = get_spark(app_name="perfbench-pins", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    pins = workloads.load_pins()
    try:
        for seed in range(lo, hi + 1):
            docs_dir = workloads.write_documents(seed, run_root)
            pages = workloads.pages_table(spark, docs_dir).select(*workloads.PAGE_COLS).toPandas()
            pins[workloads.pin_key(seed)] = oracle.digest(pages, workloads.PAGE_COLS)
            print(seed, pins[workloads.pin_key(seed)], flush=True)
    finally:
        spark.stop()
        run.remove_run_root(run_root)
    with open(workloads.PINS_PATH, "w") as fh:
        json.dump(dict(sorted(pins.items())), fh, indent=0)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
