"""Pin the expected input digest and output of each workload for a list
of seeds, from the program as it is now, into ``pinned.json``.

    python3 perfbench/pin.py --seeds 0-40

A run whose seed is pinned fails if its input digest or any checked
output differs. Run this only when a change to the program's output or
to the benchmark's sizes is intended, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import inputs
import run
from spans import Tracer

sys.path.insert(0, run.ROOT)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", required=True, help="first-last, inclusive")
    pipelines = [w for w, cls in run.WORKLOAD_CLASSES.items() if issubclass(cls, run.Pipeline)]
    p.add_argument("--workloads", default=",".join(pipelines))
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))

    from textcleaning_spark.session import get_spark

    path = os.path.join(run.HERE, "pinned.json")
    with open(path) as f:
        pins = json.load(f)
    pins["generator_canary"] = inputs.canary_digest()
    os.environ["PYTHONPATH"] = run.ROOT
    work = os.path.join(run.WORK, "pin")
    spark = get_spark("perfbench-pin", cores=len(os.sched_getaffinity(0)),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for workload in args.workloads.split(","):
            n_docs, n_files, _warm = run.WORKLOADS[workload]
            table = pins.setdefault(workload, {}).setdefault(f"n{n_docs}", {})
            for seed in range(lo, hi + 1):
                inp = inputs.prepare(run.CACHE, workload, seed, n_docs, n_files)
                shutil.rmtree(work, ignore_errors=True)
                wl = run.WORKLOAD_CLASSES[workload](spark, inp, work)
                wl.build()
                if wl.run_pass(Tracer("pin")):
                    raise SystemExit(f"{workload} seed {seed}: pass check failed")
                obs, problems = wl.check()
                if problems:
                    raise SystemExit(f"{workload} seed {seed}: {problems}")
                table[str(seed)] = {"input_digest": inp["digest"], "output": obs}
                print(workload, seed, obs["digest"], flush=True)
                with open(path, "w") as f:
                    json.dump(pins, f, indent=1, sort_keys=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
