"""Steadiness report: run one workload k times, each in a fresh process
with its own seed, and print for every end-to-end metric the median,
the quartiles, (q3 - q1) / median and (max - min) / median.

    python3 perfbench/steadiness.py --workload filter_parquet --runs 10 --first-seed 1

With ``--traced`` it also makes one traced run and prints the tracing
overhead: the traced full-pass docs/s against the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run with seed {seed} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--traced", action="store_true")
    args = p.parse_args()

    values: dict[str, list[float]] = {}
    for k in range(args.runs):
        res = one_run(args.workload, args.first_seed + k, args.seconds, 0)
        print(json.dumps({"seed": args.first_seed + k, **res}), flush=True)
        if not res["correct"]:
            raise SystemExit(f"seed {args.first_seed + k}: output check failed")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>10}"
          f"{'range/med':>11}{'bound':>8}")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{(q3 - q1) / med:>10.4f}"
              f"{(max(vals) - min(vals)) / med:>11.4f}{bounds.get(name, float('nan')):>8}")

    if args.traced:
        res = one_run(args.workload, args.first_seed, args.seconds, 1)
        print(json.dumps({"seed": args.first_seed, "trace": 1, **res}))
        traced = res["metrics"]["trace.full_pass_docs_per_s"]["value"]
        untraced = statistics.median(values["docs_per_s"])
        print(f"tracing overhead: traced {traced:.1f} docs/s vs untraced median "
              f"{untraced:.1f} docs/s ({traced / untraced - 1:+.1%})")


if __name__ == "__main__":
    main()
