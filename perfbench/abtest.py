"""Interleaved runs of two checkouts (or of one checkout twice).

    python3 perfbench/abtest.py --runs 10 [--a DIR] [--b DIR] [--workloads w1,w2]

For each workload, run i of side A and run i of side B go back to back,
with the side that goes first alternating, so host drift lands on both
sides alike.  Both sides get the same seeds, 1 to ``--runs``.  Per side
and metric the record holds every value, the median, the quartiles, and
the spread (interquartile range over median) that ``BENCHMARK.json``
bounds; every run keeps its ``host.calib_ms``.  With A and B the same
checkout this checks the benchmark's own steadiness; with A the parent
commit and B a change, it is the comparison a performance claim cites.
The record is printed as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(checkout: str, spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} in {checkout}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    records = os.path.join(checkout, ".bench_build", "perfbench", "records")
    newest = max((os.path.join(records, f) for f in os.listdir(records)
                  if f.startswith(f"{workload}-seed{seed}-trace0")), key=os.path.getmtime)
    with open(newest) as f:
        result["calib_ms"] = json.load(f)["diagnostics"]["host.calib_ms"]
    return result


def _summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--a", default=ROOT, help="checkout A (default: this one)")
    p.add_argument("--b", default=ROOT, help="checkout B (default: this one)")
    p.add_argument("--workloads", default="")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {}
    for w in names:
        runs = {"A": [], "B": []}
        for i in range(args.runs):
            seed = 1 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for side in order:
                res = _run(args.a if side == "A" else args.b, spec, w, seed)
                runs[side].append(res)
                print(w, side, seed, res["failed"], round(res["calib_ms"]),
                      {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                      file=sys.stderr, flush=True)
        entry = {"failed": {s: sum(r["failed"] for r in rs) for s, rs in runs.items()},
                 "calib_ms": {s: [r["calib_ms"] for r in rs] for s, rs in runs.items()}}
        for metric, bound in bounds.items():
            sides = {s: _summary([r["metrics"][metric]["value"] for r in rs])
                     for s, rs in runs.items()}
            entry[metric] = {**sides, "bound": bound,
                             "median_ratio_b_over_a": sides["B"]["median"] / sides["A"]["median"]}
        report[w] = entry
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
