#!/usr/bin/env python3
"""Run one workload k times and report how steady each end-to-end metric is.

    python3 perfbench/repeat.py --workload bulk_product [--runs 10] [--seed 1]
        [--save runs.json] [--against other_runs.json]

Run from the repository root. Run i uses seed `--seed + i`, so two sets
started with the same `--seed` run the same inputs. For each
end-to-end metric of BENCHMARK.json it prints the median, the quartiles
(`statistics.quantiles(n=4)`), the inter-quartile spread as a share of the
median, and max/min, each against the metric's bound. `--save` keeps the
raw values; `--against` compares this set's medians with a saved set's,
as an A/B of two commits or two sets of runs of one commit.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    values = {m["name"]: [] for m in spec["end_to_end"]}
    shares = []
    for i in range(a.runs):
        seed = a.seed + i
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit(f"seed {seed}: checks failed\n{p.stderr[-2000:]}")
        shares.append(r["failed"] / r["attempted"])
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)

    other = None
    if a.against:
        with open(a.against) as f:
            other = json.load(f)["values"]
    print(f"\n{a.workload}: {a.runs} runs, failed share {sorted(set(shares))}")
    print(f"{'metric':18} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} "
          f"{'max/min':>8} {'bound':>6}" + ("  vs saved" if other else ""))
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        line = (f"{m['name']:18} {med:10.4g} {q1:10.4g} {q3:10.4g} {(q3 - q1) / med:8.3f} "
                f"{max(xs) / min(xs):8.3f} {m['bound']:6.2f}")
        if other:
            d = med / statistics.median(other[m["name"]]) - 1
            line += f"  {d:+.3f} {'within' if abs(d) <= m['bound'] else 'OUTSIDE'} bound"
        print(line)
    if a.save:
        with open(a.save, "w") as f:
            json.dump({"workload": a.workload, "values": values, "failed_share": shares}, f)


if __name__ == "__main__":
    main()
