"""Steadiness check: repeat each workload over several seeds and set
every end-to-end metric's spread next to its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads search_solo ...]

For each workload, one set is `--runs` runs of `perfbench/run.py` with
seeds 1, 2, ..., `--runs`; a second set (`--sets 2`) repeats the same
seeds. Per metric it prints the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`), the spread (Q3 - Q1) / median and
the bound; a metric is `steady` when its spread is within the bound, and
the line says whether the spread is also under a third of the bound
(the margin to aim for). With two sets it also checks that the two
medians differ by at most the bound, |m2 - m1| / m1. Exits 1 if any
check fails. Runs strictly one at a time.
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith("# context "):
            result["context"] = json.loads(line[len("# context "):])
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args(argv)

    metrics = spec["end_to_end"]
    ok = True
    for w in args.workloads:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                r = one_run(w, i + 1, spec["run_seconds"])
                if not r["correct"] or r["failed"]:
                    print(f"{w} seed {i + 1}: {r['failed']} failed", flush=True)
                    ok = False
                runs.append(r)
                values = " ".join(
                    f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics
                )
                ctx = r.get("context", {})
                print(f"{w} set {s + 1} run {i + 1}/{args.runs}: {values}"
                      f" steal={ctx.get('cpu_steal_frac', float('nan')):.3f}"
                      f" loop_ms={ctx.get('cpu_loop_ms')}",
                      file=sys.stderr, flush=True)
            sets.append(runs)
        print(f"\n{w}")
        print(f"  {'metric':30} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sums = [summarize([r["metrics"][name]["value"] for r in runs]) for runs in sets]
            for k, sm in enumerate(sums):
                steady = sm["spread"] <= bound
                ok &= steady
                margin = "" if sm["spread"] < bound / 3 else ", over a third of the bound"
                print(
                    f"  {name:30} {sm['median']:12.6g} {sm['q1']:12.6g} {sm['q3']:12.6g}"
                    f" {sm['spread']:8.3f} {bound:6.2f}  set{k + 1}"
                    f" {'steady' if steady else 'NOT STEADY'}{margin}"
                )
            if len(sums) == 2:
                a, b = sums[0]["median"], sums[1]["median"]
                diff = abs(b - a) / a
                agree = diff <= bound
                ok &= agree
                print(f"  {'':30} set2 vs set1: {(b - a) / a:+.3f}"
                      f" {'agree' if agree else 'DISAGREE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
