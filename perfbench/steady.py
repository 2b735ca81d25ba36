"""Run the benchmark over several seeds and report its spread.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--trace 0]
        [workload ...]

For each workload (default: all in BENCHMARK.json) it runs
`perfbench/run.py` once per seed, then prints one line per metric with
its unit, median, first and third quartile (statistics.quantiles, n=4)
and the spread (q3 - q1) / median, set against the metric's bound:
a spread above a third of the bound is marked. Runs whose host probe
was unhealthy are counted and flagged, never dropped. Every run's
result line goes to stdout as JSON after the table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return {"workload": workload, "seed": seed,
            "stamp": json.loads(lines[-2])["stamp"], "result": json.loads(lines[-1])}


def report(runs: list[dict], metrics: list[dict]) -> list[str]:
    out = []
    for m in metrics:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = m.get("bound")
        mark = "" if bound is None or spread <= bound / 3 else "  <-- above bound/3"
        out.append(f"  {m['name']:<44} {m['unit']:<7} median {med:>12.4f}  "
                   f"q1 {q1:>12.4f}  q3 {q3:>12.4f}  spread {spread:.3f}"
                   + (f"  bound {bound}" if bound is not None else "") + mark)
    return out


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    everything = []
    for w in args.workloads:
        runs = [one_run(w, s, bench["run_seconds"], args.trace)
                for s in range(args.first_seed, args.first_seed + args.runs)]
        everything += runs
        sick = sum(not r["stamp"]["healthy"] for r in runs)
        failed = sum(r["result"]["failed"] for r in runs)
        attempted = sum(r["result"]["attempted"] for r in runs)
        print(f"{w}: {len(runs)} runs, {sick} on an unhealthy host, "
              f"failed_ops_frac {failed / attempted:.4f} ({failed}/{attempted})")
        print("\n".join(report(runs, metrics)), flush=True)
    for r in everything:
        print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
