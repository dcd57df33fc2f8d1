"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload dlt_small] [--first-seed 1]

Runs the benchmark once per seed on each workload and reports, per
metric, the median and the distance between the first and third
quartile as a share of the median (`statistics.quantiles(n=4)`), next
to the metric's bound from BENCHMARK.json. Results are appended to
`.bench_build/spread.jsonl`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        values = {n: [] for n in bounds}
        failed = 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            for n in bounds:
                values[n].append(res["metrics"][n]["value"])
            print(f"{w} seed {seed} ({time.monotonic() - t0:.0f} s): " +
                  " ".join(f"{n}={res['metrics'][n]['value']:.4g}" for n in bounds), flush=True)
        row = {"workload": w, "runs": args.runs, "first_seed": args.first_seed,
               "failed": failed, "metrics": {}}
        for n, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            row["metrics"][n] = {"median": med, "spread": spread, "bound": bounds[n]}
            flag = "ok" if n == "setup_s" or spread < bounds[n] / 3 else "WIDE"
            ok = ok and (flag == "ok") and failed == 0
            print(f"  {w} {n}: median {med:.4g} spread {spread:.3f} bound {bounds[n]} {flag}")
        with open(ROOT / ".bench_build" / "spread.jsonl", "a") as f:
            f.write(json.dumps(row) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
