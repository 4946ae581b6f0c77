"""Run-to-run spread of the end-to-end metrics, measured the way the
benchmark's acceptance rule reads it, and the same-host baseline file.

    python3 perfbench/spread.py --sets 2 --runs 10 --out perfbench/BASELINE.json

Runs ``run.py`` once per seed and workload of BENCHMARK.json, one run at a
time: set ``k`` (from 0) uses seeds ``k × runs + 1`` … ``(k + 1) × runs``.
For each set, workload and metric it prints the median of the runs and the
spread (the distance between the first and third quartiles,
``statistics.quantiles(values, n=4)``, as a share of the median) against
the metric's bound, and how far each later set's median moved from the
first set's. ``--out`` writes all of it, with every run's values and the
figures over all runs together.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict[str, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    median = statistics.median(values)
    return {"median": median, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median, "n": len(values)}


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    res = json.loads(last)
    return {"seed": seed, "wall_s": round(time.time() - t0, 1),
            "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: m["value"] for k, m in res["metrics"].items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", help="write the baseline (JSON) here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]

    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    ok = True
    for k in range(args.sets):
        for w in workloads:
            runs[w].append([])
            for seed in range(k * args.runs + 1, (k + 1) * args.runs + 1):
                r = run_once(w, seed, bench["run_seconds"])
                ok &= r["correct"]
                runs[w][k].append(r)
                print(f"set {k + 1} {w} seed {seed} ({r['wall_s']:.0f} s) "
                      f"correct={r['correct']} "
                      f"{ {m: round(v, 3) for m, v in r['metrics'].items()} }",
                      flush=True)

    report: dict[str, dict] = {}
    for w in workloads:
        per_set = [{m: summarize([r["metrics"][m] for r in s]) for m in bounds}
                   for s in runs[w]]
        flat = [r for s in runs[w] for r in s]
        report[w] = {
            "all_runs": {m: summarize([r["metrics"][m] for r in flat])
                         for m in bounds},
            "per_set": per_set,
            "runs": flat,
        }
        for m, bound in bounds.items():
            for k, s in enumerate(per_set):
                drift = s[m]["median"] / per_set[0][m]["median"] - 1
                flag = ("ok" if s[m]["spread"] < bound / 3
                        else "within bound" if s[m]["spread"] <= bound else "OVER")
                print(f"  set {k + 1} {w:<18} {m:<20} median {s[m]['median']:11.3f}"
                      f"  spread {s[m]['spread']:6.3f}  bound {bound}  {flag}"
                      f"  vs set 1 {drift:+.3f}")
    if args.out:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        cpus = len(os.sched_getaffinity(0))
        with open(args.out, "w") as f:
            json.dump({
                "what": f"perfbench/spread.py --sets {args.sets} --runs "
                        f"{args.runs}, one run at a time, "
                        f"{datetime.date.today().isoformat()}, {cpus} CPUs, "
                        f"{mem_kb / 2**20:.0f} GiB, local[{cpus}], the "
                        "session defaults the program ships",
                "cpus": cpus, "mem_total_kb": mem_kb,
                "run_seconds": bench["run_seconds"], "workloads": report,
            }, f, indent=1)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
