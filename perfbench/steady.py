"""Run-to-run spread of the benchmark, the way its acceptance measures it.

    python3 perfbench/steady.py [--seeds 1-10] [--workloads a,b] [--trace 0|1]
                                [--out FILE]

Runs perfbench/run.py once per (seed, workload), the workloads taking
turns so slow spells of the host fall on all of them alike, and prints
for every metric the median and the distance between the first and
third quartiles (statistics.quantiles, n=4) as a share of the median.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = {n: [] for n in names}
    for seed in range(lo, hi + 1):
        for n in names:
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", n,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            wall = time.time() - t0
            if r.returncode != 0:
                print(f"{n} seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            res.update(seed=seed, wall_s=wall)
            runs[n].append(res)
            print(f"{n} seed {seed}: {wall:.1f}s correct={res['correct']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                           if k in ("unit_s", "cpu_s", "setup_s", "peak_rss_mb")), flush=True)
    summary = {}
    for n, rs in runs.items():
        if len(rs) < 2:
            continue
        summary[n] = {"runs": len(rs), "correct": all(r["correct"] for r in rs),
                      "run_wall_s": spread([r["wall_s"] for r in rs]), "metrics": {}}
        for m in rs[0]["metrics"]:
            med, sp = spread([r["metrics"][m]["value"] for r in rs])
            summary[n]["metrics"][m] = {"median": med, "spread": sp}
            print(f"{n:16s} {m:28s} median {med:12.4f}  spread {sp:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
