"""Checks that the benchmark is steady: runs one workload on several seeds
and prints, for each end-to-end metric, its median and the distance between
its first and third quartile as a share of the median, next to the metric's
bound from BENCHMARK.json, and the wall time of a run. Run from the
repository root:

    python3 perfbench/steady.py --workload listing_ingest --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
            sys.exit(1)
        result = json.loads(last)
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()) +
              f" (run {walls[-1]:.1f} s)", flush=True)
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']:>20}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f} "
              f"(bound {m['bound']})")
    print(f"run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
