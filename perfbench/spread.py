#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
metric, the median, the quartiles and the quartile spread as a share of
the median, against the metric's bound in BENCHMARK.json. With --trace
it also runs the traced variant and reports the tracing overhead: each
end-to-end metric's traced median against its untraced median.

    python3 perfbench/spread.py --seeds 10 [--workloads a,b] [--trace]

Run from the repository root; every run is a full `run.py` invocation.
Raw results are appended to .bench_out/spread.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = Path(".bench_out/spread.jsonl")
    log.parent.mkdir(exist_ok=True)
    for w in names:
        results = {0: [], 1: []}
        for i in range(args.seeds):
            seed = args.first_seed + i
            for trace in ((0, 1) if args.trace else (0,)):
                r = run(w, seed, spec["run_seconds"], trace)
                results[trace].append(r)
                with log.open("a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "trace": trace, **r}) + "\n")
                print(f"{w} seed={seed} trace={trace} wall={r['wall_s']:.1f}s "
                      f"failed={r['failed']}/{r['attempted']}", flush=True)
        print(f"== {w}: {args.seeds} seeds")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results[0]]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m['name']:18s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={(q3 - q1) / med:.3f} bound={bounds[m['name']]}")
            if args.trace:
                tv = statistics.median(r["metrics"][f"traced.{m['name']}"]["value"]
                                       for r in results[1])
                print(f"  {'':18s} traced median={tv:.4g} overhead={(tv - med) / med:+.3f}")
        walls = [r["wall_s"] for r in results[0] + results[1]]
        print(f"  run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
