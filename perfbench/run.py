#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_text --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine and the benchmark are compiled
from source on first use (build.py). Each run starts a fresh JVM with the
engine as GraftSession configures it, on SPARK_GRAFT_CPUS = the CPUs this
process may use, with a fresh java.io.tmpdir, Spark local dir, warehouse
and Derby home under .bench_run/ (removed afterwards), so no file state
carries over between runs. Workloads and their query lists are in
workloads.json; metric names and units in BENCHMARK.json.

--trace 0 reports the end-to-end metrics; --trace 1 attaches the tracer
and reports the per-layer metrics, writing the spans to
.bench_out/trace-<workload>-seed<seed>.json. Every run's full result,
with each execution's latency, is kept in .bench_out/ as well. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

The input tables are read from $PERFBENCH_DATA (default: the sf0.1
fixture, testdata/sf0.1 in the home directory).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# the sf0.1 fixture: testdata/sf0.1 in the home directory
DEFAULT_DATA = str(Path.home() / "testdata" / "sf0.1")
# the heap build.sbt gives forked engine runs by default
HEAP = "8g"
JVM_TIMEOUT_S = 170
# the module opens build.sbt passes to every forked engine JVM
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cpu_jiffies() -> tuple:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def engine_command(root: Path, tmp: Path, local: Path, main_args: list):
    """The JVM command line and environment for one engine process: the
    engine's defaults only (every SPARK_GRAFT_* experiment knob dropped),
    all file state under `tmp` and `local`."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(local)
    cp = f"{(root / build.CLASSES).resolve()}:{build.spark_jars(root)}/*"
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dderby.system.home={tmp / 'derby'}",
           "-cp", cp, "org.apache.spark.perfbench.Main", *main_args]
    return cmd, env


def main() -> None:
    # a terminated run still stops its engine JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(workloads)}")
    wl = workloads[args.workload]
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    data = Path(os.environ.get("PERFBENCH_DATA", DEFAULT_DATA))
    if not (data / "lineitem.parquet").exists():
        fail(f"input tables not found in {data}")

    build.build(root)

    run_dir = root / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    out = run_dir / "result.json"
    trace_out = root / ".bench_out" / f"trace-{args.workload}-seed{args.seed}.json"
    trace_out.parent.mkdir(exist_ok=True)

    try:
        cmd, env = engine_command(root, tmp, local, [
            "--mode", "run", "--workload", args.workload, "--queries", ",".join(wl["queries"]),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", str(data),
            "--answers", str(HERE / "answers.json"), "--out", str(out),
            "--trace-out", str(trace_out), "--launch-ns", str(time.time_ns())])
        j0 = cpu_jiffies()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code != 0 or not out.exists():
            fail(f"engine run failed (exit {code})")
        res = json.loads(out.read_text())
        j1 = cpu_jiffies()
        shutil.copy(out, trace_out.parent /
                    f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    d = res["detail"]
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace}: "
          f"{d['measured_passes']} measured passes, {d['measured_samples']} samples, "
          f"{res['failed']}/{res['attempted']} failed, host steal "
          f"{(j1[0] - j0[0]) / max(1, j1[1] - j0[1]):.1%} of CPU time", file=sys.stderr)
    print(f"[perfbench]   set-up {d['setup']['total_s']:.2f} s; "
          f"measured wall {d['measured_wall_s']:.2f} s", file=sys.stderr)
    per_query = {}
    for e in d["executions"]:
        per_query.setdefault(e["query"], []).append(e["latency_s"])
    for q, ts in per_query.items():
        print(f"[perfbench]   {q}: " + " ".join(f"{t:.3f}" for t in ts), file=sys.stderr)
    for k, v in metrics.items():
        print(f"[perfbench]   {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
