#!/usr/bin/env python3
"""Regenerate answers.json, the result digests every benchmark run
checks its answers against.

    python3 perfbench/make_answers.py

Run from the repository root. For each query of every workload the engine
digests its result (twice, to confirm it is stable) and reports its
DuckDB oracle SQL (SparkEntry.oracleSql). Where an oracle exists, the
committed digest is the oracle's own, computed here by running that SQL
in DuckDB over the same parquet tables (tools/check_oracle.py's set-up)
and digesting the rows with digest.py. Where none exists, the committed
digest is the current engine's. Disagreements are printed; the oracle's
digest is committed regardless, so a wrong engine answer shows as a
failed execution in every run.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
from digest import digest  # noqa: E402
from run import DEFAULT_DATA, engine_command  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    root = Path.cwd()
    data = Path(os.environ.get("PERFBENCH_DATA", DEFAULT_DATA))
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    build.build(root)
    run_dir = root / ".bench_run" / f"answers-{os.getpid()}"
    tmp, local = run_dir / "tmp", run_dir / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    try:
        out = run_dir / "engine.json"
        cmd, env = engine_command(root, tmp, local, [
            "--mode", "answers", "--queries", ",".join(names),
            "--data", str(data), "--out", str(out)])
        subprocess.run(cmd, cwd=run_dir, env=env, check=True,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=1800)
        engine = json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    answers, bad = {}, 0
    for name in names:
        e = engine[name]
        if not e["stable"]:
            print(f"UNSTABLE {name}: two engine executions digest differently")
            bad += 1
        if e["oracle"] is None:
            answers[name] = {"rows": e["rows"], "sha256": e["sha256"],
                             "source": "seed engine"}
            continue
        rows = con.execute(e["oracle"]).fetchall()
        cols = [d[0] for d in con.description]
        n, sha = digest(cols, rows)
        answers[name] = {"rows": n, "sha256": sha, "source": "duckdb oracle"}
        if (n, sha) != (e["rows"], e["sha256"]):
            print(f"MISMATCH {name}: engine {e['rows']} rows {e['sha256'][:12]}, "
                  f"oracle {n} rows {sha[:12]}")
            bad += 1
    (HERE / "answers.json").write_text(json.dumps(
        {"data": data.name, "queries": answers}, indent=1, sort_keys=True) + "\n")
    print(f"{len(answers)} answers written, {bad} problems")


if __name__ == "__main__":
    main()
