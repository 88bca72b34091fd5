#!/usr/bin/env python3
"""The repository benchmark: export path and dedup query slice.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: lineitem_export, awkward_export, dedup_queries
(see BENCHMARK.json). One run: build the program if its sources changed,
generate the workload's inputs from the seed, run the workload in one JVM
on local[nproc], check the outputs (DuckDB oracle for the dedup slice),
delete every input and output, and print as the last stdout line
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it records the run's environment. Traced
runs also keep their spans in .bench_out/.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

# Input sizes, fixed per workload; the seed only changes the values.
SIZES = {
    "lineitem_export": {"lineitem": 15_000},
    "awkward_export": {"awkward": 15_000},
    "dedup_queries": {"documents": 1_000, "embeddings": 500},
}
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_sha():
    """git SHA when the checkout is a repository, else a digest of the
    program and benchmark sources."""
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    if r.returncode == 0:
        return r.stdout.strip()
    return "sources-" + build.stamp(build.sources() + build.resources())[:16]


def canon(rows, names):
    """Rows as sorted strings with columns in name order and floats by
    repr, so results compare exactly, independent of row and column order."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v + 0.0)
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def oracle_checks(data, results, queries):
    """Each query's result against its oracle SQL in DuckDB, over the same
    generated parquet tables. Returns the names of the mismatches."""
    if not queries:
        return []
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for q in queries:
        try:
            want = con.sql((Path(results) / f"{q}.sql").read_text())
            got = con.sql(f"SELECT * FROM read_parquet('{Path(results) / q}/*.parquet')")
            if sorted(want.columns) != sorted(got.columns) or \
                    canon(want.fetchall(), want.columns) != canon(got.fetchall(), got.columns):
                bad.append(f"{q}.oracle")
        except Exception as e:  # a missing result or failing oracle is a failed check
            bad.append(f"{q}.oracle: {e}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.ensure()
    nproc = len(os.sched_getaffinity(0))
    run = ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    data, out, tmp = run / "data", run / "out", run / "tmp"
    for d in (data, out, tmp):
        d.mkdir(parents=True, exist_ok=True)
    spans = ROOT / ".bench_out" / f"spans-{a.workload}-{a.seed}.json"
    if a.trace:
        spans.parent.mkdir(exist_ok=True)
    log = run / "jvm.log"
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, data, nproc, SIZES[a.workload])
        gen_s = time.time() - t0
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
                "--workload", a.workload, "--data", str(data), "--out", str(out),
                "--tmp", str(tmp), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(nproc), "--seed", str(a.seed),
                "--launched-ms", str(int(time.time() * 1000)),
                "--result", str(run / "result.json"), "--spans", str(spans)])
        with open(log, "w") as lf:
            r = subprocess.run(cmd, cwd=run, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not (run / "result.json").is_file():
            sys.stderr.write(log.read_text()[-8000:])
            raise SystemExit(f"perfbench: workload JVM failed (exit {r.returncode})")
        res = json.loads((run / "result.json").read_text())
        failures = list(res["failures"])
        attempted = res["attempted"]
        queries = res["info"].get("oracle_queries", [])
        attempted += len(queries)
        t1 = time.time()
        failures += oracle_checks(data, out / "results", queries)
        oracle_s = time.time() - t1
        metrics = res["metrics"]
        if a.trace == 0:
            metrics["setup_s"] += gen_s
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        # every metric of the mode; a layer the workload bypasses reads 0
        wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        unknown = set(metrics) - set(wanted)
        if unknown:
            raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
        if a.trace == 0 and set(metrics) != set(wanted):
            raise SystemExit(f"perfbench: end-to-end metrics not measured: "
                             f"{sorted(set(wanted) - set(metrics))}")
        info = dict(res["info"], inputs_gen_s=gen_s, oracle_s=oracle_s, run_s=time.time() - t0,
                    git_sha=source_sha(), failures=failures,
                    spans=str(spans.relative_to(ROOT)) if a.trace else None)
        print(json.dumps({"run_info": info}))
        print(json.dumps({
            "correct": not failures,
            "attempted": int(attempted),
            "failed": len(failures),
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in wanted.items()},
        }))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
