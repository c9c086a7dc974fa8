"""Benchmark of the consumer and the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source when needed (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen_data.py), runs the
workload in one JVM (perfbench/src), checks the outputs, and prints the
metrics. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The lines before it print the same run under the names of workloads.json.

A traced run first measures untraced, then traced, and reports the traced
run's overhead against the untraced one; its spans and per-layer self time
go to .bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True      # write nothing outside .bench_build

import build      # noqa: E402
import gen_data   # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
DEADLINE_S = 170.0
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def inputs(workload, spec, seed):
    """Generates (once per seed and definition) the workload's input files."""
    key = hashlib.sha256(json.dumps([workload, spec["input"], seed], sort_keys=True)
                         .encode()).hexdigest()[:12]
    data = OUT / "data" / f"{workload}-{seed}-{key}"
    if (data / "ok").exists():
        return data
    shutil.rmtree(data, ignore_errors=True)
    tmp = data.with_name(data.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    i = spec["input"]
    if workload.startswith("catalog"):
        gen_data.write_tables(str(tmp), i["tables_sf"], seed)
    elif workload == "stream_catchup":
        gen_data.write_catchup(str(tmp), seed, i["backlog_files"], i["rows_per_file"],
                               i["warmup_files"], i["warmup_rows"])
    else:
        gen_data.write_live(str(tmp), seed, i["base_docs"], i["files"], i["rows_per_file"])
    (tmp / "ok").write_text("")
    tmp.rename(data)
    return data


def oracle_check(data, work, queries):
    """Each query's check-pass result against its oracle SQL in DuckDB.
    Returns the failure messages."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.loads((work / "oracle_sql.json").read_text())

    def norm(df):
        # compare values with columns sorted by name; integer and float
        # widths are normalized (the engine may widen an int32 source column)
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if str(df[c].dtype) in ("int32", "int16", "int8"):
                df[c] = df[c].astype("int64")
            if str(df[c].dtype) == "float32":
                df[c] = df[c].astype("float64")
        return df.reset_index(drop=True)

    bad = []
    for q in queries:
        res = work / "results" / q
        sql = oracle.get(q, "")
        if not sql:
            bad.append(f"{q}: no oracle")
            continue
        if not res.is_dir():
            continue    # the engine failed: already counted by the harness
        try:
            exp = norm(con.execute(sql).fetchdf())
            got = norm(con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf())
            if not exp.equals(got):
                bad.append(f"{q}: result differs from oracle ({len(got)} vs {len(exp)} rows)")
        except Exception as e:   # noqa: BLE001 - any oracle error is a failed check
            bad.append(f"{q}: oracle check error {e}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec_all = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec_all["workloads"]:
        raise SystemExit(f"unknown workload {a.workload}")
    spec = spec_all["workloads"][a.workload]

    cp = build.build()
    t_start = time.time()   # the per-run time limit starts after the build
    data = inputs(a.workload, spec, a.seed)
    cores = len(os.sched_getaffinity(0))
    work = OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    traces = OUT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}"
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{spec_all['jvm_heap']}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", str(work / "w"),
            "--out", str(work / "result.json"),
            "--trace-out", str(traces / f"{stem}.spans.jsonl"),
            "--tail-pct", str(spec["tail_pct"]),
            "--data", str(data)])
    if "queries" in spec:
        cmd += ["--queries", ",".join(spec["queries"]),
                "--seconds-per-pass", str(spec["seconds_per_pass"])]
    if "backlog_files_per_s" in spec["input"]:
        cmd += ["--backlog-per-s", str(spec["input"]["backlog_files_per_s"])]
    if "offered_rate" in spec:
        cmd += ["--files-per-s", str(spec["offered_rate"]["files_per_s"])]
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(30.0, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run timed out")
    if r.returncode != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: run failed with code {r.returncode}")
    res = json.loads((work / "result.json").read_text())
    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if "queries" in spec:
        bad = oracle_check(data, work / "w", spec["queries"])
        failures += bad
        failed += len(bad)
    e2e = res["e2e"]
    if a.workload == "stream_catchup":
        named = {"work_s": e2e["drain_s"], "cpu_s": e2e["drain_cpu_s"],
                 "cpu_p50_ms": e2e["batch_cpu_ms_p50"]}
    elif a.workload == "stream_live":
        named = {"work_s": e2e["live_busy_s"], "cpu_s": e2e["live_cpu_s"],
                 "cpu_p50_ms": e2e["batch_cpu_ms_p50"]}
    else:
        named = {"work_s": e2e["catalog_total_s"], "cpu_s": e2e["catalog_cpu_s"],
                 "cpu_p50_ms": e2e["query_cpu_ms_p50"]}
    named.update(setup_s=e2e["setup_s"], heap_retained_mb=e2e["heap_retained_mb"])
    attempted = max(1, int(attempted))
    failed = int(min(failed, attempted))

    # the same run under the metric names of workloads.json
    long_names = dict(e2e)
    if "catalog_total_s" in e2e:
        long_names["query_s_p50"] = e2e["query_ms_p50"] / 1000.0
    long_names["failed_frac"] = failed / attempted
    for k in sorted(long_names):
        print(f"{a.workload} {k} {long_names[k]:.6g}")
    for f in failures[:20]:
        print(f"{a.workload} FAILED {f}")

    if a.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(named[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    # the whole run, kept for inspection: per-layer figures, per-batch and
    # per-query details, the traced run's self time per layer
    (traces / f"{stem}-trace{a.trace}.json").write_text(json.dumps(
        {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "result": line,
         "named": long_names, "failures": failures, "per_layer": res["layers"],
         "details": res["details"]}, indent=1, sort_keys=True))
    shutil.copy(work / "jvm.log", traces / f"{stem}-trace{a.trace}.log")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
