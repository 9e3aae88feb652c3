#!/usr/bin/env python3
"""One command for the KG engine benchmark.

    python3 perfbench/run.py --workload {kg_build,turtle_ingest} \
        --seed N --seconds S --trace {0,1} [--selftest] [--cores N]

Run from the repository root. It builds the program and the benchmark from
source (perfbench/build.py), runs the workload in a fresh JVM on local[4],
checks the outputs, and prints one JSON object as the last line of standard
output: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything it writes stays under .bench_build/ and
.bench_work/ in the current directory; each run's record (op times, host
load and steal at start and end, checks) is kept in .bench_work/runs/ and
a traced run's spans in .bench_work/traces/. A traced turtle_ingest run
also measures the graph-query layer and checks its rows against DuckDB.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("kg_build", "turtle_ingest")
JVM_TIMEOUT_S = 165


def host_sample():
    """Load average and cumulative CPU steal of the host, from /proc."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {"time": time.time(), "load1": load1, "steal": ticks[7], "total": sum(ticks)}


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def oracle_checks(res, corrupt=False):
    """Graph queries: each query's Parquet rows against its DuckDB oracle
    over the same documents table, compared as sorted, normalised rows with
    equal column names. With corrupt=True one oracle row is changed first, and a
    check passes when the comparison catches it."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{res['documents']}/*.parquet')")
    checks = []
    for q, sql in sorted(res["oracle_sql"].items()):
        got = con.sql(f"SELECT * FROM parquet_scan('{res['outputs']}/{q}/*.parquet')")
        exp = con.sql(sql)
        gc, ec = sorted(got.columns), sorted(exp.columns)
        g_rows = [dict(zip(got.columns, r)) for r in got.fetchall()]
        e_rows = [dict(zip(exp.columns, r)) for r in exp.fetchall()]
        g = sorted(tuple(norm(r[c]) for c in gc) for r in g_rows)
        e = sorted(tuple(norm(r[c]) for c in ec) for r in e_rows)
        if corrupt and e:
            e[0] = (e[0][0] + "x",) + e[0][1:]
            e.sort()
        if gc != ec:
            ok, detail = False, f"columns {gc} != oracle {ec}"
        elif g != e:
            diff = [(a, b) for a, b in zip(g, e) if a != b][:2]
            ok, detail = False, f"{len(g)} rows vs oracle {len(e)}, first diffs {diff}"
        else:
            ok, detail = True, f"{len(g)} rows equal"
        checks.append({"name": f"duckdb_oracle_{q}", "ok": ok != corrupt, "detail": detail})
    con.close()
    return checks


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run_jvm(args, jar, work, result):
    cmd = build.java_command(
        jar, work, "graftbench.Main",
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--cores", str(args.cores), "--work", work, "--result", result]
        + (["--selftest", "1"] if args.selftest else []),
        ("use", build.archive_path()))
    env = build.java_env(work)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    deadline = time.time() + JVM_TIMEOUT_S
    # wait4 gives this child's own peak RSS (the compiler and class-archive
    # JVMs of a first run are other children and must not count)
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            raise RuntimeError(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with code {proc.returncode}")
    return usage.ru_maxrss / 1024.0


def end_to_end(res, launch_s, peak_rss_mb, spec):
    timed = [o for o in res["ops"] if not o["warm"]]
    walls = [o["wall_s"] for o in timed]
    values = {
        "setup_s": res["first_timed_ms"] / 1000.0 - launch_s,
        "op_p50_s": statistics.median(walls),
        "triples_per_s": statistics.median(o["rows"] / o["wall_s"] for o in timed),
        "shuffle_mb": statistics.median(o["shuffle_bytes"] for o in timed) / 1e6,
        "written_mb": statistics.median(o["written_bytes"] for o in timed) / 1e6,
        "peak_rss_mb": peak_rss_mb,
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def per_layer(res, spec):
    layers = res["layers"]
    return {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--selftest", action="store_true",
                    help="also run every output check on a planted corruption")
    args = ap.parse_args()

    spec = load_spec()
    jar = build.build()
    os.makedirs(".bench_work/runs", exist_ok=True)
    os.makedirs(".bench_work/traces", exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.abspath(f".bench_work/{tag}")
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/spark-local")
    result = f"{work}/result.json"
    try:
        host_start = host_sample()
        launch_s = time.time()
        peak_rss_mb = run_jvm(args, jar, work, result)
        with open(result) as f:
            res = json.load(f)
        checks = [{"name": c["name"], "ok": c["ok"], "detail": c["detail"]} for c in res["checks"]]
        selftest = list(res["selftest"])
        if "oracle_sql" in res:
            checks += oracle_checks(res)
            if args.selftest:
                selftest += [{"name": c["name"], "caught": c["ok"], "detail": c["detail"]}
                             for c in oracle_checks(res, corrupt=True)]
        metrics = per_layer(res, spec) if args.trace else end_to_end(res, launch_s, peak_rss_mb, spec)
        host_end = host_sample()
        steal = (host_end["steal"] - host_start["steal"]) / max(1, host_end["total"] - host_start["total"])
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": args.cores,
            "host": {"start": host_start, "end": host_end, "steal_share": steal},
            "launch_ms": launch_s * 1000, "jvm_start_ms": res["jvm_start_ms"], "session_ms": res["session_ms"],
            "inputs_ms": res["inputs_ms"], "first_timed_ms": res["first_timed_ms"],
            "ops": res["ops"], "checks": checks, "selftest": selftest, "metrics": metrics,
        }
        with open(f".bench_work/runs/{tag}.json", "w") as f:
            json.dump(record, f, indent=1)
        if args.trace and os.path.exists(f"{work}/spans.json"):
            shutil.copy(f"{work}/spans.json", f".bench_work/traces/{tag}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        print(f"[perfbench] check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}", file=sys.stderr)
    for c in selftest:
        print(f"[perfbench] selftest {'CAUGHT' if c['caught'] else 'MISSED'} {c['name']}: {c['detail']}",
              file=sys.stderr)
    print(f"[perfbench] host load1 {host_start['load1']} -> {host_end['load1']}, steal {steal:.4f}",
          file=sys.stderr)
    correct = bool(checks) and all(c["ok"] for c in checks)
    if args.selftest:
        correct = correct and bool(selftest) and all(c["caught"] for c in selftest)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(1)
