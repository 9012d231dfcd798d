#!/usr/bin/env python3
"""Run one workload of the ETL benchmark and print its metrics.

    python3 etlbench/run.py --workload queries|rebuild --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark (etlbench/build.py), generates the
seeded inputs (etlbench/gen.py), runs the workload in one JVM on
local[nproc], checks every output (DuckDB oracle for the engine's
queries, generator expectations and an independent DataFrame
computation for the rebuild) and prints, as its last stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Everything it writes stays under the
build directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

# workload -> scale factor of its generated inputs. sf0.01 of the fixture
# set (60k lineitem rows) keeps inputs small, so fixed per-operation cost
# dominates; BENCHMARK.md says why not sf0.1.
WORKLOADS = {"queries": 0.01, "rebuild": 0.01}
MAX_PASSES = 8
GEN_REPEATS = 3
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(work, workload, seed):
    """Generate the inputs GEN_REPEATS times; return the median seconds
    and the sizes of the tables."""
    n_ticks = MAX_PASSES if workload == "rebuild" else 0
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
        t = time.perf_counter()
        sizes = gen.generate(os.path.join(work, "inputs"), seed, WORKLOADS[workload], n_ticks)
        times.append(time.perf_counter() - t)
    return statistics.median(times), sizes


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def run_jvm(classes, work, a, traced, spans):
    jars = build.spark_jars()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        # the JVM settings of build.sbt's forked runs: default collector,
        # its heap limit and time zone
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-cp", ":".join([classes] + jars),
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", "1" if traced else "0", "--work", work, "--result", f"{work}/result.json",
        "--spans", spans]
    os.makedirs(f"{work}/tmp")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    log = open(f"{work}/jvm.log", "w")
    spawn = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")
    with open(f"{work}/result.json") as f:
        return spawn, json.load(f)


def oracle(work, names):
    """DuckDB oracle for the captured query results; returns the names
    whose result differs (or could not be read), using tools/compare.py's
    canonical form.
    """
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import TABLES, canon
    with open(f"{work}/oracle_sql.json") as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/inputs/base/{t}.parquet')")
    wrong = []
    for name in names:
        try:
            ours = con.sql(f"SELECT * FROM read_parquet('{work}/capture/{name}/*.parquet')")
            cols, rows = ours.columns, ours.fetchall()
            ref = con.sql(sql[name])
            ok = (sorted(cols) == sorted(ref.columns)
                  and canon(rows, cols) == canon(ref.fetchall(), ref.columns))
        except Exception as e:
            print(f"[bench] oracle {name}: {str(e).splitlines()[0]}", file=sys.stderr)
            ok = False
        if not ok:
            wrong.append(name)
    return wrong


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def measure(classes, a, traced, spans):
    """Generate the inputs, run the workload in one JVM and check its
    outputs; everything it wrote is removed afterwards."""
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}-{traced}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s, sizes = generate(work, a.workload, a.seed)
        steal0, total0 = cpu_ticks()
        spawn, r = run_jvm(classes, work, a, traced, spans)
        jvm_s = time.time() - spawn
        steal1, total1 = cpu_ticks()
        t = time.time()
        wrong = set(oracle(work, sorted({o["name"] for o in r["ops"] if o["name"].startswith("q")})))
        oracle_s = time.time() - t
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # every operation counts, the untimed set-up and checks too
    r["failed"] = sum(1 for o in r["ops"] if not o["ok"] or o["name"] in wrong)
    r["problems"] = list(r["failures"]) + [f"oracle mismatch {n}" for n in sorted(wrong)]
    r["setup_s"] = gen_s + r["first_op_epoch_ms"] / 1000.0 - spawn
    r["gen_s"], r["sizes"] = gen_s, sizes
    print(f"{a.workload} {'traced' if traced else 'untraced'}: {len(r['pass_ms'])} timed "
          f"passes; gen {gen_s:.1f} s (median of {GEN_REPEATS}), jvm {jvm_s:.1f} s (session "
          f"{r['session_ms'] / 1000:.1f}, set-up {r['setup_ms'] / 1000:.1f}, passes "
          f"{sum(r['pass_ms']) / 1000:.1f}, verify {r['verify_ms'] / 1000:.1f}), oracle "
          f"{oracle_s:.1f} s; CPU steal during the JVM run "
          f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
    return r


def main():
    ap = argparse.ArgumentParser(description="Run one ETL benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    traces = os.path.join(build.build_dir(), "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
    # a traced run is a second JVM run with the same seed; the untraced
    # one before it gives the end-to-end numbers and the tracing overhead
    runs = [measure(classes, a, False, spans)]
    if a.trace:
        runs.append(measure(classes, a, True, spans))
    r = runs[0]

    ops = [o for x in runs for o in x["ops"]]
    attempted = len(ops)
    failed = sum(x["failed"] for x in runs)
    problems = [p for x in runs for p in x["problems"]]
    correct = not problems and failed == 0
    op_ms = [o["ms"] for o in r["ops"] if o["timed"]]
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (statistics.median(r["pass_ms"]) / 1000.0, "s"),
        "op_p50_ms": (quantile(op_ms, 0.5), "ms"),
        "op_p90_ms": (quantile(op_ms, 0.9), "ms"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "write_amp": (r["bytes_written"] / max(1, r["bytes_read"]), "ratio"),
        "error_rate": (failed / max(1, attempted), "ratio"),
    }
    for p in problems:
        print(f"[bench] {p}", file=sys.stderr)
    print(f"inputs: sf{WORKLOADS[a.workload]}, " + ", ".join(
        f"{t} {v['rows']} rows {v['disk_bytes']} B on disk {v['decoded_bytes']} B decoded"
        for t, v in r["sizes"].items()))
    print(f"{a.workload}: {failed}/{attempted} operations failed or wrong"
          + (f"; {len(problems)} problems: " + "; ".join(problems[:10]) if problems else ""))
    for k, (v, u) in e2e.items():
        note = f" ({len(op_ms)} operations; not in the result below 100)" if (
            k == "op_p90_ms" and len(op_ms) < 100) else ""
        print(f"{k} = {v:.6g} {u}{note}")
    by_name = {}
    for o in r["ops"]:
        if o["timed"]:
            by_name.setdefault(o["name"], []).append(o["ms"])
    print("slowest operations (name: count x median ms): " + ", ".join(
        f"{n}: {len(v)}x{statistics.median(v):.0f}"
        for n, v in sorted(by_name.items(), key=lambda kv: -sum(kv[1]))[:12]))

    if a.trace:
        t = runs[1]
        layers = dict(t["layers"])
        layers["gen.input_ms"] = t["gen_s"] * 1000.0
        layers["peak_rss_mb"] = r["peak_rss_mb"]
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(t["pass_ms"]) / statistics.median(r["pass_ms"]) - 1.0)
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(f"spans: {spans}")
    else:
        wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
