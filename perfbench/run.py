#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

It builds the program and the benchmark harness from source into
.bench_build/ (once per source change), generates the workload's inputs
from the seed, runs the workload's closed loop in one JVM, checks the
outputs, prints a table of every metric, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tagging", "curation", "session")
# the JVM's share of the 180 s a run may take; the output checks follow it
JVM_DEADLINE_S = 150.0
# local[k]: the same k on every host, so runs on hosts of different size
# measure the same program configuration
CORES = min(4, os.cpu_count() or 1)
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        # <spark home>/bin/spark-submit
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("set SPARK_HOME to a Spark distribution, or put its spark-submit on PATH "
             "(its jars/ are the classpath)")
    return jars


def build(jars):
    """Compile src/main/scala and the harness with scalac; reuse the
    classes while no source changed. Returns the run classpath."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main_src:
        fail(f"no program sources under {ROOT}/src/main/scala; run from the repository root")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in main_src + bench_src + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [bench_cls, main_cls] + jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(main_cls)
    os.makedirs(bench_cls)

    def scalac(dest, cp, sources):
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-nowarn", "-d", dest,
               "-classpath", os.pathsep.join(cp), *sources]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            fail(f"compilation into {dest} failed")

    t0 = time.time()
    scalac(main_cls, jars, main_src)
    scalac(bench_cls, [main_cls] + jars, bench_src)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return [bench_cls, main_cls] + jars


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def oracle_check(report, data):
    """Curation: the curated corpus equals the q50 oracle SQL's answer in
    DuckDB over the same generated directory, compared as tools/check.py
    compares (columns by name, exact values)."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools/check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    # The registry's q50 SQL doubles every backslash in its PII patterns
    # (CurationQueries.curationCtePrefix escapes them as if DuckDB unescaped
    # string literals; it does not), so under DuckDB the e-mail, URL and
    # phone patterns never match and PII in the corpus stays unredacted.
    # The fixture holds no PII, so the registry's own gate cannot see it;
    # the generated corpus does. Undo the doubling to get the intended
    # patterns; the rest of the statement has single backslashes only.
    sql = report["oracle_sql"].replace("\\\\", "\\")
    with open(os.path.join(data, "documents.parquet"), "rb") as f:
        key = hashlib.sha256(f.read() + sql.encode()).hexdigest()[:16]
    cached = os.path.join(BUILD, "oracle", f"q50-{key}.parquet")
    if os.path.exists(cached):
        duck = pd.read_parquet(cached)
    else:
        con = duckdb.connect()
        con.execute(f"PRAGMA threads={os.cpu_count() or 4}")
        con.execute(f"PRAGMA temp_directory='{os.path.join(BUILD, 'duckdb_tmp')}'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
        duck = con.execute(sql).df()
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        duck.to_parquet(cached + ".tmp")
        os.replace(cached + ".tmp", cached)
    files = sorted(glob.glob(os.path.join(report["curated_dir"], "*.parquet")))
    spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    duck = duck.sort_values("doc_id").reset_index(drop=True)
    spark = spark.sort_values("doc_id").reset_index(drop=True)
    verdict = check.compare("q50_curated_corpus", spark, duck)
    return [] if verdict == "OK" else [f"q50 oracle: {verdict}"]


def end_to_end(report, launched):
    """`launched`: the wall-clock time just before the JVM was started.
    Set-up runs from then to the first timed operation; throughput is over
    the wall time of the timed loop, each operation's release included."""
    lat = report["latencies"]
    loop_s = report["loop_s"]
    n = len(lat)
    return {
        "setup_s": (report["loop_start_epoch_ms"] / 1000.0 - launched, "s", 1),
        "op_p50_s": (statistics.median(lat), "s", n),
        "op_p90_s": (quantile(lat, 0.9), "s", n),
        "ops_per_s": (n / loop_s, "1/s", n),
        "docs_per_s": (report["docs"] * n / loop_s, "1/s", n),
        "cache_peak_mb": (max(report["stored_mb"]), "MB", n),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if args.workload == "all":
        # each workload in its own run, one after another
        rcs = [subprocess.call([sys.executable, os.path.abspath(__file__),
                                "--workload", w, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace)])
               for w in WORKLOADS]
        sys.exit(max(rcs))

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(bench_path) as f:
        spec = json.load(f)
    jars = spark_jars()
    classpath = build(jars)
    # the first run in a checkout also builds; the run's own deadline
    # starts after the build
    started = time.time()

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, scratch = os.path.join(run_dir, "data"), os.path.join(run_dir, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"))
    t0 = time.time()
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True  # keep every output under .bench_build/
    import gen
    manifest = gen.generate(args.workload, args.seed, data)
    gen_s = time.time() - t0

    report_path = os.path.join(run_dir, "report.json")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={scratch}/tmp",
           "-cp", os.pathsep.join(classpath), "graftbench.Main",
           "--workload", args.workload, "--data", data, "--scratch", scratch,
           "--report", report_path, "--spans", os.path.join(run_dir, "spans.jsonl"),
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(CORES)]
    log_path = os.path.join(run_dir, "jvm.log")
    jvm_start = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, JVM_DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM did not finish in time; see {log_path}")
    if rc != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"the JVM exited with code {rc}; see {log_path}")
    jvm_s = time.time() - jvm_start
    with open(report_path) as f:
        report = json.load(f)

    failures = list(report["op_failures"]) + list(report["check_failures"])
    if report.get("warmup_failure"):
        failures.append(f"warm-up: {report['warmup_failure']}")
    if args.workload == "curation":
        failures += oracle_check(report, data)
    attempted = report["attempted"]
    failed_ops = len({f.split(":")[0] for f in report["op_failures"]})
    correct = not failures

    e2e = end_to_end(report, jvm_start)
    e2e["failed_frac"] = (failed_ops / attempted, "1", attempted)
    print(f"workload {args.workload} seed {args.seed}: {manifest['n_docs']} documents, "
          f"{attempted} operations, generation {gen_s:.2f} s, JVM {jvm_s:.1f} s, "
          f"{CORES} cores")
    for name, (value, unit, n) in e2e.items():
        print(f"  {name:<28} {value:>14.6g} {unit:<6} n={n}")
    for f in failures:
        print(f"  FAILED: {f}")

    if args.trace:
        layers = dict(report["layers"])
        stage_layers = report["stage_layers"]
        by_key = report["by_key"]
        for name, value in sorted({**layers, **stage_layers}.items()):
            print(f"  {name:<34} {value:>14.6g}")
        print("  per operation key (traced phase, medians):")
        for key, v in sorted(by_key.items()):
            print(f"    {key:<30} n={v['n']:<3.0f} construct {v['construct_s']:8.4f} s  "
                  f"action {v['action_s']:8.4f} s  jobs {v['jobs']:.0f}")
        print(f"  spans: {report['spans']}")
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({"per_layer": layers, "stages": stage_layers, "by_key": by_key},
                      f, indent=1)
        every = {**layers, **stage_layers}
        metrics = {m["name"]: {"value": every[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      # a failed final check marks the run's output wrong
                      # even when every operation completed
                      "failed": max(failed_ops, 0 if correct else 1),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
