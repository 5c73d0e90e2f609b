#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line of
standard output.

    python3 graftbench/run.py --workload core --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine together
with the harness (sbt, in this directory) and writes the classpath; every
measured run is then a plain `java` process. Inputs are generated from
the seed into .bench_build/data and reused for that seed. With --trace 0
the result carries the end-to-end metrics, with --trace 1 the per-layer
metrics. The full result, the raw samples and the spans of each run are
kept under .bench_build/runs. The exit code is 0 only when every query
execution succeeded and every output matched its oracle fingerprint.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

# the module options a SparkSession needs on JDK 17 outside spark-submit
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
JVM_TIMEOUT_S = 160


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for f in ([p] if os.path.isfile(p) else
                  glob.glob(os.path.join(p, "**", "*.scala"), recursive=True)):
            newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Builds the engine and the harness when a source is newer than the
    last build; returns the runtime classpath."""
    if not os.path.isdir(ENGINE):
        raise SystemExit(f"engine sources not found at {ENGINE}")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [ENGINE, os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt")]
    if (not os.path.exists(cp_file)
            or os.path.getmtime(cp_file) < newest_mtime(sources)):
        if "SPARK_HOME" not in os.environ:
            raise SystemExit("SPARK_HOME must name the Spark installation "
                             "whose jars the engine builds against")
        log("building engine and harness with sbt")
        subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       check=True, timeout=840)
    with open(cp_file) as f:
        return f.read().strip()


def dataset(name, seed):
    """The generated input directory for (dataset, seed), made once."""
    sf, k = workloads.DATASETS[name]
    path = os.path.join(WORK, "data", f"{name}-sf{sf}x{k}-seed{seed}")
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, sf, k)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as f:
        return path, json.load(f)


def run_jvm(cp, w, data, out, seconds, trace):
    local = os.path.join(out, "local")
    os.makedirs(os.path.join(local, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *OPENS,
           f"-Djava.io.tmpdir={local}/tmp", "-cp", cp, "graftbench.Harness",
           f"workload={w}", f"data={data}", f"out={out}", f"local={local}",
           "queries=" + ",".join(workloads.WORKLOADS[w]["queries"]),
           f"seconds={seconds}", f"trace={trace}",
           f"cores={workloads.cores()}", f"setups={workloads.SETUPS}",
           f"warmup={workloads.WORKLOADS[w]['warmup']}",
           f"minpasses={workloads.MIN_PASSES}"]
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=out, stdout=jlog, stderr=jlog)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"measured JVM exceeded {JVM_TIMEOUT_S} s")
    shutil.rmtree(local, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"measured JVM exited with {code}; see {out}/jvm.log")
    with open(os.path.join(out, "raw.json")) as f:
        return json.load(f)


def oracle_fingerprints(raw, data):
    """Expected fingerprint of each query: its DuckDB oracle over the same
    inputs, computed once per seed and pinned in the data directory."""
    import duckdb
    pin = os.path.join(data, "expected.json")
    pinned = {}
    if os.path.exists(pin):
        with open(pin) as f:
            pinned = json.load(f)
    con = None
    for q in raw["queries"]:
        sql = raw["oracle_sql"].get(q)
        key = hashlib.sha256(sql.encode()).hexdigest() if sql else None
        if key and pinned.get(q, {}).get("sql_sha256") == key:
            continue
        fp = None
        if sql:
            if con is None:
                con = duckdb.connect()
                for t in gen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data}/{t}.parquet')")
            con.register("oracle_out", con.execute(sql).arrow())
            fp = metrics.fingerprint(con, "oracle_out")
        pinned[q] = {"sql_sha256": key, "fingerprint": fp}
    with open(pin, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
    return {q: pinned[q]["fingerprint"] for q in raw["queries"]}


def check_outputs(raw, data, out):
    """Fingerprint gate: each query's check-pass output against its oracle.
    Returns ({query: problem} for every failed check, {query: fingerprint})."""
    import duckdb
    expected = oracle_fingerprints(raw, data)
    con = duckdb.connect()
    problems = {}
    fingerprints = {}
    for q in raw["queries"]:
        if raw["check"][q]:
            problems[q] = raw["check"][q]
            continue
        files = glob.glob(os.path.join(out, "check", q, "*.parquet"))
        got = metrics.fingerprint(con, f"read_parquet({files!r})")
        fingerprints[q] = got
        if expected[q] is None:
            problems[q] = "no oracle"
        elif got != expected[q]:
            problems[q] = f"fingerprint {got} != oracle {expected[q]}"
    shutil.rmtree(os.path.join(out, "check"), ignore_errors=True)
    return problems, fingerprints


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    w = workloads.WORKLOADS[a.workload]

    cp = classpath()
    data, manifest = dataset(w["data"], a.seed)
    out = os.path.join(WORK, "runs",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    raw = run_jvm(cp, a.workload, data, out, a.seconds, a.trace)
    jvm_s = time.perf_counter() - t0
    problems, fingerprints = check_outputs(raw, data, out)

    execs = raw["executions"]
    errors = {f"{e['query']}@{e['phase']}{e['pass']}": e["error"]
              for e in execs if e["error"]}
    attempted = len(execs) + len(raw["check"])
    failed = len(errors) + len(problems)
    if a.trace:
        values = metrics.per_layer(raw, w["queries"])
        units = {m["name"]: m["unit"] for m in workloads.PER_LAYER}
    else:
        values = metrics.end_to_end(raw)
        units = {m["name"]: m["unit"] for m in workloads.END_TO_END}
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }
    info = {
        "failed_frac": metrics.failed_frac(failed, attempted),
        "query_p50_s": statistics.median(metrics.warm_walls(raw)),
        "query_tail_s": metrics.query_tail(metrics.warm_walls(raw)),
        "warm_samples": len(metrics.warm_walls(raw)),
        "setup_reps_s": raw["setup_s"],
        "jvm_s": jvm_s, "data": manifest,
        "errors": errors, "check_problems": problems,
        "fingerprints": fingerprints,
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({"result": result, "info": info}, f, indent=1)
    for k, v in result["metrics"].items():
        log(f"{k:28s} {v['value']:14.6g} {v['unit']}")
    n = info["warm_samples"]
    log(f"{'query_p50_s':28s} {info['query_p50_s']:14.6g} s "
        f"(median of {n} warm samples)")
    if info["query_tail_s"]:
        p, v = info["query_tail_s"]
        log(f"{'query_tail_s':28s} {v:14.6g} s (p{p} of {n} warm samples)")
    log(f"{'failed_frac':28s} {info['failed_frac']:14.6g} frac "
        f"({failed} of {attempted}); fingerprint gate "
        f"{'passed' if not problems else 'FAILED: ' + json.dumps(problems)}")
    log(f"inputs: {w['data']} seed {a.seed}, "
        f"{sum(t['bytes'] for t in manifest['tables'].values()) / 1e6:.1f} MB "
        f"generated in {manifest['gen_s']:.2f} s (not part of setup_s)")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
