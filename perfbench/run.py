#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine and the benchmark (sbt, offline) and prepares the input data
under `.bench_build/`; later runs reuse both while their sources are
unchanged. Each run starts one benchmark JVM (`perfbench.Main`) on
local[<all cores>], then checks the outputs: query results against
DuckDB through `tools/compare_oracle.py`, the ingest table against the
benchmark's own model. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
The exit code is 0 only for a correct run.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

START = time.monotonic()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")
SF01 = os.path.join(BENCH, "data", "sf0.1")  # the project corpus, copied as is
RUN_LIMIT_S = 175

# the input tables of each workload; the inputs are fixed, a run's seed
# orders and shapes its work
WORKLOADS = {
    "serial_sf01": SF01,
    "scale_sf1": os.path.join(DATA, "sf1"),
    "ingest_table": None,
}
SPEC = json.load(open(os.path.join(BENCH, "..", "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# the engine's build passes to its forked JVMs).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench {time.monotonic() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        files += [p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if os.path.isfile(p)]
    return files


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    return env


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp = tree_hash(sources())
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and benchmark (sbt)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=700)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, args, work, heap="3g"):
    return (["java", *ADD_OPENS, f"-Xmx{heap}", f"-Xms{heap}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, main, *args])


def run_java(cmd, work, logname, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    with open(os.path.join(work, logname), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{cmd[-1] if cmd else 'java'} timed out; log in {work}/{logname}", 3)


def prepare(cp):
    """One-time inputs: sf1 = graft.tools.ScaleData x10 of the committed
    sf0.1 (one parquet file per table, as the oracle compare reads them).
    Records source, factor, rows per table and a content checksum of both."""
    stamp = tree_hash([os.path.join(BENCH, "inputs.py"),
                       os.path.join(ROOT, "src/main/scala/graft/tools/ScaleData.scala"),
                       *glob.glob(os.path.join(SF01, "*.parquet"))])
    marker = os.path.join(DATA, "prep.json")
    if os.path.exists(marker) and json.load(open(marker)).get("stamp") == stamp:
        return
    log("preparing input data (one time)")
    sys.path.insert(0, BENCH)
    import inputs
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(DATA)
    sf1 = WORKLOADS["scale_sf1"]
    work = os.path.join(DATA, "scale-work")
    rc = run_java(java_cmd(cp, "graft.tools.ScaleData", [SF01, sf1, "10"], work),
                  work, "scaledata.log", 600)
    if rc != 0:
        die(f"ScaleData failed; log in {work}/scaledata.log")
    shutil.rmtree(work, ignore_errors=True)
    inputs.flatten(sf1)
    info = {"stamp": stamp,
            "sf0.1": {"made_by": "TESTDATA.md corpus, copied to perfbench/data/sf0.1",
                      "sf": 0.1, **inputs.describe(SF01)},
            "sf1": {"made_by": "graft.tools.ScaleData", "source_sf": 0.1, "factor": 10,
                    **inputs.describe(sf1)}}
    with open(marker + ".tmp", "w") as f:
        json.dump(info, f, indent=1)
    os.replace(marker + ".tmp", marker)
    log(f"data ready: {json.dumps({k: v['checksum'] for k, v in info.items() if k != 'stamp'})}")


def oracle_failures(data_dir, out_dir, keys):
    """Keys whose output the oracle compare does not accept."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                        data_dir, out_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=max(1, RUN_LIMIT_S - (time.monotonic() - START)))
    seen, bad = set(), set()
    for line in r.stdout.splitlines():
        m = re.match(r"^(OK|ROWS|FAIL|ERR)\s+([A-Za-z0-9_]+)", line)
        if m:
            seen.add(m.group(2))
            if m.group(1) in ("FAIL", "ERR"):
                bad.add(m.group(2))
                log(line)
    return bad | (set(keys) - seen)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "tools/compare_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the repository root: {need} not found under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build / data preparation at a time
        cp = build()
        prepare(cp)
    global START
    START = time.monotonic()  # the run limit starts after the one-time steps

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = WORKLOADS[a.workload] or ""
    record_path = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", record_path]
    rc = run_java(java_cmd(cp, "perfbench.Main", args, work), work, "jvm.log",
                  RUN_LIMIT_S - 15 - (time.monotonic() - START))
    if rc != 0 or not os.path.exists(record_path):
        die(f"benchmark JVM failed (exit {rc}); log in {work}/jvm.log", 1)
    rec = json.load(open(record_path))

    ops = rec["ops"]
    wrong = set()
    if data:
        keys = rec["checks"]["keys"]
        wrong = oracle_failures(data, os.path.join(work, "outputs"), keys)
        wrong |= set(rec["checks"]["broken_keys"])
        rec["checks"]["oracle_failed_keys"] = sorted(wrong)
    else:
        if rec["checks"]["model_mismatches"]:
            log(f"table differs from the model: {rec['checks']}")
    failed = sum(1 for o in ops if not o["ok"] or o["key"] in wrong)
    correct = failed == 0 and not wrong and not rec["checks"].get("model_mismatches")

    if a.trace:
        metrics = {n: {"value": float(rec["layers"].get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER.items()}
        metrics["trace.overhead_s"]["value"] = float(rec["trace_overhead_s"])
    else:
        metrics = {n: {"value": float(rec["metrics"][n]), "unit": u}
                   for n, u in END_TO_END.items()}

    # keep the run record (weather, shutdown, traced layers) and drop the bulk
    keep = os.path.join(BUILD, "records")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{tag}.json"), "w") as f:
        json.dump(rec, f)
    if a.trace and os.path.exists(os.path.join(work, "trace_spans.json")):
        shutil.copy(os.path.join(work, "trace_spans.json"),
                    os.path.join(keep, f"{tag}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    w = rec["weather"]
    log(f"weather: load_flag={w['load_flag']} calib_drift_flag={w['calib_drift_flag']} "
        f"nondaemon_threads_after_stop={w['nondaemon_threads_after_stop']}")

    print(json.dumps({"correct": bool(correct), "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
