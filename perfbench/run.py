#!/usr/bin/env python3
"""Benchmark of the Spark engine: seeded closed-loop workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Each run builds the harness if needed (sbt, offline), writes the seed's
inputs (inputs.py), starts one JVM that warms up, measures a closed loop for
--seconds and writes perfbench/.work/<workload>/run.json. Every distinct
result is then checked against its DuckDB twin on the same inputs, outside
the timed region. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import check
import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["dashboard", "ingest"]
JVM_TIMEOUT_S = 140
XMX = "2g"

UNITS = {"setup_s": "s", "qps": "1/s", "latency_p50_ms": "ms",
         "latency_tail_ms": "ms", "rows_per_s": "1/s",
         "stored_bytes_per_row": "B"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles the engine and the harness unless the classes are newer
    than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are "
                 "missing; run from the root of a full checkout")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config="
        + os.path.expanduser(os.path.join("~", ".sbt", "repositories")),
        "-Xmx3g"]))
    log("building (sbt compile)")
    t = time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(str(time.time()))
    log(f"built in {time.monotonic() - t:.0f}s")


def java_cmd(work, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("perfbench: SPARK_HOME is not set")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no JVM perf-data file outside the checkout
    cmd = ["java", f"-Xmx{XMX}", f"-Xms{XMX}", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(work, args):
    """Runs the harness JVM to completion; its log goes to work/jvm.log."""
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(java_cmd(work, args), cwd=ROOT, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def make_inputs(work, name, seed):
    """Writes the seed's inputs three times, to report the median set-up,
    and lists them in work/inputs.tsv; returns the generation times."""
    gen_s = []
    for _ in range(3):
        t = time.monotonic()
        tables = inputs.generate(os.path.join(work, "inputs"), name, seed)
        gen_s.append(time.monotonic() - t)
    with open(os.path.join(work, "inputs.tsv"), "w") as f:
        for t in tables:
            f.write(f"{t['table']}\t{t['rows']}\t{t['bytes']}\t{t['files']}\n")
    return gen_s


def run_workload(name, seed, seconds, trace):
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_s = make_inputs(work, name, seed)
    t = time.monotonic()
    rc = run_jvm(work, ["--workload", name, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace),
                        "--work", work, "--cpus", str(nproc()),
                        "--key-shift", str(inputs.key_shift(seed)),
                        "--gen-s", ",".join(f"{g:.6f}" for g in gen_s)])
    report_path = os.path.join(work, "run.json")
    if rc is None or not os.path.exists(report_path):
        sys.exit(f"perfbench: {name} run did not finish (exit {rc}); "
                 f"see {os.path.join(work, 'jvm.log')}")
    with open(report_path) as f:
        report = json.load(f)
    jvm_s = time.monotonic() - t
    mismatched = check.run_checks(os.path.join(work, "inputs"),
                                  report["checks"])
    log(f"{name}: JVM {jvm_s:.1f}s, DuckDB check "
        f"{time.monotonic() - t - jvm_s:.1f}s")
    by_key = report["ops_by_key"]
    failed = report["failed"] + sum(
        by_key[k]["n"] - by_key[k]["failed"] for k in mismatched
        if k in by_key)
    attempted = report["attempted"]
    report["error_rate"] = failed / attempted if attempted else 1.0
    report["correct"] = (rc == 0 and not mismatched and failed == 0
                         and report["setup"]["warmup_failures"] == 0)
    report["failed_total"] = failed
    report["mismatched"] = mismatched
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1)
    if report["failures"]:
        log(f"{name}: failures: {report['failures']}")
    if mismatched:
        log(f"{name}: results differing from DuckDB: {mismatched}")
    return report


def result_line(report, trace):
    if trace:
        metrics = dict(report["layers"])
        metrics["error_rate"] = report["error_rate"]
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in metrics.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in report["metrics"].items()}
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed_total"], "metrics": metrics}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "error_rate", "scan.rows_per_result_row"):
        return "ratio"
    return "count"


def describe(report):
    env = report["env"]
    inputs = ", ".join(f"{t['table']} {t['rows']} rows/{t['bytes']} B"
                       for t in report["inputs"])
    log(f"{report['workload']}: seed {report['seed']}, "
        f"{report['clients']} client(s), nproc {env['nproc']}, "
        f"Xmx {env['xmx_mb']} MB, Spark {env['spark_version']}, "
        f"commit {git_commit()}; inputs: {inputs}")
    log(f"{report['workload']}: stream {report['stream']}; "
        f"setup {report['setup']}")
    for k, v in report["metrics"].items():
        log(f"{report['workload']}: {k} = {v:.6g} {UNITS[k]}")
    log(f"{report['workload']}: error_rate = {report['error_rate']:.6g} "
        f"(tail = p{report['tail_pct']:g})")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def selftest():
    """Harness self-tests, then a brief smoke run of every workload."""
    build()
    work = os.path.join(WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ok = inputs.selftest(work)
    make_inputs(work, "dashboard", 1)
    rc = run_jvm(work, ["--mode", "selftest", "--work", work,
                        "--cpus", str(nproc()),
                        "--key-shift", str(inputs.key_shift(1))])
    with open(os.path.join(work, "jvm.log")) as f:
        passed = [line.rstrip() for line in f
                  if line.startswith(("PASS ", "FAIL "))]
    for line in passed:
        print(line)
    ok &= bool(rc == 0 and passed
                and all(p.startswith("PASS") for p in passed))
    ok &= check.selftest()
    for name in WORKLOADS:
        for trace in ([0, 1] if name == "dashboard" else [0]):
            r = run_workload(name, seed=7, seconds=2, trace=trace)
            good = r["correct"] and r["error_rate"] == 0 and r["attempted"] > 0
            print(f"{'PASS' if good else 'FAIL'} smoke {name} trace={trace}: "
                  f"{r['attempted']} ops, error_rate {r['error_rate']}")
            ok &= good
    print("SELFTEST " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    lines = {}
    for name in names:
        report = run_workload(name, a.seed, a.seconds, a.trace)
        describe(report)
        lines[name] = result_line(report, a.trace)
    if len(names) == 1:
        print(json.dumps(lines[names[0]]))
    else:
        print(json.dumps({
            "correct": all(v["correct"] for v in lines.values()),
            "attempted": sum(v["attempted"] for v in lines.values()),
            "failed": sum(v["failed"] for v in lines.values()),
            "metrics": {f"{n}.{k}": m for n, v in lines.items()
                        for k, m in v["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
