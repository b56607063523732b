#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (perfbench/jvm) and caches the
classpath under perfbench/.build; later runs reuse it while the
sources are unchanged. Each run then

  1. generates the workload's inputs from the seed (perfbench/gen.py),
  2. starts one JVM with one Spark session on every core and one
     closed-loop client (perfbench/jvm, perfbench.Main),
  3. runs one untimed warm-up cycle that writes or asserts every op's
     full output, then timed cycles for S seconds,
  4. compares each warm-up output with its oracle in DuckDB through the
     repository's oracle gate (scripts/check_oracle.py),
  5. prints a detail line and, last, one JSON object with `correct`,
     `attempted`, `failed` and `metrics`: the end-to-end metrics with
     --trace 0, the per-layer metrics with --trace 1.

Everything it writes stays under perfbench/.build and perfbench/.work.
It exits 1 when any output is wrong and 2 when it cannot run at all.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JVM_PROJECT = os.path.join(HERE, "jvm")
ARCHIVE = os.path.join(BUILD, "classes.jsa")

sys.path.insert(0, HERE)

# Input sizes per workload: the taxi CSV's rows; the star schema's scale
# factor, with the corpus at the 500 documents and 500 vectors of the
# small catalog scales. Then the untimed warm-up cycles before the timed
# ones: a fresh JVM's C2 compiles take several cycles to settle.
CONFIG = {
    "dbt_pipeline": {"taxi_rows": 20_000, "warm_cycles": 5},
    "catalog_serving": {"sf": 0.005, "docs": 500, "vecs": 500, "warm_cycles": 1},
}
END_TO_END = {"setup_s": "s", "cycle_s": "s", "op_p50_ms": "ms", "held_mb": "MB"}
JVM_TIMEOUT_S = 170
# the heap the repository's own build gives its JVMs
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(JVM_PROJECT, "src"), os.path.join(JVM_PROJECT, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, tmp, archive_flag):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           archive_flag, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + ["-cp", cp, "perfbench.Main"]


def build():
    """Return the benchmark program's classpath, building first when needed.

    A build compiles the engine and the benchmark program into jars, then runs one
    training JVM through a warm-up cycle of both workloads (seed 0) that
    records the classes it loads into a class-data archive: every later JVM maps that
    archive instead of loading ~10k classes from jars one by one,
    which takes seconds off each run's set-up.
    """
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            die(f"no engine sources: {p} is missing next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if all(os.path.exists(p) for p in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=JVM_PROJECT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    cp = lines[-1].strip()
    import gen
    train = os.path.join(BUILD, "train")
    for w, cfg in CONFIG.items():
        gen.main(os.path.join(train, w, "data"), w, 0, cfg)
    tmp = os.path.join(train, "tmp")
    os.makedirs(tmp)
    log = os.path.join(train, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.run(java_cmd(cp, tmp, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
                              ["--train", train], cwd=train, stdout=lf,
                              stderr=subprocess.STDOUT,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=tmp), timeout=600)
    if proc.returncode != 0 or not os.path.exists(ARCHIVE):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"the class-archive training run exited with {proc.returncode}"
            " and left no archive")
    shutil.rmtree(train, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_jvm(cp, args, work, data, t0):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(cp, tmp, f"-XX:SharedArchiveFile={ARCHIVE}") + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--warm", str(CONFIG[args.workload]["warm_cycles"]),
        "--data", data, "--work", work, "--out", out, "--t0", str(int(t0 * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            proc = subprocess.run(cmd, cwd=work, env=env, stdout=lf,
                                  stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"the run exceeded {JVM_TIMEOUT_S} s; see {log}")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        die(f"the JVM exited with {proc.returncode}; see {log}")
    with open(out) as f:
        return json.load(f)


def check_outputs(data, work, checks):
    """Compare every written op output with its oracle SQL in DuckDB
    through the repository's oracle gate (scripts/check_oracle.py: same
    columns, same rows, exact values); return one message per mismatch."""
    if not checks:
        return []
    check_dir = os.path.join(work, "check")
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({c["op"]: c["sql"] for c in checks}, f)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_oracle
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        check_oracle.main(data, check_dir)
    return [ln for ln in report.getvalue().splitlines() if ln.startswith("FAIL")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in CONFIG:
        die(f"unknown workload {args.workload}; one of {sorted(CONFIG)}")
    cp, built = build()
    # set-up time starts at process start, or after a build this run did
    t0 = time.time() if built else T0

    import gen
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.main(data, args.workload, args.seed, CONFIG[args.workload])
    r = run_jvm(cp, args, work, data, t0)

    mismatches = check_outputs(data, work, r["oracle_checks"])
    wrong = len(mismatches) + len(r["assert_failures"])
    for w in mismatches + r["assert_failures"]:
        print(f"perfbench: wrong result: {w}", file=sys.stderr)
    for name in r["warm_failed"]:
        print(f"perfbench: op failed in the warm-up: {name}", file=sys.stderr)
    attempted = r["attempted"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": r["session_s"], "warm_cycle_s": r["warm_cycle_s"],
        "cycles": r["cycles"], "measured_s": r["measured_s"], "cores": r["cores"],
        "samples": r["samples"], "cycle_times": r["cycle_times"], "wrong_results": wrong,
        "checked": len(r["oracle_checks"]) + r["asserted"],
        "op_fail_ratio": r["failed"] / attempted, "held_at_end_mb": r["held_at_end_mb"],
        "env.steal_pct": r["steal_pct"]}
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in r["per_layer"].items()}
    else:
        values = dict(r["e2e"], setup_s=r["setup_s"])
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": r["failed"], "metrics": metrics}))
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    sys.exit(1 if wrong else 0)


def unit_of(metric):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"),
                         ("_ratio", "ratio"), ("_over_cold", "ratio"),
                         ("_over_early", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
