#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source with sbt (offline, against the local Spark
jars) into perfbench/target; later runs reuse that build while the sources
are unchanged. Work files go to .bench_build/perfbench/<workload>.

Workloads (see README.md): milan, catalog. The seed
makes every input (for catalog, whose tables are fixed, the query order);
the same seed gives the same inputs. With --trace 0 the
last stdout line carries the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Outputs are checked in the same run: a
wrong result counts as a failed operation.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("milan", "catalog")
RUN_LIMIT_S = 170  # every run must end within 180 s
BUILD_LIMIT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_dir):
    """Compiles with sbt unless the last build was of the same sources;
    returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}", 2)
    digest = source_digest()
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(f"build failed (rc={rc}); log at {os.path.relpath(log, ROOT)}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    with open(cp_file) as fh:
        return fh.read().strip()


def java_cmd(cp, work, args, budget_s, data_dir):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *opens, "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
            "--budget", f"{budget_s:.1f}", "--data", data_dir]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".bench_build", "perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = build(work)
    t_built = time.monotonic()

    # the catalog reads the reference tables kept with the benchmark; the
    # Milan workload generates its own CSVs
    data_dir = os.path.join(BENCH, "data", "sf0.01")

    # a run ends within RUN_LIMIT_S of the build (a first run may also build)
    deadline = t_built + RUN_LIMIT_S
    budget = deadline - time.monotonic() - 45  # room for the last operation and the checks
    with open(os.path.join(work, "jvm.out"), "w") as out, open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(java_cmd(cp, work, args, budget, data_dir),
                                stdout=out, stderr=err, stdin=subprocess.DEVNULL, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic() - 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("benchmark JVM exceeded the run time limit", 4)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.err")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"benchmark JVM failed (rc={rc})", 5)
    with open(result_path) as fh:
        res = json.load(fh)

    attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
    if args.workload == "catalog":
        import catalog_oracle
        bad = catalog_oracle.check(os.path.join(work, "out"), os.path.join(work, "oracle.json"))
        failed += len(bad)
        errors += [f"{q}: {e}" for q, e in sorted(bad.items())]
    res["layer"]["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    for e in errors:
        print(f"perfbench: failed: {e}", file=sys.stderr)

    metrics = {}
    if args.trace == 0:
        for m in spec["end_to_end"]:
            v = res["e2e"].get(m["name"])
            if v is None or v["value"] is None:
                die(f"end-to-end metric {m['name']} was not measured", 6)
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    else:
        # a layer this workload does not call reads 0
        for m in spec["per_layer"]:
            v = res["layer"].get(m["name"])
            value = v["value"] if v is not None and v["value"] is not None else 0.0
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
