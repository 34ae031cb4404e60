#!/usr/bin/env python3
"""Workload benchmark for the export engine.

Builds the engine (src/main) together with the benchmark's own Scala
driver (perfbench/scala) from source, runs one workload in one JVM with
Spark local[nproc], checks the outputs, and prints the metrics. The last
line of standard output is one JSON object:

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --self-test

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics from a traced run. Workloads and metrics are described
in perfbench/README.md. Build output and every file a run writes go
under .bench_build/ in the checkout; run files are deleted afterwards.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from harness import oracle, stats  # noqa: E402

WORKLOADS = ["export", "queries"]
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170  # the whole run, build excluded

# module options Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no jars directory under SPARK_HOME ({home})")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("src/main/scala not found: run from the root of a checkout")
    out = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    resources = os.path.join(ROOT, "src", "main", "resources")
    return sorted(out), resources


def build():
    """Compile the engine and the benchmark's Scala code once per source
    tree; later runs reuse the classes."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "ok")
    if os.path.exists(stamp):
        return classes
    # one build at a time: drop those of other source trees
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-5000:], file=sys.stderr)
        fail("compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(stamp, "w").close()
    print(f"perfbench: compiled in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def java_cmd(classes, tmp, heap="2g"):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*")]


def run_jvm(cmd, cwd, log_path, deadline):
    """Run the JVM to completion or the deadline; returns its exit code,
    or None on timeout (the process is killed and reaped)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def log_tail(path, n=40):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def self_test():
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    classes = build()
    tmp = os.path.join(ROOT, ".bench_build", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    try:
        r = subprocess.run(java_cmd(classes, tmp, "1g") + ["perfbench.SelfTest"],
                           cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ok = ok and r.returncode == 0
    print("self-test: " + ("ok" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    if not a.workload:
        ap.error("--workload is required")

    classes = build()
    start = time.time()
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        result_path = os.path.join(tmp, "result.json")
        log_path = os.path.join(tmp, "jvm.log")
        cmd = java_cmd(classes, tmp) + [
            "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(cpus), tmp, result_path]
        rc = run_jvm(cmd, tmp, log_path, start + RUN_LIMIT_S)
        with open(log_path) as fh:
            sys.stderr.writelines(l for l in fh if "[perfbench]" in l)
        if rc != 0 or not os.path.exists(result_path):
            print(log_tail(log_path), file=sys.stderr)
            fail("timed out" if rc is None else f"benchmark JVM exited with {rc}")
        with open(result_path) as fh:
            res = json.load(fh)
        failures = list(res["rec"]["failures"])
        t_jvm = time.time()
        if a.workload == "queries":
            failures += oracle.check(res["corpus_dir"], res["check_dir"],
                                     res["mix"])
        print(f"perfbench: JVM {t_jvm - start:.1f} s, oracle check "
              f"{time.time() - t_jvm:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = res["rec"]["attempted"] + (res["untraced"]["attempted"]
                                           if a.trace else 0)
    failed = min(len(failures), attempted)
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"confs": res["confs"], "cpus": res["cpus"]}))
    if a.trace:
        metrics, counts, selfs = stats.per_layer(a.workload, res)
        units = dict(stats.PER_LAYER)
        print(json.dumps({"sample_counts": counts, "self_ms_by_span": selfs}))
    else:
        metrics = stats.end_to_end(a.workload, res, res["peak_rss_kb"] / 1024)
        units = dict(stats.END_TO_END)
        report = stats.named_report(a.workload, res["rec"], res.get("progress", []))
        report["failed_frac"] = failed / attempted
        print(json.dumps({"workload": a.workload, "report": report}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
