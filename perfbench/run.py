#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload oltp|analytics|incremental \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the engine and the benchmark
from source into `.bench_build/` (only when the sources changed), generates
the workload's inputs from the seed, runs one JVM with the workload, checks
the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. A wrong answer exits non-zero.
Workload definitions live in perfbench/spec.json; perfbench/README.md
describes the metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the sbt build compiles against."""
    try:
        sbt = open(os.path.join(root, "build.sbt")).read()
    except OSError:
        fail("no build.sbt: run from the root of a checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(root, jars):
    """Compile src/main and perfbench/src into .bench_build/bench.jar, unless
    the stamp shows the same sources were compiled already."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    resources = os.path.join(root, "src/main/resources")
    res_files = sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True))
    h = hashlib.sha256()
    for s in srcs + [f for f in res_files if os.path.isfile(f)]:
        h.update(os.path.relpath(s, root).encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    jar = os.path.join(out, "bench.jar")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(out, "stamp")
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isfile(jar):
            return jar
        tmp = os.path.join(out, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
        r = subprocess.run(cmd, cwd=root)
        if r.returncode != 0:
            fail("build failed")
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        # a jar, not a directory: the JVM's class-data archive takes classes
        # only from jars on the class path
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(tmp)):
                for f in sorted(files):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
        shutil.rmtree(tmp)
        os.replace(jar + ".tmp", jar)
        for old in glob.glob(os.path.join(out, "*.jsa")):
            os.remove(old)
        with open(stamp, "w") as f:
            f.write(digest)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


def class_archive(root, cp, spec_all):
    """The JVM class-data archive, made on the first run after a build by an
    untimed training run of every workload at sf 0.001. It holds the Spark
    and engine classes the workloads load, already parsed, so each later
    JVM starts about 2.5 s sooner and its first set-up runs sooner too."""
    out = os.path.join(root, ".bench_build")
    jsa = os.path.join(out, "classes.jsa")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(jsa):
            t0 = time.time()
            work = os.path.join(root, ".bench_work", f"train-{os.getpid()}")
            shutil.rmtree(work, ignore_errors=True)
            names = list(spec_all["workloads"])
            specs = [spec_all["workloads"][w] for w in names]
            try:
                gen.generate(os.path.join(work, "data"), 0, 0.001,
                             sorted({t for sp in specs for t in sp["tables"]}))
                run_jvm(cp, work, specs[0], [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
                        ["--workload", ",".join(names), "--seed", "0", "--seconds", "1",
                         "--trace", "1", "--sf", "0.001", "--setups", "1", "--corrupt", "0"])
            except SystemExit:
                # the run goes on without the archive; the timed run itself
                # reports what went wrong
                print("perfbench: class archive training failed", file=sys.stderr)
                if os.path.exists(jsa + ".tmp"):
                    os.remove(jsa + ".tmp")
            finally:
                shutil.rmtree(work, ignore_errors=True)
            if os.path.exists(jsa + ".tmp"):
                os.replace(jsa + ".tmp", jsa)
            print(f"perfbench: class archive in {time.time() - t0:.1f} s", file=sys.stderr)
    return jsa if os.path.exists(jsa) else None


def run_jvm(cp, work, spec, jvm_opts, main_args):
    """Run perfbench.Main in `work` and return its JSON line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{spec['heap']}", "-Xss8m"] + jvm_opts
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + main_args + [
            "--data", os.path.join(work, "data"), "--work", work, "--cores", str(spec["cores"])]
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"workload JVM exited with code {p.returncode}")
    return json.loads(lines[-1])


def oracle_check(root, work):
    """DuckDB oracle over the analytics results, by the repository's own
    checker. Returns the number of keys that did not match."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        os.path.join(work, "data"), os.path.join(work, "results")],
                       capture_output=True, text=True, cwd=work)
    bad = [ln for ln in r.stdout.splitlines() if ln.strip() and " OK " not in ln
           and not ln.startswith(("PASS", "FAIL"))]
    for ln in bad:
        print(f"perfbench: oracle: {ln}", file=sys.stderr)
    if r.returncode != 0 and not bad:
        print(r.stdout + r.stderr, file=sys.stderr)
        return 1
    return len(bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test knobs: a smaller scale, fewer set-ups, a corrupted expectation
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--setups", type=int, default=None)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    spec_all = json.load(open(os.path.join(HERE, "spec.json")))
    if args.workload not in spec_all["workloads"]:
        fail(f"unknown workload {args.workload}")
    spec = spec_all["workloads"][args.workload]
    args.sf = args.sf if args.sf is not None else spec["sf"]
    args.setups = args.setups if args.setups is not None else spec["setups"]
    bench = json.load(open(bench_json))

    jars = spark_jars(root)
    cp = build(root, jars) + ":" + os.path.join(jars, "*")
    jsa = class_archive(root, cp, spec_all)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen.generate(os.path.join(work, "data"), args.seed, args.sf, spec["tables"])
        res = run_jvm(cp, work, spec, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [],
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--sf", str(args.sf), "--setups", str(args.setups),
                       "--corrupt", "1" if args.corrupt else "0"])
        checks = dict(res["checks"])
        if args.workload == "analytics":
            checks["oracle_matches"] = oracle_check(root, work) == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = int(res["failed"]) + (0 if checks.get("oracle_matches", True) else 1)
    correct = all(checks.values())
    for k, ok in sorted(checks.items()):
        print(f"perfbench: check {k}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    src = res["layers"] if args.trace else res["e2e"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    measured = set(spec.get("measures", [])) if args.trace else set()
    filled = []
    for m in wanted:
        name = m["name"]
        if name in src:
            metrics[name] = {"value": src[name]["value"], "unit": m["unit"]}
        elif args.trace and name not in measured:
            # a layer this workload does not call into did no work
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
            filled.append(name)
        else:
            fail(f"workload printed no {name}")
    if filled:
        print("perfbench: not measured by this workload: " + " ".join(filled), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
