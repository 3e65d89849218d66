#!/usr/bin/env python3
"""Run one workload of the lake-ETL benchmark, or its self-test.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 14 --record

Run from the repository root. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt) and caches the result
under .bench_build/; later runs rebuild only when a source file changed.
Each run starts one JVM, prints its detail record, and prints as its last
line the result object {"correct", "attempted", "failed", "metrics"}.
--record stores the run's output record (the lake_query result digests)
under perfbench/expected/ for its seed.
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

WORKLOADS = ["migrate", "lake_query"]
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ["src/main", "perfbench/src"]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles library + harness when sources changed; returns the classpath."""
    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")
            and os.path.isfile("perfbench/build.sbt")):
        fail("run from the repository root: library sources or build files are missing")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD_DIR, "perfbench")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd="perfbench", stdout=fh, stderr=subprocess.STDOUT, env=env,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if ".jar" in l and " " not in l.strip()]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    cp = cps[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work):
    """Runs perfbench.Main; returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # C1-only JIT reaches steady speed within the short timed phase, and the
    # parallel collector keeps the peak resident set repeatable
    cmd = [java, "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "perfbench.Main", "--work", work,
    ] + args
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124, []
    return p.returncode, out.splitlines()


def run_once(cp, workload, seed, seconds, trace, extra=()):
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", f"{workload}-{os.getpid()}-{trace}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, lines = run_jvm(cp, ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(seconds), "--trace", str(trace), *extra], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = next((json.loads(l[len("DETAIL "):]) for l in lines if l.startswith("DETAIL ")), None)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        return None, detail
    return result, detail


def self_test(cp):
    """Every workload once at sf0.001 size, traced and untraced: every named
    metric present with its unit, outputs correct, and each output check
    rejects a deliberately damaged result."""
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ok = True
    for w in WORKLOADS:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            t0 = time.time()
            res, detail = run_once(cp, w, 1, 1, trace, ["--scale", "0.1", "--self-test", "1"])
            problems = []
            if res is None:
                problems.append("run failed")
            else:
                m = res["metrics"]
                want = {x["name"]: x["unit"] for x in bench[key]}
                missing = [n for n in want if n not in m or m[n]["unit"] != want[n]]
                extra = [n for n in m if n not in want]
                if missing:
                    problems.append(f"missing or wrong unit: {missing}")
                if extra:
                    problems.append(f"unlisted metrics: {extra}")
                if not res["correct"]:
                    problems.append(f"incorrect output: {detail and detail.get('mismatches')}")
                if not (detail or {}).get("corrupt_rejected"):
                    problems.append("a damaged output was accepted")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"self-test {w} trace={trace}: {status} ({time.time() - t0:.0f} s)", flush=True)
            ok = ok and not problems
    print(json.dumps({"self_test": "pass" if ok else "fail"}))
    return 0 if ok else 1


def record(detail):
    path = os.path.join("perfbench", "expected", f"{detail['workload']}.json")
    data = {}
    if os.path.isfile(path):
        with open(path) as fh:
            data = json.load(fh)
    data[f"seed={detail['seed']},scale={detail['scale']}"] = detail["record"]
    with open(path, "w") as fh:
        json.dump(dict(sorted(data.items())), fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="1.0")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.self_test:
        return self_test(cp)
    if not a.workload:
        fail("--workload is required")
    res, detail = run_once(cp, a.workload, a.seed, a.seconds, a.trace, ["--scale", a.scale])
    if res is None:
        fail("run failed", 1)
    if a.record and detail and "record" in detail:
        record(detail)
    print("DETAIL " + json.dumps(detail))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
