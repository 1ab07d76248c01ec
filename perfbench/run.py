#!/usr/bin/env python3
"""graft benchmark: builds the program from source, prepares its inputs,
runs one workload in a fresh JVM and prints the result as the last line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --self-test
  python3 perfbench/run.py --workload <name> --pin    # rewrite perfbench/expected/<name>.json

Everything it writes goes under $CARGO_TARGET_DIR (default .bench_build)
inside the checkout: compiled classes, the generated 10x dataset, one
scratch directory per run (removed at exit) and trace files.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The whole run, set-up included, must end well inside three minutes.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
DATAGEN_REPS = 10
JVM_OPTS = [
    # a fixed, pre-touched heap: heap growth never lands inside a timed call
    "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:+UseG1GC", "-Duser.timezone=UTC",
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first Spark
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(p)) for p in os.environ.get("PATH", "").split(os.pathsep)
        if p and os.path.exists(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise BenchError("no Spark jars found (set SPARK_HOME)")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    main = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not main:
        raise BenchError(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    return main + glob.glob(os.path.join(HERE, "src/*.scala"))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    os.makedirs(d, exist_ok=True)
    return d


def run_checked(cmd, timeout, logfile):
    """Runs cmd in its own process group, output to logfile; kills the
    whole group on timeout and always waits for it to end."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException as e:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise BenchError(f"{cmd[0]} timed out after {timeout:.0f} s; log: {logfile}")
            raise
    if rc != 0:
        with open(logfile, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise BenchError(f"{cmd[0]} exited {rc}; log tail:\n{tail}")


def build(bdir, jars):
    """Compiles the program's sources and the benchmark's into one class
    directory keyed by their content, reused while they are unchanged."""
    srcs = sources()
    classes = os.path.join(bdir, "classes-" + tree_hash(srcs))
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    run_checked(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                 "-classpath", os.path.join(jars, "*")] + srcs,
                BUILD_TIMEOUT_S, os.path.join(bdir, "build.log"))
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"built {classes} in {time.time() - t0:.1f} s")
    return classes


def jvm(classes, jars, args, timeout, logfile, tmpdir):
    os.makedirs(tmpdir, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmpdir, "-cp",
                                 classes + os.pathsep + os.path.join(jars, "*"),
                                 "perfbench.Main"] + args
    run_checked(cmd, timeout, logfile)


def datasets(bdir, classes, jars, deadline):
    """The base tables ship with the benchmark; the 10x set is generated
    from them once per checkout and reused while the base tables and the
    generator are unchanged. Returns (data dir, generation seconds)."""
    base = os.path.join(HERE, "data", "sf0.01")
    key = tree_hash(glob.glob(os.path.join(base, "*.parquet")) +
                    [os.path.join(HERE, "src", "Datagen.scala")])
    data = os.path.join(bdir, "data-" + key)
    marker = os.path.join(data, "datagen_s")
    if not os.path.exists(marker):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(base, os.path.join(tmp, "base"))
        t0 = time.time()
        jvm(classes, jars, ["datagen", "--src", os.path.join(tmp, "base"),
                            "--out", os.path.join(tmp, "x10"), "--reps", str(DATAGEN_REPS)],
            max(1, deadline - time.time()), os.path.join(bdir, "datagen.log"),
            os.path.join(tmp, "tmp"))
        shutil.rmtree(os.path.join(tmp, "x10.work"), ignore_errors=True)
        shutil.rmtree(os.path.join(tmp, "tmp"), ignore_errors=True)
        with open(os.path.join(tmp, "datagen_s"), "w") as f:
            f.write(f"{time.time() - t0:.3f}\n")
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(marker) as f:
        return data, float(f.read())


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(result, wanted):
    """The final stdout line: exactly correct/attempted/failed/metrics,
    with every wanted metric present, numeric and in its unit."""
    metrics = result["metrics"]
    missing = sorted(set(wanted) - set(metrics))
    extra = sorted(set(metrics) - set(wanted))
    if missing or extra:
        raise BenchError(f"metric set mismatch: missing {missing}, unexpected {extra}")
    out = {}
    for name in sorted(wanted):
        m = metrics[name]
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or v != v:
            raise BenchError(f"metric {name} is not a number: {v!r}")
        if m["unit"] != wanted[name]:
            raise BenchError(f"metric {name} has unit {m['unit']}, expected {wanted[name]}")
        out[name] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(result["attempted"]), int(result["failed"])
    if attempted < 1:
        raise BenchError("no call was attempted")
    return json.dumps({"correct": bool(result["correct"]), "attempted": attempted,
                       "failed": failed, "metrics": out})


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="write the observed digests to perfbench/expected instead of checking")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args(argv)
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    start = time.time()
    deadline = start + RUN_TIMEOUT_S
    jars = spark_jars()
    bdir = build_dir()
    # one benchmark at a time per checkout: builds and data are shared
    lock = open(os.path.join(bdir, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    classes = build(bdir, jars)
    if a.self_test:
        work = os.path.join(bdir, f"selftest-{os.getpid()}")
        try:
            data, _ = datasets(bdir, classes, jars, time.time() + 900)
            jvm(classes, jars, ["selftest", "--data", data, "--work", work], 300,
                os.path.join(work, "jvm.log"), os.path.join(work, "tmp"))
            with open(os.path.join(work, "jvm.log")) as f:
                print("".join(l for l in f if l.startswith(("ok ", "selftest"))), end="")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        rc = subprocess.call([sys.executable, "-m", "unittest", "-q", "test_run"], cwd=HERE)
        return rc
    wanted = expected_metrics(a.trace)
    # the first run in a checkout also builds and generates data
    data, datagen_s = datasets(bdir, classes, jars, start + 840)
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    work = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    expected = os.path.join(HERE, "expected", f"{a.workload}.json")
    trace_out = os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.json")
    try:
        jvm(classes, jars, ["run", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--work", work, "--expected", expected,
                            "--out", os.path.join(work, "result.json"),
                            "--trace-out", trace_out, "--pin", "1" if a.pin else "0"],
            max(1, deadline - time.time()), os.path.join(work, "jvm.log"),
            os.path.join(work, "tmp"))
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(bdir, f"last-{a.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)
    diag = dict(result.get("diag", {}), datagen_s=datagen_s,
                wall_s=round(time.time() - start, 3))
    print(json.dumps({"diagnostics": diag}))
    print(result_line(result, wanted), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(str(e))
        sys.exit(2)
