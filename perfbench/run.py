#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from
the checkout's own sources (with the harness in perfbench/harness) and
generates the input tables; both are cached under .bench_build/ and
rebuilt when their sources change. The run then starts one JVM at
local[4], sets the workload up five times, warms it with one untimed
pass and measures timed passes for --seconds. Outputs are checked after
the timed region. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. Exit code 0 only when every op
succeeded and every output matched.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("queries", "lake")
# Input scale (lineitem rows = 6M x sf). The tables are generated once
# with a fixed generator seed, so every output check runs against
# tables whose oracle agreement is known.
SCALE = "0.01"
DATA_SEED = 42
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def toolchain():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("no Spark runtime: set SPARK_HOME")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.access(java, os.X_OK):
        java = shutil.which("java")
    sbt = shutil.which("sbt")
    if not java or not sbt:
        fail("java and sbt must be on PATH")
    return spark_home, java, sbt


def source_files():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(src):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
    files = glob.glob(os.path.join(src, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    return sorted(files)


def stamp_of(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(spark_home, sbt):
    """The harness jar (engine + harness), rebuilt when a source changed."""
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_path = os.path.join(BUILD, "perfbench.stamp")
    stamp = stamp_of(source_files())
    if os.path.exists(jar) and open(stamp_path).read() == stamp:
        return jar
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, SPARK_HOME=spark_home)
    with open(log, "w") as out:
        r = subprocess.run([sbt, "-batch", "package"], cwd=HARNESS, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=840)
    built = glob.glob(os.path.join(HARNESS, "target", "scala-2.13", "perfbench_*.jar"))
    if r.returncode != 0 or not built:
        fail(f"build failed, see {log}")
    shutil.copyfile(built[0], jar)
    shutil.rmtree(os.path.join(BUILD, "fixtures"), ignore_errors=True)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return jar


def tables(sf):
    """Input tables at scale `sf`, generated once (atomic rename)."""
    gen = os.path.join(HERE, "gen.py")
    with open(gen, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"sf{sf}-seed{DATA_SEED}-{version}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, sf, str(DATA_SEED)], check=True)
        os.rename(tmp, out)
    return out


def jvm(java, spark_home, jar, jvm_opts, main_args, work):
    """Run perfbench.Main in `work`; returns its exit code."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    cmd = [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           *jvm_opts,
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-cp", ":".join([jar] + jars), "perfbench.Main", *main_args,
           "--work", work]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s, see {work}/jvm.log")


def prepare(java, spark_home, jar, data):
    """Per-build preparation, in one JVM: the lake fixtures (written by
    the engine under test) and a class-data archive of everything a run
    loads, from one set-up and pass of every workload. Later JVMs map the
    archived classes instead of loading them (about 8 s less start-up).
    Both are dropped when the jar is rebuilt."""
    jsa = os.path.join(BUILD, "perfbench.jsa")
    fixtures = os.path.join(BUILD, "fixtures", os.path.basename(data))
    done = os.path.join(fixtures, "DONE")
    if not (os.path.exists(jsa) and os.path.exists(done)):
        # lake files are written where they are read: the engine's
        # sidecars record absolute file paths
        shutil.rmtree(os.path.join(BUILD, "fixtures"), ignore_errors=True)
        if os.path.exists(jsa):
            os.remove(jsa)
        work = os.path.join(BUILD, "run", "prepare")
        shutil.rmtree(work, ignore_errors=True)
        rc = jvm(java, spark_home, jar, [f"-XX:ArchiveClassesAtExit={jsa}"],
                 ["--workload", "prepare", "--seed", "1", "--seconds", "0", "--trace", "0",
                  "--data", data, "--fixtures", fixtures], work)
        if rc != 0 or not os.path.exists(jsa):
            fail(f"preparation run exited {rc}, see {work}/jvm.log")
        open(done, "w").close()
        shutil.rmtree(work, ignore_errors=True)
    return jsa, fixtures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    source_files()
    spark_home, java, sbt = toolchain()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        jar = build(spark_home, sbt)
        data = tables(SCALE)
        jsa, fixtures = prepare(java, spark_home, jar, data)
        work = os.path.join(BUILD, "run", args.workload)
        shutil.rmtree(work, ignore_errors=True)
        record = os.path.join(work, "record.json")
        rc = jvm(java, spark_home, jar, [f"-XX:SharedArchiveFile={jsa}"],
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--fixtures", fixtures, "--out", record], work)
        if rc != 0 or not os.path.exists(record):
            fail(f"JVM exited {rc}, see {work}/jvm.log")
        with open(record) as f:
            rec = json.load(f)
        t_check = time.time()
        failures, extra = checks.check(rec, data)
        t_check = time.time() - t_check

    for key, msg in sorted(failures.items(), key=str)[:20]:
        print(f"perfbench: FAIL [{key}] {msg}", file=sys.stderr)
    attempted = len(rec["ops"]) + extra
    failed = len(failures)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics.per_layer(rec) if args.trace else metrics.end_to_end(rec)}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "setup_runs": rec["setup_s"], "window_s": rec["window_s"],
                      "passes": [round(p["wall_s"], 3) for p in rec["passes"]],
                      "check_s": round(t_check, 3)}), file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
