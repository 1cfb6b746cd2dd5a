#!/usr/bin/env python3
"""Run one perfbench workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships in the Spark jars directory, into .bench_build/;
later runs reuse the classes while the sources are unchanged. Each run
generates its inputs from the seed (gen.py), starts one JVM with a
local[nproc] Spark session and one client thread, and removes its
inputs and stores afterwards. A traced run (--trace 1) registers the
Spark listener and keeps its span file under .bench_build/perfbench/traces/.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("chado-etl", "text")
# a run must end within 180 s; the JVM gets what is left of that after
# the build and the input generation, less a margin for clean-up
RUN_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt
    compiles the program against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from a checkout "
             "of the repository root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return prog + bench


def build():
    """Compile program and benchmark together into one jar; skip when it
    was built from identical sources. A rebuild drops the class-data
    archives made from the previous jar."""
    srcs = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail("no Spark jars at " + jars)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp = os.path.join(BUILD, "classes.sha256")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar) and os.path.exists(stamp):
            with open(stamp) as f:
                if f.read().strip() == digest:
                    return jar
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
               "-cp", jars + "/*", "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        shutil.rmtree(os.path.join(BUILD, "cds"), ignore_errors=True)
        # class-data sharing maps classes from jars only, not directories
        with zipfile.ZipFile(jar + ".tmp", "w") as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        os.rename(jar + ".tmp", jar)
        with open(stamp, "w") as f:
            f.write(digest + "\n")
    return jar


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jar = build()
    t0 = time.monotonic()
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    # a killed earlier run may have left its stores behind
    for d in os.listdir(runs):
        if not alive(int(d.rsplit("-", 1)[1])):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    work = os.path.join(runs, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    gen.GENERATORS[a.workload](a.seed, inputs)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, "%s-seed%d-%d.json" % (
        a.workload, a.seed, int(time.time() * 1000)))
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.local.dir=" + tmp, "-Djava.io.tmpdir=" + tmp,
             "-Dspark.hadoop.hadoop.tmp.dir=" + tmp]
    if a.trace:
        props.append("-Dspark.extraListeners=perfbench.JobListener")
    # Class-data sharing: the first run of a workload after a build lists
    # the classes it loads; run.py then dumps them into an archive (after
    # that run's JVM has exited, so its figures are not touched), and later
    # runs map the archive instead of loading and verifying the classes
    # again, which halves JVM and Spark start-up.
    cds = os.path.join(BUILD, "cds")
    os.makedirs(cds, exist_ok=True)
    archive = os.path.join(cds, a.workload + ".jsa")
    classlist = os.path.join(cds, a.workload + ".classlist")
    if os.path.exists(archive):
        share = ["-XX:SharedArchiveFile=" + archive]
    else:
        share = ["-XX:DumpLoadedClassList=" + classlist]
    classpath = jar + os.pathsep + spark_jars() + "/*"
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-XX:+UseParallelGC"] + share
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in OPENS]
           + props
           + ["-cp", classpath,
              "perfbench.Bench", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--in", inputs, "--work", work,
              "--result", result, "--spans", spans])
    log_path = os.path.join(work, "log.txt")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(log_text[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail("the benchmark JVM %s" % ("timed out" if code is None
                                        else "exited with %s" % code))
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    # the result holds every metric BENCHMARK.json lists for this mode,
    # in its unit, and nothing else
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail("the result's metrics do not match BENCHMARK.json: %s" % sorted(
            k for k in set(want) | set(got) if want.get(k) != got.get(k)))
    if not os.path.exists(archive) and os.path.exists(classlist):
        try:
            d = subprocess.run(
                ["java", "-Xshare:dump", "-XX:-UsePerfData",
                 "-XX:SharedClassListFile=" + classlist,
                 "-XX:SharedArchiveFile=" + archive + ".tmp", "-cp", classpath],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=max(5, RUN_LIMIT_S - (time.monotonic() - t0)))
            if d.returncode == 0:
                os.rename(archive + ".tmp", archive)
        except subprocess.TimeoutExpired:
            pass  # run() killed the dump; a later run lists classes again
    for line in log_text.splitlines():
        if line.startswith("[perfbench]"):
            print(line)
    # failed or wrong-answer operations over attempted ones; not a metric
    # in BENCHMARK.json because a correct run reads 0
    print("[perfbench] error_rate %d/%d" % (res["failed"], res["attempted"]))
    if a.trace:
        print("[perfbench] span file: " + os.path.relpath(spans, ROOT))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
