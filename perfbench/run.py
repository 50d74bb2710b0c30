#!/usr/bin/env python3
"""hydrorasterspark benchmark: builds the engine from source, runs one
workload in one JVM and prints the result as the last stdout line.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Everything it builds or writes goes
under `.bench_build/` there. See perfbench/README.md for the workloads,
metrics and checks.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark installation whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    return ""


SPARK_JARS = spark_jars()
WORKLOADS = ("tile_pipeline", "dem_hydrology", "tile_ingest")
HEAP = "2g"
# Spark 4 on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # one run, build excluded


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    if not SPARK_JARS:
        fail("Spark jars not found; set SPARK_HOME")
    return engine + bench


def build():
    """Compiles engine + benchmark sources into one jar, once per source
    content, and records a class-data-sharing archive of the classes a
    run loads, so that each run's JVM maps them instead of loading them."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    # the archive takes classes from jars only
    with zipfile.ZipFile(os.path.join(tmp, "bench.jar"), "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                jar.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    # the archive records the class path, so it is made at the final path
    os.rename(tmp, out)
    print("perfbench: compiled in %.1f s" % (time.time() - t0), file=sys.stderr)
    t0 = time.time()
    # recording warns once for each class it cannot archive
    train = ["-XX:ArchiveClassesAtExit=" + os.path.join(out, "classes.jsa"), "-Xlog:all=error:stderr"]
    proc = subprocess.Popen(jvm_command(out, train) + ["--train", "1", "--workload", "all", "--seed", "0"],
                            stdout=sys.stderr, stderr=sys.stderr, cwd=BUILD)
    try:
        code = proc.wait(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = -1
    if code != 0:
        fail("the class-recording run failed with code %d" % code)
    open(os.path.join(out, ".ok"), "w").close()
    print("perfbench: recorded classes in %.1f s" % (time.time() - t0), file=sys.stderr)
    return out


def jvm_command(out, extra_flags=()):
    """The benchmark JVM up to its main class; it maps the class archive
    when the build made one."""
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           # C1 only: with C2 on, the compiler threads recompile Spark's per-query
           # classes for minutes and take one of the four cores from the tasks,
           # so pass times drift 40% over the first minute of a run
           "-XX:TieredStopAtLevel=1",
           "-Dlog4j2.configurationFile=file:" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-Dspark.ui.enabled=false",
           # JVM log lines go to stderr, so stdout holds only the result
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + list(extra_flags)
    archive = os.path.join(out, "classes.jsa")
    if not extra_flags and os.path.exists(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    return cmd + ["-cp", os.path.join(out, "bench.jar") + os.pathsep + os.path.join(SPARK_JARS, "*"),
                  "hrbench.Main", "--root", BUILD]


def host_context():
    ctx = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                ctx["mem_total_kb"] = int(line.split()[1])
    return ctx


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def run_jvm(built, args, extra, deadline):
    cmd = jvm_command(built) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--size", args.size] + extra
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=BUILD)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_LIMIT_S)
    if proc.returncode != 0:
        fail("benchmark JVM exited with code %d" % proc.returncode)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1][len("RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size class; smoke is for the benchmark's own tests")
    ap.add_argument("--selftest", action="store_true",
                    help="run every output check on corrupted outputs instead of measuring")
    args = ap.parse_args()

    built = build()
    deadline = time.time() + RUN_LIMIT_S
    if args.selftest:
        res = run_jvm(built, args, ["--selftest", "1"], deadline)
        print(json.dumps(res))
        sys.exit(0 if not res["missed"] else 1)

    host = host_context()
    host["load1_before"] = load1()
    steal0, total0 = cpu_times()
    res = run_jvm(built, args, [], deadline)
    steal1, total1 = cpu_times()
    host["load1_after"] = load1()
    host["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    detail = res.pop("detail")
    detail["host"] = host
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace)
    with open(os.path.join(BUILD, "results", name), "w") as fh:
        json.dump({"result": res, "detail": detail}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
