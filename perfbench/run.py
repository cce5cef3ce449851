#!/usr/bin/env python3
"""Build and run the perfbench benchmark.

    python3 perfbench/run.py --workload fat_backfill|cf_daily|query_mix \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record-digests perfbench/digests.json

Run from anywhere; paths resolve against the repository root (the parent
of this directory). The first run compiles src/main/scala together with
perfbench/scala into the build directory ($CARGO_TARGET_DIR, default
.bench_build) with the Scala compiler that ships in Spark's jars; later
runs reuse it while the sources are unchanged. Each run works in its own
directory under .bench_work and removes it on exit. The last line of
standard output is the result object; the line before it is the full
report.
"""
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home or "", "jars")


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources():
    """Every file the build reads, sorted: (scala sources, resources)."""
    scala, resources = [], []
    for base, out, pred in (("src/main/scala", scala, lambda f: f.endswith(".scala")),
                            ("perfbench/scala", scala, lambda f: f.endswith(".scala")),
                            ("src/main/resources", resources, lambda f: True)):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out.extend(os.path.join(d, f) for f in files if pred(f))
    return sorted(scala), sorted(resources)


def build(out):
    """Compile into <out>/classes unless the stamp says it is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: src/main/scala not found; run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    scala, resources = sources()
    h = hashlib.sha256()
    for f in scala + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + scala,
                   check=True, cwd=ROOT)
    for f in resources:
        rel = os.path.relpath(f, os.path.join(ROOT, "src", "main", "resources"))
        os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
        shutil.copyfile(f, os.path.join(tmp, rel))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main(argv):
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        try:
            classes = build(out)
        except subprocess.CalledProcessError as e:
            sys.exit(f"perfbench: build failed ({e.returncode})")
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # the heap is fixed and touched up front, so page faults on
           # first use of heap memory do not land inside timed passes
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(ROOT, "perfbench", "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Main"] + argv + ["--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    if "--workload" in argv:
        try:
            result = json.loads(stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            result = {}
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit("perfbench: no result line")


if __name__ == "__main__":
    main(sys.argv[1:])
