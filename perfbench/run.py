#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
with sbt (the program through its own build, the benchmark through
perfbench/build.sbt) and records the runtime classpath under .bench_build/;
later runs start the JVM on that classpath directly and rebuild only when
a source file changed. Every file a run writes stays under .bench_build/.

The last line of standard output is the run's result, one JSON object
with the keys correct, attempted, failed and metrics.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("bar-append", "range-read", "corpus-ingest")
# A run's JVM must end well inside the 180 s a run may take.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 needs these outside spark-submit, as the program's own
# build passes them to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
# Class-data archive of the classes a run loads, written when the first
# run after a build exits and mapped by every later run: Spark's classes
# then load in a fraction of the time, which shortens each run's start.
ARCHIVE = os.path.join(OUT, "classes.jsa")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, and this script, in a stable order."""
    picked = [os.path.abspath(__file__)]
    for base in (ROOT, HERE):
        picked += [os.path.join(base, "build.sbt"), os.path.join(base, "project", "build.properties")]
        for d, dirs, files in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            picked.extend(os.path.join(d, f) for f in sorted(files))
    for d, dirs, files in os.walk(os.path.join(ROOT, "project")):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
        picked.extend(os.path.join(d, f) for f in sorted(files) if f.endswith((".sbt", ".scala")))
    return sorted(set(picked))


def stamp():
    h = hashlib.sha256()
    for p in filter(os.path.exists, sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jarred(entry):
    """A classpath entry as a jar: the class-data archive maps classes
    from jars only. Class directories are packed into .bench_build/."""
    if not os.path.isdir(entry):
        return entry
    rel = os.path.relpath(entry, ROOT)
    jar = os.path.join(OUT, "jars", rel.replace(os.sep, "_") + ".jar")
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(entry):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, entry))
    return jar


def classpath():
    """The runtime classpath, building first when a source changed."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it is needed to build the program")
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            done = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build did not finish in {BUILD_TIMEOUT_S} s; see {log_path}")
        log.write(done.stdout)
    lines = [l for l in done.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if done.returncode != 0 or not lines:
        fail(f"build failed (exit {done.returncode}); see {log_path}")
    cp = ":".join(jarred(e) for e in lines[-1].strip().split(":"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources next to {HERE}; run from the root of a full checkout")

    cp = classpath()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              # JVM notices go to stderr, so the result stays stdout's last line
              "-Xlog:disable", "-Xlog:all=warning:stderr",
              (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
               else f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    # Spark prefers these to spark.local.dir; the run's files stay in the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not finish in {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"the run failed (exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
