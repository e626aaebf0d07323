#!/usr/bin/env python3
"""Production-path benchmark of the graft correction pipeline.

Usage, from the root of a checkout:

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, offline, into
`.bench_build/`) when the sources changed since the last build, then runs
the harness JVM: it generates the seeded workload, runs
`graft.RunPipeline.run` on it for `--seconds`, checks every output, and
prints the metrics. The last line of standard output is one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`.
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ocr_skewed", "curated_crawl")
RUN_LIMIT_S = 170  # the harness JVM is killed past this, and the run fails

# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark install whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of an identical source tree
    is already recorded; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "RunPipeline.scala")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    if shutil.which("java") is None:
        fail("java not found on PATH")

    cp = build()
    start = time.monotonic()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, tag + ".log")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "pipebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--traces", os.path.join(BUILD, "traces")])
    result = None
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL, text=True)

        def stop(msg):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(msg)

        # a terminated benchmark takes its JVM down with it
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda signum, _: stop(f"stopped by signal {signum}"))
        try:
            out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            stop(f"harness exceeded {RUN_LIMIT_S}s (see {log})")
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("PIPEBENCH_INFO "):
            print(line)
        elif line.startswith("PIPEBENCH_RESULT "):
            result = json.loads(line[len("PIPEBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        with open(log) as f:
            tail = f.readlines()[-20:]
        sys.stderr.write("".join(tail))
        fail(f"harness exited with {proc.returncode} and no result (see {log})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
