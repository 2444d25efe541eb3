#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the graft KV engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kv_serve --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with the
harness in perfbench/ (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run gets a private directory under .bench_build/
(inputs, tables, indexes and java.io.tmpdir), removed when the run ends, so
every table and index build is paid inside the run's set-up.

Standard output ends with one JSON line: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The lines
before it are the full report: host disclosure, per-kind latencies, the
workload-specific metrics and, for traced runs, the layer ledger.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kv_serve", "kv_ingest", "llm_pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "-Xmx3g"
HEAP_MIN = "-Xms3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars directory of the installed Spark: Spark's own SPARK_HOME when set,
    else the installation whose spark-submit is first on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    return None


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest, jars):
    """Compile engine + harness unless the stamped build matches the sources."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt's global state, temp files and JVM perf data stay in the checkout
    cmd = ["sbt", "-batch", f"-Dsbt.global.base={BUILD}/sbt-global",
           f"-Djava.io.tmpdir={sbt_tmp}", "-J-XX:-UsePerfData", f"-Dperfbench.sparkJars={jars}",
           "compile", "Compile/copyResources", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    jars = spark_jars()
    if jars is None:
        fail("no Spark installation found (neither SPARK_HOME nor spark-submit on PATH)")

    digest = source_digest()
    cp = build(digest, jars)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvm_flags = [HEAP, HEAP_MIN, "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m",
                 "-XX:-UsePerfData"]
    cmd = (["java"] + jvm_flags
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--run-dir", run_dir, "--source-digest", digest,
              "--jvm-flags", " ".join(jvm_flags),
              "--trace-out", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
