#!/usr/bin/env python3
"""Build the program with the benchmark driver and run one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sae_state --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the repo's sources together with the
driver (sbt, offline) into .bench_build/; later runs reuse that build until
a source file changes. Each run sweeps the benchmark's scratch directory,
starts one JVM, and relays its report. The last line of stdout is the
result JSON. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("sae_state", "sae_county", "corpus_ingest")
JVM_TIMEOUT_S = 170
HEAP = "4g"

# what SparkSession needs on JDK 17 when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["src/main/**/*.scala", "src/main/**/*.java", "build.sbt",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jar directory: set SPARK_HOME")


def build():
    """Compile once per source state; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dperfbench.sparkJars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    print("[perfbench] building (sbt compile) ...", file=sys.stderr)
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "sbt-target" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing")
    cp = build()

    out = os.path.join(BUILD, "run")
    scratch = os.path.join(out, "scratch")
    # every run starts cold: nothing from an earlier run survives
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    # the JVM runs in its own process group: take it down with us
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        stop()
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(stdout[-4000:])
        fail(f"benchmark JVM failed (exit {proc.returncode})")
    shutil.rmtree(scratch, ignore_errors=True)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
