#!/usr/bin/env python3
"""Heatmap pipeline benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root:
    python3 perfbench/run.py --workload rebuild_dense --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

The first run compiles the repository's main sources together with the
benchmark's own code (perfbench/build.sbt); later runs reuse the classes
until a source file changes. The JVM runs `perfbench.Main` in local mode on every
core. With --trace 0 the last stdout line holds the end-to-end metrics, with
--trace 1 the per-layer metrics; the traced run also leaves its spans in
perfbench/out/. The exit code is non-zero when an output check fails.
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
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
KEEP = os.path.join(HERE, "out")
WORKLOADS = ["rebuild_dense", "rebuild_sparse", "append_daily"]
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these opens (build.sbt's list)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def sources_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        if not os.path.exists(top):
            sys.exit(f"perfbench: {os.path.relpath(top, ROOT)} not found; "
                     "run from a checkout of the whole repository")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    print("perfbench: compiling", file=sys.stderr, flush=True)
    proc = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=700)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed ({proc.returncode})")
    # output digests recorded by runs of the previous build no longer apply
    shutil.rmtree(KEEP, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_one(workload, args, cores):
    work = os.path.join(HERE, "work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(KEEP, exist_ok=True)
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [a for o in OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([CLASSES, jars]), "perfbench.Main",
              "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--keep", KEEP, "--cores", str(cores)])
    log = os.path.join(work, "stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = p.parse_args()
    build()
    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if args.workload == "all" else [args.workload]
    status = 0
    for name in names:
        code, out = run_one(name, args, cores)
        sys.stdout.write(out)
        sys.stdout.flush()
        status = status or code
    sys.exit(status)


if __name__ == "__main__":
    main()
