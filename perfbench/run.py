#!/usr/bin/env python3
"""Build and run the mvtspark benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload tile-build --seed 1 --seconds 6 --trace 0

The first run in a checkout compiles the program's sources together with
the harness (sbt, offline, in perfbench/); later runs reuse the build until
a source file changes. The harness then runs on a plain JVM. The last line
of standard output is the result object; everything the run writes stays
under .bench_build/ in the checkout.
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile", "printClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                             capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
    cps = [l[len("CLASSPATH="):] for l in out.stdout.splitlines() if l.startswith("CLASSPATH=")]
    if out.returncode != 0 or not cps:
        fail(f"build failed (sbt exit {out.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def source_rev(digest):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0:
            return rev.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + digest[:16]


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to perfbench/; run from a full checkout")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    digest = source_digest()
    cp = build(digest)
    env = dict(os.environ)
    env["PERFBENCH_SOURCE_REV"] = source_rev(digest)
    env["SPARK_LOCAL_IP"] = env.get("SPARK_LOCAL_IP", "127.0.0.1")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main",
        "--goldens", os.path.join(HERE, "goldens.json"),
        "--out", os.path.join(BUILD, "perfbench"),
    ] + sys.argv[1:]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
