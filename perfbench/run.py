#!/usr/bin/env python3
"""Run one workload of the live-engine benchmark and print its result.

    python3 perfbench/run.py --workload fused_mix --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The harness runs in its own JVM. Its last
stdout line, the compact JSON result, is printed as this script's last
line, whatever sbt or the JVM print around it.

Exit codes: 0 with a result; 2 if the engine's sources are not beside this
directory or the arguments are bad; 1 if the build or the run failed.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap: a growing one made batch times spread about twice as much.
HEAP = "2g"

# Spark on JDK 17 outside spark-submit (the engine's build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources_digest():
    """Hash of every input of the build: both build definitions and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
        if os.path.isfile(repos):
            env["SBT_OPTS"] += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(1)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.stderr.write(f"perfbench: the engine's sources are not in {ROOT}\n")
        sys.exit(2)

    classpath = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace, "--out", OUT]
    try:
        p = subprocess.run(java, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: the run took over {RUN_TIMEOUT_S} s\n")
        sys.exit(1)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(f"perfbench: no result (exit code {p.returncode})\n")
        sys.exit(1)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
