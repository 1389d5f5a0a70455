#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the engine sources
(src/main) together with the benchmark (perfbench/src) through sbt and
caches the classpath under perfbench/target; later runs reuse it until a
source file changes. The JVM gets the engine's own flags: the JDK 17
add-opens Spark needs and the jdk.incubator.vector module the SIMD kernels
need. The last stdout line is one JSON object with the metrics that
BENCHMARK.json lists: its end_to_end metrics untraced, its per_layer
metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars directory of the engine's own build (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if os.path.isdir(d):
            return d
    die("no Spark jars found: the engine's build.sbt names none and SPARK_HOME is not set")


def build(stamp):
    if os.path.exists(LAUNCH):
        with open(LAUNCH) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        die("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(LAUNCH, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def commit():
    """The checked-out commit, when the checkout is a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def java_cmd(classpath, work):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *flags, "--add-modules=jdk.incubator.vector",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}", "-cp", classpath]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if not a.self_test and a.workload not in ("serve", "batch", "mixed", "curate"):
        die(f"unknown workload {a.workload!r}")

    stamp = source_stamp()
    classpath = build(stamp)
    work = os.path.join(HERE, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            sys.exit(subprocess.run(java_cmd(classpath, work) + ["perfbench.SelfTest"],
                                    timeout=RUN_TIMEOUT_S).returncode)
        spans = os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.csv")
        cmd = java_cmd(classpath, work) + [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--spans", spans, "--source", stamp, "--commit", commit()]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        try:
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                                 timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.stdout.rstrip("\n").splitlines()
        if out.returncode != 0 or not lines:
            sys.stdout.write(out.stdout)
            die(f"benchmark JVM exited with code {out.returncode}")
        result = json.loads(lines[-1])
        for l in lines[:-1]:
            print(l)
        wanted = spec["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
        if missing:
            die(f"metrics missing from the run: {', '.join(missing)}")
        result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in wanted}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
