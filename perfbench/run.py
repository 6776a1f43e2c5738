#!/usr/bin/env python3
"""Closed-loop storage-engine benchmark: build once, then one fresh JVM per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest      # the checks reject a planted wrong answer

Run from the repository root. The first run compiles the repository's
main sources together with the benchmark code (perfbench/src) with sbt;
later runs reuse the classes while the sources are unchanged. The last
line of standard output is the run's JSON result; everything else goes to
standard error. See perfbench/README.md for workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.sources")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("dashboard", "live")
RUN_LIMIT_S = 170  # a run must end within 180 s ...
FIRST_RUN_LIMIT_S = 880  # ... or 900 s when it also builds
BUILD_LIMIT_S = 600

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("run.py: Spark not found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    for base in (MAIN_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile unless the classes match the sources; True if it compiled."""
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    log("compiling the repository sources and the benchmark (sbt)")
    t0 = time.time()
    sbt = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S)
    if sbt.returncode != 0:
        raise SystemExit(f"run.py: build failed ({sbt.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")
    return True


def java_cmd(home, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"] + opens + [
        "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
        "perfbench.Main"] + args


def run_once(home, workload, seed, seconds, trace, plant, deadline):
    """One fresh JVM; returns the parsed result line or None."""
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--plant", str(plant),
            "--work", work]
    proc = subprocess.Popen(java_cmd(home, work, args), cwd=work,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("run exceeded its time limit")
        return None
    finally:
        spans = [f for f in os.listdir(work) if f.startswith("spans-")] \
            if os.path.isdir(work) else []
        for f in spans:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(WORK, "spans", f))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        return None
    return json.loads(lines[-1])


def selftest(home):
    """Each workload's check must pass as is and fail on a planted answer."""
    ok = True
    for w in WORKLOADS:
        for plant in (0, 1):
            res = run_once(home, w, 7, 2, 0, plant, time.time() + RUN_LIMIT_S)
            want = plant == 0
            got = None if res is None else res["correct"]
            log(f"selftest {w} plant={plant}: correct={got} (want {want})")
            ok &= got is want
    print(json.dumps({"selftest": "pass" if ok else "FAIL"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0,
                    help="corrupt one engine answer (the check must fail)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    start = time.time()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(MAIN_SRC):
        log(f"no repository sources at {os.path.relpath(MAIN_SRC)}; run from a checkout")
        return 2
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    built = build(env)
    if a.selftest:
        return selftest(home)
    deadline = min(start + FIRST_RUN_LIMIT_S, time.time() + RUN_LIMIT_S) \
        if built else start + RUN_LIMIT_S
    res = run_once(home, a.workload, a.seed, a.seconds, a.trace, a.plant,
                   deadline)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
