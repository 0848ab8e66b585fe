#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

The first call builds the benchmark (perfbench/build.sbt compiles the
engine's sources together with the benchmark) into perfbench/target; later
calls reuse that build until a source file changes. Logs, per-run reports
and trace files go to .bench_build/. The last line of standard output is
the result JSON; every line before it is informational.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
BUILD_TIMEOUT_S = 600
# a run of up to three timed cycles (--seconds up to 34, or any traced run)
# must end within this; each further cycle (at most one per CYCLE_SECONDS,
# the shortest nominal cycle of a workload in Main.scala) adds CYCLE_TIMEOUT_S
RUN_TIMEOUT_S = 170
CYCLE_SECONDS = 10
CYCLE_TIMEOUT_S = 30
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_id(stamp):
    """`<commit>[-dirty]+<source hash>` when the checkout is a repository,
    else `source-<source hash>`: the hash always identifies the build."""
    def git(*args):
        out = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    try:
        head = git("rev-parse", "HEAD")
        if head:
            return f"{head}{'-dirty' if git('status', '--porcelain') else ''}+{stamp}"
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + stamp


def source_hash():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, cwd, env, stdout, stderr):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """$SPARK_HOME, else the first Spark installation (a bin/spark-submit
    next to a jars/ directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("SPARK_HOME is not set and no Spark installation is on PATH")


def build(stamp):
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.offline" not in sbt_opts and os.path.exists(repos):
        sbt_opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    if "-Xmx" not in sbt_opts:
        sbt_opts += " -Xmx3g"
    env["SBT_OPTS"] = sbt_opts.strip()
    log = os.path.join(OUT, "logs", "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false", "compile"],
                         BUILD_TIMEOUT_S, BENCH, env, lf, subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def expected_metrics(trace):
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    # a terminated run still stops and waits for its JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the root of a checkout")
    if not os.path.exists(os.path.join(BENCH, "build.sbt")):
        fail("perfbench/build.sbt not found")
    for d in ("logs", "reports", "tmp", "spark-local"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)

    stamp = source_hash()
    build(stamp)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(OUT, "tmp")
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(OUT, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main", "--commit", source_id(stamp)]
    if a.selftest:
        cmd += ["--selftest"]
        name = "selftest"
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_path = os.path.join(OUT, "logs", name + ".out")
    err_path = os.path.join(OUT, "logs", name + ".err")
    cycles = max(3, int(a.seconds / CYCLE_SECONDS + 0.5))
    timeout = RUN_TIMEOUT_S + CYCLE_TIMEOUT_S * (cycles - 3)
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_bounded(cmd, timeout, ROOT, dict(os.environ), out, err)
    with open(out_path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        sys.exit(0 if rc == 0 else 1)
    if rc != 0:
        fail(f"run {'timed out' if rc is None else f'failed (exit {rc})'}; see {err_path}", 4)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line; see {out_path}", 5)
    want = expected_metrics(a.trace == 1)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        fail(f"metric names differ from BENCHMARK.json: {sorted(result['metrics'])}", 6)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
