#!/usr/bin/env python3
"""Build and run one benchmark run of the graft engine.

    python3 perfbench/run.py --workload <mr_corpus|query_mix|ann_lifecycle> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while no source changed, and launch the JVM directly. Every file
a run writes stays under perfbench/target. The scale-factor tables are read
from $PERFBENCH_SF_DIR (default /root/testdata/sf0.1) and never written.

The last line of standard output is the result object; any failure to
build or run exits non-zero without printing one.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: the program's and the harness's
    sources and the harness's build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(*tasks, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    return subprocess.run(cmd, cwd=HERE, env=env, timeout=timeout,
                          stdout=sys.stderr, stderr=sys.stderr).returncode


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources next to perfbench/ (expected src/main/scala)")
        sys.exit(2)
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    log("building program and harness")
    t0 = time.time()
    if sbt("writeClasspath", timeout=BUILD_LIMIT_S) != 0 or not os.path.isfile(CLASSPATH):
        log("build failed")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["mr_corpus", "query_mix", "ann_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(TARGET, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx4g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--data", os.path.join(HERE, "data"),
           "--sf", os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_LIMIT_S} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        sys.exit(5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        log("run printed no result object")
        sys.exit(6)
    # the result carries exactly the metrics BENCHMARK.json declares for
    # this mode; every other figure stays on the report line
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in declared if n not in result["metrics"]]
    if missing:
        log(f"run did not measure {missing}")
        sys.exit(7)
    result["metrics"] = {n: result["metrics"][n] for n in declared}
    print("\n".join(lines[:-1] + [json.dumps(result)]), flush=True)


if __name__ == "__main__":
    main()
