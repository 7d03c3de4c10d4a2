#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
and generates the input tables; later runs reuse both until a source file
changes. Each run gets its own work directory under perfbench/.work, which
is removed when the run ends. `--pin 1` re-records the pinned result
digests in perfbench/pinned.tsv instead of measuring (after an intended
change of results).
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
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("serve_mix", "catalog_batch")
SCALE = "0.1"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these modules opened
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine and benchmark; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    key = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                     os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main")])
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    opts = env.get("SBT_OPTS", "")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(key)
    return open(cp_file).read().strip()


def data():
    """Generates the input tables once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(WORK, f"data-{tree_hash([gen])}-sf{SCALE}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        subprocess.run([sys.executable, gen, tmp, SCALE], check=True)
        os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--pin", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}; run from a checkout of the repository")

    cp = build()
    data_dir = data()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           *[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", data_dir, "--work", run_dir,
           "--pinned", os.path.join(HERE, "pinned.tsv"), "--pin", a.pin]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    if a.pin == "1":
        return
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark printed no result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
