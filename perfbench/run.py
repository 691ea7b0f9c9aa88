#!/usr/bin/env python3
"""Scenario benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--out results.jsonl]

Run from the root of a checkout. Builds the engine and the benchmark
driver from source on first use (sbt, offline), generates the seeded
inputs, runs one workload in one JVM at local[nproc], runs the DuckDB
oracle checks, and prints the result record as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
`--out` appends the full record (with the workload-specific extras and
the host canary) as one JSON line, for compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
WORKLOADS = ["curation_flow", "serve_mix"]
RUN_TIMEOUT_S = 170

sys.path.insert(0, HERE)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt when any source changed; returns the classpath."""
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                with open(CLASSPATH) as g:
                    return g.read()
    env = dict(os.environ)
    # offline: dependencies come from the local caches and the
    # repositories file sbt reads by default
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    cp = [ln for ln in p.stdout.splitlines()
          if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(want)
    return cp[-1]


def java_cmd(cp, work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
            + flags + ["-cp", cp, "graft.perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found next to the benchmark; run from a checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    cp = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import gen
        import oracle
        gen.generate(a.seed, work)
        cmd = java_cmd(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds),
                                  "--trace", str(a.trace), "--work", work])
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)

        def stop(signum, frame):
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        watchdog = threading.Timer(RUN_TIMEOUT_S, p.kill)
        watchdog.start()
        record = None
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    record = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    sys.stdout.write(line)
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
        if p.returncode != 0 or record is None:
            die(f"workload run failed (exit {p.returncode})", 4)

        t_oracle = time.time()
        failures = oracle.check(work)
        print(f"[perfbench] oracle checks took {time.time() - t_oracle:.1f} s")
        for f in failures:
            print(f"[perfbench] ORACLE CHECK FAILED: {f}")
        record["failed"] += len(failures)
        record["correct"] = record["correct"] and not failures
        print(f"[perfbench] oracle checks: {len(failures)} failed")
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(dict(record, seed=a.seed, trace=a.trace)) + "\n")
        print(json.dumps({k: record[k] for k in
                          ("correct", "attempted", "failed", "metrics")}))
        sys.exit(0 if record["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
