#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <station|curation> --seed N \
        --seconds S --trace <0|1> [--cores N]

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles src/main/scala with the benchmark's own
sources); later runs reuse the build while no source changed. Inputs
come from gen.py and the seed alone. The JVM side (perfbench.Main) runs
the workload through the program's public API on local[cores] and
writes what it measured; this script adds the set-up time and the
DuckDB oracle compare of the declared queries, then prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). It exits 1 when a correctness check fails, and 2 when the
program's sources are missing.
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

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
STAMP = os.path.join(BUILD, "perfbench-sources.sha256")
# Spark on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
UNITS = {"setup_s": "s", "ops_ok_ratio": "ratio", "live_heap_mb": "MB",
         "op_p50_geomean_s": "s", "ops_per_s": "1/s", "write_p50_s": "s",
         "write_items_per_s": "1/s", "recall": "ratio", "dedup_recall": "ratio",
         "bytes_per_input_byte": "ratio"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark unless the sources are unchanged since the
    last build; returns the runtime classpath and whether it built."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh2:
                    return fh2.read().strip(), False
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return lines[-1].strip(), True


def oracle_start(sf_dir, verify_dir):
    """Starts the repository's DuckDB oracle compare over the declared
    queries the curation mix ran; returns (process, names)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    p = subprocess.Popen([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                          sf_dir, verify_dir] + names,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return p, names


def oracle_finish(p):
    """Waits for the compare; returns the names of the queries that failed."""
    try:
        stdout, _ = p.communicate(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    failed = [l.split()[1].rstrip(":") for l in stdout.splitlines() if l.startswith("FAIL")]
    if p.returncode != 0 and not failed:
        failed = ["oracle_check"]
    if failed:
        sys.stderr.write(stdout)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    nproc = len(os.sched_getaffinity(0))
    ap.add_argument("--cores", type=int, default=nproc)
    a = ap.parse_args()
    # a signal unwinds like an error: every child is stopped and waited
    # for, and the work directory removed
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {ROOT}/src/main/scala/graft")
        sys.exit(2)
    classpath, built = build()

    # set-up starts at process start (after a build, if this run built):
    # input generation, JVM and Spark start and the workload's bootstrap,
    # up to the first timed call
    t0 = time.time() if built else T_START
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    out = os.path.join(work, "result.json")
    workloads = sorted(gen.WORKLOADS) if a.trace else [a.workload]
    shutil.rmtree(work, ignore_errors=True)
    try:
        dims = {w: gen.generate(w, a.seed, os.path.join(inputs, w)) for w in workloads}
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
               ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores), "--out", out])
        # a gated run must end within 180 s; an ungated baseline on fewer
        # cores (--cores 1) may take longer
        limit = 175 - (time.time() - t0) if a.cores >= nproc else 900
        verify = os.path.join(work, "verify")
        sf_dir = os.path.join(inputs, "curation", "sf")
        oracle = None
        with subprocess.Popen(cmd, stdout=sys.stderr) as jvm:
            try:
                # the JVM marks its declared-query results READY before
                # its audit; the compare runs alongside
                end = time.time() + limit
                while jvm.poll() is None:
                    if oracle is None and os.path.exists(os.path.join(verify, "READY")):
                        oracle = oracle_start(sf_dir, verify)
                    if time.time() > end:
                        log(f"benchmark JVM still running after {limit:.0f} s; stopping it")
                        sys.exit(1)
                    time.sleep(0.2)
            finally:
                # stopped early (time limit, signal): stop the JVM and wait for it
                if jvm.poll() is None:
                    jvm.kill()
                    jvm.wait()
                if oracle is not None and jvm.returncode != 0:
                    oracle[0].kill()
                    oracle[0].wait()
        if jvm.returncode != 0 or not os.path.exists(out):
            log(f"benchmark JVM exited {jvm.returncode}")
            sys.exit(1)
        with open(out) as fh:
            r = json.load(fh)
        checks = r["checks"]
        failed = r["failed"]
        if "curation" in workloads:
            proc, names = oracle or oracle_start(sf_dir, verify)
            bad = oracle_finish(proc)
            checks.append({"name": "curation.declared_queries_match_duckdb",
                           "ok": not bad, "detail": f"{len(names) - len(bad)}/{len(names)}"})
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open("/proc/loadavg") as fh:
        loadavg = fh.read().split()[:3]
    print(json.dumps({"traffic": dims, "measured": r["traffic"], "checks": checks,
                      "cores": a.cores, "nproc": nproc,
                      "loadavg": loadavg}, sort_keys=True))
    attempted = max(1, r["attempted"])
    if a.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in r["per_layer"].items()}
    else:
        e2e = dict(r["end_to_end"])
        e2e["setup_s"] = r["first_op_ms"] / 1e3 - t0
        e2e["ops_ok_ratio"] = (attempted - failed) / attempted
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
    correct = all(c["ok"] for c in checks) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
