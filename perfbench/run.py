#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. The JVM half (perfbench.Main) generates the
workload's inputs from the seed, drives graft in-process and records
what it measured; this script then checks every output against
expectations computed independently from the generated inputs (DuckDB
oracles for registry queries) and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and a span JSONL is written under .bench_build/traces).
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
BUILD = os.path.join(ROOT, ".bench_build")
CONF = json.load(open(os.path.join(HERE, "workloads.json")))

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 150
HEAP = "3g"
MAX_CORES = 4  # local[N]: N = min(MAX_CORES, cores of the box)


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt", "project",
                 "perfbench/project"):
        p = os.path.join(ROOT, base)
        walk = [(p, [], [""])] if os.path.isfile(p) else os.walk(p)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                fp = os.path.join(d, f) if f else d
                st = os.stat(fp)
                h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles library + harness; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building graft + perfbench with sbt ...")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=850)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        log(r.stdout[-4000:], r.stderr[-2000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, seed, seconds, trace, work, cores, dials):
    result = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Xms{HEAP}", "-Xmn512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--cores", str(cores),
              "--result", result, "--spans", spans,
              # setup_s counts from the JVM's launch, not from its main()
              "--launch-ms", str(int(time.time() * 1000))]
           + [f"{k}={v}" for k, v in dials.items()])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    if code != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
        log(tail)
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    res = json.load(open(result))
    res["spans_path"] = spans if os.path.exists(spans) else None
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/Cli.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} missing under {ROOT}")
    import checks
    import metrics

    dials = CONF[a.workload]
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, cores, dials)
        t0 = time.time()
        verdicts = checks.check(res, os.path.join(work, "in"), work)
        log(f"output checks took {time.time() - t0:.1f} s")
        out = metrics.report(res, verdicts, a.trace, BUILD)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    main()
