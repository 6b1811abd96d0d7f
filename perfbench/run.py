#!/usr/bin/env python3
"""Benchmark for the engine: one workload, one seed, one process.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Workloads (sizes in perfbench/workloads.json):
  etl_pipeline   the cpx-etl stage gates, then exact-hash dedup and n-gram
                 decontamination, over seeded TPC-H-style tables and a
                 corpus with planted near-duplicates
  index_serving  IVF-PQ and BM25 ingest, sink appends, deletes and probes

The first run compiles the engine and the benchmark with sbt (its own
build in perfbench/) and caches the classpath under perfbench/target.
Each run generates its inputs from the seed, starts one JVM on
local[<cores>], warms up at the timed size, measures for at least
--seconds, checks every op against the DuckDB oracle and prints one JSON
line last. With --trace 1 it times the passes untraced, then again
traced, and prints the per-layer metrics; spans and reports land in
perfbench/out/.
Everything a run writes lives in a run directory under perfbench/out/,
removed at the end.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
TARGET = os.path.join(BENCH, "target")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # the oracle process inherits this through the env
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
SETUP_REPEATS = 3
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project/build.properties")]
    return files


def classpath():
    """Compile with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cache = os.path.join(TARGET, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building engine + benchmark with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = out.stdout.splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def digest(d):
    h = hashlib.sha256()
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(cfg, seed, d):
    return gen.generate(d, seed, cfg["sizes"], cfg["near_dup_rate"], cfg["exact_dup_rate"])


def jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    # its own process group, so stopping it also stops the oracle it started
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    return p.returncode, out.splitlines()


def run(a, cfg):
    cp = classpath()
    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        # set up several times and keep the median; the inputs must come
        # out byte-identical every time
        times, digests = [], set()
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            generate(cfg, a.seed, os.path.join(run_dir, "input"))
            times.append(time.perf_counter() - t0)
            digests.add(digest(os.path.join(run_dir, "input")))
        if len(digests) != 1:
            raise SystemExit("input generation is not deterministic")
        params = ",".join(f"{k}={v}" for k, v in cfg.get("params", {}).items())
        rc, lines = jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--out-dir", OUT, "--params", params,
            "--gen-seconds", repr(statistics.median(times)),
            "--launch-ms", str(int(time.time() * 1000)),
            "--python", sys.executable,
            "--oracle-script", os.path.join(BENCH, "oracle.py")], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if ln not in result:
            print(ln, file=sys.stderr)
    if rc != 0 or not result:
        raise SystemExit(f"benchmark JVM exited with {rc}")
    print(result[-1], flush=True)


def selftest(cfgs):
    """Inputs are a pure function of the seed, and the correctness check
    rejects a result with one altered value."""
    cfg = cfgs["etl_pipeline"]
    d = os.path.join(OUT, f"selftest-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    try:
        for wl, c in cfgs.items():
            generate(c, 7, os.path.join(d, "a"))
            generate(c, 7, os.path.join(d, "b"))
            generate(c, 8, os.path.join(d, "c"))
            for t in gen.TABLES:
                a_, b_, c_ = (open(os.path.join(d, x, f"{t}.parquet"), "rb").read()
                              for x in "abc")
                if a_ != b_:
                    raise SystemExit(f"{wl}/{t}: same seed gave different bytes")
                if t not in ("region", "nation") and a_ == c_:
                    raise SystemExit(f"{wl}/{t}: another seed gave the same bytes")
        log("inputs: same seed is byte-identical, another seed differs")
        run_dir = os.path.join(d, "run")
        generate(cfg, 7, os.path.join(run_dir, "input"))
        rc, lines = jvm(classpath(), [
            "--workload", "etl_pipeline", "--seed", "7", "--seconds", "0", "--trace", "0",
            "--run-dir", run_dir, "--out-dir", OUT, "--params", "",
            "--gen-seconds", "0", "--launch-ms", "0", "--python", sys.executable,
            "--oracle-script", os.path.join(BENCH, "oracle.py"), "--self-test", "1"],
            run_dir)
        print("\n".join(lines))
        if rc != 0:
            raise SystemExit("correctness self-test failed")
        log("check: engine result matches the oracle, an altered result is rejected")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to perfbench/")
    with open(os.path.join(BENCH, "workloads.json")) as f:
        cfgs = json.load(f)
    if a.selftest:
        return selftest(cfgs)
    if a.workload not in cfgs:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {sorted(cfgs)}")
    run(a, cfgs[a.workload])


if __name__ == "__main__":
    main()
