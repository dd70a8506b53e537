#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload omics_pipelines --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the product and the
harness with sbt and generates the parquet fixtures; both are cached under
.bench_build/ (keyed by a hash of their sources), which also holds every
file a run writes. See perfbench/README.md for the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("omics_pipelines", "llm_dedup")
RUN_DEADLINE_S = 165      # the whole run, build excluded
HEAP = "4g"
# JDK 17 module opens Spark needs outside spark-submit (the product's
# build.sbt passes the same list to forked runs)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(patterns):
    h = hashlib.sha256()
    for pat in patterns:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile product + harness once per source state; return classpath."""
    key = tree_hash(["build.sbt", "project/*.properties", "src/main/**",
                     "perfbench/build.sbt", "perfbench/project/*.properties",
                     "perfbench/src/**"])
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if not os.path.exists(cp_file):
        log("building product and harness with sbt")
        # resolve only from local caches, as the product's own build does
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx4g"]
            if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
                opts.append("-Dsbt.override.build.repos=true")
            env["SBT_OPTS"] = " ".join(opts)
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        if out.returncode != 0 or not lines or "[" in lines[-1][:1]:
            sys.stderr.write(out.stdout[-4000:])
            sys.exit("build failed")
        with open(cp_file, "w") as fh:
            fh.write(lines[-1].strip())
    with open(cp_file) as fh:
        return fh.read().strip()


def fixtures():
    key = tree_hash(["perfbench/gen_fixtures.py"])
    out = os.path.join(BUILD, f"fixtures-sf0.1-{key}")
    if not os.path.exists(os.path.join(out, "DONE")):
        log("generating sf0.1 fixtures")
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_fixtures.py"),
                        out], check=True, timeout=300)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def jvm(cp, args, out, deadline):
    """Run perfbench.Main in a fresh JVM and return its JSON result. A JVM
    still running when this returns or raises is killed and reaped."""
    scratch = os.path.join(BUILD, "scratch")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xmx{HEAP}"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={scratch}/derby",
            f"-Dderby.stream.error.file={scratch}/derby.log",
            "-cp", cp, "perfbench.Main"] + args +
           ["--out", out, "--scratch", scratch,
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--t0-ms", str(int(time.time() * 1000))])
    p = subprocess.Popen(cmd, cwd=scratch, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr)
    try:
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.exit("run exceeded its deadline")
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"harness JVM exited with {rc}")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    with open(out) as fh:
        return json.load(fh)


def quantile(xs, q):
    """Linear-interpolated quantile (the 'inclusive' method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see the finally in jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        sys.exit("perfbench must run from a graft checkout: no product sources")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    fx = fixtures()
    deadline = time.monotonic() + RUN_DEADLINE_S
    # every JVM writes only below scratch/ and halts without Spark's
    # cleanup, so each run starts from an empty one
    shutil.rmtree(os.path.join(BUILD, "scratch"), ignore_errors=True)
    outdir = os.path.join(BUILD, "out")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    args = ["--mode", "bench", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", fx,
            "--refs", os.path.join(BENCH, "references.json")]
    if a.trace:
        args += ["--trace-out", os.path.join(BUILD, "trace", tag + ".json")]
    # set-up is timed twice, in JVMs that do not overlap: a probe that only
    # builds the session, then the measuring JVM
    probe = jvm(cp, ["--mode", "setup"], os.path.join(outdir, "setup.json"),
                deadline)
    r = jvm(cp, args, os.path.join(outdir, tag + ".json"), deadline)
    setups = [probe["setup_s"], r["setup_s"]]
    attempted = r["attempted"]
    failed = len(r["failures"])
    for f in r["failures"]:
        log(f"FAILED {f['query']} pass {f['pass']}: {f['error']}")
    warm = r["warm_query_s"]
    if not warm:
        sys.exit("no query ran green in a warm pass")
    passes = len(r["warm_pass_s"])
    per_q = f"{len(warm)} warm query walls, {passes} warm passes"
    e2e = {
        "setup_s": (statistics.median(setups), "s",
                    f"{len(setups)} JVMs, one after the other"),
        "cold_pass_s": (r["cold_pass_s"], "s", "1 pass"),
        "warm_pass_s": (statistics.median(r["warm_pass_s"]), "s",
                        f"{passes} warm passes"),
        "query_p50_s": (quantile(warm, 0.5), "s", per_q),
        "query_p90_s": (quantile(warm, 0.9), "s", per_q),
        "error_rate": (failed / attempted, "ratio", f"{attempted} attempts"),
        "driver_heap_peak_mb": (r["driver_heap_peak_mb"], "MB",
                                f"{attempted // (passes + 1)} cold-pass "
                                "samples"),
    }
    for k, (v, unit, n) in e2e.items():
        log(f"{k} = {v:.6g} {unit} (n = {n})")
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = json.load(fh)["per_layer"]
        metrics = {m["name"]: {"value": r["layers"][m["name"]],
                               "unit": m["unit"]} for m in per_layer}
    else:
        metrics = {k: {"value": v, "unit": unit}
                   for k, (v, unit, _) in e2e.items() if k != "error_rate"}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
