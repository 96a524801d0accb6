#!/usr/bin/env python3
"""Result-path benchmark of the registered query surface.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source (cached by a source hash),
runs one fresh JVM that times whole rounds of the workload's ids to their
complete result rows for S seconds, checks every result against DuckDB
running the registered oracle SQL, and prints one JSON object as the last
line of stdout. Every seed runs on the same input, the reference sf0.1
tables in perfbench/data/sf0.1; the seed only names the run's trace file.
Everything it writes stays under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
from workloads import PER_LAYER, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SRC = os.path.abspath("src/main/scala")
HARNESS = os.path.join(HERE, "harness", "src")
DATA = os.path.join(HERE, "data", "sf0.1")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("op_p90_s", "s"), ("cpu_s", "s"), ("rss_peak_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def _sources(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the program and the harness with scalac (no build tool runs
    inside any metric), then dump the registry's oracle SQL."""
    prog, harn = _sources(SRC), _sources(HARNESS)
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in prog + harn:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes, hclasses = (os.path.join(BUILD, "classes"),
                         os.path.join(BUILD, "harness"))
    done = os.path.join(BUILD, "build.stamp")
    if os.path.exists(done) and open(done).read() == stamp:
        return classes, hclasses
    log("compiling program and harness")
    for d in (classes, hclasses):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    jars = f"{SPARK_JARS}/*"
    scalac = ["java", "-Xmx2g", "-Xss8m", "-cp", jars,
              "scala.tools.nsc.Main", "-nowarn"]
    for out, cp, files in ((classes, jars, prog),
                           (hclasses, f"{classes}:{jars}", harn)):
        subprocess.run(scalac + ["-d", out, "-classpath", cp] + files,
                       check=True, stdout=sys.stderr)
    subprocess.run(["java", "-cp", f"{hclasses}:{classes}:{jars}",
                    "perfbench.Harness", "--dump-oracle",
                    os.path.join(BUILD, "oracle_sql.json")],
                   check=True, stdout=sys.stderr)
    with open(done, "w") as f:
        f.write(stamp)
    return classes, hclasses


def harrell_davis(xs, q):
    """Harrell-Davis estimate of the q-quantile: the mean of all order
    statistics, weighted by the Beta((n+1)q, (n+1)(1-q)) mass of each
    rank's interval. A run has one latency per id (9 or 13), and the plain
    sample median is then one id's latency: in a set of ten runs it spread
    0.27 of its median, against 0.14 for this estimate."""
    xs, n = np.sort(xs), len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    g = (np.arange(100000) + 0.5) / 100000
    cdf = np.cumsum(np.exp((a - 1) * np.log(g) + (b - 1) * np.log1p(-g)))
    cdf = np.concatenate([[0.0], cdf / cdf[-1]])
    w = np.diff(np.interp(np.arange(n + 1) / n,
                          np.arange(len(g) + 1) / len(g), cdf))
    return float(np.dot(w, xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    ids = w["ids"]

    t0 = time.time()
    classes, hclasses = build()
    t1 = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{a.workload}-s{a.seed}.jsonl")
    n = cores()
    # the heap is fixed and pre-touched: rss_peak_mb is then the heap plus
    # what the JVM holds off-heap, not G1's adaptive young-gen footprint
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Xss8m", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{hclasses}:{classes}:{SPARK_JARS}/*", "perfbench.Harness",
           "--data", DATA, "--ids", ",".join(ids),
           "--seconds", str(a.seconds), "--cores", str(n),
           "--mode", w["mode"], "--trace", str(a.trace), "--out", run_dir]
    if a.trace:
        cmd += ["--spans", spans]
    launch_ms = int(time.time() * 1000)
    proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)],
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        try:
            rc = proc.wait(timeout=a.seconds + 120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the run did not finish in time")
        if rc != 0:
            sys.exit(f"perfbench: harness exited with {rc}")
        t2 = time.time()
        with open(os.path.join(run_dir, "metrics.json")) as f:
            m = json.load(f)
        with open(os.path.join(BUILD, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        verdict = check.check_results(
            DATA, os.path.join(BUILD, "oracle"),
            os.path.join(run_dir, "results"), oracle_sql, sorted(set(ids)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, why in sorted(verdict.items()):
        if why:
            log(f"FAIL {name}: {why}")
    log(f"build {t1 - t0:.1f} s, "
        f"jvm {t2 - launch_ms / 1e3:.1f} s, check {time.time() - t2:.1f} s")
    ops = m["ops"]
    failed = sum(1 for o in ops if not o["ok"] or verdict.get(o["id"]))
    for o in ops:
        if not o["ok"]:
            log(f"op {o['id']} round {o['round']} failed: {o['err']}")

    # A shared host has slow stretches that inflate whole rounds. Each
    # figure is therefore the run's best: the fastest round, and each id's
    # fastest latency. A cold run has one round, so there it is that round.
    best = {}
    for o in ops:
        best[o["id"]] = min(best.get(o["id"], o["wall_s"]), o["wall_s"])
    lat = list(best.values())
    log(f"round wall s: {m['round_wall_s']}")
    log(f"{len(ops)} ops in {m['rounds']} rounds; per-id median s: " +
        " ".join(f"{i}={statistics.median(o['wall_s'] for o in ops if o['id'] == i):.3f}"
                 for i in dict.fromkeys(ids)))
    if a.trace:
        vals = dict(m["layers"],
                    **{"traced.wall_s": min(m["round_wall_s"])})
        units = PER_LAYER + [("traced.wall_s", "s")]
    else:
        vals = {"setup_s": m["setup_s"],
                "wall_s": min(m["round_wall_s"]),
                "op_p50_s": harrell_davis(lat, 0.5),
                "op_p90_s": harrell_davis(lat, 0.9),
                "cpu_s": min(m["round_cpu_s"]),
                "rss_peak_mb": m["rss_peak_mb"]}
        units = END_TO_END
    metrics = {k: {"value": vals[k], "unit": u} for k, u in units}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
