#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload rel --seed 1 --seconds 10 --trace 0

Builds the program with the harness (perfbench/build.sbt) on first use,
generates the seeded inputs (cached per scale and seed), then drives the
program in-process as one closed-loop client and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Run artifacts land in .bench_build/runs/. See
perfbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data")

# Each workload: input scale over the committed sf0.1 tables, and the
# registry queries it runs (README.md says why each was chosen).
WORKLOADS = {
    "rel": (10, ["q_bloom_join", "q_hdf5_matrix", "q_snapshot_diff",
                 "q_tpch_q6"]),
    "corpus": (1, ["q_ann_ivf", "q_dedup_spans", "q_heavy_hitters",
                   "q_ml_logreg"]),
}

SETUP_REPEATS = 3      # setups per run; setup_s is their median
HEAP = "2g"            # -Xms = -Xmx, pre-touched, as build.sbt's `run`
INPUT_CACHE = 24       # seeded 1x input sets kept (17 MB each)
RUN_TIMEOUT = 170      # seconds, for everything after the build

# The JVM flags build.sbt gives `run` (add-opens for Spark on JDK 17,
# UI off, UTC session, fixed pre-touched heap).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src", "main", "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    # Offline, with sbt's temporary files inside the checkout too.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per source tree; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("no program sources (src/main/scala/graft) in this directory; "
             "run from the root of a checkout")
    stamp, cp_file = source_stamp(), os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(WORK, exist_ok=True)
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=logf, text=True, timeout=800)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (rc={p.returncode}); see {WORK}/build.log")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t:.1f}s")
    return classpath


def child_env():
    # The program reads SPARK_* variables as knobs; the benchmark runs it
    # with none set, so a caller's environment cannot change what is measured.
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}


def java(classpath, args, deadline, name, env=None):
    """Run one JVM with the benchmark's flags to completion; its output
    goes to .bench_build/logs/<name>.log."""
    scratch = os.path.join(WORK, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Temporary files stay in the checkout: no JVM perf-data file in /tmp.
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}/tmp",
            "-cp", classpath] + args
    logfile = os.path.join(WORK, "logs", f"{name}.log")
    with open(logfile, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=scratch, env={**child_env(), **(env or {})},
                                stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{name} JVM timed out; see {logfile}")
    if rc != 0:
        fail(f"{name} JVM failed (rc={rc}); see {logfile}")


def jvm(classpath, mode, out, deadline, **opts):
    """Run one benchmark JVM (graft.perfbench.Main); returns its JSON record."""
    args = ["graft.perfbench.Main", "--mode", mode, "--out", out,
            "--cores", str(cores()),
            "--scratch", os.path.join(WORK, "scratch")]
    for k, v in opts.items():
        args += [f"--{k}", str(v)]
    if os.path.exists(out):
        os.remove(out)
    # Set-up time is counted from here, the launch of the process.
    java(classpath, args + ["--t0", repr(time.time() * 1000.0)], deadline, mode)
    if not os.path.exists(out):
        fail(f"{mode} JVM wrote no result")
    with open(out) as f:
        return json.load(f)


def permute(src, dst, seed):
    """sf0.1 with every table in a row order chosen by `seed`: each
    statistic of the data, and so each query result, is the same for
    all seeds. Written with the same writer and defaults as the source."""
    import numpy as np
    import pyarrow.parquet as pq
    os.makedirs(dst)
    for f in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, f))
        order = np.random.default_rng(seed).permutation(t.num_rows)
        pq.write_table(t.take(order), os.path.join(dst, f))


def inputs(classpath, scale, seed, deadline):
    """The input directory of a workload, generated on first use.

    1x: sf0.1 in a seeded row order, one set per seed. 10x: the
    sf0.1 tables scaled up by graft.tools.ScaleUp, one set for all
    seeds: a seeded 10x set costs more to write than a whole run."""
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"x1-s{seed}" if scale == 1 else f"x{scale}")
    if os.path.exists(os.path.join(d, "_READY")):
        os.utime(d)
        return d
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    t = time.time()
    if scale == 1:
        permute(DATA, tmp, seed)
    else:
        jvm(classpath, "gen", os.path.join(WORK, "gen.json"), deadline,
            src=DATA, dst=tmp, scale=scale)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    print(f"inputs {os.path.basename(d)}: generated in {time.time() - t:.2f} s",
          flush=True)
    # Keep only the most recently used seeded sets.
    seeded = sorted((e for e in os.listdir(root)
                     if e.startswith("x1-s") and not e.endswith(".partial")),
                    key=lambda e: os.path.getmtime(os.path.join(root, e)))
    for old in seeded[:-INPUT_CACHE]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return d


def load_expected(scale):
    with open(os.path.join(BENCH, "expected.json")) as f:
        return json.load(f).get(f"x{scale}", {})


def check(queries, expected):
    """Output check per query -> (checks attempted, failed, detail).

    A query with an oracle must match the committed fingerprint (row
    count and row hash, validated against the DuckDB oracle); one
    without is checked rep against rep."""
    attempted = failed = 0
    detail = {}
    for q, rec in queries.items():
        fps = [tuple(f) for f in rec["fingerprints"]]
        attempted += 1
        if not fps:
            ok, why = False, "no result"
        elif rec["oracle"]:
            exp = expected.get(q)
            ok = exp is not None and fps[0] == (exp["rows"], exp["hash"])
            why = f"got {fps[0]}, expected {exp}"
        else:
            ok, why = len(fps) == 2 and fps[0] == fps[1], f"reps {fps}"
        if not ok:
            failed += 1
            detail[q] = why
    return attempted, failed, detail


def end_to_end(setups, queries):
    """The end-to-end metrics of an untraced run."""
    return {
        "setup_s": statistics.median(setups),
        "cold_s": sum(r["cold_s"] for r in queries.values()),
        "warm_s": sum(statistics.median(r["warm_s"]) for r in queries.values()),
        "live_heap_mb": max(r["heap_mb"] for r in queries.values()),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    deadline = time.time() + RUN_TIMEOUT
    scale, names = WORKLOADS[a.workload]
    data = inputs(classpath, scale, a.seed, deadline)
    # Read the inputs once, so that no timing depends on what the page
    # cache happened to hold.
    for d, _, fs in os.walk(data):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    setups = [jvm(classpath, "setup", os.path.join(WORK, "setup.json"),
                  deadline, input=data)["setup_s"]
              for _ in range(SETUP_REPEATS - 1)]
    rec = jvm(classpath, "run", os.path.join(WORK, "run.json"), deadline,
              input=data, queries=",".join(sorted(names)),
              seconds=a.seconds, trace=a.trace)
    setups.append(rec["setup_s"])
    queries = rec["queries"]
    checks, bad_checks, detail = check(queries, load_expected(scale))
    reps = sum(2 + len(r["warm_s"]) + len(r["untraced_s"]) for r in queries.values())
    failed_reps = sum(r["failed_reps"] for r in queries.values())
    attempted, failed = reps + checks, failed_reps + bad_checks

    if a.trace:
        metrics = {m["name"]: {"value": rec["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = end_to_end(setups, queries)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    spans = rec.pop("spans", [])
    artifact = {"workload": a.workload, "seed": a.seed, "scale": scale,
                "seconds": a.seconds, "trace": a.trace, "setups_s": setups,
                "failed_frac": failed / attempted, "check_failures": detail,
                "metrics": metrics, **rec}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if a.trace:
        with open(os.path.join(WORK, "runs", f"{tag}.spans.json"), "w") as f:
            json.dump(spans, f)
    for q, r in sorted(queries.items()):
        if r["suspect"] or r["errors"]:
            log(f"{q}: max/median {r['max_to_median']:.2f} "
                f"suspect={r['suspect']} errors={r['errors'][:2]}")
    for q, why in detail.items():
        log(f"output check failed: {q}: {why}")
    n = min(len(r["warm_s"]) for r in queries.values())
    print(f"warm reps per query: {n}; failed_frac {failed}/{attempted}",
          flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
