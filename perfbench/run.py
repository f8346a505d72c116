#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <governed_sql|curation|cdc_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark driver
from source (once per source state, into .bench_build/), generates the
seeded inputs into a fresh per-run directory, runs the workload in one
JVM, checks every result, and prints one JSON line last. Exits non-zero
when a result is wrong or the program cannot be built.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("governed_sql", "curation", "cdc_ingest")
# a fixed heap (-Xms = -Xmx), so resident memory does not follow the
# collector's heap sizing
HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "__pycache__"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources under src/main/scala")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("perfbench: SPARK_HOME must name the Spark installation")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.forcestart=false", "-Xmx2g",
        f"-Dsbt.global.base={BUILD}/sbt-global",
        f"-Djava.io.tmpdir={BUILD}/tmp"])
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repos}"
    os.makedirs(f"{BUILD}/tmp", exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (see {BUILD}/build.log)")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(workload, seconds, trace, run_dir):
    cp = os.pathsep.join([CLASSES,
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seconds", str(seconds),
            "--trace", str(trace), "--run-dir", run_dir])
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        # the run directory stays, with the JVM's log, for inspection
        with open(f"{run_dir}/jvm.log") as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: workload JVM exited with {rc}")
    with open(f"{run_dir}/result.json") as f:
        return json.load(f)


def pct(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all order statistics. A run's latencies cluster by op kind with gaps
    between clusters; a single order statistic jumps across a gap from
    run to run, this estimate moves smoothly."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 200000
    grid = (np.arange(steps) + 0.5) / steps
    log_pdf = ((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid) -
               (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)))
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf)) / steps])
    w = np.diff(cdf[np.round(np.arange(n + 1) * steps / n).astype(int)])
    return float(np.dot(w / w.sum(), xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    build()
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    inputs = gen.generate(a.workload, a.seed, run_dir)
    t1 = time.time()
    res = run_jvm(a.workload, a.seconds, a.trace, run_dir)
    t2 = time.time()
    problems = oracle.check(a.workload, run_dir, inputs, res)
    print(f"perfbench: inputs {t1 - t0:.1f} s, workload JVM {t2 - t1:.1f} s, "
          f"checks {time.time() - t2:.1f} s", file=sys.stderr)

    ops = res["ops"]
    measured = [o for o in ops if o["phase"] == "measure"]
    # an op fails when it throws, returns something else than its first
    # run did, or its first result misses the oracle pin
    bad_ids = {p["id"] for p in problems if "id" in p}
    if a.workload == "curation":
        # the unit of work is one cold pass of the curation chain, whose
        # steps are the ops of the trace
        units = [(sum(o["ms"] for o in measured), 0,
                  all(o["ok"] for o in measured) and not problems)]
    elif a.workload == "cdc_ingest":
        # one CDC cycle, a commit and its read-backs: a run holds too few
        # commits for percentiles over single CDC ops to hold still
        groups = {}
        for o in measured:
            groups.setdefault(o["id"].split("-")[1], []).append(o)
        units = [(sum(o["ms"] for o in steps), 0,
                  all(o["ok"] for o in steps) and not problems)
                 for steps in groups.values()]
    else:
        units = [(o["ms"], o["client"], o["ok"] and o["id"] not in bad_ids)
                 for o in measured]
    failed = sum(1 for u in units if not u[2])
    broken = [o for o in ops if not o["ok"]]
    for o in broken[:10]:
        print(f"perfbench: FAILED op {o['id']} ({o['phase']}): {o['err']}",
              file=sys.stderr)
    for p in problems[:20]:
        print(f"perfbench: CHECK {p}", file=sys.stderr)
    correct = bool(units) and not broken and not problems

    lat = [u[0] for u in units]
    busy = {}
    for ms, client, _ in units:
        c = busy.setdefault(client, [0, 0.0])
        c[0] += 1
        c[1] += ms / 1000.0
    ops_per_s = sum(n / s for n, s in busy.values() if s > 0)
    setup = sorted(res["setup_s"])
    extra = res["extra"]
    report = {
        "setup_s": (setup[len(setup) // 2], "s"),
        "failed_ratio": (failed / max(1, len(units)), "ratio"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "ops_per_s": (ops_per_s, "1/s"),
        "latency_p50_ms": (pct(lat, 0.5), "ms"),
        "latency_p90_ms": (pct(lat, 0.9), "ms"),
    }
    if a.workload == "curation":
        report["docs_per_s"] = (extra["docs_per_s"], "1/s")
    if a.workload == "cdc_ingest":
        for name, commits in (("commit", True), ("read", False)):
            xs = [o["ms"] for o in measured
                  if (o["kind"] == "commit") == commits]
            report[f"{name}_p50_ms"] = (pct(xs, 0.5), "ms")
            report[f"{name}_p90_ms"] = (pct(xs, 0.9), "ms")
        report["write_amp"] = (extra["write_amp"], "ratio")
        report["space_amp"] = (extra["space_amp"], "ratio")
    print(json.dumps({"report": {k: {"value": v, "unit": u}
                                 for k, (v, u) in report.items()},
                      "samples": len(units), "extra": extra,
                      "setup_runs_s": res["setup_s"],
                      "cpus": res["cpus"], "max_heap_mb": res["max_heap_mb"]}))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        layers = res["layers"]
        layers["traced.latency_p50_ms"] = pct(lat, 0.5)
        if a.workload == "curation":
            layers["docs_per_s"] = extra["docs_per_s"]
        viol = res["trace_violation_count"]
        print(json.dumps({"trace_counts": res["trace_counts"],
                          "trace_violations": res["trace_violations"]}))
        if viol:
            correct = False
            print(f"perfbench: {viol} trace self-check violations",
                  file=sys.stderr)
        # a layer a workload never reaches reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"setup_s": report["setup_s"][0],
                  "ok_ratio": 1.0 - report["failed_ratio"][0],
                  "rss_peak_mb": report["rss_peak_mb"][0],
                  "ops_per_s": ops_per_s,
                  "latency_p50_ms": report["latency_p50_ms"][0],
                  "latency_p90_ms": report["latency_p90_ms"][0]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # a failed run keeps its inputs and logs for inspection
    if correct:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(units),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
