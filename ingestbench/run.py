#!/usr/bin/env python3
"""Ingest benchmark for the Kafka -> Delta path (see README.md here).

    python3 ingestbench/run.py --workload bulk|trickle|dirty --seed N \\
        --seconds S --trace 0|1
    python3 ingestbench/run.py --selftest          # checker fails closed
    python3 ingestbench/run.py summarize [RECORD.json ...]

A run builds the program if needed, runs one workload in a fresh JVM and
prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Every run also leaves a record (metrics plus host guard: core count, JVM,
CPU and disk calibration before and after) under `<build dir>/runs/`;
`summarize` combines records and refuses records taken at different core
counts.
"""
import argparse
import glob
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        raise build.BuildError("BENCHMARK.json is missing")
    with open(path) as fh:
        return json.load(fh)


def trickle_rate(bench):
    """The open loop's offered rate is fixed in BENCHMARK.json's `why`."""
    why = next(w["why"] for w in bench["workloads"] if w["name"] == "trickle")
    m = re.search(r"(\d+) msgs/s", why)
    if not m:
        raise build.BuildError("trickle's why in BENCHMARK.json must state its rate as 'N msgs/s'")
    return int(m.group(1))


def java_cmd(cp, work, args):
    """The harness JVM's command line and environment; everything it writes
    stays under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        # not build.sbt's G1 with -Xmx8g: G1's heap growth is timing-dependent,
        # which spreads peak RSS across runs by ~0.14 (G1 on a fixed heap
        # touches all of it, so RSS stops tracking use); a fixed parallel-GC
        # heap keeps RSS within ~0.03 and below the heap size
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=80",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-cp", cp, "ingestbench.Main", "--work", work,
        "--traces", os.path.join(build.out_dir(), "traces")] + args)
    return cmd, env


def jvm(cp, work, args, budget):
    """Run the harness once; return its RESULT object."""
    cmd, env = java_cmd(cp, work, args + ["--budget", str(int(budget))])
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                          timeout=budget + 5)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"harness exited with {proc.returncode}")
    return json.loads(lines[-1][len("RESULT "):])


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def run(a):
    t_start = time.time()
    bench = spec()
    cp = build.classpath()
    t_built = time.time()
    work = os.path.join(build.out_dir(), "work", f"{os.getpid()}-{int(t_start)}")
    os.makedirs(work)
    try:
        extra = ["--rate", str(trickle_rate(bench))] if a.workload == "trickle" else []
        base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)] + extra
        budget = BUDGET_S - (time.time() - t_built)
        res = jvm(cp, work, base + ["--trace", str(a.trace)],
                  budget * (0.7 if a.trace and a.workload == "bulk" else 1.0))
        if a.trace:
            speedup = 0.0
            if a.workload == "bulk":
                # the same bulk loop on one core, shorter: does the fixture let
                # parallel speedup show? Median batch times, so the checkpoint
                # batch (in the timed region of only one of the two) drops out.
                # Its output is checked like the main run's and counts in the verdict
                one = jvm(cp, os.path.join(work, "one-core"),
                          ["--workload", "bulk", "--seed", str(a.seed), "--cores", "1",
                           "--seconds", str(max(2, a.seconds // 2)), "--trace", "0"],
                          BUDGET_S - (time.time() - t_built))
                speedup = one["metrics"]["batch_ms_p50"] / res["untraced"]["batch_ms_p50"]
                res["info"]["one_core_batch_ms_p50"] = one["metrics"]["batch_ms_p50"]
                res["info"]["one_core_verdict"] = one["verdict"]
                res["correct"] = res["correct"] and one["correct"]
                res["attempted"] += one["attempted"]
                res["failed"] += one["failed"]
                res["metrics"]["error_ratio"] = res["failed"] / res["attempted"]
            res["metrics"]["spark.speedup_vs_1core"] = speedup
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    metrics, bad = {}, []
    for m in declared:
        v = res["metrics"].get(m["name"])
        if not finite(v):
            bad.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if bad:
        raise RuntimeError(f"metrics missing or not finite: {bad}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": res["host"], "info": res.get("info", {}), "verdict": res["verdict"],
              "untraced": res.get("untraced"), "metrics": metrics, "time": t_start}
    runs = os.path.join(build.out_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_start * 1000)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for n, m in metrics.items():
        log(f"{a.workload} {n} = {m['value']:.6g} {m['unit']}")
    log(f"host: {json.dumps(res['host'])}")
    if not res["correct"]:
        log(f"output check FAILED: {res['verdict']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def selftest():
    cp = build.classpath()
    work = os.path.join(build.out_dir(), "work", f"selftest-{os.getpid()}")
    try:
        cmd, env = java_cmd(cp, work, ["--selftest", "--budget", str(BUDGET_S)])
        return subprocess.run(cmd, env=env, timeout=BUDGET_S + 5).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(paths):
    """Median, quartiles and spread per (workload, trace, metric) over run
    records; refuses to combine records from different core counts."""
    paths = paths or sorted(glob.glob(os.path.join(build.out_dir(), "runs", "*.json")))
    recs = [json.load(open(p)) for p in paths]
    if not recs:
        raise build.BuildError("no run records")
    cores = {(r["host"]["nproc"], r["host"]["cores_used"]) for r in recs}
    if len(cores) != 1:
        raise build.BuildError(f"records taken at different core counts {sorted(cores)}: "
                               "they cannot be compared or combined")
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    groups = {}
    for r in recs:
        for n, m in r["metrics"].items():
            groups.setdefault((r["workload"], r["trace"], n), []).append(m["value"])
    print(f"# {len(recs)} records at nproc={next(iter(cores))[0]}")
    for (w, t, n), vs in sorted(groups.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = vs[0]
        spread = (q3 - q1) / abs(med) if med else float("nan")
        b = bounds.get(n) if not t else None
        flag = "" if b is None else ("  ok" if spread <= b / 3 else ("  WIDE" if spread <= b else "  OVER"))
        print(f"{w:8s} t{t} {n:32s} n={len(vs):2d} median={med:12.6g} "
              f"q1={q1:12.6g} q3={q3:12.6g} spread={spread:7.4f}"
              + ("" if b is None else f" bound={b}") + flag)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "summarize":
        summarize(sys.argv[2:])
        return 0
    p = argparse.ArgumentParser(description="Kafka -> Delta ingest benchmark")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        p.error("--workload is required")
    run(a)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(2)
