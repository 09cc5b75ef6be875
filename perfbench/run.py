#!/usr/bin/env python3
"""candiaspark benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload dia --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
program and the harness with sbt (offline) into .bench_build/ and the
sbt target/ directories; inputs are generated from the seed and cached
in .bench_build/inputs/. The harness (perfbench/src) runs the workload
on local[nproc] and writes its measurements; this script checks the
outputs, records the host, and prints one detail line and then, as the
last line, {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones; the full trace (spans, every layer metric) is
written to .bench_build/runs/. Exits 1 when an output is wrong.

`--workload all` runs every workload in turn and prints each result.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_mzml  # noqa: E402
import gen_tables  # noqa: E402
import score  # noqa: E402

# The generated inputs of each workload; what runs on them is in the
# harness (Dia.scala, Registry.scala).
WORKLOADS = {
    "dia": ("mzml", dict(samples=3, windows=2, cycles=60, components=12, fragments=6,
                         noise_peaks=20, fwhm_s=8.0, noise_cv=0.05, zlib=True)),
    "registry": ("tables", dict(sf=0.01)),
}

END_TO_END = {"setup_s": "s", "first_s": "s", "unit_s": "s",
              "rsq_median": "1", "peak_rss_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_cpu_s": "s",
    "spark.cpu_util": "1", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s", "catalyst.queries": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "tensorize.s": "s", "tensorize.slices_ok": "count",
    "tensorize.cells": "count", "tensorize.nan_frac": "1", "decompose.s": "s",
    "decompose.models": "count", "decompose.iters_sum": "count",
    "decompose.iters_p50": "count", "decompose.gflop": "GFLOP",
    "decompose.gb_computed": "GB", "decompose.gflop_per_s": "GFLOP/s",
}

# the workload-specific end-to-end metrics printed on the detail line
DETAIL_UNITS = {
    "pipeline_s": "s", "peaks_per_s": "1/s", "models_per_s": "1/s",
    "spectra_recovered_frac": "1", "n_peaks": "count", "n_models": "count",
    "input_bytes": "B", "registry_cold_s": "s", "registry_warm_s": "s",
    "query_p50_s": "s", "query_p70_s": "s", "query_samples": "count",
    "failed_frac": "1", **END_TO_END,
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

BUILD = ".bench_build"
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of the paths, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]:
        p = os.path.join(root, top)
        walk = [(p, [], [""])] if os.path.isfile(p) else os.walk(p)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                fp = os.path.join(d, f) if f else d
                st = os.stat(fp)
                h.update(f"{fp}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile program and harness once per source state; return classpath."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    cp = next((x for x in reversed(lines) if ".jar" in x and not x.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def inputs(root, workload, seed):
    """Generate (or reuse) the workload's inputs for this seed."""
    kind, params = WORKLOADS[workload]
    key = hashlib.sha256(json.dumps([kind, params, seed], sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(root, BUILD, "inputs", f"{workload}-{key}")
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        if kind == "mzml":
            gen_mzml.generate(out, seed, params)
        else:
            gen_tables.generate(out, seed, params["sf"])
        open(done, "w").close()
    return out


def meminfo_kb(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def harness(root, cp, workload, seed, seconds, trace, input_dir, t_start):
    cpus = os.cpu_count() or 4
    heap_mb = max(2048, min(4096, meminfo_kb("MemTotal") // 4096))
    run_dir = os.path.join(root, BUILD, "work", f"{workload}-{seed}-{trace}")
    subprocess.run(["rm", "-rf", run_dir], check=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    # a fixed heap and young generation under the throughput collector keep
    # GC work and the resident set from varying with the collector's sizing;
    # a lower JIT threshold ends the warm-up before the timed units
    cmd = (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 3}m",
            "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.25",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--inputs", input_dir, "--work", run_dir, "--out", result,
              "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus)])
    log = os.path.join(root, BUILD, "runs", f"{workload}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"{workload}: harness timed out (see {log})")
        finally:  # never leave the JVM running, whatever stops this script
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        fail(f"{workload}: harness exited {rc} (see {log})")
    with open(result) as f:
        out = json.load(f)
    out["host"]["heap_mb"] = heap_mb
    out["_work"] = run_dir
    return out


def recorded_floor(recorded, seed, slack):
    """The value recorded for this seed (the lowest recorded one for a
    seed without a record), less the slack."""
    return recorded.get(str(seed), min(recorded.values())) - slack


def check_dia(res, input_dir, expected, seed):
    c = res["check"]
    with open(os.path.join(input_dir, "truth.json")) as f:
        truth = json.load(f)
    frac = score.recovered_fraction(truth, c["best_models"])
    floor = recorded_floor(expected["spectra_recovered_frac"], seed, expected["recovery_slack"])
    problems = []
    if frac < floor:
        problems.append(f"spectra_recovered_frac {frac:.3f} < recorded floor {floor:.3f}")
    if not c.get("resume_same_best", True):  # checked in the traced run
        problems.append("resume selected different best models")
    if c["n_models"] != expected["n_models"]:
        problems.append(f"{c['n_models']} models, expected {expected['n_models']}")
    # every pipeline run, the first one and a traced run's three included
    attempted = len(res["unit_samples_s"]) + 1 + 3 * ("resume_same_best" in c)
    return frac, problems, attempted


def oracle_failures(root, results, tables):
    """Names of the oracled queries that tools/check_oracle.py fails."""
    parity = os.path.join(results, "parity.json")
    with open(os.path.join(results, "check_oracle.log"), "w") as log:
        subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        results, tables, "--json", parity],
                       cwd=root, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=120)
    if not os.path.exists(parity):  # the checker itself failed: nothing passed
        with open(os.path.join(results, "oracle_sql.json")) as f:
            return set(json.load(f))
    with open(parity) as f:
        return set(json.load(f)["fails"])


def check_registry(root, res, input_dir, expected, seed):
    c = res["check"]
    rows = {q["name"]: q["rows"] for q in c["queries"]}
    problems = {q["name"]: "threw: " + q["error"] for q in c["queries"] if q["error"]}
    problems.update({q: "a later pass differs from the cold pass" for q in c["warm_mismatch"]})
    for q in oracle_failures(root, os.path.join(res["_work"], "results"), input_dir):
        problems.setdefault(q, "differs from its DuckDB oracle")
    # recorded row counts: all of this seed's, or on another seed those
    # that are the same on every recorded seed
    recorded = expected["rows"]
    want = recorded.get(str(seed)) or {
        q: n for q, n in next(iter(recorded.values())).items()
        if all(r[q] == n for r in recorded.values())}
    for q, n in want.items():
        if rows.get(q) != n:
            problems.setdefault(q, f"{rows.get(q)} rows, recorded {n}")
    floor = recorded_floor(expected["rsq_median"], seed, expected["rsq_slack"])
    if not res["rsq_median"] >= floor:
        problems.setdefault("q_ms_decompose",
                            f"median rsq {res['rsq_median']} < recorded floor {floor:.4f}")
    attempted = len(c["queries"]) * c["passes_checked"]
    return [f"{q}: {why}" for q, why in sorted(problems.items())], attempted


def run_one(root, cp, workload, seed, seconds, trace):
    t_start = time.time()
    host = {"nproc": os.cpu_count(), "mem_total_kb": meminfo_kb("MemTotal"),
            "loadavg_start": loadavg()}
    input_dir = inputs(root, workload, seed)
    t_harness = time.time()
    res = harness(root, cp, workload, seed, seconds, trace, input_dir, t_start)
    t_check = time.time()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[workload]
    detail = dict(res["detail"])
    if workload == "dia":
        frac, problems, attempted = check_dia(res, input_dir, expected, seed)
        detail["spectra_recovered_frac"] = frac
    else:
        problems, attempted = check_registry(root, res, input_dir, expected, seed)
    subprocess.run(["rm", "-rf", res["_work"]], check=True)
    host.update(res["host"], loadavg_end=loadavg())
    host["wall_s"] = {"inputs": t_harness - t_start, "harness": t_check - t_harness,
                      "check": time.time() - t_check}
    failed = len(problems)
    detail["failed_frac"] = failed / attempted
    detail.update({k: res[k] for k in END_TO_END})

    layers = res.get("per_layer", {})
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "host": host, "detail": detail, "problems": problems,
              "setup_samples_s": res["setup_samples_s"],
              "first_samples_s": res.get("first_samples_s", [res["first_s"]]),
              "unit_samples_s": res["unit_samples_s"], "per_layer": layers,
              "spans": res.get("spans", []), "check": {k: v for k, v in res["check"].items()
                                                      if k != "best_models"}}
    runs = os.path.join(root, BUILD, "runs")
    with open(os.path.join(runs, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    if trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    for p in problems:
        print(f"perfbench: {workload}: {p}", file=sys.stderr)
    print(json.dumps({"workload": workload, "detail": {
        k: {"value": v, "unit": DETAIL_UNITS[k]} for k, v in detail.items()
        if k in DETAIL_UNITS}}))
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="candiaspark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still reaps its JVM (the finally in harness())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the program's sources are not here")
    cp = build(root)
    workloads = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    results = [run_one(root, cp, w, args.seed, args.seconds, args.trace) for w in workloads]
    for r in results[:-1]:
        print(json.dumps(r))
    print(json.dumps(results[-1]))
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()
