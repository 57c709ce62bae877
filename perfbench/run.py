#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs the harness in one Spark session at local[N], N = nproc, with
`spark.sql.shuffle.partitions` = N, checks every output (`checks.py`),
and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (trace 0) or the per-layer metrics
(trace 1); a line before it holds the run's details (pass times, input
sizes, versions). BENCHMARK.json lists workloads and metrics;
workloads.json says what each workload does and checks, and which
end-to-end metric each layer metric should move. Everything a run
writes stays in `.bench_work/` and `.bench_build/` under the current
directory.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("er_two_catalog", "state_lifecycle")
SETUP_REPS = 3
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_s.p50": "s", "op_s.p90": "s",
              "items_per_s": "1/s"}

PER_LAYER = {
    "text.self_s": "s", "similarity.self_s": "s", "er.self_s": "s",
    "dedup.self_s": "s", "queries.plan_s": "s", "queries.exec_s": "s",
    "similarity.candidate_pairs": "count", "similarity.blocking_ratio": "ratio",
    "similarity.useful_ratio": "ratio", "dedup.screen_candidates": "count",
    "operators.commits": "count", "operators.live_markers": "count",
    "operators.bytes_written": "bytes", "operators.state_disk_bytes": "bytes",
    "sources.bytes_read": "bytes", "sources.rows_read": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.scheduler_delay_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "plans.exchanges": "count", "plans.windows": "count", "plans.sorts": "count",
    "plans.nested_loop_joins": "count", "plans.codegen_fallbacks": "count",
    "trace.overhead_ratio": "ratio",
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_hash(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, work):
    """Generate the inputs SETUP_REPS times: median time, and whether
    every repetition wrote byte-identical files."""
    times, hashes, sizes = [], [], None
    for r in range(SETUP_REPS):
        out = os.path.join(work, "data" if r == 0 else f"data_rep{r}")
        t0 = time.perf_counter()
        sizes = gen.GENERATORS[workload](out, seed)
        times.append(time.perf_counter() - t0)
        hashes.append(tree_hash(out))
        if r:
            shutil.rmtree(out)
    return times, len(set(hashes)) == 1, sizes


def run_harness(workload, data, work, seconds, trace, cpus, budget):
    cp = build.classpath()
    result = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPENS + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        workload, data, work, str(seconds), str(trace), result, str(cpus),
        str(SETUP_REPS)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as err:
        try:
            r = subprocess.run(cmd, stdout=err, stderr=err, timeout=budget)
        except subprocess.TimeoutExpired:  # run() kills and reaps the JVM
            raise SystemExit("harness timed out")
    with open(os.path.join(work, "harness.log")) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if r.returncode != 0:
        sys.stderr.write(text[-4000:])
        raise SystemExit(f"harness exited with {r.returncode}")
    with open(result) as f:
        return json.load(f)


def check(workload, res, data, work, sizes):
    """Whether the check pass's outputs are correct (see checks.py)."""
    c = res["check"]
    if workload == "er_two_catalog":
        bad = checks.check_er(data, c, sizes["gold_pairs"])
        q = c["catalog_query"]
        if not checks.check_catalog(data, os.path.join(work, "check"), [q]):
            bad.append(f"{q} differs from its DuckDB oracle")
    else:
        bad = [] if c["screens_ok"] else ["screens differ from one-shot candidates"]
    bad += [f"{name} failed in the check pass" for name, _, ok in res["check_ops"] if not ok]
    for b in bad:
        log(f"{workload} check: {b}")
    return not bad


def metrics_e2e(res, gen_times):
    untraced = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    ops = [o[1] for p in untraced for o in p["ops"]]
    setup = [g + j for g, j in zip(gen_times, res["setup_jvm_s"])]
    pass_s = median(walls)
    by_op = {}
    for p in untraced:
        for name, secs, _ in p["ops"]:
            by_op.setdefault(name, []).append(secs)
    return {"setup_s": median(setup), "pass_s": pass_s,
            "op_s.p50": median(ops),
            "op_s.p90": statistics.quantiles(ops, n=10, method="inclusive")[8],
            "items_per_s": res["items"] / pass_s}, {
        "pass_s_all": walls, "passes": len(walls), "op_samples": len(ops),
        "op_median_s": {k: round(median(v), 4) for k, v in by_op.items()},
        "setup_reps_s": setup}


def metrics_layers(res):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]

    def per_pass(f):
        return median([f(p) for p in traced])

    def sp(k):
        return per_pass(lambda p: p["layers"]["spark"].get(k, 0.0))

    def cnt(k):
        return per_pass(lambda p: p["counts"].get(k, 0.0))

    m = {f"{layer}.self_s": per_pass(lambda p, l=layer: p["layers"]["self_s"].get(l, 0.0))
         for layer in ("text", "similarity", "er", "dedup")}
    m["queries.plan_s"], m["queries.exec_s"] = cnt("plan_s"), cnt("exec_s")
    cand = cnt("candidate_pairs")
    c = res["check"]
    m["similarity.candidate_pairs"] = cand
    m["similarity.blocking_ratio"] = cand / (c["docs_a"] * c["docs_b"]) if cand else 0.0
    m["similarity.useful_ratio"] = c["gold_found"] / cand if cand else 0.0
    m["dedup.screen_candidates"] = cnt("screen_candidates")
    m["operators.commits"] = cnt("commits")
    m["operators.live_markers"] = cnt("live_markers")
    m["operators.bytes_written"] = sp("bytes_written")
    m["operators.state_disk_bytes"] = cnt("state_disk_bytes")
    m["sources.bytes_read"], m["sources.rows_read"] = sp("bytes_read"), sp("rows_read")
    for k in ("jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "peak_exec_mem_bytes"):
        m[f"spark.{k}"] = sp(k)
    m["spark.driver_gap_s"] = per_pass(lambda p: p["layers"]["driver_gap_s"])
    for k in ("exchanges", "windows", "sorts", "nested_loop_joins", "codegen_fallbacks"):
        m[f"plans.{k}"] = per_pass(lambda p, k=k: p["layers"]["plans"].get(k, 0.0))
    m["trace.overhead_ratio"] = per_pass(lambda p: p["wall_s"]) / median(
        [p["wall_s"] for p in untraced])
    return m, {"by_layer_last_traced_pass": traced[-1]["layers"]["by_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    if not os.path.isfile(os.path.join("scripts", "check_oracles.py")):
        raise SystemExit("run from the repository root (scripts/check_oracles.py not found)")
    build.build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.monotonic()
        gen_times, same_bytes, sizes = generate(a.workload, a.seed, work)
        data = os.path.join(work, "data")
        t_jvm = time.monotonic()
        res = run_harness(a.workload, data, work, a.seconds, a.trace, cpus,
                          DEADLINE_S - (t_jvm - start))
        t_check = time.monotonic()
        correct = check(a.workload, res, data, work, sizes)
        phases = {"build_s": t_gen - start, "generate_s": t_jvm - t_gen,
                  "jvm_s": t_check - t_jvm, "check_s": time.monotonic() - t_check}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a wrong check-pass output fails every operation; so does a
    # generator that is not deterministic
    ops = [o for p in res["passes"] for o in p["ops"]]
    failed = len(ops) if not (correct and same_bytes) else sum(1 for o in ops if not o[2])
    if not same_bytes:
        log("generator wrote different bytes for the same seed")
    if a.trace:
        metrics, info = metrics_layers(res)
        units = PER_LAYER
    else:
        metrics, info = metrics_e2e(res, gen_times)
        units = END_TO_END
    if a.workload == "er_two_catalog":
        info["sweep_edge_pairs_by_bin"] = res["check"]["edge_pairs_by_bin"]
    info.update({"workload": a.workload, "seed": a.seed, "inputs": sizes,
                 "cpus": cpus, "java": res["java_version"], "spark": res["spark_version"],
                 "check_pass_s": res["check_s"], "phases_s": phases,
                 "wall_s": time.monotonic() - start})
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u}
                                  for k, u in units.items()}}))


if __name__ == "__main__":
    main()
