#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine from source (build.py),
generates the workload's ten tables from the seed (gen.py), and runs one JVM
at local[<cores>] as a closed loop with one client: one query at a time,
each consumed whole by Spark's `noop` sink and timed from the call into its
query function until the sink returns. Set-up is the session build plus two
untimed warm-up passes, the first of which writes each result for the oracle
gate; then full passes over the workload's query list repeat until --seconds
have passed (at least four). After timing, the oracle gate compares each
query's result with DuckDB.

--trace 0 prints the end-to-end metrics; --trace 1 adds two traced passes
and prints the per-layer metrics, including the tracing overhead. The last
stdout line is one JSON object: correct, attempted, failed, metrics. The line
before it carries the details: inputs, tail percentile, failing queries.
Everything is written under .perfbench/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
DEADLINE_S = 175

# Query lists and scales are sized so that a series of 4 + 22 x (workloads)
# runs, cold set-up included, fits in an hour on 4 cores. README.md gives the reasons
# for each workload and what it should move.
WORKLOADS = {
    # reference dataflows (global sort, cogroup) plus the native as-of and
    # interval joins, merge and broadcast; per-task execution memory is held
    # below the per-task sort/cogroup working set so that they spill, and
    # auto-broadcast is off so that q148 and q174 run the merge execs
    "shuffle_sort": {
        "queries": [
            "q03_sort_global", "q10_cogroup", "q148_asof_native", "q164_asof_broadcast",
            "q174_interval_native", "q183_interval_broadcast"],
        "scale": {"customers": 5000, "documents": 500, "embeddings": 500},
        "conf": {"spark.memory.fraction": "0.01", "spark.sql.autoBroadcastJoinThreshold": "-1"},
    },
    # candidate generation and pair verification over customer names and
    # documents; executor CPU and the native functions dominate
    "pair_dedup": {
        "queries": ["q52_dedup_simhash", "q79_fuzzy_join", "q135_containment"],
        "scale": {"customers": 1000, "documents": 400, "embeddings": 500},
        "conf": {},
    },
}
HEAP = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "batch_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "shuffle_write_mb": "MB", "peak_exec_mem_mb": "MB",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def tail(passes):
    """Median over passes of each pass's slowest query. A workload's list is
    too short for a percentile above the median with ten samples beyond it,
    and a percentile whose sample count rose with the pass count would jump
    between runs. Returns (value, percentile within a pass, passes)."""
    return statistics.median(max(p["query_s"].values()) for p in passes), 100.0, len(passes)


def run_jvm(w, classpath, data_dir, out_dir, args, budget_s):
    work = os.path.join(WORK, "jvm")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=2g",
           "-XX:+UseCodeCacheFlushing", *opens,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           *(f"-D{k}={v}" for k, v in w["conf"].items()),
           "-cp", classpath, "perfbench.Harness",
           f"data={data_dir}", f"out={out_dir}", "queries=" + ",".join(w["queries"]),
           f"seconds={args.seconds}", f"trace={args.trace}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=f"{work}/local")
    with open(os.path.join(WORK, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=budget_s)
    shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)
    return r.returncode


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    w = WORKLOADS[args.workload]

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 3

    data_root = os.path.join(WORK, "data")
    data_dir = os.path.join(data_root, f"{args.workload}-{args.seed}")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            if os.path.join(data_root, d) != data_dir:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
    info_path = os.path.join(data_dir, "inputs.json")
    if not os.path.exists(info_path):
        shutil.rmtree(data_dir, ignore_errors=True)
        tables = gen.generate(data_dir, args.seed, w["scale"])
        json.dump(tables, open(info_path, "w"))
    inputs = {"seed": args.seed, "scale": w["scale"], "tables": json.load(open(info_path))}

    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    budget = DEADLINE_S - (time.monotonic() - t_start)
    try:
        rc = run_jvm(w, classpath, data_dir, out_dir, args, budget)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] harness exceeded {DEADLINE_S} s; log in {WORK}/jvm.log", file=sys.stderr)
        return 4
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        print(f"[perfbench] harness failed with exit code {rc}", file=sys.stderr)
        return 5
    res = json.load(open(result_path))

    gate = oracle.gate(data_dir, os.path.join(out_dir, "results"), res["verify"], res["oracle_sql"])
    passes = res["passes"]
    threw = {q: e for p in passes for q, e in p["failures"].items()}
    threw.update(res.get("trace_pass_failures", {}))
    failing = {q: f"threw: {threw[q]}" for q in threw}
    failing.update({q: f"oracle: {why}" for q, why in gate.items() if why and q not in failing})
    selftest_ok = all(t["noop_has"] for t in res.get("selftest", {}).values())

    latencies = [s for p in passes for s in p["query_s"].values()]
    query_median = {q: statistics.median(p["query_s"][q] for p in passes) for q in w["queries"]}
    tail_s, tail_pct, tail_n = tail(passes)
    e2e = {
        "setup_s": res["setup_s"],
        "batch_s": statistics.median(p["batch_s"] for p in passes),
        "query_p50_s": statistics.median(query_median.values()),
        "query_tail_s": tail_s,
        "shuffle_write_mb": statistics.median(p["shuffle_write_bytes"] for p in passes) / 1e6,
        "peak_exec_mem_mb": statistics.median(p["peak_exec_mem_bytes"] for p in passes) / 1e6,
    }
    attempted = len(w["queries"])
    details = {
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "passes": len(passes), "inputs": inputs,
        "end_to_end": {**e2e, "failed_frac": len(failing) / attempted},
        "query_tail": {"percentile": tail_pct, "passes": tail_n,
                       "samples": len(latencies)},
        "pass_batch_s": [p["batch_s"] for p in passes],
        "query_median_s": query_median,
        "failing_queries": failing, "warm_failures": res["warm_failures"],
        "oracle": {"duckdb": sorted(q for q, v in res["verify"].items() if v == "written"),
                   "digest_only": sorted(q for q, v in res["verify"].items() if v == "digest_ok")},
        "consumer_selftest": res.get("selftest"),
        "execs": res["execs"], "heap": HEAP, "spark_conf": w["conf"],
        "wall_s": round(time.monotonic() - t_start, 1),
    }
    if args.trace:
        layers = dict(res["layers"])
        layers.update(res["functions"])
        layers["engine.session_build_s"] = res["session_build_s"]
        layers["trace_overhead_frac"] = (statistics.median(res["traced_batch_s"])
                                         / statistics.median(res["untraced_batch_s"]) - 1)
        layers["trace.nonrepeating_counts"] = len(res["nonrepeating"])
        details["nonrepeating_counts"] = res["nonrepeating"]
        details["spans"] = os.path.relpath(os.path.join(out_dir, "spans.jsonl"), ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    json.dump({"details": details, "metrics": metrics}, open(os.path.join(
        WORK, "runs", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w"), indent=1)
    print(json.dumps({"perfbench": details}))
    print(json.dumps({"correct": not failing and selftest_ok, "attempted": attempted,
                      "failed": len(failing), "metrics": metrics}))
    return 0


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith("_frac") or name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
