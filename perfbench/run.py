#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client (each query is submitted
after the previous one finished) runs a workload's query list on
`local[2]` and reports end-to-end metrics (trace 0) or per-layer metrics
(trace 1). Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The engine and the harness are compiled from source on first use
(perfbench/build.py). Inputs are generated from the seed
(perfbench/gen.py) under the build directory; the engine only sees the
generated files. Every result of the first warm-up pass is checked
against its DuckDB oracle (perfbench/check.py); a wrong result or a
query that throws counts in `failed`, warm-up executions included, and
standard error shows failed/attempted. The last line of standard output
is one JSON object; progress goes to standard error.

End-to-end metrics: `setup_s` (median over the set-ups of one run:
session start with GraftExtensions injected plus one untimed warm-up
pass; the first is timed from JVM start), `pass_s` (median wall time of
a timed pass over the query list), `query_p50_s` and `query_p90_s` (per
execution; the tail is the highest percentile up to 90 that leaves at
least 10 samples beyond it, and standard error names it with the sample
count) and `peak_rss_mb` (VmHWM of the JVM).

With trace 1 the per-layer metrics are per-pass totals, median over the
traced passes, and the per-query and per-module records are written to
`<build dir>/traces/<workload>-seed<n>.json`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

CORES = 2
SETUPS = 2
HARNESS_TIMEOUT_S = 150
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# Operator module of each query, for the per-module rollup.
MODULES = {
    "text.CoOccur": ["wordcount_alpha", "pairs_m1", "stripes_m1"],
    "sources.TextLines": ["q56_category_sink"],
    "rel.Queries": ["q1_pricing_summary", "q10_topk", "q221_tpch_q5",
                    "q280_tpch_q3", "q306_tpch_q6"],
    "rel.Graph": ["q145_bfs"],
    "sources.StreamIngest": ["q60_stream_ingest"],
}
MODULE_OF = {q: m for m, qs in MODULES.items() for q in qs}
# Modules whose job, stage, task and plan counts must repeat exactly from
# pass to pass (streaming and fixpoint rounds may legitimately vary).
EXACT_MODULES = {"text.CoOccur", "sources.TextLines", "rel.Queries"}

# Two workloads that load opposite layers. cooccur: the paper's word
# count, pairs and stripes jobs plus a partitioned sink over a seeded
# corpus, bound by execution and shuffle. overhead: sub-second relational
# queries, one fixpoint (BFS) and one streaming ingest, bound by fixed
# per-query and per-job costs: planning, scheduling, driver-side loops
# and micro-batch commits. sf scales the generated tables (gen.py).
WORKLOADS = {
    "cooccur": dict(sf=0.01, doc_replicas=8, queries=[
        "wordcount_alpha", "pairs_m1", "stripes_m1", "q56_category_sink"]),
    "overhead": dict(sf=0.01, queries=[
        "q1_pricing_summary", "q10_topk", "q221_tpch_q5", "q280_tpch_q3",
        "q306_tpch_q6", "q145_bfs", "q60_stream_ingest"]),
}


def parse_args():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_harness(classpath, run_dir, data_dir, queries, seconds, trace):
    """Runs the JVM harness; returns its result.json as a dict."""
    out = os.path.join(run_dir, "out")
    for d in ("out", "scratch", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # A fixed heap keeps peak RSS from following the collector's resizing.
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            f"queries={','.join(queries)}", f"data={data_dir}", f"out={out}",
            f"seconds={seconds}", f"trace={trace}", f"cores={CORES}",
            f"setups={SETUPS}"]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness timed out, see {run_dir}/harness.log")
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited {rc}, see {run_dir}/harness.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def tail_percentile(xs):
    """(value, percentile): the highest percentile <= 90 that leaves at
    least 10 samples beyond it, never below the median; interpolated
    between the two nearest samples."""
    xs = sorted(xs)
    q = max(0.5, min(0.9, 1 - 10 / len(xs)))
    pos = q * (len(xs) - 1)
    i = int(pos)
    j = min(i + 1, len(xs) - 1)
    return xs[i] + (xs[j] - xs[i]) * (pos - i), q


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, timed):
    walls = [e["wall_s"] for e in timed]
    p_tail, q = tail_percentile(walls)
    log(f"query_p90_s is the p{round(q * 100)} of {len(walls)} executions")
    return {
        "setup_s": metric(statistics.median(res["setup_s"]), "s"),
        "pass_s": metric(statistics.median(res["pass_s"]), "s"),
        "query_p50_s": metric(statistics.median(walls), "s"),
        "query_p90_s": metric(p_tail, "s"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }


# Per-layer metrics: (name, unit, record field, scale). Each is the
# per-pass total over the workload's queries, median over traced passes.
LAYER_SUMS = [
    ("entry.build_s", "s", "build_s", 1),
    ("entry.build_jobs", "count", "build_jobs", 1),
    ("span.plan_s", "s", "plan_s", 1),
    ("span.execute_s", "s", "execute_s", 1),
    ("catalyst.analysis_s", "s", "catalyst_analysis_s", 1),
    ("catalyst.optimization_s", "s", "catalyst_optimization_s", 1),
    ("catalyst.planning_s", "s", "catalyst_planning_s", 1),
    ("plan.exchanges", "count", "plan_exchanges", 1),
    ("plan.scans", "count", "plan_scans", 1),
    ("codegen.compiles", "count", "codegen_compiles", 1),
    ("codegen.compile_failures", "count", "codegen_compile_failures", 1),
    ("sched.jobs", "count", "jobs", 1),
    ("sched.stages", "count", "stages", 1),
    ("sched.single_task_stages", "count", "single_task_stages", 1),
    ("sched.tasks", "count", "tasks", 1),
    ("sched.driver_gap_s", "s", "driver_gap_s", 1),
    ("exec.task_s", "s", "task_s", 1),
    ("exec.cpu_s", "s", "cpu_s", 1),
    ("exec.gc_s", "s", "gc_s", 1),
    ("shuffle.write_mb", "MB", "shuffle_write_bytes", 2 ** -20),
    ("shuffle.read_mb", "MB", "shuffle_read_bytes", 2 ** -20),
    ("exec.spill_mb", "MB", "spill_bytes", 2 ** -20),
    ("stream.batches", "count", "stream_batches", 1),
    ("stream.trigger_s", "s", "stream_trigger_s", 1),
    ("stream.commit_s", "s", "stream_commit_s", 1),
    ("stream.state_rows", "count", "stream_state_rows", 1),
    ("stream.state_mb", "MB", "stream_state_bytes", 2 ** -20),
    ("scratch.mb_written", "MB", "scratch_bytes", 2 ** -20),
    ("scratch.files", "count", "scratch_files", 1),
]
REPEATING = ["build_jobs", "plan_exchanges", "plan_scans", "jobs", "stages", "tasks"]


def rollup(records):
    """Per-pass sums of every LAYER_SUMS field, plus wall and peak memory."""
    out = {}
    for r in records:
        s = out.setdefault(r["pass"], {"wall_s": 0.0, "peak_mem_bytes": 0})
        s["wall_s"] += r["wall_s"]
        s["peak_mem_bytes"] = max(s["peak_mem_bytes"], r["peak_mem_bytes"])
        for _, _, f, _ in LAYER_SUMS:
            s[f] = s.get(f, 0) + r[f]
    return out


def per_layer(res, problems):
    recs = res["records"]
    passes = list(rollup(recs).values())
    med = lambda f: statistics.median(p[f] for p in passes)
    m = {name: metric(med(f) * scale, unit) for name, unit, f, scale in LAYER_SUMS}
    wall = med("wall_s")
    m["exec.core_util"] = metric(med("task_s") / (wall * CORES), "ratio")
    m["exec.peak_mem_mb"] = metric(med("peak_mem_bytes") / 2 ** 20, "MB")
    traced, untraced = (statistics.median(res["traced_pass_s"]),
                        statistics.median(res["pass_s"]))
    m["trace.pass_s"] = metric(traced, "s")
    m["trace.overhead_s"] = metric(traced - untraced, "s")

    # Plan phases are stamped in whole milliseconds, hence the tolerance.
    for r in recs:
        spans = (r["build_s"], r["plan_s"], r["execute_s"])
        if min(spans) < -2e-3 or abs(sum(spans) - r["wall_s"]) > 2e-3:
            problems.append(f"{r['query']} pass {r['pass']}: span self-times "
                            f"{spans} do not sum to wall {r['wall_s']:.4f}s")
    seen = {}
    for r in recs:
        if MODULE_OF[r["query"]] not in EXACT_MODULES:
            continue
        key = tuple(r[f] for f in REPEATING)
        if seen.setdefault(r["query"], key) != key:
            problems.append(f"{r['query']}: counts {REPEATING} differ across "
                            f"passes: {seen[r['query']]} vs {key}")
    return m


def write_trace(path, workload, seed, res):
    """Per-query records and their per-query / per-module means."""
    recs = res["records"]
    n_pass = len({r["pass"] for r in recs})
    fields = ["wall_s", "build_s", "plan_s", "execute_s"] + \
        [f for _, _, f, _ in LAYER_SUMS if f not in ("build_s", "plan_s", "execute_s")]

    def mean(group):
        return {f: sum(r[f] for r in group) / n_pass for f in fields}
    by_query, by_module = {}, {}
    for r in recs:
        by_query.setdefault(r["query"], []).append(r)
        by_module.setdefault(MODULE_OF[r["query"]], []).append(r)
    wall = sum(r["wall_s"] for r in recs)
    doc = {"workload": workload, "seed": seed, "traced_passes": n_pass,
           "span_shares": {s: sum(r[f"{s}_s"] for r in recs) / wall
                           for s in ("build", "plan", "execute")},
           "per_query": {q: mean(g) for q, g in by_query.items()},
           "per_module": {m: mean(g) for m, g in by_module.items()},
           "records": recs}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


def main():
    args = parse_args()
    w = WORKLOADS[args.workload]
    classpath = build.build()
    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    t0 = time.time()
    gen.generate(data_dir, args.seed, w["sf"], w.get("doc_replicas", 0))
    log(f"generated inputs in {time.time() - t0:.1f}s")
    try:
        res = run_harness(classpath, run_dir, data_dir, w["queries"],
                          args.seconds, args.trace)
        wrong, digests = check.check(data_dir, os.path.join(run_dir, "out", "check"),
                                     res["oracle_sql"], w["queries"])
    finally:
        for d in ("data", "scratch", "tmp", "spark-local", "warehouse", "out/check"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    digest_path = os.path.join(build.build_dir(), "digests",
                               f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(digest_path), exist_ok=True)
    with open(digest_path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    for q, why in sorted(wrong.items()):
        log(f"output check FAILED {q}: {why}")
    execs = res["executions"]
    threw = [e for e in execs if e["ok"] is not True]
    # A query that threw in the checked pass has no output to check.
    checked_ok = {e["query"] for e in execs if e["pass"] == -1 and e["ok"] is True}
    failed = len(threw) + len(set(wrong) & checked_ok)
    log(f"failed_frac = {failed}/{len(execs)} = {failed / len(execs):.4f}")
    problems = []
    if args.trace:
        metrics = per_layer(res, problems)
        path = os.path.join(build.build_dir(), "traces",
                            f"{args.workload}-seed{args.seed}.json")
        write_trace(path, args.workload, args.seed, res)
        log(f"trace written to {path}")
    else:
        metrics = end_to_end(res, [e for e in execs if e["pass"] > 0])
    for p in problems:
        log(f"self-check FAILED: {p}")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if sorted(metrics) != sorted(m["name"] for m in declared):
        raise SystemExit("perfbench: metrics differ from BENCHMARK.json")
    print(json.dumps({"correct": failed == 0 and not problems,
                      "attempted": len(execs), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
