#!/usr/bin/env python3
"""karnabench: end-to-end and per-layer benchmark of the karnaspark
program, driven from outside through its public entry points.

Usage (from the repository root):
  python3 karnabench/run.py --workload serve|batch_keys --seed N \\
      --seconds S --trace 0|1
  python3 karnabench/run.py --record     # re-record expected answers

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
ones with --trace 1). The line before it holds every metric the run
computed, the host facts and the check results; the same goes to
karnabench/work/results/. See karnabench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

T_START = time.monotonic()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import fixtures  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORK = HERE / "work"
RUN = WORK / "run"
JVM_TIMEOUT_S = 165
SETUP_REPEATS = 3
CANARY_ITERS = 250_000_000
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "op_latency_ms": "ms", "ops_per_s": "1/s",
             "heap_live_mb": "MB"}
DERIVED = workloads.BATCH_DERIVED
LAYER_UNITS = {
    "server.self_ms": "ms", "server.rows_returned": "rows",
    "dialects.nl_translate_ms": "ms", "dialects.gate_ms": "ms",
    "dialects.gql_parse_ms": "ms", "dialects.gql_build_ms": "ms",
    "sources.register_all_ms": "ms", "sources.register_all_calls": "count",
    "sources.sync_ms": "ms", "sources.register_ms": "ms",
    "sources.unregister_ms": "ms", "sources.files_discovered": "count",
    "sources.file_cache_hit_ratio": "ratio",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    **{f"derived.{a}_s": "s" for a in DERIVED}, "derived.total_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_wait_ms": "ms", "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms", "exec.core_busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.scan_rows": "rows",
    "exec.scan_rows_per_result_row": "ratio",
    "trace.overhead_ms": "ms", "trace.self_sum_error_ms": "ms",
}


def cores():
    return os.cpu_count() or 4


def java_cmd(plan_file):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file in the system temp directory: a run writes only
    # inside the checkout
    return ["java", *opens, "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={RUN / 'tmp'}",
            f"-Dderby.system.home={RUN / 'derby'}",
            "-cp", build.classpath(), "karnabench.Main", str(plan_file)]


def run_jvm(plan, timeout=JVM_TIMEOUT_S):
    """Write the plan, run the harness on it, return its observations."""
    plan_file = RUN / "plan.json"
    plan_file.write_text(json.dumps(plan))
    log = open(RUN / "jvm.log", "w")
    proc = subprocess.Popen(java_cmd(plan_file), cwd=RUN, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"harness exceeded {timeout} s (log: {RUN / 'jvm.log'})")
    finally:
        log.close()
    if code != 0:
        sys.stderr.write((RUN / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"harness exited with {code}")
    return json.loads(Path(plan["out"]).read_text())


def fresh_run_dir():
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("tmp", "derby", "spark-local"):
        (RUN / d).mkdir(parents=True)


def base_plan(workload, seconds, trace, partitions):
    return {"workload": workload, "seconds": seconds, "trace": trace,
            "cores": cores(), "shuffle_partitions": partitions,
            "canary_iters": CANARY_ITERS,
            "spark_local_dir": str(RUN / "spark-local"),
            "warehouse_dir": str(RUN / "warehouse"),
            "out": str(RUN / "observed.json")}


# ------------------------------------------------------------- reduction

def ms(ns):
    return ns / 1e6


def window_counters(obs, phases):
    """Counter deltas over the timed window, summed over job phases."""
    before, after = obs["counters_before"], obs["counters_after"]

    def d(name):
        return sum(after.get(f"{p}/{name}", 0) - before.get(f"{p}/{name}", 0)
                   for p in phases)

    def g(name):
        return after.get(name, 0) - before.get(name, 0)
    return d, g


def span_summary(spans):
    """Each span's self time, the root spans, and the median duration in
    ms of the spans of a name (0 when there are none)."""
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(ms(s["t1_ns"] - s["t0_ns"]))

    def med(name):
        return stats.median(by_name.get(name, [])) or 0.0
    return stats.self_times(spans), [s for s in spans if s["parent"] == 0], med


def layer_metrics_common(obs, d, g, n_ops, wall_ms, result_rows):
    m = {}
    m["catalyst.analysis_ms"] = g("catalyst/analysis_ms") / n_ops
    m["catalyst.optimization_ms"] = g("catalyst/optimization_ms") / n_ops
    m["catalyst.planning_ms"] = g("catalyst/planning_ms") / n_ops
    m["codegen.compiles"] = d("codegen_compiles") / n_ops
    m["codegen.compile_ms"] = d("codegen_compile_us") / 1000 / n_ops
    for k in ("jobs", "stages", "tasks", "sched_wait_ms", "executor_run_ms",
              "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "scan_rows"):
        m[f"exec.{k}"] = d(k) / n_ops
    m["exec.core_busy_ratio"] = stats.core_busy_ratio(d("executor_run_ms"), wall_ms, cores())
    m["exec.scan_rows_per_result_row"] = d("scan_rows") / max(1, result_rows)
    files = g("catalog/files_discovered")
    hits = g("catalog/file_cache_hits")
    m["sources.files_discovered"] = files / n_ops
    m["sources.file_cache_hit_ratio"] = hits / (hits + files) if hits + files else 0.0
    return m


def serve_rate(obs, outcomes):
    """Operations completed per second, up to the end of the last
    operation; the last operation overruns the window by a variable
    amount, and counting to the window's end instead would quantise the
    rate by whole requests."""
    done = sum(1 for o in outcomes if o != "failed")
    end = max((o["t1_ns"] for o in obs["ops"]), default=obs["window_t0_ns"])
    return done / ((end - obs["window_t0_ns"]) / 1e9) if done else 0.0


def setup_seconds(obs, repeated_units=()):
    """Process start to the first timed operation, less the harness's own
    canary. A set-up step the harness repeats to steady the figure
    (`repeated_units`, seconds each) counts once, at its median."""
    extra = sum(repeated_units) - stats.median(repeated_units) if repeated_units else 0.0
    return obs["first_op_s"] - obs["host"]["canary_pre_s"] - extra


def trace_checks(obs, spans, walls):
    """The traced run's own figures: what tracing cost per timed operation
    (the measured cost of one span times the spans per operation), and the
    largest gap between an operation's wall time and the self times of its
    spans. `walls` maps each timed operation's request id to its wall time
    in ns."""
    timed = [s for s in spans if s["req"] in walls]
    return {
        "trace.overhead_ms": obs["span_cost_ms"] * len(timed) / max(1, len(walls)),
        "trace.self_sum_error_ms": ms(stats.self_sum_error(timed, walls)),
    }


def reduce_serve(obs, stream, dirs, trace):
    by_id = {op["id"]: op for op in stream}
    answers = checks.load_answers()
    duck = checks.Duck(dirs)
    outcomes, problems = [], []
    lat, by_template, rows_returned = {}, {}, []
    try:
        for o in obs["ops"]:
            op = by_id[o["id"]]
            if op["kind"] == "read":
                outcome, why = checks.check_read(duck, answers, op, o["body"])
                if outcome == "ok":
                    rows_returned.append(json.loads(o["body"]).get("rowCount", 0))
            else:
                outcome, why = checks.check_write(op, o["status"], o["body"])
            outcomes.append(outcome)
            if why:
                problems.append(f"{o['id']} {op.get('tpl', op['kind'])}: {why}")
            if outcome == "expected_reject":
                continue
            # a failed operation counts as beyond any latency limit
            v = ms(o["t1_ns"] - o["t0_ns"]) if outcome == "ok" else float("inf")
            lat.setdefault(op["dialect"] if op["kind"] == "read" else "write", []).append(v)
            by_template.setdefault(op.get("tpl") or op["kind"], []).append(v)
    finally:
        duck.close()

    reads = [v for g, vs in lat.items() if g != "write" for v in vs]
    per_template = {t: stats.median(vs) for t, vs in sorted(by_template.items())}
    setup_s = setup_seconds(obs, obs["setup_units_s"])
    detail = {
        "setup_s": setup_s,
        # every template weighs the same, whatever its share of the mix
        "template_geomean_ms": stats.geomean(list(per_template.values())),
        "serve_p50_ms": stats.median(reads),
        "serve_p90_ms": stats.percentile(reads, 90),
        "serve_reads": len(reads),
        "sql_p50_ms": stats.median(lat.get("sql", [])),
        "graphql_p50_ms": stats.median(lat.get("graphql", [])),
        "nl_p50_ms": stats.median(lat.get("nl", [])),
        "serve_qps": serve_rate(obs, outcomes),
        "write_p50_ms": stats.median(lat.get("write", [])),
        "failed_ratio": stats.failed_ratio(outcomes),
        "heap_live_mb": obs["heap_live_mb"],
        "template_p50_ms": {t: round(v, 3) for t, v in per_template.items()},
    }
    e2e = {"setup_s": setup_s, "op_latency_ms": detail["template_geomean_ms"],
           "ops_per_s": detail["serve_qps"], "heap_live_mb": obs["heap_live_mb"]}
    layers = None
    if trace:
        spans = obs["spans"]
        own, roots, med = span_summary(spans)
        d, g = window_counters(obs, ["serve"])
        layers = layer_metrics_common(obs, d, g, max(1, len(outcomes)),
                                      obs["window_s"] * 1000, sum(rows_returned))
        req_roots = [r for r in roots if r["name"] == "server.request"]
        layers.update({
            "server.self_ms": stats.median([ms(own[r["id"]]) for r in req_roots]) or 0.0,
            "server.rows_returned": (sum(rows_returned) / len(rows_returned)
                                     if rows_returned else 0.0),
            "dialects.nl_translate_ms": med("dialects.nl_translate"),
            "dialects.gate_ms": med("dialects.gate"),
            "dialects.gql_parse_ms": med("dialects.gql_parse"),
            "dialects.gql_build_ms": med("dialects.gql_build"),
            "sources.register_all_ms": med("sources.register_all"),
            "sources.register_all_calls": sum(
                1 for s in spans if s["name"] == "sources.register_all") / max(1, len(reads)),
            "sources.sync_ms": med("sources.sync"),
            "sources.register_ms": med("sources.register"),
            "sources.unregister_ms": med("sources.unregister"),
            **trace_checks(obs, spans, {o["id"]: o["t1_ns"] - o["t0_ns"] for o in obs["ops"]}),
        })
    return outcomes, problems, e2e, layers, detail


def reduce_batch(obs, trace):
    answers = checks.load_answers()
    outcomes, problems = [], []
    for k in obs["keys"]:
        if not k["ok"]:
            outcomes.append("failed")
            problems.append(f"{k['key']}: {k.get('error', '')[:200]}")
            continue
        why = checks.check_key(answers, k["key"], k["digest"])
        outcomes.append("ok" if why is None else "failed")
        if why:
            problems.append(why)
    done = [k for k in obs["keys"] if k["ok"]]
    per_key = [k["construct_s"] + k["exec_s"] for k in done]
    batch_s = sum(per_key)
    setup_s = setup_seconds(obs)
    detail = {"setup_s": setup_s, "batch_e2e_s": batch_s,
              "batch_construct_s": sum(k["construct_s"] for k in done),
              "batch_keys": len(obs["keys"]),
              "failed_ratio": stats.failed_ratio(outcomes),
              "heap_live_mb": obs["heap_live_mb"],
              "per_key_s": {k["key"]: round(k["construct_s"] + k["exec_s"], 4) for k in done}}
    # every key weighs the same in the latency, whatever its size; the
    # throughput is set by the heavy keys
    detail["key_geomean_ms"] = stats.geomean([v * 1000 for v in per_key])
    e2e = {"setup_s": setup_s,
           "op_latency_ms": detail["key_geomean_ms"],
           "ops_per_s": len(done) / batch_s if batch_s else 0.0,
           "heap_live_mb": obs["heap_live_mb"]}
    layers = None
    if trace:
        n = max(1, len(done))
        spans = obs["spans"]
        d, g = window_counters(obs, ["construct", "exec"])
        layers = layer_metrics_common(obs, d, g, n, batch_s * 1000,
                                      sum(k.get("rows", 0) for k in done))
        after, before = obs["counters_after"], obs["counters_before"]
        jobs = sum(after.get(f"construct/jobs@{k['key']}", 0)
                   - before.get(f"construct/jobs@{k['key']}", 0) for k in done)
        layers.update({
            "operators.construct_s": detail["batch_construct_s"] / n,
            "operators.construct_jobs": jobs / n,
            **{f"derived.{a}_s": obs["derived_s"].get(a, 0.0) for a in DERIVED},
            "derived.total_s": sum(obs["derived_s"].values()),
            **trace_checks(obs, spans, {k["key"]: round((k["construct_s"] + k["exec_s"]) * 1e9)
                                        for k in done}),
        })
    return outcomes, problems, e2e, layers, detail


# ------------------------------------------------------------- workloads

def serve_run(seed, seconds, trace, dirs, stream=None, timeout=JVM_TIMEOUT_S):
    plan = base_plan("serve", seconds, trace, 32)
    cycle = len(stream) if stream else workloads.CYCLE_OPS
    stream = stream or workloads.serve_stream(seed, dirs)
    plan["serve"] = {
        "warm": workloads.warm_ops(dirs),
        "stream": stream,
        "cycle_ops": cycle,
        "catalog_dirs": [str(RUN / f"catalog-{i}") for i in range(SETUP_REPEATS)],
    }
    return run_jvm(plan, timeout), stream


def batch_run(trace, dirs):
    plan = base_plan("batch", 0, trace, cores())
    plan["batch"] = {"keys": workloads.BATCH_KEYS,
                     "warm_keys": workloads.BATCH_WARM_KEYS,
                     "derived": DERIVED, "dir": dirs["sf0.01"],
                     "warm_dir": dirs["sf0.001"]}
    return run_jvm(plan)


def record(dirs):
    """Run every pooled GraphQL/NL read on every directory and the batch
    key set once, and store the digests of their answers."""
    fresh_run_dir()
    stream = [{"id": f"r{i}", "kind": "read", "dialect": dialect, "tpl": tpl,
               "query": q, "dir_label": label, "dir": dirs[label], "expect": "rows"}
              for i, (label, (tpl, dialect, q)) in enumerate(
                  (label, x) for label in sorted(dirs)
                  for x in workloads.all_pool_reads())]
    obs, _ = serve_run(0, 1e6, 0, dirs, stream=stream, timeout=1800)
    by_id = {op["id"]: op for op in stream}
    answers = {}
    for o in obs["ops"]:
        op = by_id[o["id"]]
        dg = checks.digest_response(o["body"])
        if dg is None:
            raise SystemExit(f"pooled read failed: {op['query']} -> {o['body'][:300]}")
        answers[checks.answer_key(op["dialect"], op["dir_label"], op["query"])] = dg
    fresh_run_dir()
    obs = batch_run(0, dirs)
    for k in obs["keys"]:
        if not k["ok"]:
            raise SystemExit(f"batch key {k['key']} failed: {k.get('error')}")
        answers[f"batch|{k['key']}"] = k["digest"]
    checks.ANSWERS.parent.mkdir(exist_ok=True)
    checks.ANSWERS.write_text(json.dumps(answers, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(answers)} answers to {checks.ANSWERS}")


def finite(v):
    """JSON-safe copy: a non-finite number (the latency of a failed
    request) becomes null."""
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, dict):
        return {k: finite(x) for k, x in v.items()}
    if isinstance(v, list):
        return [finite(x) for x in v]
    return v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["serve", "batch_keys"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    build.build()
    WORK.mkdir(exist_ok=True)
    dirs = fixtures.prepare(WORK)
    if a.record:
        record(dirs)
        return
    if not a.workload:
        ap.error("--workload is required")
    fresh_run_dir()
    if a.workload == "serve":
        obs, stream = serve_run(a.seed, a.seconds, a.trace, dirs)
        outcomes, problems, e2e, layers, detail = reduce_serve(obs, stream, dirs, a.trace)
    else:
        obs = batch_run(a.trace, dirs)
        outcomes, problems, e2e, layers, detail = reduce_batch(obs, a.trace)
    failed = sum(1 for o in outcomes if o == "failed")
    # a layer the workload does not touch reads 0
    metrics = layers if a.trace else e2e
    units = LAYER_UNITS if a.trace else E2E_UNITS
    result = {"correct": not problems and failed == 0 and len(outcomes) > 0,
              "attempted": len(outcomes), "failed": failed,
              "metrics": {k: {"value": metrics.get(k, 0.0), "unit": units[k]}
                          for k in units}}
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "host": obs["host"], "session_s": obs["session_s"],
            "warm_s": obs["warm_s"],
            "setup_units_s": obs.get("setup_units_s"), "metrics": detail,
            "problems": problems[:20], "wall_s": time.monotonic() - T_START}
    if a.trace:
        full["layers"] = layers
        full["spans"] = obs["spans"]
    out_dir = WORK / "results"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(full, indent=1))
    full.pop("spans", None)
    print(json.dumps(finite(full)))
    print(json.dumps(finite(result), allow_nan=False))


if __name__ == "__main__":
    main()
