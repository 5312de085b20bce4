#!/usr/bin/env python3
"""Benchmark of the claims pipeline and of full-result query passes.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), makes the workload's
inputs from the seed, runs one JVM (perfbench/src/Harness.scala) from a
single client in a closed loop on local[nproc], checks every output, and
prints one line per metric followed, as the last line, by a JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, from a run
that alternates untraced and traced units. Exits 1 when any output is wrong
or any unit fails, and 2 (without a result) when the run cannot be made.
See perfbench/README.md for the workloads and what each metric should move.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import claimsgen  # noqa: E402
import qcheck  # noqa: E402

DEADLINE_S = 170
JVM_HEAP = "3g"

# Full-result passes over decoders that count() used to hide (q41, m7),
# relational shuffles (q1, q13), a lakehouse write beside a lakehouse read
# (q363, q369) and an operator loop (q64, PageRank). An odd count keeps
# query_p50_s inside one query's samples.
QUERIES = [
    "q41_map_funcs", "m7_pcm_features", "q1_pricing_summary", "q13_sessionize",
    "q363_fw_merge", "q369_fw_sorted_seek", "q64_pagerank",
]

# unit_s: the nominal time of one timed unit on a 4-core host. A run makes
# round(seconds / unit_s) timed units (at least one), so every run of a
# workload samples the same number of units whatever the host's speed.
WORKLOADS = {
    "claims_e2e": {"alpha_rows": 200_000, "beta_rows": 20_000, "unit_s": 2.2},
    "queries": {"queries": QUERIES, "unit_s": 5.0},
}

# name -> unit; every workload reports every metric of its mode.
END_TO_END = {
    "setup_s": "s", "run_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "heap_live_peak_mb": "MB",
}
PER_LAYER = {
    "trace.run_s": "s", "trace.overhead_s": "s",
    "claims.Normalize.ingest_s": "s", "claims.Normalize.rows_in_alpha": "count.fixed",
    "claims.Normalize.rows_in_beta": "count.fixed",
    "claims.Normalize.corrupt_rows": "count.fixed",
    "claims.Eligibility.derive_s": "s", "claims.Eligibility.flag_ratio": "ratio.fixed",
    "claims.Metrics.observe_s": "s", "claims.Sinks.write_candidates_s": "s",
    "claims.Sinks.collect_s": "s", "claims.Sinks.render_s": "s",
    "claims.Sinks.candidate_bytes": "B.fixed", "claims.Sinks.write_metrics_s": "s",
    "queries.build_s": "s", "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.slot_util": "ratio", "spark.driver_gap_s": "s",
    "spark.codegen_fallbacks": "count", "spark.planning_s": "s",
    "spark.task_busy_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
}
for _q in QUERIES:
    PER_LAYER[f"queries.{_q}.s"] = "s"
    PER_LAYER[f"queries.{_q}.jobs"] = "count"
# Counts that repeat exactly from unit to unit on unchanged code. Those whose
# unit ends in ".fixed" are set by the seed's inputs and the checked outputs:
# any change is a wrong output, so their `better` carries no meaning.
EXACT_COUNTS = {"claims.Normalize.rows_in_alpha", "claims.Normalize.rows_in_beta",
                "claims.Normalize.corrupt_rows", "claims.Sinks.candidate_bytes",
                "claims.Eligibility.flag_ratio", "spark.jobs", "spark.stages"} | {
    f"queries.{q}.jobs" for q in QUERIES}
TAIL_RUNGS = (99, 95, 90, 75)
# Per-layer metrics read from the spans of the staged claims pass.
SPAN_METRICS = {f"claims.{n}": f"claims.{n}_s" for n in (
    "Normalize.ingest", "Eligibility.derive", "Metrics.observe",
    "Sinks.write_candidates", "Sinks.render", "Sinks.write_metrics")}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else None


def tail(samples):
    """(value, label): the highest of TAIL_RUNGS with at least ten samples
    beyond it. With fewer than forty samples no rung has ten beyond, and p75
    is reported all the same (labelled so): the maximum of a few samples
    swings with a single slow unit."""
    n = len(samples)
    if n < 2:
        return (samples[0] if samples else None), f"n={n}"
    rung = next((p for p in TAIL_RUNGS if n * (100 - p) / 100 >= 10), None)
    label = f"p{rung}" if rung else f"p75 (n={n}: fewer than ten beyond it)"
    q = statistics.quantiles(samples, n=100, method="inclusive")
    return q[(rung or 75) - 1], label


def run_jvm(classes, workload, args, work, extra, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
              f"t0={time.time() * 1000:.3f}", f"workload={workload}",
              f"units={max(1, round(args.seconds / WORKLOADS[workload]['unit_s']))}",
              f"limit={1.5 * args.seconds}", f"seed={args.seed}", f"trace={args.trace}",
              f"work={work}", f"out={out}"]
           + [f"{k}={v}" for k, v in extra.items()])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: {workload} exceeded the {DEADLINE_S}s deadline")
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"run: the benchmark JVM exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def prepare(workload, args, work):
    """Make the workload's inputs; return the JVM's extra arguments."""
    spec = WORKLOADS[workload]
    if workload == "claims_e2e":
        paths, _ = claimsgen.generate(args.seed, spec["alpha_rows"],
                                      spec["beta_rows"], os.path.join(work, "inputs"))
        return {"files": ",".join(paths[n] for n in claimsgen.INPUTS),
                "expCand": paths["expected_candidates.json"],
                "expMetrics": paths["expected_metrics.log"]}
    return {"data": qcheck.DATA_DIR, "queries": ",".join(spec["queries"])}


def span_times(spans, units):
    """name -> (durations, self times) in s, over the spans of `units`. A
    span's self time is its duration minus its children's."""
    ids = {u["id"] for u in units}
    spans = [s for s in spans if s["unit"] in ids]
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    children = {}
    for s in spans:
        children[s["parent"]] = children.get(s["parent"], 0.0) + dur[s["id"]]
    out = {}
    for s in spans:
        d, selfs = out.setdefault(s["name"], ([], []))
        d.append(dur[s["id"]])
        selfs.append(dur[s["id"]] - children.get(s["id"], 0.0))
    return out


def summarize(workload, result, trace, check_failures):
    """Return (attempted, failed, metrics, notes) from the JVM's units."""
    units = result["units"]
    for u in units:
        if check_failures and u["kind"] != "staged":
            # Every unit ran the queries whose full results were wrong.
            u["ok"] = False
            u["error"] = u["error"] or "QueryResultMismatch: " + ",".join(sorted(check_failures))
    attempted = len(units)
    failed = [u for u in units if not u["ok"]]
    ok = [u for u in units if u["ok"]]
    by_kind = {}
    for u in ok:
        by_kind.setdefault(u["kind"], []).append(u)
    notes = {f"unit {u['id']} ({u['kind']})": u["error"] for u in failed}
    metrics = {}
    if not trace:
        timed = by_kind.get("timed", [])
        if workload == "claims_e2e":
            samples = [u["wall_s"] for u in timed]
        else:
            samples = [q["s"] for u in timed for q in u["queries"]]
        tail_v, rung = tail(samples)
        peaks = [u["heap_peak_b"] / 2**20 for u in timed if u["heap_peak_b"] > 0]
        values = {
            "setup_s": result["setup_s"],
            "run_s": median([u["wall_s"] for u in timed]),
            "query_p50_s": median(samples), "query_tail_s": tail_v,
            "heap_live_peak_mb": median(peaks),
        }
        notes["samples"] = (f"{len(timed)} timed units, {len(samples)} query samples; "
                            f"query_tail_s is {rung}")
        notes["unit walls (s)"] = " ".join(f"{u['wall_s']:.3f}" for u in timed)
        names = END_TO_END
    else:
        traced = by_kind.get("traced", [])
        untraced = by_kind.get("untraced", [])
        staged = by_kind.get("staged", [])
        cores = result["cores"]
        series = {name: [] for name in PER_LAYER}
        for u in traced:
            c = u["counters"]
            series["trace.run_s"].append(u["wall_s"])
            for k in ("jobs", "stages", "tasks", "codegen_fallbacks",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                series[f"spark.{k}"].append(c[k])
            series["spark.task_busy_s"].append(c["task_busy_ms"] / 1e3)
            series["spark.slot_util"].append(c["task_busy_ms"] / 1e3 / (u["wall_s"] * cores))
            series["spark.driver_gap_s"].append(u["wall_s"] - u["job_cover_s"])
            series["spark.planning_s"].append(c["planning_ms"] / 1e3)
            series["spark.gc_s"].append(c["gc_ms"] / 1e3)
            series["queries.build_s"].append(sum(q["build_s"] for q in u["queries"]))
            series["queries.action_s"].append(sum(q["action_s"] for q in u["queries"]))
            for q in u["queries"]:
                series[f"queries.{q['name']}.s"].append(q["s"])
                series[f"queries.{q['name']}.jobs"].append(q["jobs"])
        for u in staged:
            for k, v in u["layers"].items():
                series[k].append(v)
        for name, (durations, selfs) in span_times(result["spans"], ok).items():
            if name in SPAN_METRICS:
                series[SPAN_METRICS[name]] = durations
            notes[f"span {name}"] = (f"median {median(durations):.4f} s, "
                                     f"self {median(selfs):.4f} s, n={len(durations)}")
        # The candidate sink's time not spent rendering.
        series["claims.Sinks.collect_s"] = [
            w - r for w, r in zip(series["claims.Sinks.write_candidates_s"],
                                  series["claims.Sinks.render_s"])]
        values = {}
        for name, xs in series.items():
            # A layer the workload never calls did no work: 0, not missing.
            values[name] = median(xs) if xs else 0.0
            if name in EXACT_COUNTS and xs:
                notes[name] = "exact" if len(set(xs)) == 1 else f"varies {min(xs)}..{max(xs)}"
        run_traced, run_plain = median(series["trace.run_s"]), median(
            [u["wall_s"] for u in untraced])
        values["trace.overhead_s"] = (run_traced - run_plain
                                      if run_traced is not None and run_plain is not None
                                      else None)
        notes["samples"] = (f"{len(traced)} traced, {len(untraced)} untraced, "
                            f"{len(staged)} staged units")
        names = PER_LAYER
    for name, unit in names.items():
        metrics[name] = {"value": values.get(name), "unit": unit}
    return attempted, len(failed), metrics, notes


def run_workload(workload, args, classes, deadline, dump_dir=None):
    work = os.path.join(build.BUILD_DIR, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = prepare(workload, args, work)
        result = run_jvm(classes, workload, args, work, extra, deadline)
        if args.trace:  # keep the spans and counters of the last traced run
            shutil.copy(os.path.join(work, "result.json"),
                        os.path.join(build.BUILD_DIR, f"trace-{workload}.json"))
        check_failures = {}
        if workload != "claims_e2e":
            check_dir = os.path.join(work, "check")
            check_failures = qcheck.check(check_dir, WORKLOADS[workload]["queries"])
            if dump_dir:
                shutil.rmtree(dump_dir, ignore_errors=True)
                shutil.copytree(check_dir, dump_dir)
        return summarize(workload, result, args.trace == 1, check_failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--dump-dir", help="keep the query check dumps here "
                    "(input to `qcheck.py record`)")
    args = ap.parse_args()
    start = time.monotonic()
    classes = build.build()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    attempted = failed = 0
    metrics = {}
    for w in names:
        # The deadline covers one workload; a build's time does not count.
        a, f, m, notes = run_workload(w, args, classes, time.monotonic() + DEADLINE_S,
                                      args.dump_dir)
        attempted += a
        failed += f
        print(f"== {w} (seed {args.seed}, {args.seconds}s, trace {args.trace}): "
              f"attempted {a}, failed {f}, fail_ratio {f / a:.4f}")
        for k, v in notes.items():
            print(f"   {k}: {v}")
        for k, v in m.items():
            print(f"   {k:42s} {v['value']!s:>24} {v['unit']}")
            metrics[k if len(names) == 1 else f"{w}/{k}"] = v
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    print(f"(total {time.monotonic() - start:.1f}s)", file=sys.stderr)
    return 0 if failed == 0 else 1


def _terminate(signum, _frame):
    raise SystemExit(f"run: stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):  # the run could not be made: no result
            print(e.code, file=sys.stderr)
            sys.exit(2)
        raise
