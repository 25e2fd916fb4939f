#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <etl_loop|promql_lake|curation_served>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds (build.py). Each run:
generates its inputs from the seed into a fresh scratch root, starts one JVM
(graft.perfbench.Main) that sets up, runs the workload closed loop for
`--seconds`, and writes its raw samples; then checks every output, prints
the metrics by name and unit, and as its last line one JSON object. With
`--trace 1` the JVM records spans around every call into a layer and the
metrics are the per-layer ones. See README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

REPO = os.path.dirname(HERE)
HEAP = "3g"

# Fixture sizes. etl_loop's windows bound how many iterations a run can
# make; MIN_ITERATION_S is far below any measured iteration.
ETL_SERIES = 1000
ETL_MIN_ITERATION_S = 0.5
EVENTS = 100000
DOCS, VECS = 2000, 800

WORKLOADS = ("etl_loop", "promql_lake", "curation_served")

E2E = {  # name -> unit
    "setup_s": "s", "op_p50_s": "s", "pass_s": "s", "rows_per_s": "rows/s"}
LAYER = {
    # cold_s is an end-to-end figure, listed here because it does not repeat
    # within a tenth from run to run (one sample per run)
    "cold_s": "s",
    "streaming.ledger_read_s": "s", "streaming.ledger_files": "count",
    "streaming.etl_job_s": "s",
    "sources.fetch_s": "s", "sources.fetch_bytes": "bytes",
    "sources.rows_skipped": "count",
    "sinks.load_s": "s", "sinks.load_bytes": "bytes",
    "sinks.part_files": "count", "sinks.rows_loaded": "count",
    "sinks.dup_row_share": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.busy_s": "s",
    "spark.core_util": "ratio", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.frame_build_s": "s", "operators.frame_builds": "count",
    "index.build_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
}
# The per-layer metrics the result line carries, as BENCHMARK.json lists
# them: those both of its workloads, promql_lake and curation_served, measure.
# A metric that reads 0 on one of them (the etl_loop layers, index.build_s
# on promql_lake, spark.spill_bytes on both) is printed above the result
# line and kept in the artifact only.
RESULT_LAYER = (
    "cold_s", "spark.jobs", "spark.tasks", "spark.busy_s", "spark.core_util",
    "spark.plan_s", "spark.exec_s", "spark.shuffle_write_bytes",
    "operators.construct_s", "operators.construct_jobs",
    "operators.frame_build_s", "operators.frame_builds",
    "jvm.gc_s", "jvm.heap_peak_mb")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def generate(workload, seed, fixture, seconds):
    os.makedirs(fixture)
    if workload == "etl_loop":
        windows = 10 + int(seconds / ETL_MIN_ITERATION_S)
        gen.gen_etl(seed, os.path.join(fixture, "etl"), ETL_SERIES, windows)
    elif workload == "promql_lake":
        gen.gen_events(seed, fixture, EVENTS)
        gen.stand_ins(fixture, ("documents", "embeddings"))
    else:
        gen.gen_docs(seed, fixture, DOCS, VECS)
        gen.stand_ins(fixture, ("events",))


def run_jvm(classes, args, root):
    # -XX:-UsePerfData: no hsperfdata file in the system's temp dir.
    # CompileThresholdScaling: methods reach the optimizing compiler after a
    # quarter of the usual invocations, so less of the JIT's settling falls
    # into the timed loop (README.md, "A run").
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            "-XX:CompileThresholdScaling=0.25",
            f"-Djava.io.tmpdir={root}/tmp"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(root, "tmp"))
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=log)
        try:
            code = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the JVM did not finish in 150 s")
    if code != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: the JVM exited with code {code}")
    with open(os.path.join(root, "jvm_result.json")) as f:
        return json.load(f)


def check_queries(res, fixture, check_dir, ingest):
    """Output checks of the query workloads: every result of the cold pass
    against its DuckDB oracle (tools/check.py, as it is), and the
    ingestShard decisions against the oracle-checked served rows. Returns
    (failure reason per operation name, result rows per operation name)."""
    report = res["workload_report"]
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(report["oracle_sql"], f)
    r = subprocess.run([sys.executable, os.path.join(REPO, "tools", "check.py"),
                        fixture, check_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    bad = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            bad[name] = f"oracle mismatch: {why}"
    import pyarrow.parquet as pq
    tables = {}
    for name in {s["name"] for s in res["samples"]}:
        try:
            tables[name] = pq.read_table(os.path.join(check_dir, name))
        except (OSError, ValueError):
            bad.setdefault(name, "no result written by the cold pass")
    if ingest and "ingest_shard" in tables:
        why = check_ingest(report["ingest_summary"], tables)
        if why:
            bad["ingest_shard"] = why
    return bad, {n: t.num_rows for n, t in tables.items()}


def check_ingest(summary, tables):
    """ingestShard's per-document decisions and its summary must agree with
    the oracle-checked q_cross_dedup_served (the exact rule, value-identical
    to q_cross_dedup) and q_cross_neardup rows."""
    exact = {r["doc_id"]: r["is_dup"]
             for r in tables["q_cross_dedup_served"].to_pylist()}
    near = {r["doc_id"] for r in tables["q_cross_neardup"].to_pylist()
            if r["is_neardup"] == 1}
    want = {d: (dup, int(d in near), int(dup == 0 and d not in near))
            for d, dup in exact.items()}
    got = {r["doc_id"]: (r["exact_dup"], r["near_dup"], r["keep"])
           for r in tables["ingest_shard"].to_pylist()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"decisions differ from the checked rows, e.g. {diff}"
    counts = {"n_shard_docs": len(want),
              "n_exact_dup": sum(v[0] for v in want.values()),
              "n_near_dup": sum(v[1] for v in want.values()),
              "n_kept": sum(v[2] for v in want.values())}
    if summary != counts:
        return f"summary {summary} vs checked rows {counts}"
    return None


def e2e_metrics(res, rows_of):
    """Medians over the timed loop: of operation latencies, of pass times,
    and of each pass's rows per second."""
    passes = {}
    for s in res["samples"]:
        if s["pass"] >= 1:
            t, r = passes.get(s["pass"], (0.0, 0))
            passes[s["pass"]] = (t + s["total"], r + rows_of(s))
    return {
        "setup_s": median(res["setup_s"]),
        "op_p50_s": median([s["total"] for s in res["samples"]
                            if s["pass"] >= 1]),
        "pass_s": median([t for t, _ in passes.values()]),
        "rows_per_s": median([r / t for t, r in passes.values()]),
    }


def layer_metrics(res):
    spans = res["spans"]
    steady = next(s for s in spans if s["name"] == "steady")
    cold = next(s for s in spans if s["name"] == "cold")

    def within(s, outer):
        return outer["start"] <= s["start"] and s["end"] <= outer["end"]

    def durations(name):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and within(s, steady)]

    ops = [s for s in spans if s["name"].startswith("op:") and within(s, steady)]

    def per_op(counter):
        return sum(s["counters"][counter] for s in ops) / max(len(ops), 1)

    batches = [b for b in res["workload_report"].get("batches", [])
               if b["pass"] >= 1]
    loaded = sum(b["rows_loaded"] for b in batches)
    constructs = [s for s in spans if s["name"] == "operators.construct"
                  and within(s, steady)]
    wall = steady["end"] - steady["start"]
    return {
        "cold_s": res["cold_s"],
        "streaming.ledger_read_s": median(durations("streaming.ledger_read")),
        "streaming.ledger_files":
            res["workload_report"].get("ledger_files", 0),
        "streaming.etl_job_s": median(durations("streaming.etl_job")),
        "sources.fetch_s": median(durations("sources.fetch")),
        "sources.fetch_bytes": median([b["fetch_bytes"] for b in batches]),
        "sources.rows_skipped": median([b["rows_skipped"] for b in batches]),
        "sinks.load_s": median(durations("sinks.load")),
        "sinks.load_bytes": median([b["load_bytes"] for b in batches]),
        "sinks.part_files": median([b["part_files"] for b in batches]),
        "sinks.rows_loaded": median([b["rows_loaded"] for b in batches]),
        "sinks.dup_row_share":
            sum(b["dup_rows"] for b in batches) / loaded if loaded else 0.0,
        "spark.jobs": per_op("jobs"),
        "spark.tasks": per_op("tasks"),
        "spark.busy_s": per_op("busy_s"),
        "spark.core_util": steady["counters"]["busy_s"] / (wall * res["cores"]),
        "spark.plan_s": median(durations("spark.plan")),
        "spark.exec_s": median(durations("spark.exec")),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "operators.construct_s": median(durations("operators.construct")),
        "operators.construct_jobs": sum(s["counters"]["jobs"] for s in constructs)
            / max(len(constructs), 1),
        "operators.frame_build_s": cold["counters"]["frame_build_s"],
        "operators.frame_builds": cold["counters"]["frame_builds"],
        "index.build_s": median([s["end"] - s["start"] for s in spans
                                 if s["name"] == "index.build"]),
        "jvm.gc_s": res["gc_s"],
        "jvm.heap_peak_mb": res["heap_peak_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    out = build.build_dir()
    root = os.path.join(out, "run", a.workload)
    shutil.rmtree(root, ignore_errors=True)
    fixture = os.path.join(root, "fixture")
    t = time.time()
    generate(a.workload, a.seed, fixture, a.seconds)
    gen_s = time.time() - t

    res = run_jvm(classes, [a.workload, str(a.seconds), str(a.trace), root,
                            fixture], root)
    samples = res["samples"]
    failures = {}  # "<operation>#<op id>" -> reason; every failure is named
    for s in samples:
        if s["error"]:
            failures[f"{s['name']}#{s['op']}"] = s["error"]

    if a.workload == "etl_loop":
        import check_etl
        batches = res["workload_report"]["batches"]
        op_of = {b["start"]: b["op"] for b in batches}
        for start, why in check_etl.check(fixture, res["workload_report"]).items():
            failures[f"etl_iteration#{op_of.get(start, start)}"] = why.strip()
        rows = {b["op"]: b["rows_loaded"] for b in batches}
        rows_of = lambda s: rows.get(s["op"], 0)
    else:
        bad, rows = check_queries(res, fixture, os.path.join(root, "check"),
                                  a.workload == "curation_served")
        for s in samples:
            if s["name"] in bad:
                failures[f"{s['name']}#{s['op']}"] = bad[s["name"]]
        rows_of = lambda s: rows.get(s["name"], 0)
    failed_ops = len(failures)

    attempted = len(samples)
    e2e = e2e_metrics(res, rows_of)
    layers = layer_metrics(res) if a.trace else None
    error_rate = failed_ops / attempted if attempted else 1.0

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} (inputs generated in {gen_s:.1f} s, "
          f"{res['passes']} timed passes, "
          f"{sum(1 for s in samples if s['pass'] >= 1)} timed operations, "
          f"{attempted} operations in all)")
    for k, v in e2e.items():
        print(f"  {k:<28} {v:14.6f} {E2E[k]}")
    if layers is None:
        print(f"  {'cold_s':<28} {res['cold_s']:14.6f} s (per-layer list)")
    print(f"  {'error_rate':<28} {error_rate:14.6f} ratio "
          f"({failed_ops} of {attempted} operations failed)")
    for key in sorted(failures, key=lambda k: int(k.rpartition("#")[2])):
        print(f"  FAILED {key}: {failures[key]}")

    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}")
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "end_to_end": e2e,
                "cold_s": res["cold_s"],
                "error_rate": error_rate, "failures": failures,
                "setup_samples_s": res["setup_s"],
                "queries": split_per_query(samples)}
    if layers is not None:
        for k, v in layers.items():
            print(f"  {k:<28} {v:14.6f} {LAYER[k]}")
        artifact["per_layer"] = layers
        artifact["spans"] = res["spans"]
        untraced = stem + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: e2e[k] - base[k] for k in E2E}
            for k, v in artifact["tracing_overhead"].items():
                print(f"  tracing overhead {k:<17} {v:+14.6f} {E2E[k]}")
        else:
            print("  tracing overhead: needs a --trace 0 run of this "
                  "workload and seed first")
    with open(f"{stem}-trace{a.trace}.json", "w") as f:
        json.dump(artifact, f, indent=1)

    metrics = ({k: {"value": layers[k], "unit": LAYER[k]} for k in RESULT_LAYER}
               if layers is not None else
               {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": failed_ops == 0, "attempted": attempted,
                      "failed": failed_ops, "metrics": metrics}))


def split_per_query(samples):
    """Each operation's construct / plan / exec split, medians over the
    steady passes, plus its cold (first-pass) total."""
    out = {}
    for name in dict.fromkeys(s["name"] for s in samples):
        mine = [s for s in samples if s["name"] == name]
        steady = [s for s in mine if s["pass"] >= 1]
        out[name] = {k: median([s[k] for s in steady])
                     for k in ("total", "construct", "plan", "exec")}
        out[name]["cold"] = sum(s["total"] for s in mine if s["pass"] == 0)
        out[name]["runs"] = len(steady)
    return out


if __name__ == "__main__":
    main()
