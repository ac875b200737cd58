"""End-to-end benchmark of the FRESCO ETL and curation pipelines.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One run: build (when the sources changed),
generate the workload's inputs from the seed, start one benchmark JVM
(set-up, then a closed loop of iterations for `--seconds`), check every
iteration's outputs against the generator's ground truth, and print the
metrics.  The last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it is the
run's environment and raw record.  Untraced runs (`--trace 0`) report the
end-to-end metrics; traced runs (`--trace 1`) the per-layer ones.  See
e2ebench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("fresco_e2e", "curate_docs")
CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
HEAP = "3g"
DEADLINE_S = 170
RESULTS = os.path.join(build.BUILD, "results")
# Spark 4 on JDK 17 outside spark-submit (the repo's build.sbt carries the
# same list, from org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Per-layer metrics a traced run reports; a layer the workload does not
# run reports 0.  Verb walls come from the untraced half of the run.
VERBS = ("step1_s", "step2_s", "step3_s", "append_p50_s", "compact_s", "curate_s")
LAYER_METRICS = (
    ["Readers.csv.self_s", "Readers.csv.rows", "Readers.csv.null_cells",
     "Readers.frescoMetrics.self_s", "Readers.accounting.self_s"]
    + ["MetricTransforms.%s.%s" % (f, m) for f in ("block", "cpu", "llite", "mem")
       for m in ("self_s", "rows_in", "rows_out", "keep_ratio", "shuffle_bytes")]
    + ["writeDaily.self_s", "writeDaily.bytes", "writeDaily.files", "writeDaily.files_per_day",
       "compactDaily.self_s", "compactDaily.bytes_rewritten", "compactDaily.files_before",
       "compactDaily.files_after",
       "IntervalJoin.self_s", "IntervalJoin.rows_in", "IntervalJoin.rows_out",
       "IntervalJoin.match_ratio", "IntervalJoin.shuffle_bytes",
       "BucketAggregate.self_s", "BucketAggregate.rows_out", "BucketAggregate.rows_in_per_out",
       "BucketAggregate.shuffle_bytes", "BucketAggregate.spill_bytes",
       "Finalize.self_s", "Main.write.self_s", "Main.write.bytes",
       "Dedup.minhash.self_s", "Dedup.minhash.candidate_pairs", "Dedup.minhash.losers",
       "Dedup.minhash.verified_ratio", "Dedup.decontaminate.self_s",
       "Dedup.decontaminate.contaminated",
       "TextAnalysis.quality.self_s", "TextAnalysis.quality.kept_ratio",
       "TextAnalysis.pii.self_s", "TextAnalysis.pii.pii_hits", "TextAnalysis.split.self_s",
       "plans.planning_s",
       "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
       "spark.executor_run_s", "spark.gc_s", "spark.scheduler_delay_s",
       "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.driver_blocking_s"]
    + list(VERBS)
    + ["rows_per_s", "peak_heap_mb",
       "trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_s"])


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_rewritten"):
        return "B"
    if name.endswith("ratio") or name.endswith("per_out") or name.endswith("per_day"):
        return "ratio"
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(record, truth, attempted, failed):
    """Medians over the untraced iterations of the run."""
    its = [it for it in record["iterations"] if not it["traced"]]
    rows, size = truth["input_rows"], truth["input_bytes"]
    return {
        "setup_s": (record["setup_s"], "s"),
        "rows_per_cpu_s": (median([rows / it["cpu_s"] for it in its]), "1/s"),
        "write_amp": (median([it["bytes_written"] / size for it in its]), "ratio"),
        "space_amp": (median([it["bytes_stored"] / size for it in its]), "ratio"),
        "alloc_mb": (median([it["alloc_mb"] for it in its]), "MB"),
        "pass_frac": (1.0 - failed / attempted, "ratio"),
    }


def per_layer(record, truth):
    plain = [it for it in record["iterations"] if not it["traced"]]
    traced = [it for it in record["iterations"] if it["traced"] and it["error"] is None]
    out = {m: median([it["layers"].get(m, 0.0) for it in traced]) for m in LAYER_METRICS}
    for v in VERBS:
        out[v] = median([it["verbs"].get(v, 0.0) for it in plain if it["error"] is None])
    # wall-clock throughput moves with CPU steal on shared hosts, too much
    # for an end-to-end bound; rows_per_cpu_s is the gated throughput
    out["rows_per_s"] = median([truth["input_rows"] / it["wall_s"] for it in plain])
    # follows G1's collection timing more than the live set: see README.md
    out["peak_heap_mb"] = median([it["peak_heap_mb"] for it in plain])
    out["trace.untraced_wall_s"] = median([it["wall_s"] for it in plain])
    out["trace.traced_wall_s"] = median([it["wall_s"] for it in traced])
    out["trace.overhead_s"] = out["trace.traced_wall_s"] - out["trace.untraced_wall_s"]
    return {m: (out[m], unit_of(m)) for m in LAYER_METRICS}


def run_jvm(args, classpath, work, in_dir, result, started):
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "e2ebench.Driver",
              "--workload", args.workload, "--in", in_dir, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(CORES), "--partitions", str(SHUFFLE_PARTITIONS),
              "--result", result])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM exceeded the run deadline")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("benchmark JVM failed with exit code %d" % rc)
    with open(result) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    classpath = build.build()
    started = time.monotonic()  # the run deadline excludes a first-run compile
    work = os.path.abspath(os.path.join(
        build.BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, args.trace)))
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    truth = gen.generate(args.workload, in_dir, args.seed)

    os.makedirs(RESULTS, exist_ok=True)
    result = os.path.join(RESULTS, "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))
    record = run_jvm(args, classpath, work, in_dir, result, started)

    failures = {}
    for it in record["iterations"]:
        errors = [it["error"]] if it["error"] else check.CHECKS[args.workload](it["dir"], truth)
        if errors:
            failures[os.path.basename(it["dir"])] = errors
    attempted = len(record["iterations"])
    metrics = (per_layer(record, truth) if args.trace else
               end_to_end(record, truth, attempted, len(failures)))
    shutil.rmtree(work, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": record["env"], "setup_s": record["setup_s"],
            "input_rows": truth["input_rows"], "input_bytes": truth["input_bytes"],
            "iterations": len(record["iterations"]), "failures": failures, "record": result}
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
