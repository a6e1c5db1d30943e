#!/usr/bin/env python3
"""graft's benchmark of record: one command per (workload, seed).

    python3 perfbench/run.py --workload <etl_nightly|corpus_curation>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.sh, once per source state), generates the seeded
inputs (perfbench/gen.py, cached per seed), runs the workload as one
closed-loop client in one driver JVM with Spark local[N], checks every
output (DuckDB oracle for registry queries, planted truth for pipeline
steps), and prints the metrics as the last stdout line in JSON: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700
# Seconds one timed batch takes on a 4-core x86 box; with --seconds it
# fixes how many timed batches a run makes, so every run of a workload
# does the same work.
NOMINAL_BATCH_S = {"etl_nightly": 35.0, "corpus_curation": 16.0}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = []
    for d in ("src/main/scala", "src/main/resources", "perfbench/scala"):
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files) + [os.path.join(root, "perfbench/build.sh")]


def build(root):
    """Compile unless the classes were built from these exact sources."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return os.path.join(out, "classes")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        r = subprocess.run(["bash", "perfbench/build.sh"], cwd=root, stdout=log,
                           stderr=subprocess.STDOUT, timeout=BUILD_DEADLINE_S,
                           env=dict(os.environ, CARGO_TARGET_DIR=out,
                                    SPARK_JARS=spark_jars()))
    if r.returncode:
        fail(f"build failed, see {out}/build.log")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return os.path.join(out, "classes")


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def run_harness(classes, workload, inputs, run_dir, batches, trace, cores, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", f"{classes}{os.pathsep}{spark_jars()}/*",
            "graftbench.Harness", workload, inputs, run_dir, str(batches),
            str(trace), str(cores)]
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded its deadline, see {run_dir}/harness.log", 3)
    if rc:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}", 3)
    with open(os.path.join(run_dir, "run.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- metrics

def tail(samples):
    """(percentile, value): the highest percentile with >= 10 samples beyond."""
    xs = sorted(samples)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(round(len(xs) * p / 100, 6))  # 1-based nearest rank
        if len(xs) - rank >= 10:
            return p, xs[rank - 1]
    return 50.0, statistics.median(xs)


def self_times(spans, kinds):
    """Per span kind: duration minus the part its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = dict.fromkeys(kinds, 0.0)
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], ()) if c["id"] != s["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        if s["kind"] in out:
            out[s["kind"]] += (s["end"] - s["start"] - covered) / 1e3
    return out


SPAN_KINDS = ("batch", "op", "build", "phase", "action", "job")
KERNELS = ("jpeg", "png", "flac", "mp3", "vorbis", "pdf", "zstd", "brotli",
           "shingle", "simhash")

# Every metric the benchmark prints, with its unit: the end-to-end metrics
# of an untraced run and the per-layer metrics of a traced run (per timed
# batch unless the name says otherwise).
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "cpu_s": "s", "live_heap_peak_mb": "MB", "pass_frac": "ratio"}
PER_LAYER = {
    "core.session_s": "s", "core.warmup_s": "s",
    "core.caches_release_s": "s",
    "core.gc_s": "s", "core.gc_count": "count",
    "ops.build_s": "s", "ops.eager_jobs": "count",
    "ops.dedup_recall": "ratio", "ops.ann_recall": "ratio",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.actions": "count", "plans.codegen_compiles": "count",
    "plans.codegen_compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_wait_s": "s", "exec.driver_only_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.busy_frac": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.task_gc_s": "s",
    "exec.result_mb": "MB", "exec.failed_tasks": "count",
    "connect.csv_read_s": "s", "connect.json_read_s": "s", "connect.jdbc_read_s": "s",
    "connect.jdbc_write_s": "s", "connect.rows_in": "count",
    "connect.accept_ratio": "ratio", "connect.warehouse_write_s": "s",
    "connect.warehouse_read_s": "s", "connect.warehouse_mb_written": "MB",
    "connect.warehouse_files": "count", "connect.stored_per_input_byte": "ratio",
    "pipelines.ingest_s": "s", "pipelines.mart_s": "s", "pipelines.mart_rows": "count",
    "reconcile.diff_s": "s", "reconcile.mismatch_cells": "count",
    **{f"functions.{k}_mb_s": "MB/s" for k in KERNELS},
    "functions.decode_fail_ratio": "ratio",
    "trace.overhead_s": "s",
    **{f"self.{k}_s": "s" for k in SPAN_KINDS},
}


def end_to_end(run, timed, timed_ops, attempted, failed):
    lat = [o["latency_s"] for o in timed_ops]
    p, v = tail(lat)
    return {
        "setup_s": run["setup"]["total_s"],
        "wall_s": statistics.median(b["wall_s"] for b in timed),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": v,
        "cpu_s": statistics.median(b["cpu_s"] for b in timed),
        "live_heap_peak_mb": run["live_heap_peak_mb"],
        "pass_frac": (attempted - failed) / attempted,
    }, f"op_tail_s is p{p:g} of {len(lat)} op samples"


def per_layer(run, spans, truth_metrics, untraced_wall):
    traced = [b for b in run["batches"] if not b["verify"]]
    n = len(traced)
    c = {k: v / n for k, v in run["counters"].items()}
    tops = [o for o in run["ops"] if any(o["batch"] == b["index"] for b in traced)]
    wall = sum(b["wall_s"] for b in traced) / n
    m = {
        "core.session_s": run["setup"]["session_s"],
        "core.warmup_s": run["setup"]["warmup_s"],
        "core.caches_release_s": c.get("core.caches_release_s", 0.0),
        "core.gc_s": sum(b["gc_s"] for b in traced) / n,
        "core.gc_count": sum(b["gc_count"] for b in traced) / n,
        "ops.build_s": c.get("ops.build_s", 0.0),
        "ops.eager_jobs": c.get("ops.eager_jobs", 0.0),
        "plans.codegen_compiles": sum(b["codegen_compiles"] for b in traced) / n,
        "plans.codegen_compile_s": sum(b["codegen_compile_s"] for b in traced) / n,
        "exec.driver_only_s": sum(b["driver_only_s"] for b in traced) / n,
        "exec.busy_frac": c.get("exec.task_run_s", 0.0) / (wall * run["cores"]),
        "connect.accept_ratio": (c.get("connect.rows_accepted", 0.0) / c["connect.rows_in"]
                                 if c.get("connect.rows_in") else 0.0),
        "connect.stored_per_input_byte": (
            c.get("connect.warehouse_mb_written", 0.0) / c["connect.input_mb"]
            if c.get("connect.input_mb") else 0.0),
        "pipelines.ingest_s": sum(o["latency_s"] for o in tops
                                  if o["name"].startswith("ingest_")) / n,
        "pipelines.mart_s": sum(o["latency_s"] for o in tops
                                if o["name"].startswith("mart_")) / n,
        "pipelines.mart_rows": sum(o["values"].get("rows", 0) for o in tops
                                   if o["name"].startswith("mart_")) / n,
        "trace.overhead_s": statistics.median(b["wall_s"] for b in traced) - untraced_wall,
    }
    for k in ("plans.analysis_s", "plans.optimization_s", "plans.planning_s",
              "plans.actions", "exec.jobs", "exec.stages", "exec.tasks",
              "exec.sched_wait_s", "exec.task_run_s", "exec.task_cpu_s",
              "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
              "exec.task_gc_s", "exec.result_mb", "exec.failed_tasks",
              "connect.csv_read_s", "connect.json_read_s", "connect.jdbc_read_s",
              "connect.jdbc_write_s", "connect.rows_in", "connect.warehouse_write_s",
              "connect.warehouse_read_s", "connect.warehouse_mb_written",
              "connect.warehouse_files", "reconcile.diff_s", "reconcile.mismatch_cells"):
        m[k] = c.get(k, 0.0)
    for k in KERNELS:
        m[f"functions.{k}_mb_s"] = run["kernels"].get(f"functions.{k}_mb_s", 0.0)
    m["functions.decode_fail_ratio"] = run["kernels"].get("functions.decode_fail_ratio", 0.0)
    for k, v in self_times(spans, SPAN_KINDS).items():
        m[f"self.{k}_s"] = v / n
    m.update(truth_metrics)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("run from the repository root: no engine sources under src/main/scala")
    import oracle  # reads the repository's tools/check.py
    t_build = time.monotonic()
    classes = build(root)
    # the first run in a checkout also builds; the build does not count
    # against the run's own deadline
    deadline = t_start + (time.monotonic() - t_build) + RUN_DEADLINE_S
    inputs = os.path.join(root, ".bench_data", f"{a.workload}-{a.seed}")
    truth = gen.generate(a.workload, a.seed, inputs)
    batches = max(1, int(a.seconds // NOMINAL_BATCH_S[a.workload]))
    if a.workload == "etl_nightly":
        batches = min(batches, (gen.ETL_DAYS - 1) // 2)
    # half the cores run Spark tasks (the workloads' tasks keep under a fifth
    # of four slots busy); the rest serve the driver thread, JIT and GC,
    # whose contention with tasks otherwise makes run-to-run timings flap
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    # a traced run is preceded by the same run untraced, in a fresh JVM:
    # the difference of their wall times is the tracing overhead
    runs = []
    for trace in sorted({0, a.trace}):
        run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{trace}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        run = run_harness(classes, a.workload, inputs, run_dir, batches, trace,
                          cores, deadline)
        runs.append((run_dir, run, oracle.check(a.workload, inputs, run_dir, run, truth)))

    attempted = failed = 0
    for run_dir, run, verdict in runs:
        bad = [o for o in run["ops"] if not verdict.ok(o)]
        attempted, failed = attempted + len(run["ops"]), failed + len(bad)
        for name in sorted({o["name"] for o in bad}):
            print(f"FAILED {name}: {verdict.reason(name, run)}")
    run_dir, run, verdict = runs[-1]
    timed = [b for b in run["batches"] if not b["verify"]]
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        untraced_wall = statistics.median(b["wall_s"] for b in runs[0][1]["batches"]
                                          if not b["verify"])
        metrics = per_layer(run, spans, verdict.truth_metrics, untraced_wall)
        units = PER_LAYER
    else:
        idx = {b["index"] for b in timed}
        timed_ops = [o for o in run["ops"] if o["batch"] in idx]
        metrics, note = end_to_end(run, timed, timed_ops, attempted, failed)
        units = END_TO_END
        print(note)
    assert metrics.keys() == units.keys(), sorted(metrics.keys() ^ units.keys())
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
