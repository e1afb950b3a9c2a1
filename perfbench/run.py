"""perfbench: the repository's per-change benchmark.

Runs one workload closed-loop from one client against the program built
from this checkout, checks its outputs, and prints one JSON object as the
last line of standard output:

  python3 perfbench/run.py --workload <etl_daily|llm_curation|query_mix>
      --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run. --cores 1 gives the single-thread baseline of a workload
(a mode for the notes, not a gated workload). See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_daily", "llm_curation", "query_mix")
# Input sizes per workload (see README.md for the reasoning).
SIZES = {
    "etl_daily": {"sf": 0.002},
    "llm_curation": {"base_docs": 1000, "base_vecs": 800, "replicas": 2},
    "query_mix": {"sf": 0.01},
}
# Simulated days one etl_daily pass runs (of the generator's 15).
ETL_DAYS = 2
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"),
              ("peak_rss_mb", "MB")]
OPERATORS = ["dedup.minhash", "dedup.canonical", "dedup.ppjoin",
             "dedup.containment", "dedup.suffix", "dedup.semantic",
             "sim.ivfpq_topk", "sim.lsh_topk", "text.quality",
             "pipeline.upsert", "pipeline.report"]
PER_LAYER = (
    [("op.p90_s", "s"), ("op.samples", "count"),
     ("setup.session_s", "s"), ("setup.warmup_s", "s"),
     ("setup.index_build_s", "s"), ("setup.gen_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.job_p50_s", "s"),
     ("spark.failed_tasks", "count"), ("spark.core_util", "ratio"),
     ("spark.task_skew_max", "ratio"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.gc_s", "s"),
     ("plan.actions", "count"), ("plan.analysis_s", "s"),
     ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
     ("sources.scan_s", "s"), ("sources.files_read", "count"),
     ("sources.read_mb", "MB"),
     ("sinks.append_s", "s"), ("sinks.overwrite_s", "s"),
     ("sinks.rows_appended", "count"), ("sinks.rows_skipped", "count"),
     ("sinks.files_written", "count"), ("sinks.write_amp", "ratio"),
     ("sinks.compact_s", "s"), ("sinks.compactions", "count"),
     ("index.data_files", "count"),
     ("streaming.batch_p50_s", "s"), ("streaming.batch_p90_s", "s"),
     ("streaming.jobs_per_batch", "count"), ("streaming.rows_kept_frac", "ratio")]
    + [(f"{op}.{m}", u) for op in OPERATORS for m, u in (("s", "s"), ("jobs", "count"))]
    + [("dedup.pairs_out", "count"),
       ("functions.scan_only_s", "s"), ("functions.minhash_s", "s"),
       ("functions.simhash_s", "s"), ("functions.shingle_s", "s"),
       ("functions.winnow_s", "s"), ("functions.cosine_s", "s"),
       ("jvm.heap_peak_mb", "MB"),
       ("quality.ann_recall", "ratio"), ("quality.ivfpq_recall", "ratio"),
       ("quality.lsh_recall", "ratio"), ("quality.dedup_pair_recall", "ratio"),
       ("trace.overhead_frac", "ratio"), ("trace.unattributed_frac", "ratio")]
    + [(f"self.{l}_s", "s") for l in ("op", "sources", "pipeline", "sinks",
                                       "streaming", "dedup", "sim", "text")])
# Reported on top of PER_LAYER by the query_mix mode.
QUERY_LAYER = [("query.build_s", "s"), ("query.build_jobs", "count"),
               ("query.exec_s", "s"), ("query.exec_jobs", "count"),
               ("self.query_s", "s")]


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its JVM (the finally block below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()  # exits non-zero when the program is absent
    jars = os.path.join(build.spark_jars(), "*")
    run_dir = os.path.join(build.BUILD, "runs",
                           "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    for d in (data, out, tmp):
        os.makedirs(d)
    proc = None
    try:
        t0 = time.monotonic()
        inputs = gen.main(a.workload, a.seed, data, **SIZES[a.workload])
        gen_s = time.monotonic() - t0
        extra = []
        if a.workload == "query_mix":
            warm = os.path.join(run_dir, "warm")
            gen.main("query_mix", a.seed, warm, sf=0.001)
            with open(os.path.join(HERE, "queries.txt")) as f:
                names = [x.strip() for x in f if x.strip()]
            random.Random(a.seed).shuffle(names)
            qfile = os.path.join(run_dir, "queries.txt")
            with open(qfile, "w") as f:
                f.write("\n".join(names) + "\n")
            extra = ["--warm-data", warm, "--queries", qfile]
        if a.workload == "etl_daily":
            extra = ["--days", str(ETL_DAYS)]
        cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
                "-XX:-UsePerfData", "-Xss8m"] + build.ADD_OPENS + [
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--workload", a.workload, "--data", data, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores)] + extra)
        with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                    cwd=run_dir)
            budget = max(175 - (time.monotonic() - t_start), 10)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: the run exceeded its time budget")
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("perfbench: benchmark JVM exited with %d" % rc)
        with open(os.path.join(out, "result.json")) as f:
            r = json.load(f)

        if a.workload == "etl_daily":
            checks = check.check_etl(data, out, ETL_DAYS)
        elif a.workload == "query_mix":
            checks = check.check_query_mix(data, out)
        else:
            checks = check.check_llm(r)
        bad = [c for c in checks if not c[1]]
        for name, _, detail in bad:
            log("check failed: %s: %s" % (name, detail))
        for e in r["errors"]:
            log("operation failed: %s" % e)
        # a wrong final table or query result makes every pass's run of the
        # operations behind it wrong
        passes = len(r["wall_s"]) + len(r["wall_traced_s"])
        failed = r["failed"] + len(bad) * passes
        attempted = r["attempted"] + len(checks) * passes
        if a.trace:
            layers = dict(r["per_layer"], **{
                "setup.gen_s": gen_s, "op.p90_s": r["op_p90_s"],
                "op.samples": len(r["op_s"])})
            names = PER_LAYER + (QUERY_LAYER if a.workload == "query_mix" else [])
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in names}
        else:
            vals = {"setup_s": median(r["setup_s"]),
                    "wall_s": median(r["wall_s"]),
                    "op_p50_s": r["op_p50_s"], "peak_rss_mb": r["peak_rss_mb"]}
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END}
        summary = {"workload": a.workload, "seed": a.seed, "inputs": inputs,
                   "gen_s": gen_s, "setup_s": r["setup_s"],
                   "run_s": time.monotonic() - t_start,
                   "passes": passes, "wall_s": r["wall_s"], "ops": len(r["op_s"]),
                   "wall_traced_s": r["wall_traced_s"], "quality": r["quality"],
                   "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
                   "metrics": metrics, "spans": r["spans"],
                   "span_log": r["span_log"]}
        # the run's record, for trace_diff.py: metrics, span roll-up, spans
        record = "%s-seed%d-trace%d%s.json" % (
            a.workload, a.seed, a.trace, "" if a.cores == 4 else "-cores%d" % a.cores)
        with open(os.path.join(build.BUILD, record), "w") as f:
            json.dump(summary, f, indent=1)
        print(json.dumps({"correct": not bad and r["failed"] == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
