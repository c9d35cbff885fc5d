"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload ohlcv_rollup --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` under ``.bench_run/`` (removed at the end), computes the
reference results, then times set-up, the cold first job and, after
the workload's untimed warm-up jobs, steady jobs for ``--seconds`` seconds,
checking every job's output. Each job is one client request in a
closed loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
untraced and layer-staged jobs in turn and prints the per-layer
metrics. The last line of standard output is the JSON result; the line
before it is a JSON record of the input properties, the environment and
the sample counts.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "tugas_2_big_data_spark"
HEAP = "2g"


def spark_cores() -> int:
    """Task threads for Spark: half the visible CPUs, at least one. The
    JVM's JIT compiler threads stay busy for the first minute of every
    fresh run, and with one task thread per CPU they, the collector and
    the benchmark's own Python process take CPU from the tasks. On a
    4-vCPU VM the jobs, short and bound by planning and scheduling, ran
    no faster with four task threads than with two, and ohlcv_rollup's
    job_s spread across five seeds by 0.135 of its median with four and
    0.091 with two."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_environment(run_dir: str) -> dict:
    """Environment of the Spark JVM and its Python workers, set before
    the JVM starts: Spark cores for half the visible CPUs (see
    spark_cores), a bounded heap, a
    benchmark-owned SPARK_CONF_DIR (progress bar off, quiet logs), and
    every scratch, spill and warehouse directory inside this run's
    directory.

    The JVM runs the serial collector. G1, the JVM's default, grows the
    heap when its measured GC pause times call for it: on a 4-vCPU VM
    the ohlcv_rollup run ended with 950 to 1270 MB of heap committed,
    varying from run to run, and peak RSS spread by over 20% across
    seeds. The serial collector sizes the heap from the live data left
    after each collection (428 to 438 MB on the same runs), so peak RSS
    still follows what the program keeps in memory but varies far less
    between runs."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    submit = " ".join(shlex.quote(a) for a in (
        "--conf",
        f"spark.driver.defaultJavaOptions=-XX:+UseSerialGC -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "pyspark-shell",
    ))
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_CONF_DIR": os.path.join(HERE, "conf"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # workers import the traced run's stub backend from here
        "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
        "PYSPARK_SUBMIT_ARGS": submit,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def repeat_for(seconds: float, fn) -> None:
    """Call fn() until ``seconds`` have passed, at least once."""
    deadline = time.perf_counter() + seconds
    while True:
        fn()
        if time.perf_counter() >= deadline:
            return


@dataclass
class Jobs:
    """Outcome of every job attempted in the run."""

    attempted: int = 0
    failed: int = 0

    def run(self, wl, fn):
        """Run ``fn()`` as one job and check its output; returns (seconds,
        output) or (None, None) when the job raised or mismatched."""
        from reference import Mismatch

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            seconds = time.perf_counter() - t0
            wl.check(out)
            return seconds, out
        except Mismatch as e:
            print(f"job {self.attempted}: output mismatch: {e}", file=sys.stderr)
        except Exception:  # a failing job is counted, and the run goes on
            traceback.print_exc()
        self.failed += 1
        return None, None


def set_up(wl, tracer=None) -> tuple[object, float]:
    """Session start + tune_session + the workload's preparation, in
    the run's fresh process."""
    from contextlib import nullcontext

    from tugas_2_big_data_spark.session import get_spark, tune_session

    def span(name):
        return tracer.span(name, spark_jobs=False) if tracer else nullcontext()

    t0 = time.perf_counter()
    with span("session.start"):
        spark = get_spark(app_name="perfbench")
    with span("session.tune"):
        tune_session(spark)
    with span(wl.prepare_span):
        wl.prepare(spark)
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop Spark if it runs, shut the py4j gateway and wait for the JVM
    (and the Python workers it forked) to exit."""
    from pyspark import SparkContext

    from probes import descendants

    if SparkContext._gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(wl, seconds: float, jobs: Jobs) -> tuple[dict, dict]:
    """Untraced run: set-up, the cold job, the workload's untimed warm-up jobs,
    then ``seconds`` of timed jobs."""
    from probes import RssSampler

    with RssSampler() as rss:
        spark, setup_s = set_up(wl)
        cold_s, _ = jobs.run(wl, lambda: wl.job(spark))
        steady = []

        def timed():
            s, _ = jobs.run(wl, lambda: wl.job(spark))
            if s is not None:
                steady.append(s)

        for _ in range(wl.warmup_jobs):
            jobs.run(wl, lambda: wl.job(spark))
        repeat_for(seconds, timed)
    stop_jvm()
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold_s or 0.0, "s"),
        "job_s": (median(steady), "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "ok_frac": (1 - jobs.failed / jobs.attempted, "ratio"),
        **{k: (v, "ratio") for k, v in wl.quality().items()},
    }
    info = {"steady_job_samples_s": steady}
    return metrics, info


def _frame_hash(wl, out) -> str:
    from canon import frame_hash

    return frame_hash(*wl.frame(out))


def per_layer(wl, seconds: float, jobs: Jobs, run_id: str) -> tuple[dict, dict]:
    """Traced run: untraced jobs (engine counters read per job group)
    alternate with staged jobs (spans at each layer boundary) on the
    same request, for ``seconds``; the staged output must hash-equal
    the untraced one."""
    from probes import SparkCounters
    from spans import Tracer

    tracer = Tracer(run_id)
    spark, setup_s = set_up(wl, tracer)
    setup_spans = {s.name: s.seconds for s in tracer.spans}
    counters = tracer.counters = SparkCounters(spark)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def engine_job() -> tuple[float | None, object, dict]:
        plan = {}

        def plan_hook(df):
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan["s"] = time.perf_counter() - t0

        group = counters.new_group()
        before = counters.jvm_totals()
        seconds, out = jobs.run(wl, lambda: wl.job(spark, plan_hook))
        after = counters.jvm_totals()
        eng = counters.group_totals(group)
        eng.update({k: after[k] - before[k] for k in after})
        eng["plan_s"] = plan.get("s", 0.0)
        if seconds:
            eng["busy_frac"] = eng["executor_run_s"] / (seconds * cores)
        return seconds, out, eng

    _, _, cold = engine_job()
    for _ in range(wl.warmup_jobs):
        jobs.run(wl, lambda: wl.job(spark))
    plain_s, staged_s, unattributed, engine, layer_counts = [], [], [], [], []
    hash_ok = True

    def pair() -> None:
        nonlocal hash_ok
        s, out, eng = engine_job()
        if s is not None:
            plain_s.append(s)
            engine.append(eng)
            # hashed now: the upsert workload's output is a table the
            # staged job rewrites
            plain_hash = _frame_hash(wl, out)
        first = len(tracer.spans)
        jobs.attempted += 1
        try:
            with tracer.span("job", spark_jobs=False):
                staged_out, counts = wl.staged(spark, tracer)
            wl.check(staged_out)
            staged_s.append(tracer.spans[first].seconds)
            unattributed.append(tracer.self_seconds(first))
            layer_counts.append(counts())
            if s is not None:
                hash_ok &= _frame_hash(wl, staged_out) == plain_hash
        except Exception:
            traceback.print_exc()
            jobs.failed += 1

    repeat_for(seconds, pair)
    stop_jvm()
    tracer.write(os.path.join(ROOT, ".bench_run", f"{run_id}.spans.jsonl"))

    def layer(name, counter=None):
        """Median over staged jobs of span ``name``'s seconds, or of one
        of its Spark counters."""
        return median([
            s.counts.get(counter, 0.0) if counter else s.seconds
            for s in tracer.spans if s.name == name
        ])

    def count(name):
        return median([c[name] for c in layer_counts if name in c])

    def eng_med(key):
        return median([e[key] for e in engine])

    m = {
        "session.start_s": (setup_spans["session.start"], "s"),
        "session.tune_s": (setup_spans["session.tune"], "s"),
        "setup.prepare_s": (setup_spans[wl.prepare_span], "s"),
        "engine.plan_s": (eng_med("plan_s"), "s"),
        "engine.jobs": (eng_med("jobs"), "count"),
        "engine.stages": (eng_med("stages"), "count"),
        "engine.tasks": (eng_med("tasks"), "count"),
        "engine.executor_run_s": (eng_med("executor_run_s"), "s"),
        "engine.executor_cpu_s": (eng_med("executor_cpu_s"), "s"),
        "engine.busy_frac": (eng_med("busy_frac"), "ratio"),
        "engine.gc_s": (eng_med("gc_s"), "s"),
        "engine.spill_bytes": (eng_med("spill_bytes"), "bytes"),
        "engine.shuffle_write_bytes": (eng_med("shuffle_write_bytes"), "bytes"),
        "engine.shuffle_read_bytes": (eng_med("shuffle_read_bytes"), "bytes"),
        "engine.codegen_compile_s": (cold["codegen_compile_s"], "s"),
        "engine.codegen_classes": (cold["codegen_classes"], "count"),
        "engine.jit_compile_s": (cold["jit_compile_s"], "s"),
        "sources.scan_s": (layer("sources.scan"), "s"),
        "sources.input_rows": (layer("sources.scan", "input_rows"), "count"),
        "sources.input_bytes": (layer("sources.scan", "input_bytes"), "bytes"),
        "sinks.write_s": (layer("sinks.write"), "s"),
        "sinks.output_bytes": (layer("sinks.write", "output_bytes"), "bytes"),
        "sinks.files_written": (count("sinks.files_written"), "count"),
        "sinks.rows_rewritten_per_row_updated": (
            count("sinks.rows_rewritten_per_row_updated"), "ratio"),
        "financial.transform_s": (layer("financial.transform"), "s"),
        "timeseries.aggregate_s": (layer("timeseries.aggregate"), "s"),
        "timeseries.groups_out": (count("timeseries.groups_out"), "count"),
        "yfinance.enrich_s": (layer("yfinance.enrich"), "s"),
        "dedup.exact_s": (layer("dedup.exact"), "s"),
        "dedup.shingle_s": (layer("dedup.shingle"), "s"),
        "dedup.lsh_s": (layer("dedup.lsh"), "s"),
        "dedup.verify_s": (layer("dedup.verify"), "s"),
        "dedup.lsh_candidates": (count("dedup.lsh_candidates"), "count"),
        "dedup.verified_pairs": (count("dedup.verified_pairs"), "count"),
        "dedup.candidate_precision": (count("dedup.candidate_precision"), "ratio"),
        "text_analysis.enrich_s": (layer("text_analysis.enrich"), "s"),
        "text_analysis.kept_frac": (count("text_analysis.kept_frac"), "ratio"),
        "summarize.udf_s": (layer("summarize.udf"), "s"),
        "summarize.docs": (count("summarize.docs"), "count"),
        "summarize.split_merge_docs": (count("summarize.split_merge_docs"), "count"),
        "summarize.backend_calls": (count("summarize.backend_calls"), "count"),
        "similarity.build_s": (setup_spans.get("similarity.build", 0.0), "s"),
        "similarity.assign_s": (layer("similarity.assign"), "s"),
        "similarity.rank_s": (layer("similarity.rank"), "s"),
        "similarity.cells_probed": (count("similarity.cells_probed"), "count"),
        "similarity.candidates_scored": (count("similarity.candidates_scored"), "count"),
        "similarity.candidates_per_result": (
            count("similarity.candidates_per_result"), "ratio"),
        "trace.job_s": (median(plain_s), "s"),
        "trace.staged_job_s": (median(staged_s), "s"),
        "trace.overhead_s": (median(staged_s) - median(plain_s), "s"),
        "trace.unattributed_s": (median(unattributed), "s"),
        "trace.hash_match": (float(hash_ok and bool(staged_s)), "bool"),
    }
    info = {"setup_s": setup_s, "untraced_jobs": len(plain_s), "staged_jobs": len(staged_s)}
    return m, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", run_id)
    os.makedirs(run_dir)
    try:
        env = pin_environment(run_dir)
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](
            os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
        )
        props = wl.generate(args.seed)
        expected = wl.reference()
        jobs = Jobs()
        if args.trace:
            metrics, info = per_layer(wl, args.seconds, jobs, run_id)
        else:
            metrics, info = end_to_end(wl, args.seconds, jobs)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    keep = {k: v for k, v in env.items() if k != "PYTHONPATH"}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "inputs": props, "reference": expected, "env": keep, **info}))
    print(json.dumps({
        "correct": jobs.failed == 0,
        "attempted": jobs.attempted,
        "failed": jobs.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
