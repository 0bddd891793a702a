"""rulemorph-spark benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 \
        --trace 0

Workloads: table_rules, ndjson_transform, corpus_ops, batch (the three
in one process) and service_requests (see perfbench/README.md).  Spark
runs at local[nproc].  The last line of stdout is one JSON object
{correct, attempted, failed, metrics}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones from a traced
half-window.  The line before it is the run record (versions, commit,
seed, load sentinel, set-up split, phase times).  Spans and run records
are kept under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("table_rules", "ndjson_transform", "corpus_ops", "batch",
             "service_requests")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("default", "tiny"),
                   default="default",
                   help="input sizes; tiny is for the self-test")
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool, cpus: int) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}' pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)


def timed_passes(wl, seconds: float, span=None) -> tuple[list, list, int]:
    """Run whole passes until ``seconds`` have elapsed (at least one);
    returns (pass latencies, pass CPU seconds of this process and its
    descendants less the JVM's JIT and GC threads, failed passes).  Each operation's wall time goes to
    ``wl.unit_s``, which starts empty."""
    import runinfo
    wl.unit_s.clear()
    lat, cpu, failed = [], [], 0
    end = time.perf_counter() + seconds
    while True:
        t0, c0 = time.perf_counter(), runinfo.cpu_reading(os.getpid())
        try:
            with (span("pass", "bench") if span else contextlib.nullcontext()):
                wl.run_pass()
        except Exception as exc:  # counted, and the run goes on
            print(f"pass failed: {exc!r}", file=sys.stderr)
            failed += 1
        lat.append(time.perf_counter() - t0)
        cpu.append(runinfo.program_cpu_s(c0,
                                         runinfo.cpu_reading(os.getpid())))
        if time.perf_counter() >= end:
            return lat, cpu, failed


def run_in_process(args, work: str, record: dict):
    import runinfo

    # set-up is the program's import, the JVM launch and the session
    # with its warm-up pass; the benchmark's own input generation and
    # oracle (prepare) are not timed
    t0 = time.perf_counter()
    from pyspark import SparkContext
    from rulemorph_spark.engine import get_spark
    import_s = time.perf_counter() - t0

    import layers
    import tracer as T
    from workloads import BATCH, SIZES

    wl = BATCH[args.workload]()
    t0 = time.perf_counter()
    wl.prepare(work, args.seed, SIZES[args.scale])
    record["prepare_s"] = time.perf_counter() - t0
    record["prepare_rss_mb"] = runinfo.vm_hwm_mb(os.getpid())
    # a traced run also traces the set-up, where the session's SQL
    # functions are created
    tr = T.Tracer() if args.trace else None

    t0 = time.perf_counter()
    SparkContext._ensure_initialized()
    launch_s = time.perf_counter() - t0
    if tr:
        tr.install()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=record["nproc"])
    wl.setup(spark)
    session_s = time.perf_counter() - t0
    if tr:
        tr.uninstall()
        setup_spans = tr.finished()
        tr.reset()
    setup_s = import_s + launch_s + session_s
    record.update(import_s=import_s, jvm_launch_s=launch_s,
                  session_setup_s=session_s,
                  spark_cores=spark.sparkContext.defaultParallelism)
    record["setup_unit_s"] = {k: list(v) for k, v in wl.unit_s.items()}

    try:
        if tr:
            half = args.seconds / 2
            untraced, _, failed = timed_passes(wl, half)
            before = T.stage_snapshot(spark)
            tr.install()
            wl.span = tr.span
            try:
                traced, _, f2 = timed_passes(wl, half, tr.span)
            finally:
                tr.uninstall()
                wl.span = None
            stages = T.stage_totals(spark, before)
            spans = tr.finished()
            with open(os.path.join(record["out_dir"],
                                   f"spans-{args.workload}.json"),
                      "w", encoding="utf-8") as fh:
                json.dump({"setup": setup_spans, "window": spans}, fh)
            metrics = layers.batch_metrics(
                spans, setup_spans, stages,
                {"py4j_calls": tr.py4j_calls, "fallbacks": tr.fallbacks},
                traced, untraced)
            lat, failed = untraced + traced, failed + f2
        else:
            t0 = time.perf_counter()
            lat, cpu, failed = timed_passes(wl, args.seconds)
            elapsed = time.perf_counter() - t0
            record["passes_cpu_s"] = cpu
        t0 = time.perf_counter()
        attempted_checks, failed_checks = wl.check()
        record["check_s"] = time.perf_counter() - t0
        rss = runinfo.peak_rss_mb([os.getpid()])
        if not args.trace:
            metrics = runinfo.end_to_end(setup_s, statistics.median(cpu),
                                         rss)
            record.update(window_s=elapsed, run_s=statistics.median(lat))
        record["passes_s"] = lat
        record["unit_s"] = wl.unit_s
    finally:
        t0 = time.perf_counter()
        runinfo.stop_spark(spark)
        record["stop_s"] = time.perf_counter() - t0
    record["peak_rss_mb"] = rss
    return metrics, len(lat) + attempted_checks, failed + failed_checks


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # found, not imported: importing the program is timed as set-up
    if importlib.util.find_spec("rulemorph_spark") is None:
        print(f"perfbench: no rulemorph_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    import runinfo

    ticks = runinfo.cpu_ticks()
    cpus = runinfo.nproc()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, bool(args.trace), cpus)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "nproc": cpus, "git_commit":
              runinfo.git_commit(), "out_dir": out_dir}
    try:
        record["sentinel_start_s"] = runinfo.sentinel(cpus)
        if args.workload == "service_requests":
            import service
            metrics, attempted, failed = service.run(args, work, record)
        else:
            metrics, attempted, failed = run_in_process(args, work, record)
        record["sentinel_end_s"] = runinfo.sentinel(cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(runinfo.versions())
    record["cpu_steal_share"] = runinfo.steal_share(ticks,
                                                    runinfo.cpu_ticks())
    record["error_rate"] = failed / attempted
    record["attempted"], record["failed"] = attempted, failed
    with open(os.path.join(out_dir, f"run-{args.workload}-{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
