"""Benchmark of the CDC pipeline and a sample of the query registry.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (each
metric a ``{"value", "unit"}`` pair). ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` times two untraced and two traced rounds (spans
around every call into the program) in the order U T T U, reports the
per-layer metrics of the traced rounds and the tracing overhead, and writes
the spans as JSON under ``.perfbench_out/``. Everything the run writes lives under ``.perfbench_work/``
in the checkout and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import spans as sp
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hmpps_digital_prison_reporting_glue_poc_spark"

END_TO_END = {
    "setup_s": "s", "run_s": "s", "events_per_s": "events/s", "batch_p50_s": "s",
    "query_geomean_s": "s", "written_mb": "MB", "files_written": "files",
}
PER_LAYER = {
    "pipeline.landing_s": "s", "pipeline.structured_s": "s", "pipeline.curated_s": "s",
    "pipeline.stream_self_s": "s", "domains.run_s": "s", "io.merge_write_s": "s",
    "io.read_per_input_byte": "ratio", "io.rows_written_per_changed_row": "ratio",
    "query.build_s": "s", "query.execute_s": "s", "query.build_jobs": "jobs",
    "query.execute_jobs": "jobs", "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.no_job_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.core_busy": "ratio", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.gc_s": "s", "spark.cached_mb_end": "MB", "jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def cores() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as handle:
        for line in handle:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(bench, workload: str) -> dict[str, float]:
    """Per-layer figures of the traced rounds, per operation (change batch
    or query) unless the name says otherwise."""
    region, store, tracer = bench.traced_region, bench.store, bench.tracer
    jobs = region.jobs
    sp.attribute_jobs(tracer.spans, jobs)
    by_job = {j["jobId"]: j for j in jobs}

    def spans_named(name: str):
        return [s for s in tracer.spans if s.name == name]

    def dur(s) -> float:
        return s.end - s.start

    n_ops = len(region.ops)
    wall = sum(region.rounds)
    tops = [s for s in tracer.spans if s.parent is None]
    io = region.io
    out = {
        "pipeline.landing_s": median_or_zero([dur(s) for s in spans_named("pipeline.landing")]),
        "pipeline.structured_s": median_or_zero(
            [dur(s) for s in spans_named("pipeline.structured")]),
        "pipeline.curated_s": median_or_zero([dur(s) for s in spans_named("pipeline.curated")]),
        "domains.run_s": median_or_zero([dur(s) for s in spans_named("domains.run")]),
        "io.merge_write_s": sum(dur(s) for s in spans_named("io.merge_write")) / n_ops,
        "session.start_s": bench.setup["session.start_s"],
        "spark.jobs": len(jobs) / n_ops,
        "spark.stages": sum(len(j["stageIds"]) for j in jobs) / n_ops,
        "spark.tasks": io["numTasks"] / n_ops,
        "spark.no_job_s": sum(
            sp.idle_seconds(t, [by_job[j] for s in sp.subtree(tracer.spans, t) for j in s.jobs])
            for t in tops
        ) / n_ops,
        "spark.executor_run_s": io["executorRunTime"] / 1e3 / n_ops,
        "spark.executor_cpu_s": io["executorCpuTime"] / 1e9 / n_ops,
        "spark.core_busy": io["executorRunTime"] / 1e3 / (wall * bench.cores),
        "spark.shuffle_write_mb": io["shuffleWriteBytes"] / 2**20 / n_ops,
        "spark.spill_mb": io["diskBytesSpilled"] / 2**20 / n_ops,
        "spark.gc_s": io["jvmGcTime"] / 1e3 / n_ops,
        "spark.cached_mb_end": store.cached_mb(),
        # Rounds ran in the order U T T U on the same warm JVM.
        "trace.overhead_s": statistics.mean(region.rounds)
        - statistics.mean(bench.untraced.rounds),
    }
    in_bytes = sum(op.in_bytes for op in region.ops)
    changed = sum(op.changed for op in region.ops)
    out["io.read_per_input_byte"] = io["inputBytes"] / in_bytes if in_bytes else 0.0
    out["io.rows_written_per_changed_row"] = io["outputRecords"] / changed if changed else 0.0

    # micro-batch self time: outside merge_write and the domain refresh
    selfs = []
    for start, end in (op.window for op in region.ops if op.window):
        inner = sum(
            min(end, s.end) - max(start, s.start)
            for s in spans_named("io.merge_write") + spans_named("domains.run")
            if s.start < end and s.end > start
        )
        selfs.append(end - start - inner)
    out["pipeline.stream_self_s"] = median_or_zero(selfs)

    passes = len(region.rounds)
    builds, executes = spans_named("query.build"), spans_named("query.execute")
    out["query.build_s"] = sum(dur(s) for s in builds) / passes if builds else 0.0
    out["query.execute_s"] = sum(dur(s) for s in executes) / passes if executes else 0.0
    out["query.build_jobs"] = sum(len(s.jobs) for s in builds) / passes if builds else 0.0
    out["query.execute_jobs"] = sum(len(s.jobs) for s in executes) / passes if executes else 0.0

    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(
        os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{bench.seed}.json"),
        by_job,
    )
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC pipeline + query-sample benchmark")
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: the program ({PACKAGE}/, __spark_entry__.py) is not in {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
    })
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    spark = None
    try:
        from hmpps_digital_prison_reporting_glue_poc_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"},
        )
        session_start_s = time.perf_counter() - t0
        bench = workloads.Bench(spark, work, args.seed, args.seconds, bool(args.trace),
                                cores(), session_start_s)
        correct = True
        try:
            e2e = workloads.WORKLOADS[args.workload](bench)
        except workloads.CheckFailed as exc:
            print(f"perfbench: output check failed: {exc}", file=sys.stderr)
            correct, e2e = False, {}
        if args.trace and correct:
            metrics = layer_metrics(bench, args.workload)
            metrics["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            units = PER_LAYER
        else:
            metrics = dict(e2e)
            metrics["setup_s"] = sum(bench.setup.values())
            units = END_TO_END
        for name, value in {**bench.setup, **bench.phases}.items():
            print(f"perfbench: {name} = {value:.3f} s", file=sys.stderr)
        times = " ".join(f"{op.seconds:.3f}" for op in bench.untraced.ops)
        print(f"perfbench: operation seconds = {times}", file=sys.stderr)
        # An operation that fails raises and ends the run, so none is
        # counted as failed.
        result = {
            "correct": correct,
            "attempted": bench.attempted,
            "failed": 0,
            "metrics": {
                k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics
            },
        }
        bad = [k for k, v in metrics.items() if not math.isfinite(v)]
        if bad:
            raise RuntimeError(f"non-finite metrics: {bad}")
        for name, m in result["metrics"].items():
            print(f"{name:36s} {m['value']:14.4f} {m['unit']}")
        print(f"{'operations attempted':36s} {bench.attempted:14d}")
        print(f"{'operations failed':36s} {0:14d}")
        print(json.dumps(result))
        return 0 if correct else 1
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
