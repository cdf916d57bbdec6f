"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One closed-loop client (this
process) drives one workload on ``local[<cores>]``. Set-up (session
start, input generation, the untimed seed op that creates the tables) is
timed as ``setup_s``; then a fixed sequence of ops is measured, however
long it takes (``SETUP_OPS``, ``PLAN``). The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs its ops
untraced, traced, traced, untraced and reports the per-layer metrics of
the traced ones, per op, plus the tracing overhead; the full span table
is also written to ``.bench_out/``. Everything the run writes stays
under the checkout (``.bench_work/``, ``.bench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input size per op, per workload. A tick's time is mostly per-job
# overhead (37-53 Spark jobs), so small inputs buy more ticks per run.
SIZES = {"ingest_ticks": {"pages": 200}, "stream_ticks": {"docs": 500}}

# The measured ops, as "traced?" flags. Their number is fixed, so every
# run times the same ticks at the same place on a fresh JVM's warm-up
# slope, however fast the program is; their median keeps a burst of load
# from other tenants that hits one of them out of `op_p50_s`. The traced
# run orders its ops ABBA, so that a linear warm-up trend cancels out of
# the tracing overhead.
PLAN = {0: (False, False, False), 1: (False, True, True, False)}
# Untimed ops before them: the seed op, which creates the tables, and on
# the traced run one more, so that its ABBA sits where the warm-up slope
# is flatter and the slope's curvature biases the overhead less.
SETUP_OPS = {0: 1, 1: 2}

SPAN_NAMES = (
    "pipelines.hashtag_tick", "pipelines.run_hashtag_batch", "sources.fetch_pages",
    "sources.extract_embedded_json", "enrich.attach_topics", "enrich.attach_labels",
    "merge.upsert", "merge.append", "merge.overwrite", "merge.read_overlapping",
    "streaming.stream_near_dedup", "dedup.incremental_near_dedup",
    "streaming.stream_heavy_hitters", "streaming.heavy_hitters_read",
    "streaming.compact_hh_summaries", "op",
)
SPAN_MEASURES = {"calls": "count", "self_s": "s", "jobs": "count", "task_s": "s"}
SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count", "driver_gap_s": "s", "task_s": "s",
    "task_cpu_s": "s", "gc_s": "s", "parallelism": "x", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "input_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write under ``work``
    and let the workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-XX:-UsePerfData -Djava.io.tmpdir=' + tmp)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def result(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_instagram_spark")):
        print(f"no etl_instagram_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path.insert(0, ROOT)

    from etl_instagram_spark.session import get_spark
    from spans import SparkStatus, Tracer, op_spark_metrics, span_table
    from workloads import WORKLOADS

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed,
                                      **SIZES[args.workload])
        status = SparkStatus(spark)
        tracer = Tracer(status)

        # A fresh JVM's ticks settle only after about ten ops, which a run
        # of about a minute cannot afford, so the measured ops sit on that
        # warm-up slope.
        for i in range(SETUP_OPS[args.trace]):
            setup_op = wl.next_op()
            t0 = time.perf_counter()
            setup_errors = setup_op.check(setup_op.run())
            print(f"set-up op {i}: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            if setup_errors:
                raise RuntimeError(f"set-up op {i} failed its checks: {setup_errors}")
        setup_s = time.perf_counter() - T_START

        errors: list[str] = []
        times: list[tuple[float, bool]] = []  # (seconds, traced)
        items = failed = 0
        spark_rows: list[dict] = []
        traced_jobs: dict[int, dict] = {}
        for op_id, traced in enumerate(PLAN[args.trace]):
            op = wl.next_op()
            if traced:
                wl.patch(tracer)
            lo, w0 = status.next_job_id(), time.time()
            t0 = time.perf_counter()
            try:
                out = tracer.op(op_id, "op", op.run) if traced else op.run()
                bad = None
            except Exception as exc:  # noqa: BLE001 — a failed op counts, the run goes on
                bad = [f"{type(exc).__name__}: {exc}"]
            finally:
                if traced:
                    tracer.unpatch()
            dt, w1 = time.perf_counter() - t0, time.time()
            if bad is None:
                bad = op.check(out)
            if traced:
                jobs = status.jobs(lo, status.next_job_id())
                traced_jobs.update(jobs)
                spark_rows.append(op_spark_metrics(jobs, w0, w1))
            times.append((dt, traced))
            print(f"op {op_id}: {dt:.3f} s{' traced' if traced else ''}", file=sys.stderr)
            items += op.items
            if bad:
                failed += 1
                errors += bad
        measured = sum(t for t, _ in times)
        if measured < args.seconds:
            print(f"note: the measured ops took {measured:.1f} s, less than --seconds "
                  f"{args.seconds:g}; the run still reports exactly these ops", file=sys.stderr)

        final = wl.final_check()
        errors += final
        attempted = len(times)
        if final:
            failed = attempted
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)

        plain = [t for t, tr in times if not tr]
        traced_t = [t for t, tr in times if tr]
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(plain), "s"),
                "items_per_s": (items / sum(plain), "1/s"),
            }
            print(f"{args.workload}: {attempted} ops, {items} {wl.item}, "
                  f"{wl.item}_per_s={items / sum(plain):.1f}", file=sys.stderr)
        else:
            n = len(traced_t)
            spans = span_table(tracer.spans, traced_jobs)
            # ABBA order: traced ops sit at the middle positions, untraced
            # ones at both ends, so a linear warm-up trend cancels
            metrics = {"trace.overhead_s": (statistics.mean(traced_t) - statistics.mean(plain), "s")}
            per_op = {k: {m: v / n for m, v in row.items()} for k, row in spans.items()}
            # every wrapped span, so a gain can be traced to its module; a
            # span the workload never runs reads 0
            for name in SPAN_NAMES:
                row = per_op.get(name, {})
                for m, unit in SPAN_MEASURES.items():
                    metrics[f"{name}.{m}"] = (row.get(m, 0), unit)
            for k, unit in SPARK_METRICS.items():
                metrics[f"spark.{k}"] = (statistics.mean(r[k] for r in spark_rows), unit)
            metrics.update({k: (v, "share") for k, v in wl.diagnostics().items()})
            metrics.update(memory_metrics(spark))
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                      "w", encoding="utf-8") as fh:
                json.dump({"ops_traced": n, "spans_per_op": per_op, "spark_per_op": spark_rows,
                           "span_log": tracer.spans}, fh, indent=1)
            for k, row in sorted(per_op.items()):
                print(f"{k:40s} calls={row['calls']:6.2f} self_s={row['self_s']:8.3f} "
                      f"jobs={row['jobs']:6.2f} task_s={row['task_s']:8.3f}", file=sys.stderr)
        print(f"run wall before stop: {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
        print(result(not errors, attempted, failed, metrics))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def memory_metrics(spark) -> dict[str, tuple[float, str]]:
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    hwm = 0.0
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm = int(line.split()[1]) / 1024
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"mem.jvm_hwm_mb": (hwm, "MB"), "mem.heap_live_mb": (heap.getUsed() / 2**20, "MB")}


if __name__ == "__main__":
    sys.exit(main())
