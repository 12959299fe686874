"""Workload benchmark for midas-spark.

    python3 perfbench/run.py --workload ingest_load --seed 1 --seconds 15 --trace 0

Runs one workload (see workloads.py) on ``local[4]`` from one process
with one closed-loop client, checks every output, and prints as its last
stdout line one JSON object::

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, from
a run that alternates untraced and traced reps.  The line before it,
``report {...}``, carries everything else: run metadata, the workload's
named metrics (``ingest_rows_per_s``, ``merge_p50_ms``, ...) and, when
traced, the per-layer table with self times, span coverage and tracing
overhead.  ``--smoke`` shrinks every input to a few files (the check in
test_smoke.py).

Everything the run writes, Spark's scratch space included, lives under
``.bench_work/`` in the directory it runs from, and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_HEAP = "2g"
SETUP_ROUNDS = 3
#: untraced reps a --trace 0 run makes even when fewer fill --seconds:
#: one rep takes 10-16 s on a busy 4-core host, and a median needs two
MIN_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics every workload emits (0 where its layer is idle);
#: layer times that only some workloads can have are in the report line
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_dropped": "count",
    "cellstore.files_written": "count",
    "cellstore.bytes_written": "bytes",
    "cellstore.scan_rows_read_per_row_returned": "ratio",
    "cellstore.merge_partitions_touched": "count",
    "cellstore.merge_rows_rewritten_per_row_changed": "ratio",
    "validate.cells_compared": "count",
    "pins.created": "count",
    "pins.peak_bytes": "bytes",
    "pins.leaked": "count",
    "stream.batches": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks": "count",
    "exec.task_failures": "count",
    "arrow.python_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}

def _env(work: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into
    ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # the heap starts small and grows on demand up to
            # DRIVER_HEAP, so peak RSS follows how much heap the run
            # needs (cached pins too); a heap reserved or touched up
            # front keeps the JVM's resident set at or near the cap
            f"--driver-java-options '-Djava.io.tmpdir={tmp}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            # the tracer reads finished jobs, stages and SQL executions
            # back from the status stores; keep them all for the run
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.sql.ui.retainedExecutions=1000000",
            "pyspark-shell",
        ]
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict]:
    # the package import fails fast where only the benchmark is present
    import pyarrow
    import pyspark

    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    import procstat
    import spans as tracing
    import workloads as W

    now = time.perf_counter
    probe = [procstat.cpu_probe_s()]
    with procstat.RssSampler() as rss, procstat.ExternalCpu() as ext:
        t0 = now()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS)
        start_s = now() - t0
        try:
            tracer = tracing.Tracer(spark)
            wl = W.WORKLOADS[args.workload](
                spark, tracer, work, args.seed, args.smoke, bool(args.trace)
            )
            t0 = now()
            wl.warmup()
            warmup_s = now() - t0
            prep = []
            for _ in range(SETUP_ROUNDS):
                t0 = now()
                wl.prepare(os.path.join(work, "inputs"))
                prep.append(now() - t0)
            setup_s = start_s + warmup_s + statistics.median(prep)
            wl.expect()

            walls: dict[bool, list[float]] = {False: [], True: []}
            rep_spans = []
            deadline = now() + args.seconds
            n = 0
            while True:
                traced = bool(args.trace) and n % 2 == 1
                wl.hygiene()
                wl.tracing = traced
                t0 = now()
                if traced:
                    with tracer.span("rep") as sp:
                        wl.rep(traced=True)
                    rep_spans.append(sp.index)
                else:
                    wl.rep(traced=False)
                walls[traced].append(now() - t0)
                n += 1
                if now() < deadline:
                    continue
                if (walls[True] if args.trace else len(walls[False]) >= MIN_REPS):
                    break
            for traced in (False, True) if args.trace else (False,):
                wl.hygiene()
                wl.tracing = traced
                wl.finish(traced)
            wl.hygiene()
        finally:
            _stop(spark)
    probe.append(procstat.cpu_probe_s())

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "smoke": args.smoke,
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "reps": {"untraced": len(walls[False]), "traced": len(walls[True])},
        "rep_walls_s": {"untraced": walls[False], "traced": walls[True]},
        "nproc": os.cpu_count(),
        "cpus_available": len(os.sched_getaffinity(0)),
        "master": f"local[{CPUS}]",
        "driver_heap": DRIVER_HEAP,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "external_busy_cores": round(ext.cores, 3),
        "cpu_probe_s": probe,
        "setup_rounds_s": prep,
    }
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss.peak / 2**20, **wl.end_to_end()}
    report = {
        "meta": meta,
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in wl.report().items()},
        "failed_frac": wl.failed / max(wl.attempted, 1),
    }
    metrics = {k: e2e[k] for k in END_TO_END}
    if args.trace:
        layers, table = _per_layer(wl, tracer, walls, rep_spans, start_s, warmup_s)
        report["per_layer"] = layers
        report["self_times"] = table
        metrics = {k: layers[k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        units = END_TO_END
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"no measurement for {bad}: every op of that kind failed")
    result = {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, report


def _per_layer(wl, tracer, walls, rep_spans, start_s, warmup_s):
    """Per-layer metrics, each per traced rep, plus the self-time table."""
    from spans import EXEC_METRICS

    n = len(rep_spans)
    reps = set(rep_spans)
    spans = [s for s in tracer.spans if s.index in reps or s.parent in reps]
    self_times = tracer.self_times(spans)
    totals = tracer.totals(spans)
    c = wl.counts
    untraced = statistics.median(walls[False])
    traced = statistics.median(walls[True])
    covered = sum(s.duration for s in spans if s.parent in reps)
    layers = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "ingest.rows_in": c.get("ingest.rows_in", 0) / n,
        "ingest.rows_dropped": c.get("ingest.rows_dropped", 0) / n,
        "cellstore.files_written": c.get("cellstore.files_written", 0) / n,
        "cellstore.bytes_written": c.get("cellstore.bytes_written", 0) / n,
        "cellstore.scan_rows_read_per_row_returned": _ratio(c, "scan.rows_read", "scan.rows_returned"),
        "cellstore.merge_partitions_touched": _ratio(c, "cellstore.merge_partitions_touched", "merge.count"),
        "cellstore.merge_rows_rewritten_per_row_changed": _ratio(c, "merge.rows_written", "merge.rows_changed"),
        "validate.cells_compared": c.get("validate.cells_compared", 0) / n,
        "pins.created": c.get("pins.created", 0) / n,
        "pins.peak_bytes": c.get("pins.peak_bytes", 0),
        "pins.leaked": c.get("pins.leaked", 0) / n,
        "stream.batches": _ratio(c, "stream.batches", "stream.runs"),
        "trace.overhead_s": traced - untraced,
        "trace.span_coverage": covered / n / untraced,
    }
    for k in EXEC_METRICS:
        layers[k] = totals.get(k, 0.0) / n
    layers["arrow.python_s"] = totals.get("arrow.python_s", 0.0) / n
    # self time of each layer the workload calls, e.g. ingest.parse_s
    for name, (_calls, _total, own) in self_times.items():
        if name != "rep":
            layers[f"{name}_s"] = own / n
    # the traced stream runs once, after the reps, as a top-level span
    stream = [s.duration for s in tracer.spans if s.name == "stream.run"]
    if stream:
        layers["stream.run_s"] = statistics.median(stream)
    for k in ("stream.add_batch_ms", "stream.commit_ms"):
        if wl.samples.get(k):
            layers[k] = statistics.median(wl.samples[k])
    table = {
        name: {"calls": calls / n, "total_s": total / n, "self_s": own / n}
        for name, (calls, total, own) in sorted(self_times.items())
    }
    return layers, table


def _ratio(c: dict, num: str, den: str) -> float:
    return c.get(num, 0) / c[den] if c.get(den) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_load", "curation_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))
    print("report " + json.dumps(_finite(report)))
    print(json.dumps(result))
    return 0


def _finite(v):
    """The report with NaN (a metric without samples) as null."""
    if isinstance(v, dict):
        return {k: _finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_finite(x) for x in v]
    if isinstance(v, float) and not math.isfinite(v):
        return None
    return v


if __name__ == "__main__":
    sys.exit(main())
