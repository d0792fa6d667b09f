#!/usr/bin/env python3
"""Seeded benchmark of energi_data_etl_spark: the energy data path (the
scheduled job, the price stream, the dashboard) and the LLM corpus
operators.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Set-up is everything before the first
timed cycle: the Spark session starts, the inputs are generated from
``--seed`` (three times; the median counts), untimed warm-up cycles run
on a second input of the same size, and the workload's ``start`` step
runs; ``setup_s`` is their sum. The session and the warm-up run once,
because a second one would only measure a warm JVM. The run then
measures at least ``MIN_CYCLES`` closed-loop cycles for about
``--seconds`` seconds, checks every output against the generator's
ground truth, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured untraced; with ``--trace 1``
cycles alternate traced and untraced, the metrics are the per-layer
ones, and the spans are written to ``.perfbench_out/``. Everything the
run writes lives under the checkout and is removed at exit, apart from
that span file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: input generations per run; setup_s counts their median
SETUP_REPS = 3
#: timed cycles a run makes at least, so every median has three samples
MIN_CYCLES = 3
DRIVER_MEMORY = "2g"
#: local[n] threads: at most 4, the size of the host the bounds were set on
CPUS = min(4, len(os.sched_getaffinity(0)))

#: (name, unit, better) — the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ingest_p50_s", "s", "lower"),
    ("serve_p50_s", "s", "lower"),
]

_CALL = ("s", "jobs", "stages", "tasks", "failed_tasks")

#: span name -> the span metrics reported for it
SPAN_METRICS = {
    "energy.backfill": ("s", "self_s"),
    "backfill.http_json.fetch_to_landing": _CALL,
    "backfill.sinks.write_fact_table": _CALL,
    "energy.ingest_day": ("s", "self_s"),
    "energy.run_incremental": ("s", "self_s"),
    "energy.noop_run": ("s", "self_s"),
    "sinks.latest_watermark": ("s", "jobs", "tasks"),
    "http_json.fetch_to_landing": ("s", "jobs", "tasks"),
    "sinks.write_fact_table": _CALL,
    "energy.dashboard": ("s",),
    "energy.zone_summary.build": ("s",),
    "energy.zone_summary.execute": _CALL,
    "streaming.catchup": ("s", "jobs", "tasks"),
    "streaming.stream_to_parquet": _CALL,
    "llm.dedup_pipeline": ("s",),
    "text.filter": _CALL,
    "dedup.exact_dedup": _CALL,
    "dedup.near_dup_minhash.build": ("s", "jobs"),
    "dedup.near_dup_minhash.execute": _CALL,
    "dedup.lsh_candidate_pairs": ("s",),
    "graph.connected_components.build": _CALL,
    "graph.connected_components.execute": ("s", "jobs", "tasks"),
    "llm.write_survivors": ("s", "jobs", "tasks"),
    "llm.knn_batch": ("s",),
    "similarity.ann_ivf_knn.build": ("s", "jobs", "tasks"),
    "similarity.ann_ivf_knn.execute": _CALL,
}

#: per-layer figures sampled by the workloads or the runner: (name, unit, better)
SAMPLED = [
    ("peak_rss_mb", "MB", "lower"),
    ("session.jvm_launch_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("backfill.zone_days", "count", "lower"),
    ("backfill.files_written", "count", "lower"),
    ("http_json.retries", "count", "lower"),
    ("http_json.landing_bytes", "bytes", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("fact.files_total", "count", "lower"),
    ("fact.bytes_per_record", "bytes", "lower"),
    ("api_datasource.catchup_partitions", "count", "lower"),
    ("stream.catchup_input_rows", "count", "lower"),
    ("api_datasource.partitions", "count", "lower"),
    ("api_datasource.input_rows", "count", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.start_s", "s", "lower"),
    ("dedup_within_watermark.state_rows", "count", "lower"),
    ("dedup_within_watermark.dropped_by_watermark", "count", "lower"),
    ("dedup_within_watermark.state_memory_bytes", "bytes", "lower"),
    ("text.docs_in", "count", "lower"),
    ("text.docs_kept", "count", "lower"),
    ("dedup.exact_removed", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "lower"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.pair_recall", "ratio", "higher"),
    ("similarity.ann_ivf_knn.recall_at_10", "ratio", "higher"),
    ("ops.ingest_tail_s", "s", "lower"),
    ("ops.ingest_tail_pct", "pct", "higher"),
    ("ops.ingest_samples", "count", "higher"),
    ("ops.serve_tail_s", "s", "lower"),
    ("ops.serve_samples", "count", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.bookkeeping_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
]


def _unit(key: str) -> tuple[str, str]:
    return ("s", "lower") if key in ("s", "self_s") else ("count", "lower")


PER_LAYER = [
    (f"{span}.{key}", *_unit(key)) for span, keys in SPAN_METRICS.items() for key in keys
] + SAMPLED


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full", help="input size (smoke: smoke tests)")
    p.add_argument("--min-cycles", type=int, default=MIN_CYCLES, help="timed cycles at least (smoke tests: fewer)")
    return p.parse_args(argv)


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _launch_jvm(work: str):
    """Start the Spark JVM with every scratch path inside ``work``."""
    from pyspark import SparkConf, SparkContext

    tmp = os.path.join(work, "tmp")
    conf = (
        SparkConf()
        .set("spark.driver.memory", DRIVER_MEMORY)
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .set("spark.local.dir", os.path.join(work, "local"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
    )
    SparkContext._ensure_initialized(conf=conf)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args, work: str) -> tuple[dict, list[str]]:
    from energi_data_etl_spark.session import get_spark
    from perfbench.trace import Tracer, stream_probe_class, wrapped_modules
    from perfbench.workloads import WORKLOADS, Run, median, tail

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    t0 = time.perf_counter()
    _launch_jvm(work)
    jvm_launch_s = time.perf_counter() - t0

    spark = None
    gens = []
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        probe = None
        if args.trace:
            probe = stream_probe_class()()
            spark.streams.addListener(probe)
        session_start_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](args.size)
        for rep in range(SETUP_REPS):
            rep_work = os.path.join(work, f"rep{rep}")
            t0 = time.perf_counter()
            workload.generate(args.seed, rep_work)
            gens.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(rep_work, ignore_errors=True)
        run = Run(spark, Tracer(spark.sparkContext, run_id), args.seed, rep_work)
        run.probe = probe
        t0 = time.perf_counter()
        workload.warmup(run)
        warmup_s = time.perf_counter() - t0

        tracer = run.tracer
        cycles = 0
        with wrapped_modules(tracer) if args.trace else contextlib.nullcontext():
            tracer.enabled = bool(args.trace)
            t0 = time.perf_counter()
            workload.start(run)
            start_s = time.perf_counter() - t0
            # closed loop: start another cycle while that ends nearer to
            # --seconds than stopping now would, and until MIN_CYCLES (a
            # traced run needs a traced and an untraced cycle)
            min_cycles = max(args.min_cycles, 1 + args.trace)
            t_start = time.perf_counter()
            elapsed = 0.0
            while cycles < min_cycles or elapsed + 0.5 * elapsed / cycles < args.seconds:
                tracer.enabled = bool(args.trace) and cycles % 2 == 0
                workload.cycle(run, str(cycles))
                cycles += 1
                elapsed = time.perf_counter() - t_start
            tracer.enabled = False
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_kb = _rss_kb(int(jvm_pid)) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    finally:
        _shutdown(spark)

    def untraced(kind):
        return [seconds for seconds, traced in run.ops[kind] if not traced]

    ingest, bulk, serve = untraced("ingest"), untraced("bulk"), untraced("serve")
    summary = [
        f"workload={args.workload} seed={args.seed} cycles={cycles} generate_reps={SETUP_REPS} "
        f"ingest_samples={len(ingest)} bulk_samples={len(bulk)} serve_samples={len(serve)}",
        f"jvm_launch={jvm_launch_s:.2f}s session_start={session_start_s:.2f}s "
        f"generate={' '.join(f'{g:.2f}' for g in gens)}s warm-up={warmup_s:.2f}s start={start_s:.2f}s",
    ] + [f"{kind} seconds: {' '.join(f'{seconds:.3f}' for seconds, _t in ops)}" for kind, ops in run.ops.items()]
    if args.trace:
        traced_ingest = [seconds for seconds, traced in run.ops["ingest"] if traced]
        base = median(ingest)
        layer = {name: median(v) for name, v in run.samples.items()}
        layer.update(tracer.span_metrics())
        ingest_tail, ingest_pct = tail(ingest)
        layer.update({
            "session.jvm_launch_s": jvm_launch_s,
            "session.start_s": session_start_s,
            "peak_rss_mb": peak_kb / 1024.0,
            "ops.ingest_tail_s": ingest_tail,
            "ops.ingest_tail_pct": ingest_pct,
            "ops.ingest_samples": len(ingest),
            "ops.serve_tail_s": tail(serve)[0],
            "ops.serve_samples": len(serve),
            "trace.overhead_frac": (median(traced_ingest) / base - 1.0) if base and traced_ingest else 0.0,
            "trace.bookkeeping_s": tracer.bookkeeping_s,
            "trace.spans": len(tracer.spans),
        })
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit} for name, unit, _b in PER_LAYER}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "per_layer": layer})
        summary.append(f"spans: {path}")
    else:
        values = {
            "setup_s": jvm_launch_s + session_start_s + statistics.median(gens) + warmup_s + start_s,
            "ingest_p50_s": median(ingest),
            "serve_p50_s": median(serve),
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _b in END_TO_END}
    summary += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items() if not args.trace]
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return result, summary


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import energi_data_etl_spark  # noqa: F401 - the package under test, from this checkout
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the package (fetcher, DataSource, pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    try:
        result, summary = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    for line in summary:
        print(f"# {line}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
