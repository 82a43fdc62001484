"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload sink_small --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are generated from ``--seed`` in a
separate process under ``.bench_work/``, a Spark session is started with the
settings pinned below, the workload is warmed up, and then measured for
``--seconds``. The outputs are checked, everything started is stopped, and two
JSON lines are printed: the full record (provenance, set-up parts, input
properties, per-layer detail) and, last, the result with the metrics listed in
``BENCHMARK.json``: the end-to-end ones with ``--trace 0``, the per-layer ones
with ``--trace 1``. ``--cpus 1`` gives the single-threaded baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("sink_small", "sink_wide", "dedup_corpus")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.pre_sink_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.scans_per_event": "ratio",
    "redis_sink.call_ms": "ms",
    "redis_sink.stage_ms": "ms",
    "redis_sink.jobs_per_batch": "count",
    "redis_sink.tasks_per_batch": "count",
    "redis_sink.commands_per_event": "ratio",
    "resp.marker_check_ms": "ms",
    "resp.readback_ms": "ms",
    "resp.commit_ms": "ms",
    "resp.commit_commands": "count",
    "resp.wire_bytes_per_event": "bytes",
    "resp.server_busy_ms": "ms",
    "resp.connections_per_batch": "count",
    **{f"dedup.{op}_s": "s" for op in ("exact", "near", "ngram_jaccard", "ngram_containment")},
    **{
        f"dedup.{op}.{m}": unit
        for op in ("exact", "near", "ngram_jaccard", "ngram_containment")
        for m, unit in (
            ("shuffle_bytes", "bytes"),
            ("spill_bytes", "bytes"),
            ("candidate_rows", "count"),
            ("pairs_per_candidate", "ratio"),
        )
    },
    "dedup.near_dup_recall": "ratio",
    "proc.cpu_util": "ratio",
    "proc.gc_ms": "ms",
    "trace.op_p50_s": "s",
}


def pin_environment(work: str, cpus: int) -> dict[str, str]:
    """Settings the benchmark fixes for itself (recorded with every run)
    instead of inheriting them: the library's defaults for shuffle width and
    adaptive execution, all cores, a modest heap, and every scratch
    directory (checkpoints, Spark local dirs, JVM and Python temp files)
    inside the run's work directory.

    The JVM stops at the C1 compiler tier. With C2 the per-batch time keeps
    falling for well over a minute while C2 compiles on the same four cores
    (1.96 s to 1.30 s over 26 sink_small batches), so a 20-second window
    would sit on a moving curve; with C1 it is flat from the first measured
    batch."""
    for name in ("SPARK_GRAFT_REDIS_URL", "SPARK_GRAFT_STREAM_TRANSPORT",
                 "SPARK_GRAFT_CACHE_TABLES", "SPARK_GRAFT_MAX_PARTITION_BYTES"):
        os.environ.pop(name, None)
    tmp = os.path.join(work, "tmp")
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": "8",
        "SPARK_GRAFT_AQE": "true",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CKPT_DIR": os.path.join(work, "ckpt-lib"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1" pyspark-shell'
        ),
    }
    os.makedirs(tmp)
    os.environ.update(pinned)
    return pinned


def tail(values: list[float]) -> dict:
    """The highest nearest-rank percentile with at least ten samples above
    it, with the sample count; ``None`` when there are too few samples."""
    n = len(values)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    rank = n - 10
    return {"value": sorted(values)[rank - 1], "percentile": 100 * rank / n, "samples": n}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, seconds: int, trace: bool, cpus: int) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(workload, seed, seconds, trace, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload: str, seed: int, seconds: int, trace: bool, cpus: int, work: str) -> dict:
    from perfbench import proc

    pinned = pin_environment(work, cpus)
    load_start = os.getloadavg()[0]
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, "-m", "perfbench.generate", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--out", os.path.join(work, "inputs")],
        check=True, cwd=ROOT,
    )
    with open(os.path.join(work, "inputs", "inputs.json")) as f:
        inputs = json.load(f)
    generate_s = time.perf_counter() - t0

    with proc.RssSampler(os.getpid()) as sampler:
        t1 = time.perf_counter()
        from bootic_stats_aggregates_spark import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t1
        try:
            t2 = time.perf_counter()
            if workload == "dedup_corpus":
                from perfbench.dedupbench import DedupWorkload

                bench = DedupWorkload(spark, inputs, os.path.join(work, "inputs"), trace)
            else:
                from perfbench.sinkbench import SinkWorkload

                bench = SinkWorkload(spark, inputs, work, trace)
            try:
                bench.warm_up()
                warmup_s = time.perf_counter() - t2
                jvm_gc = spark._jvm.java.lang.management.ManagementFactory
                gc_ms = lambda: sum(b.getCollectionTime() for b in jvm_gc.getGarbageCollectorMXBeans())  # noqa: E731
                exclude = frozenset({sampler.pid})
                cpu0, gc0, w0 = proc.cpu_seconds(os.getpid(), exclude), gc_ms(), time.perf_counter()
                result = bench.measure(seconds)
                window = time.perf_counter() - w0
                cpu_util = (proc.cpu_seconds(os.getpid(), exclude) - cpu0) / (window * cpus)
                gc_window = gc_ms() - gc0
                if trace:
                    bench.tracer.write(os.path.join(ROOT, ".bench_work", f"trace-{workload}-{seed}.json"))
            finally:
                bench.close()
            versions = {
                "spark": spark.version,
                "java": spark._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
        finally:
            _stop_spark(spark)

    ops = result["ops"]
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "provenance": {
            "nproc": os.cpu_count(),
            "cpus": cpus,
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "pinned_env": {k: v for k, v in pinned.items() if k != "PYTHONPATH"},
            "versions": versions,
        },
        "setup": {"generate_s": generate_s, "session_s": session_s, "warmup_s": warmup_s},
        "inputs": inputs["properties"],
        "ops": {
            "count": len(ops),
            "durations_s": ops,
            "p50_s": statistics.median(ops),
            "tail": tail(ops),
            "wall_s": result["wall_s"],
            "items": result["items"],
            "backlog_drained": not result["deadline_hit"],
        },
        "near_dup_recall": result.get("near_dup_recall"),
        "cpu_util": cpu_util,
        "gc_ms": gc_window,
        "problems": result["problems"],
    }
    e2e = {
        "setup_s": generate_s + session_s + warmup_s,
        "peak_rss_mb": sampler.peak_bytes / 2**20,
        "items_per_s": result["items"] / result["wall_s"],
        "op_p50_s": statistics.median(ops),
    }
    record["end_to_end"] = e2e
    if trace:
        layers = result["layers"]
        record["layers"] = layers
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(layers["metrics"])
        values.update({
            "session.start_s": session_s,
            "proc.cpu_util": cpu_util,
            "proc.gc_ms": gc_window,
            "trace.op_p50_s": e2e["op_p50_s"],
        })
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    attempted = max(1, result["attempted"])
    failed = min(attempted, result["failed_ops"])
    return {
        "record": record,
        "result": {
            "correct": not result["problems"] and failed == 0 and result["attempted"] > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bootic_stats_aggregates_spark")):
        print(f"the program's sources are not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.cpus)
    print(json.dumps(out["record"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
