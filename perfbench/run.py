"""Layer-split benchmark of the fawac_cdc_spark engine.

    python3 perfbench/run.py --workload olap-sf0.01 --seed 1 --seconds 30 --trace 0

The run generates its inputs from the seed under ``.perfbench-work/``
at the root of the checkout (removed at the end), starts one
``local[nproc]`` session, checks the workload's outputs, measures for
``--seconds`` and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the host, the session and the details
behind each metric.  See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(work: str) -> str:
    """Environment the session and its Python workers inherit: the
    checkout on ``PYTHONPATH`` (pandas-UDF and foreachBatch workers import
    ``fawac_cdc_spark`` from any working directory), a driver heap sized
    to the host, and every scratch directory inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    memory = os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", f"{min(2048, host_memory_mb() // 4)}m"
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the checkout and write no /tmp/hsperfdata_* files.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A fixed heap (-Xms = -Xmx) keeps peak RSS from depending on when
    # the collector decides to grow the heap.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Xms{memory}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )
    return memory


def tail(values: list[float], min_samples: int) -> tuple[float, float]:
    """(percentile, value) at a fixed percentile: the highest at which
    ``min_samples``, the fewest samples a run takes, still have ten
    samples beyond it (nearest rank).  A fixed percentile keeps the tail
    from moving with the number of passes a run makes.  Below 20 samples
    that percentile would fall under the median, so the slowest sample
    (p100) is the tail instead."""
    xs = sorted(values)
    if min_samples < 20:
        return 100.0, xs[-1]
    rank = -(-len(xs) * (min_samples - 10) // min_samples)
    return 100.0 * (min_samples - 10) / min_samples, xs[rank - 1]


def stop_session(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the work dir is removed and
    # the JVM sees its stdin close.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "fawac_cdc_spark")):
        print(f"engine package fawac_cdc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import datagen
    import spans
    import workloads as wl

    import bench

    if sorted(wl.OLAP + wl.LLM) != sorted(bench.HEADLINE):
        raise RuntimeError("olap + llm-corpus no longer split bench.HEADLINE")
    if args.workload not in wl.WORKLOADS:
        ap.error(f"unknown workload {args.workload}; choose from {sorted(wl.WORKLOADS)}")
    workload = wl.WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else workload.sf
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    memory = configure_env(work)
    try:
        return run(args, workload, sf, cores, memory, work, datagen, wl, spans, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, workload, sf, cores, memory, work, datagen, wl, spans, bench) -> int:
    # Seconds the benchmark spends on its own work (inputs, oracles)
    # before the first timed operation; set-up time leaves them out.
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    counts = datagen.write_tables(data_dir, sf)
    backlog = os.path.join(work, "backlog")
    if workload.chunks:
        import pyarrow.parquet as pq

        datagen.write_event_chunks(
            pq.read_table(os.path.join(data_dir, "events.parquet")),
            backlog,
            args.seed,
            workload.chunks,
        )
    own_s = time.perf_counter() - t0

    # Set-up: session, registry, catalog registration of the workload's
    # tables and an untimed warm-up that also checks the outputs.
    from fawac_cdc_spark import catalog, registry
    from fawac_cdc_spark.session import get_spark
    from fawac_cdc_spark.streaming.batch_equiv import cdc_latest_state_per_user

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
    specs = registry.all_specs()
    for t in workload.tables:
        catalog.load_table(spark, data_dir, t)
    session_s = time.perf_counter() - t0

    tally = wl.Tally()
    tracer = spans.Tracer(spark, enabled=bool(args.trace))
    t0 = time.perf_counter()
    if workload.chunks:
        t1 = time.perf_counter()
        expected = cdc_latest_state_per_user(spark, data_dir).toPandas()
        own_s += time.perf_counter() - t1
        wl.warm_stream(spark, backlog, os.path.join(work, "warm"))
    else:
        own_s += wl.check_batch(spark, specs, data_dir, workload.queries, tally)
    t1 = time.perf_counter()
    # The calibration job's own time settles after ~40 runs on 4 cores.
    wl.calibrate(spark, 40)
    own_s += time.perf_counter() - t1
    warmup_s = time.perf_counter() - t0
    cold_start_s = process_age_s()

    probe_s = None
    if args.trace:
        tracer.patch(catalog, "load_table", "catalog", jobs=True)
        tracer.patch(wl.cdc, "read_event_stream", "build", jobs=True)
        tracer.patch(wl.cdc, "read_upsert_state", "state")
        probe_s = bench.drift_probe(spark)

    stream = wl.StreamStats()
    ticks0 = cpu_ticks()
    cpu0 = spans.cpu_seconds(os.getpid())
    if workload.chunks:
        wl.measure_stream(
            spark, backlog, os.path.join(work, "passes"), expected, args.seconds,
            tracer, tally, stream,
        )
    else:
        wl.measure_batch(
            spark, specs, data_dir, list(workload.queries), args.seconds,
            args.seed, tracer, tally,
        )
    ticks1 = cpu_ticks()
    cpu1 = spans.cpu_seconds(os.getpid())
    rss = spans.peak_rss_mb(os.getpid())
    spark_version = spark.version
    stop_session(spark)

    n_passes = len(tally.passes) + len(tally.traced_passes)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "rows": counts,
        "cores": cores,
        "driver_memory": memory,
        "spark_version": spark_version,
        "cold_start_s": cold_start_s,
        "benchmark_own_s": own_s,
        "session_s": session_s,
        "warmup_s": warmup_s,
        # CPU time the hypervisor gave to other guests while measuring:
        # host contention that slows a run without any code change.
        "host_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "passes_s": tally.passes,
        "cpu_s_per_pass": (cpu1 - cpu0) / n_passes if n_passes else None,
        "traced_passes_s": tally.traced_passes,
        "ops_s": tally.by_op,
        "errors": tally.errors,
        "error_rate": tally.failed / tally.attempted,
    }
    if args.trace:
        metrics = layer_metrics(tracer, tally, stream, cores, probe_s, detail)
    else:
        min_samples = wl.MIN_PASSES * (len(workload.queries) or workload.chunks)
        metrics = end_to_end_metrics(
            tally, cold_start_s - own_s, rss, workload, detail, counts, min_samples
        )
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end_metrics(tally, setup_s, rss, workload, detail, counts, min_samples) -> dict:
    """``setup_s`` runs from process start to the first timed operation
    (interpreter, imports, JVM, session, registry, catalog, warm-up),
    less the benchmark's own work in it.  Times of passes and operations
    are reported in calibration units (``calibrate``): on a shared host
    the same code ran up to 1.6x slower from one minute to the next, and
    the calibration job slowed with it.  The raw seconds are in
    ``detail``.  Metrics without samples (every pass failed) are left
    out; the result then reads ``correct: false``."""
    metrics = {"setup_s": _m(setup_s, "s")}
    detail["calibration_s"] = tally.calibrations
    if tally.passes:
        detail["pass_s"] = statistics.median(tally.passes)
        metrics["pass_rel"] = _m(statistics.median(tally.rel_passes), "calib")
        if workload.chunks:
            detail["cdc_events_per_s"] = counts["events"] / detail["pass_s"]
    if tally.latencies:
        pct, tail_rel = tail(tally.rel_latencies, min_samples)
        detail.update(
            query_p50_s=statistics.median(tally.latencies),
            query_tail_s=tail(tally.latencies, min_samples)[1],
            query_samples=len(tally.latencies),
            query_tail_percentile=pct,
        )
        metrics["query_p50_rel"] = _m(statistics.median(tally.rel_latencies), "calib")
        metrics["query_tail_rel"] = _m(tail_rel, "calib")
    metrics["peak_rss_mb"] = _m(rss, "MB")
    return metrics


def layer_metrics(tracer, tally, stream, cores, probe_s, detail) -> dict:
    """Per-layer numbers of the traced passes, averaged per pass; only
    ``host.probe_s`` when no traced pass succeeded."""
    n = len(tally.traced_passes)
    if not n:
        return {"host.probe_s": _m(probe_s, "s")}
    wall = sum(tally.traced_passes)
    t = tracer
    execute_s = t.total_seconds("execute")
    task_s = t.count("execute", "executorRunTime") / 1000.0
    detail.update(
        layer_seconds_per_pass={
            layer: t.self_seconds(layer) / n
            for layer in ("catalog", "build", "plan", "execute", "streaming", "state")
        },
        streaming_add_batch_s_per_pass=stream.add_batch_s / n,
        streaming_overhead_s_per_pass=(stream.trigger_s - stream.add_batch_s) / n,
        execute_gc_s_per_pass=(t.count("execute", "gc_ms") + t.count("streaming", "gc_ms"))
        / 1000.0
        / n,
        state_read_s_per_pass=t.total_seconds("state") / n,
    )
    metrics = {
        "catalog.calls": _m(t.count("catalog") / n, "count"),
        "catalog.jobs": _m(t.count("catalog", "jobs") / n, "count"),
        "catalog.share": _m(t.total_seconds("catalog") / wall, "ratio"),
        "build.s": _m(t.self_seconds("build") / n, "s"),
        "build.jobs": _m(t.count("build", "jobs") / n, "count"),
        "build.share": _m(t.self_seconds("build") / wall, "ratio"),
        "plan.s": _m(t.total_seconds("plan") / n, "s"),
        "plan.exchanges": _m(t.count("plan", "exchanges") / n, "count"),
        "execute.s": _m(execute_s / n, "s"),
        "execute.jobs": _m(t.count("execute", "jobs") / n, "count"),
        "execute.stages": _m(t.count("execute", "stages") / n, "count"),
        "execute.tasks": _m(t.count("execute", "tasks") / n, "count"),
        "execute.task_s": _m(task_s / n, "s"),
        "execute.busy_ratio": _m(task_s / (execute_s * cores), "ratio"),
        "execute.shuffle_bytes": _m(t.count("execute", "shuffleWriteBytes") / n, "bytes"),
        "execute.spill_bytes": _m(t.count("execute", "diskBytesSpilled") / n, "bytes"),
        "execute.gc_share": _m(
            (t.count("execute", "gc_ms") + t.count("streaming", "gc_ms")) / 1000.0 / execute_s,
            "ratio",
        ),
        "streaming.batches": _m(stream.batches / n, "count"),
        "streaming.overhead_share": _m(
            (stream.trigger_s - stream.add_batch_s) / stream.trigger_s
            if stream.trigger_s else 0.0,
            "ratio",
        ),
        "streaming.jobs_per_batch": _m(
            t.count("execute", "jobs") / stream.batches if stream.batches else 0.0, "count"
        ),
        "state.bytes_written": _m(stream.state_bytes / n, "bytes"),
        "state.write_amp": _m(
            stream.state_bytes / stream.input_bytes if stream.input_bytes else 0.0, "ratio"
        ),
        "state.files": _m(stream.state_files / n, "count"),
        "state.versions": _m(stream.state_versions / n, "count"),
        "state.read_share": _m(t.total_seconds("state") / wall, "ratio"),
        "host.probe_s": _m(probe_s, "s"),
    }
    if len(tally.rel_passes) > 1:
        # traced against untraced passes after the first (still warming),
        # each in calibration units
        metrics["tracing.overhead"] = _m(
            statistics.median(tally.rel_traced_passes)
            / statistics.median(tally.rel_passes[1:])
            - 1.0,
            "ratio",
        )
    return metrics


if __name__ == "__main__":
    sys.exit(main())
