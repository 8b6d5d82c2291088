"""The benchmark's workloads and their correctness checks.

A single client sends one operation at a time and waits for it (closed
loop).  Batch workloads run their query mix in a seeded order per pass;
each query is built with its registry function and written to the noop
sink.  The stream workload drains a staged CDC backlog with
``cdc.cdc_upsert_run``; one drain is one pass and each micro-batch is
one operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from fawac_cdc_spark.streaming import cdc
from spans import Span, Tracer, count_exchanges

OLAP = [
    "flagship_revenue_by_nation_month",
    "pricing_summary",
    "orders_lineitem_by_priority",
    "q3_shipping_priority",
    "q10_returned_items",
    "topk_orders_per_status",
    "cdc_latest_state_per_user",
    "session_agg_30min_gap",
    "hourly_event_rollup",
    "discounted_cumsum_closed_form",
    "reference_td_advantage_pipeline",
]
LLM = [
    "minhash_lsh_candidates",
    "llm_corpus_pipeline",
    "ngram_jaccard_pairs",
    "simhash_hamming_pairs",
    "kmeans_refined_ivf_cells",
    "traindata_end_to_end",
    "cosine_topk_query0",
    "rp_lsh_topk_query0",
    "discounted_cumsum_per_user",
]


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    tables: tuple[str, ...]
    queries: tuple[str, ...] = ()
    chunks: int = 0  # > 0: stream workload, backlog cut into this many chunks


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap-sf0.01",
            0.01,
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
            tuple(OLAP),
        ),
        Workload(
            "llm-corpus-sf0.01",
            0.01,
            ("documents", "embeddings", "events"),
            tuple(LLM),
        ),
        Workload("cdc-stream-sf0.1", 0.1, ("events",), chunks=8),
    )
}


@dataclass
class Tally:
    """Operation outcomes: latencies of the timed operations and pass wall
    times, each also divided by the calibration time measured alongside
    its pass (``rel_*``), and the attempted / failed counts behind
    ``error_rate``."""

    latencies: list[float] = field(default_factory=list)
    rel_latencies: list[float] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)
    passes: list[float] = field(default_factory=list)
    rel_passes: list[float] = field(default_factory=list)
    traced_passes: list[float] = field(default_factory=list)
    rel_traced_passes: list[float] = field(default_factory=list)
    calibrations: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(f"{what}: {why}"[:500])


# SQL settings pinned while calibrating, so that a change to the
# engine's session settings does not change the calibration job.
_CALIBRATION_CONF = {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "false"}


def calibrate(spark, runs: int) -> list[float]:
    """Times of ``runs`` runs of a fixed, engine-independent Spark job (a
    20,000-row two-stage aggregate into the noop sink).  Like the
    workloads at this scale it is bound by per-job and per-task
    overhead, so it slows down with them when the host is contended;
    dividing by it takes most of the host's minute-to-minute speed out
    of a measurement."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k) for k in _CALIBRATION_CONF}
    for k, v in _CALIBRATION_CONF.items():
        spark.conf.set(k, v)
    try:
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            spark.range(0, 20_000, 1, 4).groupBy((F.col("id") % 64).alias("k")).agg(
                F.sum("id")
            ).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return times


MIN_PASSES = 3


def done(t_begin: float, n_pass: int, seconds: float) -> bool:
    """Stop after ``n_pass`` passes when one more would end past
    ``seconds`` (at the mean pass time so far), but not before
    ``MIN_PASSES``: the first pass is still warming up, the median of
    three passes is not, and a traced run (untraced, traced, untraced)
    can compare its traced pass with an untraced pass that is not the
    first."""
    if n_pass < MIN_PASSES:
        return False
    elapsed = time.perf_counter() - t_begin
    return elapsed + elapsed / n_pass > seconds


# -- batch workloads ------------------------------------------------------


def check_batch(spark, specs, data_dir: str, names, tally: Tally) -> float:
    """Compare every query of the mix with its DuckDB oracle.  Runs once,
    before the timed passes, and doubles as their warm-up.  Returns the
    seconds spent on the oracle side (DuckDB and the comparison)."""
    import parity

    t0 = time.perf_counter()
    con = parity.make_duckdb(data_dir)
    oracle_s = time.perf_counter() - t0
    try:
        for name in names:
            tally.attempted += 1
            try:
                got = specs[name].fn(spark, data_dir).toPandas()
                t0 = time.perf_counter()
                want = con.execute(specs[name].oracle).df()
                problems = parity.compare_frames(got, want)
                oracle_s += time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — counted, reported
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                tally.fail(f"check {name}", "; ".join(problems))
    finally:
        con.close()
    return oracle_s


def run_query(spark, fn, data_dir: str, tracer: Tracer) -> None:
    with tracer.span("build", jobs=True):
        df = fn(spark, data_dir)
    if tracer.enabled:
        with tracer.span("plan") as s:
            s.counts["exchanges"] = count_exchanges(
                df._jdf.queryExecution().executedPlan().toString()
            )
    with tracer.span("execute", jobs=True, gc=True):
        df.write.format("noop").mode("overwrite").save()


def measure_batch(
    spark, specs, data_dir: str, names, seconds: float, seed: int, tracer: Tracer, tally: Tally
) -> None:
    """Passes over the mix, each in an order drawn from ``seed``, for
    ``seconds`` (see ``done``); with tracing, untraced and traced passes
    alternate."""
    rng = np.random.default_rng([seed, 2])
    traced = tracer.enabled
    t_begin = time.perf_counter()
    n_pass = 0
    while True:
        tracer.enabled = traced and n_pass % 2 == 1
        order = [names[i] for i in rng.permutation(len(names))]
        calibs, latencies, wall = [], [], 0.0
        for name in order:
            # one calibration run before each query, outside its timing
            calibs += calibrate(spark, 1)
            tracer.op = name
            tally.attempted += 1
            t0 = time.perf_counter()
            try:
                run_query(spark, specs[name].fn, data_dir, tracer)
            except Exception as exc:  # noqa: BLE001 — counted, reported
                tally.fail(name, f"{type(exc).__name__}: {exc}")
            else:
                latencies.append(time.perf_counter() - t0)
                tally.by_op.setdefault(name, []).append(latencies[-1])
            wall += time.perf_counter() - t0
        calib = statistics.median(calibs)
        tally.calibrations.append(calib)
        tally.latencies += latencies
        tally.rel_latencies += [x / calib for x in latencies]
        # a pass in which a query failed is not a pass sample
        if tracer.enabled and len(latencies) == len(order):
            tally.traced_passes.append(wall)
            tally.rel_traced_passes.append(wall / calib)
        elif len(latencies) == len(order):
            tally.passes.append(wall)
            tally.rel_passes.append(wall / calib)
        if tracer.enabled:
            tracer.collect_job_counters()
        n_pass += 1
        if done(t_begin, n_pass, seconds):
            break
    tracer.enabled = traced


# -- stream workload ------------------------------------------------------


class ProgressLog:
    """Collects ``StreamingQueryListener`` progress events (triggers that
    took input rows) per run id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: dict[str, list[dict]] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    log.events.setdefault(str(p.runId), []).append(
                        dict(p.durationMs)
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def runs_since(self, known: set[str]) -> list[str]:
        return [r for r in self.events if r not in known]


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


@dataclass
class StreamStats:
    batches: int = 0
    trigger_s: float = 0.0
    add_batch_s: float = 0.0
    state_bytes: int = 0
    state_files: int = 0
    state_versions: int = 0
    input_bytes: int = 0
    drains: int = 0


def drain(spark, backlog: str, work: str, progress: ProgressLog, tracer: Tracer):
    """One pass: drain ``backlog`` into a fresh state store and read the
    committed state back.  Returns (wall seconds, state dir, run id,
    final state frame)."""
    shutil.rmtree(work, ignore_errors=True)
    state_dir = os.path.join(work, "state")
    known = set(progress.events)
    t0 = time.perf_counter()
    with tracer.span("streaming", gc=True):
        final = cdc.cdc_upsert_run(spark, backlog, state_dir, os.path.join(work, "ckpt"))
        with tracer.span("state"):
            final.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    (run_id,) = progress.runs_since(known)
    return wall, state_dir, run_id, final


def measure_stream(
    spark, backlog: str, work: str, expected, seconds: float, tracer: Tracer,
    tally: Tally, stats: StreamStats,
) -> None:
    """Drain the backlog, once per pass, for ``seconds`` (see ``done``).
    Every drain's final state is compared with the batch
    ``cdc_latest_state_per_user`` answer outside the pass timing."""
    import parity

    progress = ProgressLog(spark)
    traced = tracer.enabled
    t_begin = time.perf_counter()
    n_pass = 0
    while True:
        calibs = calibrate(spark, 5)
        tracer.enabled = traced and n_pass % 2 == 1
        tracer.op = f"drain{n_pass}"
        tally.attempted += 1
        try:
            wall, state_dir, run_id, final = drain(
                spark, backlog, os.path.join(work, f"pass{n_pass}"), progress, tracer
            )
        except Exception as exc:  # noqa: BLE001 — counted, reported
            tally.fail(f"drain {n_pass}", f"{type(exc).__name__}: {exc}")
        else:
            # calibrate on both sides of the drain, which runs ~10 s
            calib = statistics.median(calibs + calibrate(spark, 5))
            tally.calibrations.append(calib)
            batches = progress.events[run_id]
            if tracer.enabled:
                tally.traced_passes.append(wall)
                tally.rel_traced_passes.append(wall / calib)
                _account_traced_drain(tracer, run_id, batches, state_dir, backlog, stats)
            else:
                tally.passes.append(wall)
                tally.rel_passes.append(wall / calib)
                for b in batches:
                    tally.latencies.append(b["triggerExecution"] / 1000.0)
                    tally.rel_latencies.append(tally.latencies[-1] / calib)
            tally.attempted += 1
            problems = parity.compare_frames(final.toPandas(), expected)
            if problems:
                tally.fail(f"check drain {n_pass}", "; ".join(problems))
        n_pass += 1
        if done(t_begin, n_pass, seconds):
            break
    tracer.enabled = traced
    spark.streams.removeListener(progress.listener)


def _account_traced_drain(tracer, run_id, batches, state_dir, backlog, stats):
    """Stream-side layer numbers of one traced drain: the listener's
    phase durations, the jobs of the stream's own job group (the run
    id), and the committed state on disk."""
    add_batch = sum(b["addBatch"] for b in batches) / 1000.0
    planning = sum(b.get("queryPlanning", 0) for b in batches) / 1000.0
    # The micro-batches run on the stream's thread: their time is known
    # from the listener, not from spans, so it is recorded as durations.
    drain_span = max(i for i, s in enumerate(tracer.spans) if s.layer == "streaming")
    tracer.spans.append(Span("execute", tracer.op, drain_span, 0.0, add_batch, group=run_id))
    tracer.spans.append(Span("plan", tracer.op, drain_span, 0.0, planning))
    tracer.collect_job_counters()
    stats.drains += 1
    stats.batches += len(batches)
    stats.trigger_s += sum(b["triggerExecution"] for b in batches) / 1000.0
    stats.add_batch_s += add_batch
    size, files = _dir_stats(os.path.join(state_dir, "data"))
    stats.state_bytes += size + sum(
        os.path.getsize(os.path.join(state_dir, f"v{v}.json"))
        for v in cdc.state_versions(state_dir)
    )
    stats.state_files += files
    stats.state_versions += len(cdc.state_versions(state_dir))
    stats.input_bytes += _dir_stats(backlog)[0]


def warm_stream(spark, backlog: str, work: str) -> None:
    """Untimed drain of the first half of the backlog: loads the
    streaming code paths before the timed passes."""
    src = os.path.join(work, "src")
    os.makedirs(src)
    names = sorted(os.listdir(backlog))
    for name in names[: max(2, len(names) // 2)]:
        shutil.copy2(os.path.join(backlog, name), os.path.join(src, name))
    final = cdc.cdc_upsert_run(
        spark, src, os.path.join(work, "state"), os.path.join(work, "ckpt")
    )
    final.write.format("noop").mode("overwrite").save()
