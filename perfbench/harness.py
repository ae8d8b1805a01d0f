"""One benchmark run: set up the session, run closed-loop passes of a
workload for the requested time, check every result, and turn the
timings (and, when tracing, the spans, probe counts and Spark event
log) into the metrics named in BENCHMARK.json.

One client, one op in flight: each op is sent when the previous one
has finished (closed loop), on ``local[<cores>]``.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from tracing import MemorySampler, Probes, Tracer, read_event_log, tree_pids

import workloads as W

#: session starts per run; setup_s reports their median plus the warm-up
SETUPS = 3


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cpus: int


def session_conf(cfg: Config, event_dir: str | None) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory;
    the event log is on only in the traced run."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(cfg.work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(cfg.work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir
        # one plain JSON-lines file per application, readable as is
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(cfg: Config, event_dir: str | None):
    """A session through the program's factory, up to its first job."""
    from vnavc_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{cfg.workload}",
                      master=f"local[{cfg.cpus}]", shuffle_partitions=cfg.cpus,
                      extra_conf=session_conf(cfg, event_dir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cfg.cpus, numPartitions=cfg.cpus).count()
    return spark


def warm_session(spark, cpus: int) -> None:
    """The warm-up every workload needs: fork the Python workers on
    every core and run one shuffle."""
    from pyspark.sql import functions as F

    def ident(batches):
        yield from batches

    spark.range(cpus * 64, numPartitions=cpus).mapInPandas(
        ident, "id long").write.format("noop").mode("overwrite").save()
    spark.range(100_000, numPartitions=cpus).groupBy(
        (F.col("id") % 97).alias("g")).agg(F.sum("id")).write.format(
        "noop").mode("overwrite").save()


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched and wait until it and the
    Python workers under it are gone: the JVM exits when its stdin
    closes, and the workers when the JVM does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [pid for pid in tree_pids(os.getpid()) if pid != os.getpid()]
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running after {timeout} s: {started}")
        time.sleep(0.1)


def floor_probes(spark, cpus: int) -> tuple[float, float]:
    """Median of five: a trivial one-stage job, and a two-stage
    shuffle aggregate — the per-job and per-shuffle floors."""
    from pyspark.sql import functions as F

    def med(fn) -> float:
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        return statistics.median(runs)

    sched = med(lambda: spark.range(1000 * cpus, numPartitions=cpus).count())
    shuffle = med(lambda: spark.range(1_000_000, numPartitions=cpus).groupBy(
        (F.col("id") % 97).alias("g")).agg(F.sum("id"), F.count("*")).write.format(
        "noop").mode("overwrite").save())
    return sched, shuffle


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is; with ten samples or fewer there is none,
    and the maximum (p100) is reported."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


#: tracked-persist slots that hold near-dup candidate pairs (batch and
#: incremental MinHash-LSH)
CANDIDATE_SLOTS = ("minhash_cands", "incremental_cands")


def install_probes(probes: Probes, tracer: Tracer) -> None:
    """Spans and result capture on the public functions whose work or
    output the per-layer metrics count."""
    from vnavc_spark import cache
    from vnavc_spark.operators import dedup
    from vnavc_spark.sources import metadata, pdf

    def persisted(args, out):
        tracer.add("cache.persist_calls")
        if out is not args[0]:
            tracer.add("cache.reuse_hits")
        if args[1] in CANDIDATE_SLOTS:
            probes.pending.append(("dedup.candidate_pairs", out))

    probes.wrap(cache, "tracked_persist", "cache.tracked_persist", on_result=persisted)
    probes.wrap(dedup, "jaccard_verify_pairs", "dedup.jaccard_verify_pairs",
                keep="dedup.verified_pairs")
    probes.wrap(dedup, "name_linkage_pairs", "er.name_linkage_pairs",
                keep="er.blocking_pairs")
    probes.wrap(dedup, "dedup_clusters", "graph.dedup_clusters",
                keep_arg="er.matches")
    probes.wrap(dedup, "stage_minhash_signatures", "dedup.stage_minhash_signatures")
    probes.wrap(dedup, "incremental_dedup_pairs", "dedup.incremental_dedup_pairs")
    probes.wrap(metadata, "read_books_csv", "sources.read_books_csv")
    probes.wrap(pdf, "extract_text", "sources.extract_text")


def count_pending(spark, probes: Probes, tracer: Tracer) -> None:
    """Row counts of the results the probes kept, in jobs tagged so the
    event-log totals leave them out."""
    sc = spark.sparkContext
    sc.setLocalProperty("perfbench.phase", "trace")
    try:
        for name, df in probes.take():
            tracer.add(name, df.count())
    finally:
        sc.setLocalProperty("perfbench.phase", "measure")


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@dataclass
class Measurement:
    """What the timed passes produced."""

    attempted: int = 0
    failed: int = 0
    latencies: list[float] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)
    pass_walls: list[float] = field(default_factory=list)
    peak_cached: int = 0
    t_lo_ms: float = 0.0
    t_hi_ms: float = 0.0


def attempt(op: W.Op, m: Measurement, tracer: Tracer) -> float:
    """Run one op and return its latency. A failed or wrong op is
    counted, its traceback printed, and the loop goes on."""
    m.attempted += 1
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            op.run()
    except Exception:
        m.failed += 1
        print(f"# op {op.name} failed:", file=sys.stderr)
        traceback.print_exc()
    return time.perf_counter() - t0


def measure(cfg: Config, wl, spark, tracer: Tracer, probes: Probes) -> Measurement:
    """Closed loop: whole passes until ``cfg.seconds`` have elapsed.
    Trace-only work after an op (probe counts, storage polls) is left
    out of the pass wall."""
    from vnavc_spark.cache import trim_slots

    m = Measurement(t_lo_ms=time.time() * 1000)
    ctx = W.Ctx(spark=spark, tracer=tracer)
    t_end = time.perf_counter() + cfg.seconds
    for p, ops in enumerate(wl.pass_ops(ctx)):
        pass_t0, pass_trace = time.perf_counter(), 0.0
        for op in ops:
            m.latencies.append(attempt(op, m, tracer))
            m.by_op.setdefault(op.name, []).append(m.latencies[-1])
            evicted = trim_slots()
            if cfg.trace:
                t_tr = time.perf_counter()
                tracer.add("cache.evicted_slots", evicted)
                m.peak_cached = max(m.peak_cached, cached_bytes(spark))
                count_pending(spark, probes, tracer)
                pass_trace += time.perf_counter() - t_tr
        m.pass_walls.append(time.perf_counter() - pass_t0 - pass_trace)
        wl.after_pass(ctx, p)
        if time.perf_counter() >= t_end:
            break
    m.t_hi_ms = time.time() * 1000
    return m


def run(cfg: Config) -> dict:
    t_run = time.perf_counter()
    os.makedirs(os.path.join(cfg.work, "tmp"), exist_ok=True)
    wl = W.make(cfg.workload)
    wl.prepare(cfg.work, cfg.seed)
    print(f"# inputs ready after {time.perf_counter() - t_run:.1f} s", file=sys.stderr)
    tracer = Tracer(cfg.trace)
    event_dir = None
    if cfg.trace:
        event_dir = os.path.join(cfg.work, "events")
        os.makedirs(event_dir, exist_ok=True)

    setups, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cfg, event_dir)
        setups.append(time.perf_counter() - t0)
        print(f"# session start {i + 1}: {setups[-1]:.2f} s", file=sys.stderr)
    # memory is sampled from the warm-up on: the earlier sessions'
    # leftovers are not the workload's
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        warm_session(spark, cfg.cpus)
        warm_s = time.perf_counter() - t0
        print(f"# warm-up: {warm_s:.2f} s", file=sys.stderr)
        probes = Probes(tracer)
        floors = (0.0, 0.0)
        if cfg.trace:
            from vnavc_spark.operators import dedup

            floors = floor_probes(spark, cfg.cpus)
            install_probes(probes, tracer)
            cc_before = len(dedup.CC_STATS)
        spark.sparkContext.setLocalProperty("perfbench.phase", "measure")
        try:
            m = measure(cfg, wl, spark, tracer, probes)
        finally:
            probes.restore()
        if cfg.trace:
            tracer.add("graph.cc_iterations",
                       sum(s.get("rounds", 0) for s in dedup.CC_STATS[cc_before:]))
        app_id = spark.sparkContext.applicationId
        spark.stop()
    stop_jvm()
    print(f"# session stopped after {time.perf_counter() - t_run:.1f} s", file=sys.stderr)
    print("# peak resident memory (PSS) by process (MB): "
          + " ".join(str(kb // 1024) for kb in mem.peak_by_process_kb), file=sys.stderr)

    for name, xs in m.by_op.items():
        print(f"# {name}: {statistics.median(xs):.3f} s median of {len(xs)}",
              file=sys.stderr)
    print("# pass walls: " + " ".join(f"{w:.2f}" for w in m.pass_walls), file=sys.stderr)
    if cfg.trace:
        for name, calls, inc, own in sorted(tracer.summary(), key=lambda r: -r[3]):
            print(f"# span {name}: {calls} calls, {inc:.3f} s, self {own:.3f} s",
                  file=sys.stderr)
        ev = read_event_log(event_log_path(event_dir, app_id), m.t_lo_ms, m.t_hi_ms)
        metrics = layer_metrics(tracer, ev, m, setups, warm_s, floors, wl)
    else:
        metrics = end_to_end_metrics(cfg.workload, setups, warm_s, m, mem.peak_kb)
    return result_json(m.attempted, m.failed, metrics)


def end_to_end_metrics(workload: str, setups: list[float], warm_s: float,
                       m: Measurement, peak_rss_kb: int) -> dict:
    op_tail, pct = tail(m.latencies)
    print(f"# {workload}: {len(m.pass_walls)} passes, {len(m.latencies)} ops; "
          f"op tail (p{pct:.1f} of {len(m.latencies)} samples) {op_tail:.3f} s",
          file=sys.stderr)
    return {
        "setup_s": (statistics.median(setups) + warm_s, "s"),
        "wall_s": (statistics.median(m.pass_walls), "s"),
        "op_p50_s": (statistics.median(m.latencies), "s"),
        "peak_rss_mb": (peak_rss_kb / 1024.0, "MB"),
    }


def result_json(attempted: int, failed: int, metrics: dict) -> dict:
    """The result object; refuses a metric that is not a finite number,
    which JSON cannot carry."""
    for k, (v, _) in metrics.items():
        if not math.isfinite(v):
            raise ValueError(f"metric {k} is not finite: {v}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def event_log_path(event_dir: str, app_id: str) -> str:
    hits = glob.glob(os.path.join(event_dir, f"{app_id}*"))
    if len(hits) != 1:
        raise FileNotFoundError(f"event log for {app_id} in {event_dir}: {hits}")
    return hits[0]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tr: Tracer, ev: dict, m: Measurement, setups, warm_s, floors,
                  wl) -> dict:
    """Per-layer metrics, per pass. Ratios are 0 when their base is 0
    (the layer did no such work on this workload)."""
    c = tr.counters
    n_pass = len(m.pass_walls)
    wall = statistics.median(m.pass_walls)
    peak_cached = m.peak_cached
    per = lambda x: x / n_pass  # noqa: E731
    cand, ver = c.get("dedup.candidate_pairs", 0), c.get("dedup.verified_pairs", 0)
    block, match = c.get("er.blocking_pairs", 0), c.get("er.matches", 0)
    persist, hits = c.get("cache.persist_calls", 0), c.get("cache.reuse_hits", 0)
    stage_s = tr.total("dedup.stage_minhash_signatures")
    add_batch_s = c.get("streaming.add_batch_ms", 0) / 1000.0
    audio_s = wl.audio_seconds()
    staged = c.get("staging.bytes_written", 0)
    out = {
        "trace.wall_s": (wall, "s"),
        "trace.op_tail_s": (tail(m.latencies)[0], "s"),
        "session.start_s": (statistics.median(setups), "s"),
        "session.warmup_s": (warm_s, "s"),
        "session.sched_floor_s": (floors[0], "s"),
        "session.shuffle_floor_s": (floors[1], "s"),
        "io.input_bytes": (per(ev["input_bytes"]), "bytes"),
        "io.input_rows": (per(ev["input_rows"]), "rows"),
        "queries.build_s": (per(tr.total("queries.build")), "s"),
        "queries.sink_s": (per(tr.total("queries.sink")), "s"),
        "queries.jobs": (per(ev["jobs"]), "count"),
        "queries.tasks": (per(ev["tasks"]), "count"),
        "operators.shuffle_write_bytes": (per(ev["shuffle_write_bytes"]), "bytes"),
        "operators.shuffle_read_bytes": (per(ev["shuffle_read_bytes"]), "bytes"),
        "operators.spill_bytes": (per(ev["spill_bytes"]), "bytes"),
        "operators.executor_run_s": (per(ev["run_ms"]) / 1e3, "s"),
        "operators.executor_cpu_s": (per(ev["cpu_ns"]) / 1e9, "s"),
        "operators.gc_s": (per(ev["gc_ms"]) / 1e3, "s"),
        "operators.task_skew": (ev["task_skew"], "ratio"),
        "dedup.candidate_pairs": (per(cand), "count"),
        "dedup.verified_pairs": (per(ver), "count"),
        "dedup.verify_yield": (_ratio(ver, cand), "ratio"),
        "dedup.incremental_stage_s": (per(stage_s), "s"),
        "dedup.incremental_pairs_s": (per(max(add_batch_s - stage_s, 0.0)), "s"),
        "er.blocking_pairs": (per(block), "count"),
        "er.matches": (per(match), "count"),
        "er.match_yield": (_ratio(match, block), "ratio"),
        "graph.cc_iterations": (per(c.get("graph.cc_iterations", 0)), "count"),
        "graph.cc_s": (per(tr.total("graph.dedup_clusters")), "s"),
        "cache.persist_calls": (per(persist), "count"),
        "cache.reuse_hits": (per(hits), "count"),
        "cache.hit_ratio": (_ratio(hits, persist), "ratio"),
        "cache.cached_bytes_peak": (peak_cached, "bytes"),
        "cache.evicted_slots": (per(c.get("cache.evicted_slots", 0)), "count"),
        "pipeline.text_stage_s": (per(tr.total("pipeline.text_stage")), "s"),
        "pipeline.audio_concat_s": (per(tr.total("pipeline.audio_concat")), "s"),
        "pipeline.align_s": (per(tr.total("pipeline.align")), "s"),
        "pipeline.cut_s": (per(tr.total("pipeline.cut")), "s"),
        "pipeline.qc_s": (per(tr.total("pipeline.qc")), "s"),
        "pipeline.publish_s": (per(tr.total("pipeline.publish")), "s"),
        "pipeline.python_bytes": (per(ev["python_bytes"]), "bytes"),
        "pipeline.qualified_ratio": (_ratio(c.get("pipeline.qualified", 0),
                                            c.get("pipeline.books", 0)), "ratio"),
        "pipeline.utterance_keep_ratio": (_ratio(c.get("pipeline.utterances", 0),
                                                 c.get("pipeline.segments", 0)), "ratio"),
        "pipeline.audio_x_realtime": (_ratio(audio_s, wall), "x"),
        "sources.pdf_extract_s": (per(tr.total("sources.pdf")), "s"),
        "sources.metadata_read_s": (per(tr.total("sources.metadata")), "s"),
        "staging.bytes_written": (per(staged), "bytes"),
        "staging.files_written": (per(c.get("staging.files_written", 0)), "count"),
        "staging.write_amp": (_ratio(staged, n_pass * wl.input_bytes),
                              "ratio"),
        "streaming.add_batch_ms": (per(c.get("streaming.add_batch_ms", 0)), "ms"),
        "streaming.wal_commit_ms": (per(c.get("streaming.wal_commit_ms", 0)), "ms"),
        "streaming.trigger_ms": (per(c.get("streaming.trigger_ms", 0)), "ms"),
    }
    return out
