"""Benchmark of the streaming ETL and a layered query mix.

Run from the repository root:

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 6 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``etl_backfill``: a staged backlog of wire-JSON files drained again and
  again with ``run_pipeline(..., available_now=True)``; closed loop, one
  drain at a time. An op is a drain.
- ``etl_live``: a generator thread drops a JSON-lines file every 250 ms
  (10k events/s) into ``run_pipeline(trigger_seconds=1)``; open loop. An
  op is a file, timed from its scheduled write to the commit of the
  micro-batch that holds it.
- ``query_mix``: one client runs passes over fixed groups of ``queries()``
  factories and forces each with a ``noop`` write; closed loop. An op is a
  query; the latency is that of one pass, from each query's median (p90)
  over the passes. The first warm-up pass checks every query against its
  oracle.

Every input is generated from ``--seed`` (perfbench/gen.py) and every
output is checked against a DuckDB oracle. All files go under
``.perfbench/`` in the working directory. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with ``--trace 1``).
A traced run alternates untraced and traced ops where it can, reports
the difference as ``trace.overhead_pct``, and writes its spans and the
per-group and per-query breakdown to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

import gen
import probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench")
RUN = os.path.join(WORK, "run")

CORES = 4
SHUFFLE_PARTITIONS = 8

# etl_backfill: 2.5 replayed copies of the 100k-row events table per drain.
BACKFILL_EVENTS = 250_000
BACKFILL_FILES = 10
BACKFILL_MIN_DRAINS = 2
WARMUP_FILES = 2
# etl_live: one file per period into a query triggered every second.
# Processing-time triggers fire on whole seconds of the wall clock, so the
# schedule starts LIVE_PHASE_S after one: each batch then takes the same
# four files, whatever second the run starts in. (With a continuous
# trigger the batch size settles into one of two regimes per run, and
# latency with it.)
LIVE_PERIOD_S = 0.25
LIVE_PHASE_S = 0.1
LIVE_TRIGGER_S = 1
LIVE_EVENTS_PER_S = 10_000
LIVE_WARMUP_FILES = 8
LIVE_GRACE_S = 10.0
# query_mix: table scale, passes per run and the query groups, each
# stressing one layer. Kept to what one run can afford (each query runs
# cold against its oracle, once more untimed, then MIN_PASSES times timed):
# health_check, tpch_q5, tpch_q21, streaming_windowed_counts, the MinHash
# pair dedup_near_minhash_lsh and dedup_cluster_components, and
# simhash128_near_dup (~5 s a pass, ~40% of it) would double every run.
QUERY_SF = 0.01
MIN_PASSES = 3
GROUPS = {
    "warehouse": [
        "event_type_rollup",
        "windowed_counts_60s",
        "etl_enrich_events",
        "tpch_q1_pricing_summary",
        "tpch_q18_large_volume_customer",
    ],
    "dedup": [
        "dedup_exact_text",
        "image_phash_near_dup",
    ],
    "stream": ["streaming_stateful_user_totals"],
}
_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


def _confine_to_work_dir() -> None:
    """Keep every file the JVM, Spark and Python write under WORK, and put
    the package on the Python workers' import path whatever the caller's
    working directory is (workers inherit PYTHONPATH from the JVM)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # For every JVM, spark-submit's launcher too. HotSpot writes its perf
    # data file to /tmp whatever java.io.tmpdir says, unless told not to.
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    # Below the program's 8g default, to keep a run's memory small; it
    # shapes peak_rss_mb and GC time.
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    sys.path.insert(0, ROOT)


def _pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method, so it works from 2 samples)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    """One run: the session, the tracer, the op tally and what it measured."""

    def __init__(self, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.tracer = probes.Tracer(False)  # on for traced ops and probes
        self.spark = None
        self.attempted = self.failed = 0
        self.setup_s = 0.0
        self.layers: dict[str, float] = {}
        self.summary: dict = {}

    def start_spark(self, cores: int = CORES) -> float:
        from streaming_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        return elapsed

    def setup(self, stage, warm_up):
        """setup_s = one cold session start (the JVM launch included) +
        writing the inputs + the warm-up: the first drain or pass runs
        ~1.5x slower while the JVM compiles, and that belongs to set-up.
        warm_up returns the seconds of its work that count. The inputs
        themselves are generated before."""
        session_s = self.start_spark()
        t0 = time.perf_counter()
        staged = stage(os.path.join(RUN, "stage"))
        self.setup_s = session_s + time.perf_counter() - t0 + warm_up(staged)
        self.layers["session.get_spark_s"] = session_s
        return staged

    def tally(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def close(self) -> None:
        """Stop the session, then the JVM: it exits when its stdin closes,
        and takes the Python workers it forked with it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


# --------------------------------------------------------------------------
# ETL pieces shared by both ETL workloads
# --------------------------------------------------------------------------


def _stage_events(events, out_dir: str) -> str:
    gen.write_tables({"events": events}, out_dir)
    return os.path.join(out_dir, "events.parquet")


def _start_etl(b: Bench, in_dir: str, tag: str, **trigger):
    """run_pipeline into fresh sink and checkpoint dirs under RUN/tag."""
    from streaming_data_pipeline_spark.plans.base import AS_OF
    from streaming_data_pipeline_spark.streaming.pipeline import run_pipeline

    base = os.path.join(RUN, tag)
    shutil.rmtree(base, ignore_errors=True)
    b.job_group(f"build:{tag}")
    t0 = time.perf_counter()
    with b.tracer.span("plans.build", op=tag):
        q = run_pipeline(b.spark, in_dir, f"{base}/out", f"{base}/ckpt", as_of=AS_OF, **trigger)
    return q, base, time.perf_counter() - t0


def _drain(b: Bench, in_dir: str, tag: str):
    """One availableNow drain; returns (query, base dir, build s, run s)."""
    q, base, build = _start_etl(b, in_dir, tag, available_now=True)
    t0 = time.perf_counter()
    with b.tracer.span("exec.run", op=tag):
        q.awaitTermination()
    run = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q, base, build, run


def _transforms_probe(b: Bench, in_dir: str, rows_in: int) -> None:
    """Time streaming.pipeline.transform over the staged wire input read as
    a static frame, forced with a noop write, and count the rows it keeps."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from streaming_data_pipeline_spark.plans.base import AS_OF
    from streaming_data_pipeline_spark.streaming.pipeline import transform

    obs = Observation("perfbench")
    msgs = b.spark.read.text(in_dir)
    t0 = time.perf_counter()
    with b.tracer.span("transforms.wire_pipeline"):
        out = transform(msgs, as_of=AS_OF).observe(obs, F.count(F.lit(1)).alias("n"))
        out.write.format("noop").mode("overwrite").save()
    b.layers["transforms.wire_pipeline_s"] = time.perf_counter() - t0
    rows_out = obs.get["n"]
    b.layers["transforms.rows_in"] = float(rows_in)
    b.layers["transforms.rows_out"] = float(rows_out)
    b.layers["transforms.keep_ratio"] = rows_out / rows_in


def _core_baseline(b: Bench, in_dir: str, rows_in: int) -> dict[int, tuple]:
    """Drain the workload's wire input once on CORES cores and once on one
    core (the stream-processing baseline); returns the drains by cores.
    Leaves a one-core session, so it runs last."""
    drains = {}
    for cores in (CORES, 1):
        if cores != CORES:
            b.start_spark(cores)
        drains[cores] = _drain(b, in_dir, f"baseline{cores}")
        b.layers[f"baseline.local{cores}_events_per_s"] = rows_in / (drains[cores][2] + drains[cores][3])
    return drains


def _etl_layers(b: Bench, runs: list[tuple]) -> None:
    """Per-layer metrics of ETL queries, each a (query, base dir, build s,
    run s); medians over the queries."""
    med = lambda xs: float(statistics.median(xs))  # noqa: E731
    batches = [probes.batch_phases(q.recentProgress) for q, *_ in runs]
    b.layers.update(probes.phase_metrics([x for bs in batches for x in bs]))
    files = [len(probes.source_log(f"{base}/ckpt")) for _, base, *_ in runs]
    b.layers["sources.files_per_batch"] = sum(files) / sum(map(len, batches))
    sinks = [probes.sink_stats(f"{base}/out", len(bs)) for (_, base, *_), bs in zip(runs, batches)]
    for k in sinks[0]:
        b.layers[k] = med(s[k] for s in sinks)
    counts = [probes.job_counts(b.spark, [str(q.runId)]) for q, *_ in runs]
    for k in _COUNTS:
        b.layers[f"exec.{k}"] = med(c[k] for c in counts)
    tags = [os.path.basename(base) for _, base, *_ in runs]
    b.layers["plans.build_jobs"] = med(probes.job_counts(b.spark, [f"build:{t}"])["jobs"] for t in tags)
    b.layers["plans.build_s"] = med(r[2] for r in runs)
    b.layers["exec.run_s"] = med(r[3] for r in runs)


class LiveGenerator(threading.Thread):
    """Writes payload i as ``<prefix>-<i>.jsonl`` at t0 + i * LIVE_PERIOD_S
    whatever the system under test is doing (open loop), and records how
    late each write finished."""

    def __init__(self, payloads: list[bytes], in_dir: str, prefix: str, t0: float):
        super().__init__(daemon=True)
        self.payloads, self.in_dir, self.prefix, self.t0 = payloads, in_dir, prefix, t0
        self.due: dict[str, float] = {}
        self.late_s: list[float] = []
        self.error: Exception | None = None

    def run(self):
        try:
            for i, data in enumerate(self.payloads):
                due = self.t0 + i * LIVE_PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                name = f"{self.prefix}-{i:05d}.jsonl"
                # Hidden names are not listed by the file source, so the
                # rename publishes the file whole.
                tmp = os.path.join(self.in_dir, "." + name)
                with open(tmp, "wb") as f:
                    f.write(data)
                os.rename(tmp, os.path.join(self.in_dir, name))
                self.due[name] = due
                self.late_s.append(time.time() - due)
        except Exception as e:  # re-raised by the main thread
            self.error = e

    def finish(self) -> None:
        self.join()
        if self.error is not None:
            raise self.error


def _wait_committed(q, names: list[str], ckpt: str, timeout_s: float) -> dict[str, float]:
    """File name -> commit time (epoch s) of the batch that holds it, once
    every named file is committed or the timeout passes."""
    deadline = time.time() + timeout_s
    while True:
        log = probes.source_log(ckpt)
        ends = {p["batch"]: p["end"] for p in probes.batch_phases(q.recentProgress)}
        done = {n: ends[log[n]] for n in names if log.get(n) in ends}
        if len(done) == len(names) or time.time() > deadline or not q.isActive:
            return done
        time.sleep(0.05)


def _alternate(b: Bench, step, min_calls: int) -> tuple[list, list]:
    """Call step(tag) until ``b.seconds`` have passed and it ran at least
    ``min_calls`` times. A traced run takes twice as long and interleaves
    untraced and traced calls as U T T U U T T U ..., so a JVM still
    speeding up favours neither side."""
    plain, traced = [], []
    t_end = time.perf_counter() + b.seconds * (2 if b.trace else 1)
    while (
        len(plain) < min_calls
        or (b.trace and len(traced) < min_calls)
        or time.perf_counter() < t_end
    ):
        b.tracer.enabled = b.trace and (len(plain) + len(traced)) % 4 in (1, 2)
        out = traced if b.tracer.enabled else plain
        out.append(step(f"{'traced' if b.tracer.enabled else 'plain'}{len(out)}"))
    b.tracer.enabled = b.trace  # the probes that follow are traced too
    return plain, traced


def etl_backfill(b: Bench) -> dict:
    staged = {}

    events = gen.build_events(b.seed, 0.1)
    backlog = gen.wire_stream(events, BACKFILL_EVENTS, b.seed)

    def stage(out_dir):
        paths = gen.write_backlog(backlog, f"{out_dir}/in", BACKFILL_FILES)
        os.makedirs(f"{out_dir}/warm")
        for p in paths[:WARMUP_FILES]:
            shutil.copy(p, f"{out_dir}/warm")
        staged["events_path"] = _stage_events(events, out_dir)
        return out_dir

    def warm_up(out_dir):
        # The first drain pays ~8 s of one-time JVM work whatever its size,
        # and the next one still runs slow while the JIT catches up.
        t0 = time.perf_counter()
        for i in range(2):
            _drain(b, f"{out_dir}/warm", f"warmup{i}")
        return time.perf_counter() - t0

    in_dir = f"{b.setup(stage, warm_up)}/in"
    rows_in = len(backlog.lines)
    expected = probes.etl_expected(staged["events_path"], backlog.base_rows)

    def drain(tag):
        run = _drain(b, in_dir, tag)
        b.tally(probes.etl_actual(f"{run[1]}/out") == expected)
        return run

    drains, traced = _alternate(b, drain, BACKFILL_MIN_DRAINS)
    lat = [build + run for *_, build, run in drains]
    b.summary["drain_s"] = lat
    result = {
        "throughput_per_s": rows_in * len(lat) / sum(lat),
        "latency_p50_ms": 1000 * statistics.median(lat),
        "latency_p90_ms": 1000 * _pct(lat, 90),
        "peak_rss_mb": probes.peak_rss_mb(b.spark),
    }
    if b.trace:
        tlat = [build + run for *_, build, run in traced]
        b.layers["trace.overhead_pct"] = 100 * (statistics.median(tlat) / statistics.median(lat) - 1)
        _etl_layers(b, traced)
        _transforms_probe(b, in_dir, rows_in)
        _core_baseline(b, in_dir, rows_in)
    return result


def etl_live(b: Bench) -> dict:
    per_file = int(LIVE_EVENTS_PER_S * LIVE_PERIOD_S)
    n_files = int(round(b.seconds / LIVE_PERIOD_S))
    prefixes = [("warmup", LIVE_WARMUP_FILES), ("live", n_files)]
    if b.trace:
        # untraced files after the traced ones too, so warming favours neither
        prefixes += [("traced", n_files), ("after", n_files)]
    base, in_dir = os.path.join(RUN, "live"), os.path.join(RUN, "live_in")
    ckpt = f"{base}/ckpt"
    committed: dict[str, float] = {}
    events = gen.build_events(b.seed, 0.1)
    total = sum(n for _, n in prefixes)
    share = gen.MALFORMED_SHARE + gen.MISSING_FIELD_SHARE + gen.LOW_QUALITY_SHARE
    chunks = iter(gen.wire_stream(events, int(total * per_file / (1 + share)), b.seed).split(total))
    # prefix -> [(file bytes, events rows behind its valid messages)]
    staged = {
        "files": {
            p: [(gen.encode_lines(lines), rows) for lines, rows in (next(chunks) for _ in range(n))]
            for p, n in prefixes
        }
    }

    def stage(out_dir):
        # the generator thread writes the live input during the run
        staged["events_path"] = _stage_events(events, out_dir)
        return out_dir

    def play(prefix: str, timeout_s: float) -> tuple[list[float], float]:
        """Write the prefix's files on schedule. Returns each committed
        file's latency and the span from the first file's schedule to
        the last commit."""
        payloads = [d for d, _ in staged["files"][prefix]]
        g = LiveGenerator(payloads, in_dir, prefix, math.floor(time.time()) + 1 + LIVE_PHASE_S)
        g.start()
        g.finish()
        done = _wait_committed(staged["q"], list(g.due), ckpt, timeout_s)
        committed.update(done)
        b.summary[f"{prefix}_generator_late_ms"] = {
            "p50": 1000 * statistics.median(g.late_s),
            "max": 1000 * max(g.late_s),
        }
        span = max(done.values(), default=g.t0) - g.t0
        return [done[n] - g.due[n] for n in done], span

    def warm_up(_):
        # Counts the query start and the warm-up files from the first one's
        # scheduled write to the last commit, not the wait for the trigger
        # clock before the schedule starts.
        os.makedirs(in_dir)
        staged["q"], _, staged["build_s"] = _start_etl(b, in_dir, "live", trigger_seconds=LIVE_TRIGGER_S)
        lat, span = play("warmup", 60.0)
        if len(lat) != LIVE_WARMUP_FILES:
            raise RuntimeError("the live warm-up files were not committed")
        return staged["build_s"] + span

    b.setup(stage, warm_up)
    q = staged["q"]

    def measure(prefix: str) -> tuple[list[float], float]:
        lat, span = play(prefix, LIVE_GRACE_S)
        # A file not committed within the grace period is a failed op, so
        # a growing backlog shows as failures rather than as latency.
        b.tally(True, len(lat))
        b.tally(False, n_files - len(lat))
        return lat, span

    lat, span = measure("live")
    b.summary["latency_ms"] = [1000 * x for x in lat]
    committed_events = sum(
        d.count(b"\n") for i, (d, _) in enumerate(staged["files"]["live"]) if f"live-{i:05d}.jsonl" in committed
    )
    result = {
        # the offered rate, less what was still uncommitted at the end
        "throughput_per_s": committed_events / span,
        "latency_p50_ms": 1000 * statistics.median(lat),
        "latency_p90_ms": 1000 * _pct(lat, 90),
    }
    if b.trace:
        b.tracer.enabled = True
        t0 = time.perf_counter()
        with b.tracer.span("exec.run", op="live"):
            tlat, _ = measure("traced")
        live_run = time.perf_counter() - t0
        b.tracer.enabled = False
        after, _ = measure("after")
        b.tracer.enabled = True
    q.stop()
    # The sink must hold exactly the valid messages of the committed files.
    rows = [
        r
        for p, files in staged["files"].items()
        for i, (_, r) in enumerate(files)
        if f"{p}-{i:05d}.jsonl" in committed
    ]
    if probes.etl_actual(f"{base}/out") != probes.etl_expected(staged["events_path"], np.concatenate(rows)):
        b.failed = b.attempted
    result["peak_rss_mb"] = probes.peak_rss_mb(b.spark)
    if b.trace:
        b.layers["trace.overhead_pct"] = 100 * (statistics.median(tlat) / statistics.median(lat + after) - 1)
        _etl_layers(b, [(q, base, staged["build_s"], live_run)])
        rows_in = sum(d.count(b"\n") for files in staged["files"].values() for d, _ in files)
        _transforms_probe(b, in_dir, rows_in)
        _core_baseline(b, in_dir, rows_in)
    return result


class StreamRuns(StreamingQueryListener):
    """Maps each streaming query a factory starts to the op that started
    it (onQueryStarted runs in the starting thread), and keeps every
    progress report."""

    def __init__(self, tracer: probes.Tracer):
        self.tracer = tracer
        self.runs: dict[str, str] = {}
        self.progress: list = []

    def onQueryStarted(self, event):
        self.runs[str(event.runId)] = self.tracer.current_op()

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def traced_progress(self) -> list:
        return [p for p in self.progress if self.runs.get(str(p.runId))]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def query_mix(b: Bench) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from tests.conftest import canon, oracle_df

    factories, oracles = entry.queries(), entry.oracle_sql()
    order = [(g, n) for g, names in GROUPS.items() for n in names]

    tables = gen.build_tables(b.seed, QUERY_SF)

    def stage(out_dir):
        gen.write_tables(tables, out_dir)
        return out_dir

    def one_pass(sf_dir: str, tag: str) -> dict[str, tuple[float, float]]:
        """Each query built, then forced with a noop write: name -> (build s,
        run s)."""
        times = {}
        for group, name in order:
            op = f"{tag}:{name}"
            try:
                with b.tracer.span("query", op=op, group=group):
                    b.job_group(f"build:{op}")
                    t0 = time.perf_counter()
                    with b.tracer.span("plans.build", op=op):
                        df = factories[name](b.spark, sf_dir)
                    t1 = time.perf_counter()
                    b.job_group(f"exec:{op}")
                    with b.tracer.span("exec.run", op=op):
                        df.write.format("noop").mode("overwrite").save()
                    times[name] = (t1 - t0, time.perf_counter() - t1)
                b.tally(True)
            except Exception:
                traceback.print_exc()
                b.tally(False)
            b.spark.catalog.clearCache()
        return times

    def warm_up(sf_dir):
        """Two passes on a cold JVM: the JIT goes on speeding the queries up
        for several passes. The first also checks each query against its
        DuckDB twin (outside the timed passes). Only the Spark side counts
        as set-up, so the comparisons of tests/conftest.assert_query_
        matches_oracle are made here, after the timed toPandas()."""
        con = duckdb.connect()
        spark_s = 0.0
        try:
            for _, name in order:
                try:
                    t0 = time.perf_counter()
                    got = factories[name](b.spark, sf_dir).toPandas()
                    spark_s += time.perf_counter() - t0
                    want = oracle_df(con, oracles[name], sf_dir)
                    assert len(got) == len(want), f"{name}: {len(got)} rows, oracle {len(want)}"
                    assert sorted(got.columns) == sorted(want.columns), f"{name}: columns differ from the oracle's"
                    assert canon(got) == canon(want), f"{name}: values differ from the oracle's"
                    b.tally(True)
                except Exception:
                    traceback.print_exc()
                    b.tally(False)
                finally:
                    b.spark.catalog.clearCache()
        finally:
            con.close()
        t0 = time.perf_counter()
        one_pass(sf_dir, "warmup")
        return spark_s + time.perf_counter() - t0

    sf_dir = b.setup(stage, warm_up)

    listener = StreamRuns(b.tracer)
    if b.trace:
        b.spark.streams.addListener(listener)
    passes, tpasses = _alternate(b, lambda tag: one_pass(sf_dir, tag), MIN_PASSES)
    if b.trace:
        b.spark.streams.removeListener(listener)
    result = {
        "throughput_per_s": sum(map(len, passes)) / sum(bt + rt for p in passes for bt, rt in p.values()),
        "latency_p50_ms": 1000 * _pass_s(passes, 50),
        "latency_p90_ms": 1000 * _pass_s(passes, 90),
        "peak_rss_mb": probes.peak_rss_mb(b.spark),
    }
    b.summary["query_s"] = {n: [round(sum(p[n]), 3) for p in passes if n in p] for _, n in order}
    b.summary["group_s"] = {
        g: [sum(sum(p[n]) for n in names if n in p) for p in passes] for g, names in GROUPS.items()
    }
    if b.trace:
        b.layers["trace.overhead_pct"] = 100 * (_pass_s(tpasses, 50) / _pass_s(passes, 50) - 1)
        _query_layers(b, tpasses, listener)
        # The mix runs no ETL: probe the transforms layer, the file source,
        # the sink and the core baseline over its own events table replayed
        # once as wire JSON.
        events = tables["events"]
        stream = gen.wire_stream(events, events.num_rows, b.seed)
        in_dir = os.path.join(RUN, "wire")
        gen.write_backlog(stream, in_dir, 4)
        _transforms_probe(b, in_dir, len(stream.lines))
        base = _core_baseline(b, in_dir, len(stream.lines))[CORES][1]
        batches = len(glob.glob(f"{base}/ckpt/commits/[0-9]*"))
        b.layers["sources.files_per_batch"] = len(probes.source_log(f"{base}/ckpt")) / batches
        b.layers.update(probes.sink_stats(f"{base}/out", batches))
    return result


def _pass_s(passes: list[dict], q: int) -> float:
    """The wall time of one pass over the mix at the q-th percentile: each
    query's q-th percentile over the passes, summed over the queries."""
    names = {n for p in passes for n in p}
    return sum(_pct([sum(p[n]) for p in passes if n in p], q) for n in names)


def _query_layers(b: Bench, passes: list[dict], listener: StreamRuns) -> None:
    """plans.* and exec.* per query, per group and per pass (the mean over
    the traced passes); sources.* and pipeline.* from the stream group."""
    per_query = {}
    for i, times in enumerate(passes):
        for group, names in GROUPS.items():
            for name in names:
                op = f"traced{i}:{name}"
                streams = [r for r, o in listener.runs.items() if o == op]
                build_s, run_s = times.get(name, (0.0, 0.0))
                per_query[op] = {
                    "group": group,
                    "build_s": build_s,
                    "build_jobs": probes.job_counts(b.spark, [f"build:{op}"])["jobs"],
                    "run_s": run_s,
                    # eager pre-actions count as execution work as well
                    **probes.job_counts(b.spark, [f"build:{op}", f"exec:{op}", *streams]),
                }
    keys = ("build_s", "build_jobs", "run_s", *_COUNTS)
    groups = {
        g: {k: sum(v[k] for v in per_query.values() if v["group"] == g) / len(passes) for k in keys}
        for g in GROUPS
    }
    for k in keys:
        layer = "plans" if k.startswith("build") else "exec"
        b.layers[f"{layer}.{k}"] = float(sum(g[k] for g in groups.values()))
    b.layers.update(probes.phase_metrics(probes.batch_phases(listener.traced_progress())))
    b.summary["groups"] = groups
    b.summary["queries"] = per_query


WORKLOADS = {"etl_backfill": etl_backfill, "etl_live": etl_live, "query_mix": query_mix}


def _units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    units = _units()
    shutil.rmtree(RUN, ignore_errors=True)
    _confine_to_work_dir()
    # Fail before measuring anything when the program is not there.
    import streaming_data_pipeline_spark.streaming.pipeline  # noqa: F401

    b = Bench(args.seed, args.seconds, bool(args.trace))
    try:
        result = WORKLOADS[args.workload](b)
    finally:
        b.close()
        shutil.rmtree(RUN, ignore_errors=True)
    result["setup_s"] = b.setup_s
    chosen = b.layers if args.trace else result
    print(json.dumps(b.summary), file=sys.stderr)
    if args.trace:
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        b.tracer.write(path, {**b.summary, "layers": b.layers, "end_to_end": result})
    line = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(chosen.items())},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
