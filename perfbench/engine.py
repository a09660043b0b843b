"""The workloads, driven through the engine's public entry points.

Each workload follows the same shape:

1. ``prepare``: write the seeded inputs (not part of set-up time).
2. ``SETUP_REPS`` set-ups: stop the previous session, build a fresh one with
   ``session.get_spark``, start the same streaming job over one fixed warm-up
   file and wait for its first micro-batch to pass through the sink. The
   first set-up also pays for the JVM launch and is timed from process start.
   ``setup_s`` is the median. A drain workload starts its measured query as
   its last set-up, so that set-up's first batch is also the first measured
   batch.
3. ``measure``: the timed window; the PSS peak is reset when it opens.
4. ``check``: compare every output with a reference computed outside Spark.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import duckdb

import eventlog
import gen
from pss import PssSampler
from spans import TimedSink, Tracer
from stats import attribute_windows, checked_quantile, median_or_zero, supports

from kda_flink_demo_spark import registry
from kda_flink_demo_spark.io import sources
from kda_flink_demo_spark.jobs import REPLAY_SCHEMA
from kda_flink_demo_spark.operators.projections import project_railway_events
from kda_flink_demo_spark.session import get_spark
from kda_flink_demo_spark.streaming import jobs as sjobs
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink

CPUS = 2
SETUP_REPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
BATCH_QUERY = "sliding_range_30m"  # the registry's batch form of the sliding job

END_TO_END_UNITS = {"setup_s": "s", "peak_pss_mb": "MB", "latency_ms": "ms"}
# Every workload reports every per-layer metric; a layer it does not use reads 0.
PER_LAYER_UNITS = {
    "setup.get_spark_s": "s", "setup.first_unit_s": "s", "setup.cold_s": "s",
    "source.latest_offset_ms_p50": "ms", "source.get_batch_ms_p50": "ms",
    "source.input_rows_per_batch_p50": "count", "source.backlog_files_max": "count",
    "stream.trigger_ms_p50": "ms", "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms", "stream.commit_offsets_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms", "stream.outside_sink_ms_p50": "ms",
    "stream.other_ms_p50": "ms",
    "stream.batches": "count", "stream.no_data_batches": "count",
    "stream.jobs_per_batch": "count", "stream.tasks_per_batch": "count",
    "state.tumbling.instances": "count", "state.tumbling.update_ms_p50": "ms",
    "state.tumbling.removal_ms_p50": "ms", "state.tumbling.commit_ms_p50": "ms",
    "state.tumbling.rows_total_max": "count", "state.tumbling.memory_bytes_max": "bytes",
    "state.tumbling.rows_dropped_by_watermark": "count",
    "state.sliding.instances": "count", "state.sliding.update_ms_p50": "ms",
    "state.sliding.commit_ms_p50": "ms", "state.sliding.rows_total_max": "count",
    "state.sliding.memory_bytes_max": "bytes",
    "sink.call_ms_p50": "ms", "sink.rows_per_batch_p50": "count",
    "registry.construct_ms": "ms", "registry.execute_ms": "ms", "registry.jobs": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "gen.late_max_ms": "ms", "result_latency_p90_ms": "ms", "pss.samples": "count",
    "throughput_per_s": "1/s",
    "traced.setup_s": "s", "traced.peak_pss_mb": "MB", "traced.latency_ms": "ms",
}


def wait_first_commit(q, sink: TimedSink, timeout: float = 120.0) -> None:
    deadline = time.time() + timeout
    while not sink.calls and q.isActive and time.time() < deadline:
        time.sleep(0.01)
    if not sink.calls:
        q.stop()
        raise CheckFailed("query committed no batch")


def executed(progress) -> list[dict]:
    """Progress reports of batches that ran; an idle query also reports
    progress, repeating the last batch id with no phase timings."""
    return [p for p in progress if "addBatch" in p["durationMs"]]


class CheckFailed(Exception):
    """The run cannot produce its metrics (for example too few samples)."""


class Workload:
    """Shared set-up, sampling, per-batch layers and teardown."""

    name = ""
    state_prefix = ""
    measured_setup = False  # the last set-up starts the measured query

    def __init__(self, work: str, seed: int, seconds: int, trace: bool, t_start: float):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.sampler = PssSampler()
        self.spark = None
        self.layer: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.window = (0.0, 0.0)
        self.gen_cpus: set[int] | None = None  # cores for the load generator, if pinned

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_query(self, rep: int, sink: TimedSink):
        raise NotImplementedError

    def measure(self) -> dict:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def fresh_session(self) -> float:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=CPUS)
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def setup(self) -> float:
        totals, gets, units = [], [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("setup", rep=rep):
                gets.append(self.fresh_session())
                u0 = time.perf_counter()
                if self.measured_setup and rep == SETUP_REPS - 1:
                    self.start_measured()
                    warm = None
                else:
                    warm = self.first_commit(rep)
                end = time.perf_counter()
                units.append(end - u0)
                if warm is not None:
                    warm.stop()
            totals.append(end - (self.t_start if rep == 0 else t0))
        self.layer["setup.get_spark_s"] = statistics.median(gets)
        self.layer["setup.first_unit_s"] = statistics.median(units)
        self.layer["setup.cold_s"] = totals[0]
        return statistics.median(totals)

    def first_commit(self, rep: int):
        """Start the warm-up query and return it once its first batch has
        reached the sink."""
        sink = self.new_sink(f"warm{rep}")
        q = self.warm_query(rep, sink)
        wait_first_commit(q, sink)
        return q

    def start_measured(self) -> None:
        raise NotImplementedError

    def run_query(self, result, sink: TimedSink, ckpt: str, available_now: bool = True):
        with self.tracer.span("streaming.jobs.run_to_sink"):
            return sjobs.run_to_sink(result, sink, ckpt, available_now=available_now)

    def streaming_layers(self, progress: list[dict], timed: TimedSink, run_id: str) -> None:
        """Per-batch phases and state metrics from the query's progress reports,
        and sink call times from the timed sink."""
        data = [p for p in progress if p.get("numInputRows", 0) > 0]

        def phase(key, ps=data):
            return median_or_zero([p["durationMs"].get(key, 0) for p in ps])

        L = self.layer
        L["stream.batches"] = len(progress)
        L["stream.no_data_batches"] = len(progress) - len(data)
        L["source.latest_offset_ms_p50"] = phase("latestOffset", progress)
        L["source.get_batch_ms_p50"] = phase("getBatch")
        L["source.input_rows_per_batch_p50"] = median_or_zero([p["numInputRows"] for p in data])
        L["stream.trigger_ms_p50"] = phase("triggerExecution")
        L["stream.query_planning_ms_p50"] = phase("queryPlanning")
        L["stream.wal_commit_ms_p50"] = phase("walCommit")
        L["stream.commit_offsets_ms_p50"] = phase("commitOffsets")
        L["stream.add_batch_ms_p50"] = phase("addBatch")
        named = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
        L["stream.other_ms_p50"] = median_or_zero(
            [p["durationMs"]["triggerExecution"] - sum(p["durationMs"].get(k, 0) for k in named)
             for p in data])
        calls = {c["batch_id"]: c for c in timed.calls}
        in_sink = {p["batchId"]: (calls[p["batchId"]]["end"] - calls[p["batchId"]]["start"]) * 1000
                   for p in data if p["batchId"] in calls}
        L["sink.call_ms_p50"] = median_or_zero(list(in_sink.values()))
        L["stream.outside_sink_ms_p50"] = median_or_zero(
            [p["durationMs"].get("addBatch", 0) - in_sink[p["batchId"]]
             for p in data if p["batchId"] in in_sink])
        if self.trace:
            L["sink.rows_per_batch_p50"] = median_or_zero(
                [calls[p["batchId"]]["rows"] for p in data if p["batchId"] in calls])
            jobs, tasks = self.group_jobs(run_id)
            L["stream.jobs_per_batch"] = jobs / max(len(progress), 1)
            L["stream.tasks_per_batch"] = tasks / max(len(progress), 1)
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        data_ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
        if ops:
            s = self.state_prefix
            L[f"{s}.instances"] = max(o.get("numStateStoreInstances", 0) for o in ops)
            L[f"{s}.update_ms_p50"] = median_or_zero([o["allUpdatesTimeMs"] for o in data_ops])
            L[f"{s}.commit_ms_p50"] = median_or_zero([o["commitTimeMs"] for o in data_ops])
            L[f"{s}.rows_total_max"] = max(o["numRowsTotal"] for o in ops)
            L[f"{s}.memory_bytes_max"] = max(o["memoryUsedBytes"] for o in ops)
            if s == "state.tumbling":
                L[f"{s}.removal_ms_p50"] = median_or_zero([o["allRemovalsTimeMs"] for o in data_ops])
                L[f"{s}.rows_dropped_by_watermark"] = sum(
                    o.get("numRowsDroppedByWatermark", 0) for o in ops)

    def group_jobs(self, group: str) -> tuple[int, int]:
        """Jobs and tasks Spark ran under one job group."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks

    def run(self) -> dict:
        self.prepare()
        self.sampler.start()
        try:
            if self.measured_setup:
                self.sampler.reset()
            setup_s = self.setup()
            if not self.measured_setup:
                self.sampler.reset()
            e2e = self.measure()
            self.layer["throughput_per_s"] = e2e.pop("throughput_per_s")
            e2e["setup_s"] = setup_s
            e2e["peak_pss_mb"] = self.sampler.peak_mb
            self.layer["pss.samples"] = self.sampler.samples
            self.check()
        finally:
            self.sampler.stop()
            self.shutdown()
        if self.trace:
            self.layer.update(eventlog.summarize(self.path("eventlog"), *self.window))
            for k, v in e2e.items():
                self.layer[f"traced.{k}"] = v
        return e2e

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for them to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class TumblingLive(Workload):
    """Open loop: a generator process writes GeoJSON at a fixed rate while the
    flagship path (file_geojson_stream -> project_railway_events ->
    job_tumbling -> DuckDBUpsertSink) runs on the default processing-time
    trigger, taking every new file in each batch."""

    name = "tumbling_live"
    state_prefix = "state.tumbling"
    RATE = 250.0       # events per wall second, well below the drained rate on two cores
    TICK = 0.2         # one file per tick
    SPEEDUP = 240.0    # event clock / wall clock: four 1-minute windows close per second
    LEAD_S = 1.0       # generated before the measured window opens
    WARM_EVENTS = 500
    MAX_FILES = 1_000_000
    DRAIN_TIMEOUT_S = 30.0

    def prepare(self) -> None:
        for rep in range(SETUP_REPS):
            gen.geojson_files(self.seed + 1000 + rep, self.path("warm", str(rep)), 1,
                              self.WARM_EVENTS, gen.EVENT_T0)

    def tumbling_result(self, path: str):
        with self.tracer.span("io.sources.file_geojson_stream"):
            src = sources.file_geojson_stream(self.spark, path, max_files_per_trigger=self.MAX_FILES)
        with self.tracer.span("operators.projections.project_railway_events"):
            ev = project_railway_events(src)
        with self.tracer.span("streaming.jobs.job_tumbling"):
            return sjobs.job_tumbling(ev)

    def new_sink(self, tag: str, count_rows: bool = False) -> TimedSink:
        sink = DuckDBUpsertSink(self.path(f"{tag}.duckdb"), "tumbling",
                                sjobs.TUMBLING_SINK_KEYS, sjobs.TUMBLING_SINK_SCHEMA)
        return TimedSink(sink, self.tracer, count_rows)

    def warm_query(self, rep: int, sink: TimedSink):
        return self.run_query(self.tumbling_result(self.path("warm", str(rep))), sink,
                              self.path("ckpt", f"warm{rep}"))

    def measure(self) -> dict:
        live = self.path("live")
        os.makedirs(live)
        manifest = self.path("live-manifest.json")
        total_s = self.LEAD_S + self.seconds
        self.timed = self.new_sink("live", count_rows=self.trace)
        q = self.run_query(self.tumbling_result(live), self.timed, self.path("ckpt", "live"),
                           available_now=False)
        start_at = time.time() + 0.5
        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(self.seed),
             "--out", live, "--rate", str(self.RATE), "--tick", str(self.TICK),
             "--speedup", str(self.SPEEDUP), "--seconds", str(total_s),
             "--manifest", manifest, "--start-at", repr(start_at)])
        if self.gen_cpus:
            os.sched_setaffinity(gen_proc.pid, self.gen_cpus)
        self.sampler.exclude = {gen_proc.pid}
        self.sampler.reset()  # drop any sample taken before the generator was excluded
        try:
            gen_proc.wait(timeout=total_s + 60)
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
        if gen_proc.returncode != 0:
            q.stop()
            raise CheckFailed(f"generator exited with {gen_proc.returncode}")
        with open(manifest) as f:
            self.manifest = m = json.load(f)
        self.drain(q, m)
        self.progress = executed(q.recentProgress)
        q.stop()
        m0 = m["wall0"] + self.LEAD_S
        self.window = (m0, m0 + self.seconds)
        self.streaming_layers(self.progress, self.timed, str(q.runId))
        return self.live_metrics(m)

    @staticmethod
    def closed_before_end(m: dict) -> int:
        """End (epoch ms) of the last window the final watermark closes."""
        return m["max_event_ms"] - m["max_event_ms"] % 60_000

    def drain(self, q, m: dict) -> None:
        """Wait until every generated file is committed and the batch that
        emits the last closed window has gone through the sink."""
        n_events = sum(n for _, _, n in m["files"])
        last_end = self.closed_before_end(m)
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while time.time() < deadline:
            prog = executed(q.recentProgress)
            if sum(p["numInputRows"] for p in prog) >= n_events:
                b = attribute_windows(prog, [last_end])[last_end]
                if b is not None and any(c["batch_id"] == b for c in self.timed.calls):
                    return
            time.sleep(0.05)
        self.problems.append("engine did not drain the live input in time")

    def window_wall(self, m: dict, event_ms: int) -> float:
        """Wall time at which the generator's event clock passed ``event_ms``."""
        return m["wall0"] + (event_ms - m["event_t0_ms"]) / 1000.0 / m["speedup"]

    def live_metrics(self, m: dict) -> dict:
        self.layer["gen.late_max_ms"] = m["late_max_ms"]
        if m["late_max_ms"] > m["tick"] * 1000:
            self.problems.append(f"generator lagged {m['late_max_ms']:.0f} ms (> one tick)")
        per_end: dict[int, int] = {}
        for k in m["counts"]:
            end = int(k.split("|")[1]) + 60_000
            per_end[end] = per_end.get(end, 0) + 1
        closed = sorted(e for e in per_end if e <= self.closed_before_end(m))
        emitted_by = attribute_windows(self.progress, closed)
        sink_end = {c["batch_id"]: c["end"] for c in self.timed.calls}
        m0, m1 = self.window
        lats = []
        for e in closed:
            wall_end = self.window_wall(m, e)
            if not m0 <= wall_end < m1:
                continue
            b = emitted_by[e]
            if b not in sink_end:
                self.problems.append(f"window ending at {e} ms was never emitted")
                continue
            lats += [(sink_end[b] - wall_end) * 1000.0] * per_end[e]
        self.backlog(m)
        last_data = max(p["batchId"] for p in self.progress if p["numInputRows"] > 0)
        n_events = sum(n for _, _, n in m["files"])
        if not supports(len(lats), 0.5):
            raise CheckFailed(f"only {len(lats)} window results in the measured window")
        if supports(len(lats), 0.9):
            self.layer["result_latency_p90_ms"] = checked_quantile(lats, 0.9)
        # events in, over the time from the generator's start until the last
        # of them is visible in the sink
        return {"latency_ms": checked_quantile(lats, 0.5),
                "throughput_per_s": n_events / (sink_end[last_data] - m["wall0"])}

    def backlog(self, m: dict) -> None:
        """Files landed but not yet committed, sampled at each batch's commit;
        a backlog that keeps growing means the rate is not sustainable."""
        per_file = m["files"][0][2]
        landed = sorted(f[1] for f in m["files"])
        sink_end = {c["batch_id"]: c["end"] for c in self.timed.calls}
        done, samples = 0, []
        for p in sorted(self.progress, key=lambda p: p["batchId"]):
            done += p["numInputRows"] // per_file
            t = sink_end.get(p["batchId"])
            if t is not None and self.window[0] <= t < self.window[1]:
                samples.append(sum(1 for x in landed if x <= t) - done)
        self.layer["source.backlog_files_max"] = max(samples, default=0)
        third = max(len(samples) // 3, 1)
        if len(samples) >= 3 and max(samples[-third:]) > 2 * max(samples[:third]) + 2:
            self.problems.append(f"backlog kept growing: {samples}")

    def check(self) -> None:
        """Sink rows equal the generator's own per-(class, minute) counts for
        every window the final watermark closed."""
        m = self.manifest
        _, rows = self.timed.sink.read_all()
        got = {}
        for cls, cnt, start, _ in rows:
            got[f"{cls}|{gen.epoch_ms(start)}"] = cnt
        last_end = self.closed_before_end(m)
        want = {k: v for k, v in m["counts"].items() if int(k.split("|")[1]) + 60_000 <= last_end}
        self.attempted = len(want)
        wrong = sum(1 for k, v in want.items() if got.get(k) != v)
        extra = sum(1 for k in got if k not in want)
        self.failed = wrong + extra
        if self.failed:
            self.problems.append(f"{wrong} windows wrong or missing, {extra} unexpected")
        elif self.problems:
            self.failed = self.attempted


class SlidingReplay(Workload):
    """Drain: parquet replay files, one per micro-batch with availableNow,
    through file_events_stream -> job_sliding -> DuckDBUpsertSink (the CLI's
    ``--source file`` path). One output row per input event, so the Python
    stateful operator and the sink's toPandas -> DuckDB upsert do the work."""

    name = "sliding_replay"
    state_prefix = "state.sliding"
    measured_setup = True
    PER_FILE = 2500
    SECONDS_PER_FILE = 10  # backlog files per run = seconds / this, at least 1

    def prepare(self) -> None:
        n_files = max(1, self.seconds // self.SECONDS_PER_FILE)
        self.ids, self.classes, self.rowtime = gen.replay_backlog(
            self.seed, self.path("backlog"), n_files, self.PER_FILE)
        gen.events_table(self.path("tables"), self.ids, self.classes, self.rowtime)
        for rep in range(SETUP_REPS):
            gen.replay_backlog(self.seed + 1000 + rep, self.path("warm", str(rep)), 1, self.PER_FILE)

    def sliding_query(self, path: str, sink: TimedSink, ckpt: str):
        with self.tracer.span("io.sources.file_events_stream"):
            src = sources.file_events_stream(self.spark, path, REPLAY_SCHEMA, max_files_per_trigger=1)
        with self.tracer.span("streaming.jobs.job_sliding"):
            res = sjobs.job_sliding(src)
        return self.run_query(res, sink, ckpt)

    def new_sink(self, tag: str, count_rows: bool = False) -> TimedSink:
        sink = DuckDBUpsertSink(self.path(f"{tag}.duckdb"), "sliding",
                                sjobs.SLIDING_SINK_KEYS, sjobs.SLIDING_SINK_SCHEMA)
        return TimedSink(sink, self.tracer, count_rows)

    def warm_query(self, rep: int, sink: TimedSink):
        return self.sliding_query(self.path("warm", str(rep)), sink, self.path("ckpt", f"warm{rep}"))

    def start_measured(self) -> None:
        self.timed = self.new_sink("replay", count_rows=self.trace)
        self.t_query = time.time()
        self.query = self.sliding_query(self.path("backlog"), self.timed, self.path("ckpt", "replay"))
        wait_first_commit(self.query, self.timed)

    def measure(self) -> dict:
        q, t0 = self.query, self.t_query
        if not q.awaitTermination(150):
            q.stop()
            raise CheckFailed("sliding drain did not finish in time")
        t1 = time.time()
        self.window = (t0, t1)
        self.progress = executed(q.recentProgress)
        self.streaming_layers(self.progress, self.timed, str(q.runId))
        trig = [p["durationMs"]["triggerExecution"] for p in self.progress if p["numInputRows"] > 0]
        # One or two batches per run, too few for a median with ten samples
        # beyond it: report their mean.
        return {"latency_ms": statistics.fmean(trig),
                "throughput_per_s": len(self.ids) / (t1 - t0)}

    def check(self) -> None:
        """Sink rows equal the trailing 30-minute per-class count computed with
        numpy from the generated events. The traced run also runs the
        registry's batch form of the same query over the same events, timed as
        the registry layer, and checks it against the same counts."""
        import numpy as np

        con = duckdb.connect(self.timed.sink.db_path, read_only=True)
        try:
            got = con.execute(
                "SELECT event_id, railway_class, epoch_us(rowtime) AS us, railway_class_count "
                "FROM sliding ORDER BY event_id").fetchnumpy()
        finally:
            con.close()
        self.attempted = len(self.ids)
        if not np.array_equal(got["event_id"], self.ids):
            self.failed = self.attempted
            self.problems.append(f"sink holds {len(got['event_id'])} rows for {len(self.ids)} events")
            return
        want = gen.trailing_counts(self.classes, self.rowtime)
        bad = ((got["railway_class_count"] != want) | (got["us"] != self.rowtime)
               | (got["railway_class"].astype(str) != self.classes))
        self.failed = int(bad.sum())
        if self.failed:
            self.problems.append(f"{self.failed} sliding counts differ from the reference")
        if self.trace:
            self.failed = max(self.failed, self.batch_form_mismatches(want))

    def batch_form_mismatches(self, want) -> int:
        import numpy as np

        query = registry.queries()[BATCH_QUERY]
        self.spark.sparkContext.setJobGroup("batch-form", BATCH_QUERY)
        t0 = time.perf_counter()
        with self.tracer.span(f"registry.{BATCH_QUERY}.construct"):
            df = query(self.spark, self.path("tables"))
        t1 = time.perf_counter()
        with self.tracer.span(f"registry.{BATCH_QUERY}.execute"):
            pdf = df.toPandas().sort_values("event_id")
        t2 = time.perf_counter()
        self.layer["registry.construct_ms"] = (t1 - t0) * 1000
        self.layer["registry.execute_ms"] = (t2 - t1) * 1000
        self.layer["registry.jobs"] = self.group_jobs("batch-form")[0]
        if not np.array_equal(pdf["event_id"].to_numpy(), self.ids):
            self.problems.append(f"{BATCH_QUERY} returned {len(pdf)} rows for {len(self.ids)} events")
            return len(self.ids)
        bad = int((pdf["railway_class_count"].to_numpy() != want).sum())
        if bad:
            self.problems.append(f"{bad} rows of {BATCH_QUERY} differ from the reference")
        return bad


WORKLOADS = {w.name: w for w in (TumblingLive, SlidingReplay)}
