"""``order_stream``: the streaming order ETL, end to end.

A seeded generator (one thread) drops nested order JSON files into a
watched directory. Two queries read it, like the reference's two Flink
jobs:

- stage 1: ``etl_pipeline_with_dlq`` whose writer runs
  ``parse_order_strings_with_rejects`` → ``flatten_order_lines`` and
  appends the lines and the dead-letter queue (DLQ) to parquet;
- stage 2: ``parse_order_strings`` → ``flatten_order_lines`` →
  ``windowed_stats`` (1-minute windows per ship state, 30 s watermark,
  update mode) into a parquet sink.

The timed part has two phases. The **drain** is closed loop: both queries
start on an empty directory, a fixed backlog is moved in at once, and the
clock stops when both have committed all of it. The **paced** phase is
open loop: for ``--seconds`` the generator drops one file every
``PACED_PERIOD_S``, a rate well below drain capacity, and each file's
latency runs from the time it was due to the return of the stage-1 sink
write that holds it. A file is one latency sample: its orders share
both ends (see ``stats.file_latencies``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from urllib.parse import urlparse

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
import procstat
import stats
from flink_learning_practise_spark.plans import order_etl
from flink_learning_practise_spark.sinks.streaming import foreach_batch_sink
from flink_learning_practise_spark.sources.streaming import file_stream_source
from flink_learning_practise_spark.streaming import pipeline

# The file source reads at most MAX_FILES files a micro-batch: the drain
# backlog then goes in 5 batches of 5,000 orders, and a paced batch (~13
# files) is not held back by the cap.
MAX_FILES = 20
# The warm-up runs one drain-sized batch: after a small one the first drain
# batches still ran 50-80% slower than the last (JIT warm-up).
WARM_FILES, DRAIN_FILES, DRAIN_PER_FILE = 20, 100, 250
# 400 orders/s, ~1/5 of drain rate, in small files so that the paced phase
# holds enough latency samples: 150 files at --seconds 15, which support p90
# and fall in ~15 stage-1 commit batches
PACED_PER_FILE, PACED_PERIOD_S = 40, 0.1
WATERMARK = "30 seconds"
DRAIN_TIMEOUT_S = 120
# per-layer metrics of layers this workload does no work in; they read 0
NO_WORK = (
    "plans.build_s", "plans.build_jobs", "catalyst.plan_ms", "exec.s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "exec.task_cpu_s", "tiers.doc_shingle_tier.build_s",
    "tiers.gate_features_tier.build_s", "tiers.ppjoin_pair_tier.build_s",
    "tiers.cc_labels_tier.build_s",
)


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` of every query, as parsed JSON,
    keyed by query id."""

    def __init__(self):
        self._lock = threading.Lock()
        self._by_query: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self._by_query.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def progress(self, query_id) -> list[dict]:
        with self._lock:
            return list(self._by_query.get(str(query_id), []))

    def rows_in(self, query_id) -> int:
        return sum(p["numInputRows"] for p in self.progress(query_id))


class Pipelines:
    """Both stage queries over the drop directories under ``root``, with the
    stage-1 sink timings the latency and sink metrics need.

    The queries watch the glob ``in-*``: ``in-paced``, where the generator
    drops files one at a time, and ``in-backlog``, which appears with one
    rename holding every staged file. Moving a backlog in file by file let a
    listing catch part of it, which cost an extra micro-batch in a quarter
    of the runs."""

    def __init__(self, spark, root: str):
        self.root = root
        self.src = os.path.join(root, "in-*")
        self.paced_dir = os.path.join(root, "in-paced")
        self.staged_dir = os.path.join(root, "staged")
        os.makedirs(self.paced_dir)
        os.makedirs(self.staged_dir)
        self.lines_dir = os.path.join(root, "lines")
        self.dlq_dir = os.path.join(root, "dlq")
        self.stats_dir = os.path.join(root, "stats")
        self.ckpt1 = os.path.join(root, "ckpt1")
        self.commit_at: list[float] = []  # stage-1 sink return, per batch
        self.lines_write_s: list[float] = []
        self.dlq_write_s: list[float] = []
        self._spark = spark
        self.q1 = self.q2 = None

    def start(self) -> None:
        spark = self._spark

        def write_stage1(batch) -> None:
            parsed, rejects = order_etl.parse_order_strings_with_rejects(batch)
            t0 = time.perf_counter()
            order_etl.flatten_order_lines(parsed).write.mode("append").parquet(
                self.lines_dir)
            t1 = time.perf_counter()
            rejects.write.mode("append").parquet(self.dlq_dir)
            t2 = time.perf_counter()
            self.lines_write_s.append(t1 - t0)
            self.dlq_write_s.append(t2 - t1)
            self.commit_at.append(t2)

        self.q1 = pipeline.etl_pipeline_with_dlq(
            file_stream_source(spark, self.src, "value STRING", fmt="text",
                               max_files_per_trigger=MAX_FILES),
            # every raw line goes to the parser, whose rejects are the DLQ
            validity=F.lit(True),
            transform=lambda batch: batch,
            main_writer=write_stage1,
            error_writer=lambda batch: None,
            checkpoint=self.ckpt1,
        )

        def write_stage2(batch, batch_id: int) -> None:
            batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                self.stats_dir)

        lines = order_etl.flatten_order_lines(order_etl.parse_order_strings(
            file_stream_source(spark, self.src, "value STRING", fmt="text",
                               max_files_per_trigger=MAX_FILES)))
        windows = pipeline.windowed_stats(
            lines, "order_ts", "1 minute", keys=["ship_state"],
            aggs=[F.count(F.lit(1)).alias("n_lines"),
                  F.sum("line_charge_amount").alias("charges")],
            watermark_delay=WATERMARK,
        )
        self.q2 = foreach_batch_sink(
            windows, write_stage2, os.path.join(self.root, "ckpt2"), mode="update"
        ).start()

    def stage(self, batches, prefix: str) -> None:
        """Write drop files where the queries do not look yet."""
        for k, b in enumerate(batches):
            gen.drop_file(self.staged_dir, f"{prefix}-{k:05d}.json", b)

    def release(self) -> None:
        """Move every staged file in at once."""
        os.rename(self.staged_dir, os.path.join(self.root, "in-backlog"))

    def wait_committed(self, log: ProgressLog, n_orders: int) -> None:
        """Block until both queries have read ``n_orders`` lines and
        committed them."""
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        for q in (self.q1, self.q2):
            while log.rows_in(q.id) < n_orders:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                if time.monotonic() > deadline:
                    return
                q.awaitTermination(0.01)

    def wait_idle(self) -> None:
        """Block until both queries have started and found no input."""
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        for q in (self.q1, self.q2):
            while (q.status["message"] != "Waiting for data to arrive"
                   and time.monotonic() < deadline):
                time.sleep(0.01)

    def stop(self) -> None:
        """Stop both queries between triggers: interrupting a running batch
        aborts its state-store commit and floods the log."""
        for q in (self.q1, self.q2):
            if q is None:
                continue
            deadline = time.monotonic() + 10
            while q.status["isTriggerActive"] and time.monotonic() < deadline:
                time.sleep(0.01)
            q.stop()

    def batch_of_file(self) -> dict[str, int]:
        """Drop-file name → stage-1 micro-batch that read it, from the
        file source's own log in the checkpoint."""
        out: dict[str, int] = {}
        log_dir = os.path.join(self.ckpt1, "sources", "0")
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(urlparse(e["path"]).path)] = e["batchId"]
        return out


class Generator(threading.Thread):
    """Open-loop producer: drops file ``k`` at ``start + k·period``
    whatever the system is doing, and records how late it ran."""

    def __init__(self, directory: str, batches, start: float, sample_backlog):
        super().__init__(name="perfbench-generator", daemon=True)
        self.directory = directory
        self.batches = batches
        self.due = stats.due_times(start, PACED_PERIOD_S, len(batches))
        self.written: list[float] = []
        self.backlog_max = 0
        self._sample_backlog = sample_backlog

    def run(self) -> None:
        for k, (due, b) in enumerate(zip(self.due, self.batches)):
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            gen.drop_file(self.directory, f"p-{k:05d}.json", b)
            self.written.append(time.perf_counter())
            self.backlog_max = max(self.backlog_max, self._sample_backlog(k + 1))

    def names(self) -> list[str]:
        return [f"p-{k:05d}.json" for k in range(len(self.batches))]


def _phase_durations(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"].get(key, 0) for p in progress if p["numInputRows"] > 0]


def run(spark, work: str, seed: int, seconds: int, trace: bool, sampler) -> dict:
    """One measured run; returns the result record for ``run.py``."""
    log = ProgressLog()
    spark.streams.addListener(log)

    # warm-up: the identical pipelines over their own directory pay codegen
    warm = Pipelines(spark, os.path.join(work, "warm"))
    warm.stage(gen.order_batches(seed + 1, 0, WARM_FILES, DRAIN_PER_FILE), "w")
    warm.start()
    warm.release()
    warm.wait_committed(log, WARM_FILES * DRAIN_PER_FILE)
    warm.stop()

    # input staging: the drain backlog and the paced files, generated up
    # front; the timed queries start on an empty directory
    timed = Pipelines(spark, os.path.join(work, "timed"))
    drain_batches = list(gen.order_batches(seed, 0, DRAIN_FILES, DRAIN_PER_FILE))
    n_drain = DRAIN_FILES * DRAIN_PER_FILE
    n_paced_files = round(seconds / PACED_PERIOD_S)
    paced_batches = list(gen.order_batches(seed, n_drain, n_paced_files, PACED_PER_FILE))
    timed.stage(drain_batches, "d")
    timed.start()
    timed.wait_idle()
    setup_done = time.perf_counter()

    # drain: closed loop over the backlog, moved in at once
    cpu0 = sampler.snapshot()
    jit0 = procstat.jvm_jit_s(spark)
    t0 = time.perf_counter()
    timed.release()
    timed.wait_committed(log, n_drain)
    drain_s = time.perf_counter() - t0
    jit_drain_s = procstat.jvm_jit_s(spark) - jit0
    drain_batches_n = len(timed.commit_at)

    # paced: open loop at a fixed rate
    def backlog(files_written: int) -> int:
        done = min(log.rows_in(timed.q1.id), log.rows_in(timed.q2.id)) - n_drain
        return files_written - done // PACED_PER_FILE

    producer = Generator(timed.paced_dir, paced_batches, time.perf_counter() + PACED_PERIOD_S,
                         backlog)
    producer.start()
    producer.join()
    n_total = n_drain + n_paced_files * PACED_PER_FILE
    timed.wait_committed(log, n_total)
    cpu1 = sampler.snapshot()
    timed.stop()

    # correctness
    every = drain_batches + paced_batches
    want_lines = sum(b.n_valid_lines for b in every)
    want_dlq = sum(b.n_malformed for b in every)
    got_lines = spark.read.parquet(timed.lines_dir).count()
    got_dlq = spark.read.parquet(timed.dlq_dir).count()
    p2 = log.progress(timed.q2.id)
    dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                  for p in p2 for s in p.get("stateOperators", []))
    # stage 2: the last update of every (window, state) must hold the lines
    # of the generated valid orders in it. No order is behind the watermark
    # (files arrive in order and lateness stays under it), so a dropped row
    # is a failure too.
    want_windows: dict[tuple[int, str], int] = {}
    for b in every:
        for key, n in b.window_lines.items():
            want_windows[key] = want_windows.get(key, 0) + n
    got_windows = {
        (r[0], r[1]): r[2] for r in spark.read.parquet(timed.stats_dir)
        .groupBy(F.unix_millis("window_start").alias("w"), "ship_state")
        .agg(F.max_by("n_lines", "batch_id")).collect()}
    windowed_off = sum(abs(got_windows.get(k, 0) - want_windows.get(k, 0))
                       for k in want_windows.keys() | got_windows.keys())
    batch_of = timed.batch_of_file()
    latencies, uncommitted = stats.file_latencies(
        [(name, due, PACED_PER_FILE) for name, due in zip(producer.names(), producer.due)],
        batch_of, timed.commit_at)
    failed = (uncommitted + abs(got_lines - want_lines) + abs(got_dlq - want_dlq)
              + windowed_off + dropped)
    checks = {
        "lines": [got_lines, want_lines], "dlq": [got_dlq, want_dlq],
        "windowed_lines_off": windowed_off, "windows": len(want_windows),
        "dropped_by_watermark": dropped, "uncommitted_orders": uncommitted,
    }

    lag_ms_max = max(stats.late_by(d, w) for d, w in zip(producer.due, producer.written)) * 1000
    p1 = log.progress(timed.q1.id)
    drain1, drain2 = p1[:_n_batches(p1, n_drain)], p2[:_n_batches(p2, n_drain)]
    lat_ms = [x * 1000 for x in latencies]
    e2e = {
        "throughput_per_s": n_drain / drain_s,
        "latency_p50_ms": stats.percentile(lat_ms, 50),
        "cpu_ms_per_unit": (cpu1.cpu_s - cpu0.cpu_s) * 1000 / n_total,
    }
    layers = {}
    if trace:
        state = [s for p in p2 for s in p.get("stateOperators", [])]
        drain_both = drain1 + drain2
        layers = {
            "stream.stage1.add_batch_ms": stats.median(_phase_durations(drain1, "addBatch")),
            "stream.stage2.add_batch_ms": stats.median(_phase_durations(drain2, "addBatch")),
            "stream.trigger_ms": stats.median(_phase_durations(drain_both, "triggerExecution")),
            "stream.query_planning_ms": stats.median(
                _phase_durations(drain_both, "queryPlanning")),
            "source.latest_offset_ms": stats.median(
                _phase_durations(drain_both, "latestOffset")),
            "source.get_batch_ms": stats.median(_phase_durations(drain_both, "getBatch")),
            "sink.commit_ms": stats.median(
                [a + b for a, b in zip(_phase_durations(drain_both, "walCommit"),
                                       _phase_durations(drain_both, "commitOffsets"))]),
            "sink.lines_write_s": sum(timed.lines_write_s[:drain_batches_n]),
            "sink.dlq_write_s": sum(timed.dlq_write_s[:drain_batches_n]),
            "state.rows_max": max((s["numRowsTotal"] for s in state), default=0),
            "state.memory_mb_max": max((s["memoryUsedBytes"] for s in state), default=0)
            / 2**20,
            "state.rows_dropped_late": dropped,
            "order_etl.reject_ratio": got_dlq / n_total,
            "source.backlog_files_max": producer.backlog_max,
            "generator.lag_ms_max": lag_ms_max,
            "stream.batches": len(p1),
            "stream.rows_per_batch": stats.median([p["numInputRows"] for p in p1
                                                   if p["numInputRows"] > 0]),
            "stream.latency_p90_ms": stats.percentile(lat_ms, 90),
            "python.worker_cpu_s": cpu1.worker_cpu_s - cpu0.worker_cpu_s,
            "jvm.jit_s": jit_drain_s,
            # the traced run adds no hook: the progress listener and sink
            # timings it reads are the ones every run collects for its checks
            "trace.overhead_pct": 0.0,
        }
    spark.streams.removeListener(log)
    return {
        "setup_done": setup_done,
        "attempted": n_total,
        "failed": failed,
        "checks": checks,
        "end_to_end": e2e,
        "layers": layers,
        "detail": {
            "drain_orders": n_drain, "drain_s": drain_s, "jit_drain_s": jit_drain_s,
            "paced_orders":
            n_paced_files * PACED_PER_FILE, "latency_samples": len(lat_ms),
            "latency_commit_batches": len({batch_of.get(n) for n in producer.names()}),
            "latency_p90_ms": stats.percentile(lat_ms, 90),
            "generator_lag_ms_max": lag_ms_max,
            "backlog_files_max": producer.backlog_max,
            "box_during_timed": procstat.box_share(cpu0, cpu1),
            "batches_rows_ms": {
                stage: [[p["numInputRows"], p["durationMs"].get("triggerExecution")]
                        for p in prog] for stage, prog in (("stage1", p1), ("stage2", p2))},
            "paced_phases_ms": {
                stage: {key: stats.median(_phase_durations(prog[len(drain):], key))
                        for key in ("triggerExecution", "addBatch", "latestOffset",
                                    "queryPlanning", "walCommit", "commitOffsets")}
                for stage, prog, drain in (("stage1", p1, drain1), ("stage2", p2, drain2))},
        },
    }


def _n_batches(progress: list[dict], n_rows: int) -> int:
    """How many leading batches it took to read the first ``n_rows``."""
    seen = 0
    for k, p in enumerate(progress):
        seen += p["numInputRows"]
        if seen >= n_rows:
            return k + 1
    return len(progress)
