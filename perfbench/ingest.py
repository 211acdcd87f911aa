"""The ``ingest_backlog`` workload: a consumer catching up on a backlog.

The stream is the one ``streaming/app.py`` builds: ``read_file_flows`` with
its default of one file per trigger, ``normalized_stream`` and
``start_clickhouse_export``. There is no ClickHouse server here, so the
writer handed to the export appends each micro-batch to parquet under
``batch_id=<n>``; the read-back check reads that table.
"""

from __future__ import annotations

import os
import statistics
import time

import flowgen
import procfs
import sparkstore
from stats import timing_summary

# 600k messages in files of 25k lines. A 1M-message backlog drains in about
# 28 s on 4 cores, which leaves no room in the benchmark's time budget for
# the warm-up that the drain rate needs.
FILES = 24
LINES_PER_FILE = 25_000
WARM_FILES = 2
# The drain rate of a fresh process keeps rising over its first four to six
# drains. A fixed count, not a stop-when-no-faster rule: stopping at the
# first noisy drain would start the timed region at a different state of the
# JIT compiler from run to run.
WARM_DRAINS = 6


def make_inputs(work: str, seed: int) -> dict:
    """The backlog and a smaller warm-up backlog, both from ``seed``."""
    return {
        "backlog": flowgen.write_backlog(f"{work}/backlog", seed, FILES, LINES_PER_FILE),
        "warm": flowgen.write_backlog(f"{work}/warm", seed + 1, WARM_FILES, LINES_PER_FILE),
    }


class Drain:
    """One ``availableNow`` drain of a directory, from an empty checkpoint.
    A query that fails sets ``error`` instead of raising."""

    def __init__(self, spark, src: str, work: str, observe: bool = False):
        from pyspark.errors import StreamingQueryException

        from kafka_clickhouse_example_spark.sinks.clickhouse import start_clickhouse_export
        from kafka_clickhouse_example_spark.sources.kafka import read_file_flows
        from kafka_clickhouse_example_spark.streaming import pipeline

        self.out = f"{work}/sink"
        self.writes: list[tuple[int, float, float]] = []
        self.cpu_marks: list[float] = []  # work CPU at each sink return
        normalize = pipeline.normalized_stream_observed if observe else pipeline.normalized_stream
        flows = normalize(read_file_flows(spark, src))

        def writer(df, batch_id: int) -> None:
            t = time.perf_counter()
            df.write.mode("append").parquet(f"{self.out}/batch_id={batch_id}")
            self.writes.append((batch_id, t, time.perf_counter()))
            self.cpu_marks.append(procfs.work_cpu_s(pid))

        pid = os.getpid()
        self.cpu0 = procfs.work_cpu_s(pid)
        self.t0 = time.perf_counter()
        query = start_clickhouse_export(flows, f"{work}/checkpoint", writer, trigger_available_now=True)
        try:
            query.awaitTermination()
            self.error = None
        except StreamingQueryException as e:
            self.error = f"drain of {src} failed: {str(e).splitlines()[0]}"
        self.t1 = time.perf_counter()
        self.cpu1 = procfs.work_cpu_s(pid)
        self.progress = [p for p in query.recentProgress if p["numInputRows"] > 0]

    @property
    def failed(self) -> bool:
        return self.error is not None

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def cpu_s(self) -> float:
        return self.cpu1 - self.cpu0

    def batch_cpu_s(self) -> list[float]:
        """Work CPU (``procfs.work_cpu_s``) between consecutive sink
        returns, per batch."""
        marks = [self.cpu0] + self.cpu_marks
        return [b - a for a, b in zip(marks, marks[1:])]

    @property
    def rows_in(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)

    def durations(self, *keys: str) -> list[float]:
        return [sum(p["durationMs"].get(k, 0) for k in keys) for p in self.progress]


def check_sink(spark, drain: Drain, expect: dict) -> tuple[dict, list[str]]:
    """Read the sink table back and compare it with the generator's
    expectation; returns the read-back aggregates and one message per
    mismatch. Every aggregate is a whole number, compared exactly: the time
    sums are taken relative to T0_MS, so a double holds them without loss."""
    from pyspark.sql import functions as F

    t0 = F.lit(float(flowgen.T0_MS))
    strings = ("src_ip", "dst_ip", "src_name", "dst_name", "src_kind", "dst_kind",
               "src_namespace", "dst_namespace")
    r = (
        spark.read.parquet(drain.out)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("bytes").alias("sum_bytes"),
            F.sum("packets").alias("sum_packets"),
            F.sum(F.col("start") - t0).alias("sum_start_off"),
            F.sum(F.col("end") - t0).alias("sum_end_off"),
            F.sum((F.col("src_kind") == "").cast("long")).alias("no_k8s"),
            *[F.sum(F.crc32(F.col(c).cast("binary"))).alias(f"crc_{c}") for c in strings],
        )
        .first()
        .asDict()
    )
    bad = [f"{k}: sink {r[k]!r} != expected {v!r}" for k, v in expect.items()
           if k != "dropped" and r[k] != v]
    lines = expect["rows"] + expect["dropped"]
    if drain.rows_in != lines:
        bad.append(f"rows read {drain.rows_in} != lines written {lines}")
    return r, bad


def warm(spark, work: str) -> list[float]:
    """Drain the warm-up backlog WARM_DRAINS times; returns the drain rates
    in rows/s (recorded, so a run shows whether it was still speeding up).
    A failure here is a failed set-up and ends the run."""
    rates = []
    for i in range(WARM_DRAINS):
        d = Drain(spark, f"{work}/warm", f"{work}/warm-run{i}")
        if d.failed:
            raise RuntimeError(d.error)
        rates.append(d.rows_in / d.wall_s)
    return rates


def measure(spark, work: str, expect: dict, seconds: float, warm_rate: float) -> dict:
    """Drain the full backlog as many times as fit in ``seconds`` (at least
    once), each from an empty checkpoint; check every sink afterwards.
    A micro-batch is the operation: its wall is the progress record's
    triggerExecution and its CPU the work CPU between sink returns; both are
    reported as medians over the batches of the drains that succeeded. A
    failed drain or a failed check counts as one failed operation."""
    n = max(1, round(seconds / (FILES * LINES_PER_FILE / warm_rate)))
    t0 = time.perf_counter()
    drains = [Drain(spark, f"{work}/backlog", f"{work}/run{i}") for i in range(n)]
    window = (t0, time.perf_counter())
    problems = [d.error for d in drains if d.failed]
    ok = [d for d in drains if not d.failed]
    for d in ok:
        problems += check_sink(spark, d, expect)[1]
    batch_ms = [t for d in ok for t in d.durations("triggerExecution")]
    batch_cpu_ms = [1e3 * c for d in ok for c in d.batch_cpu_s()]
    wall = sum(d.wall_s for d in ok)
    cpu = sum(d.cpu_s for d in ok)
    rows = sum(d.rows_in for d in ok)
    return {
        "window": window,
        "drains": drains,
        "problems": problems,
        "attempted": len(batch_ms) + len(drains),
        "failed": len(problems),
        "op_wall_ms": statistics.median(batch_ms),
        "op_cpu_ms": statistics.median(batch_cpu_ms),
        "rows_per_s": rows / wall,
        "cpu_us_per_row": 1e6 * cpu / rows,
        "batch_ms": batch_ms,
        "batch_cpu_ms": batch_cpu_ms,
        "batch_latency_ms": timing_summary(batch_ms),
    }


def observed_counts(d: Drain) -> tuple[int, int]:
    """(raw messages in, flows out) summed over the drain, from the observe()
    metrics of ``normalized_stream_observed``."""
    n_raw = n_flows = 0
    for p in d.progress:
        om = p["observedMetrics"]
        n_raw += int(om["ingest"]["n_raw"])
        n_flows += int(om["normalize"]["n_flows"])
    return n_raw, n_flows


def normalize_busy_ms(spark, path: str, repeats: int = 5) -> float:
    """``flows_from_json`` alone over one materialized file of messages: the
    median wall of decoding and normalizing it into a no-op sink."""
    from kafka_clickhouse_example_spark.operators.normalize import flows_from_json

    raw = spark.read.text(path).localCheckpoint(eager=True)
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        flows_from_json(raw).write.format("noop").mode("overwrite").save()
        times.append(1e3 * (time.perf_counter() - t))
    return statistics.median(times)


def traced(spark, work: str, expect: dict, rec, cores: int) -> dict:
    """The traced ingest run: an untraced drain, then the same drain with
    observe() metrics, spans and status-store reads, the decode/normalize
    micro-measurement and the row-count checks of the traced drain."""
    plain = Drain(spark, f"{work}/backlog", f"{work}/trace-plain")
    last_job = sparkstore.max_job_id(spark)
    d = Drain(spark, f"{work}/backlog", f"{work}/trace-observed", observe=True)
    root = rec.add("ingest.drain", d.t0, d.t1)
    # One span per micro-batch, ending when its sink call returned, with
    # children laid out from the progress record's durationMs.
    for p, (bid, ws, we) in zip(d.progress, d.writes):
        ms = p["durationMs"]
        t = we - ms["triggerExecution"] / 1e3
        b = rec.add("streaming.batch", t, we, parent=root, batch=bid)
        for key, name in (
            ("latestOffset", "sources.list"), ("getBatch", "sources.list"),
            ("queryPlanning", "streaming.planning"), ("addBatch", "sinks.add_batch"),
            ("walCommit", "streaming.commit"), ("commitOffsets", "streaming.commit"),
        ):
            dur = ms.get(key, 0) / 1e3
            idx = rec.add(name, t, t + dur, parent=b)
            if key == "addBatch":
                rec.add("sinks.writer", ws, we, parent=idx)
            t += dur
    jobs = sparkstore.jobs_since(spark, last_job)
    med = statistics.median
    out = {
        "sources.rows_in": d.rows_in,
        "sources.files_per_batch": FILES / len(d.progress),
        "sources.list_ms": med(d.durations("latestOffset", "getBatch")),
        "streaming.batches": len(d.progress),
        "streaming.rows_per_batch": d.rows_in / len(d.progress),
        "streaming.planning_ms": med(d.durations("queryPlanning")),
        "streaming.commit_ms": med(d.durations("walCommit", "commitOffsets")),
        "streaming.trigger_ms_p50": med(d.durations("triggerExecution")),
        "streaming.cores_busy_frac": d.cpu_s / (d.wall_s * cores),
        "sinks.write_calls": len(d.writes),
        "sinks.write_ms": med([1e3 * (e - s) for _, s, e in d.writes]),
        "sinks.add_batch_ms": med(d.durations("addBatch")),
    }
    out["sources.tasks_per_batch"] = sum(j["tasks"] for j in jobs) / len(d.progress)
    n_raw, n_flows = observed_counts(d)
    out["normalize.rows_out"] = n_flows
    out["normalize.rows_dropped"] = n_raw - n_flows
    sink, problems = check_sink(spark, d, expect)
    out["sinks.rows_written"] = sink["rows"]
    if n_raw - n_flows != expect["dropped"]:
        problems.append(f"dropped {n_raw - n_flows} != malformed generated {expect['dropped']}")
    with rec.span("operators.normalize.microbench"):
        out["normalize.busy_ms"] = normalize_busy_ms(spark, f"{work}/backlog/part-00000.json")
    return {
        "metrics": out,
        "problems": problems + [x.error for x in (plain, d) if x.failed],
        "attempted": len(d.progress) + 2,  # micro-batches, the read-back and the drop count
        "untraced_drain_s": plain.wall_s,
        "traced_drain_s": d.wall_s,
    }
