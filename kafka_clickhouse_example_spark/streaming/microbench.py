"""Streaming throughput micro-bench: rows/s through the full streaming spine
(file source -> JSON decode -> normalize -> foreachBatch sink).

The reference never published a throughput number (BASELINE.md documents the
absence); this gives the streaming path its own perf series alongside the
batch bench (VERDICT r1 'Next round' #8). A file source stands in for the
Kafka broker the sandbox lacks — the decode/normalize/foreachBatch work per
row is identical; only the source connector differs (sources/kafka.py:30
keeps the real Kafka contract).

The spine is built by ``streaming.pipeline.normalized_stream`` — the same
function the app runs — so the number describes the production decode.
Measured work per row: one ``from_json`` parse against the flow schema,
12-column projection with missing-field defaults and narrowing casts (P1-P4),
then a per-batch count+hash over EVERY column in foreachBatch (the
ClickHouse sink stand-in's accounting, minus the network write).
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_example_spark.operators.normalize import decode_flows
from kafka_clickhouse_example_spark.streaming.pipeline import normalized_stream


def _consume_all(batch_df) -> int:
    """Count the batch while forcing EVERY column to be computed.

    A bare batch_df.count() lets Catalyst prune deterministic computed
    columns the count never reads — the decode survives (its corrupt-
    record filter changes the count) but the 12-column normalize
    projection (P1-P3: renames, missing-field defaults, narrowing casts)
    does not, so count-consumption measured a spine that skipped the
    normalize work a real sink pays (contrib/count_plan_audit.py, round
    8 — the batch-bench count()->noop-write fix, in foreachBatch form).
    XOR-folding xxhash64 over all columns consumes each one in the same
    single pass that counts the rows (bit_xor, not sum: summing 64-bit
    hashes overflows long under ANSI mode)."""
    row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*batch_df.columns)).alias("h"),
    ).collect()[0]
    return row["n"]


def streaming_throughput(
    spark: SparkSession,
    sf_dir: str,
    *,
    files: int = 32,
    repeat: int = 10,
) -> dict:
    """Run the spine once over the events-derived flow JSON; return
    {"rows": n, "wall_sec": t, "rows_per_sec": r}.

    The JSON corpus is materialized to local disk first (not timed — a real
    deployment's messages already sit in the broker), split into ``files``
    chunks so the file source schedules parallel tasks like a multi-partition
    Kafka topic (T3). Timing covers query start -> processAllAvailable, i.e.
    includes micro-batch scheduling overhead — the honest streaming number.
    """
    from kafka_clickhouse_example_spark.plans.flows import events_to_flow_json
    from kafka_clickhouse_example_spark.sources.catalog import load_compute_table

    workdir = tempfile.mkdtemp(prefix="kce-stream-bench-")
    json_dir = f"{workdir}/json"
    ckpt_dir = f"{workdir}/ckpt"
    try:
        raw = events_to_flow_json(load_compute_table(spark, sf_dir, "events"))
        # Amortize fixed micro-batch scheduling cost: at 100k rows the
        # single availableNow batch is dominated by constant startup, which
        # UNDERSTATES steady-state rows/s. Repeating the corpus (untimed —
        # a broker's backlog already exists) measures the sustained rate.
        for _ in range(max(0, repeat - 1)):
            raw = raw.union(events_to_flow_json(load_compute_table(spark, sf_dir, "events")))
        raw.repartition(files).write.mode("overwrite").text(json_dir)
        n_rows = spark.read.text(json_dir).count()

        seen = {"rows": 0}

        def sink(batch_df, batch_id) -> None:
            seen["rows"] += _consume_all(batch_df)

        # Same methodology as the query bench: one untimed warm-up run
        # (JIT/codegen/py-worker spin-up — measured 2-3x the steady rate
        # when the microbench runs cold at the END of a 188-query session),
        # then best-of-2 timed runs, each from a fresh checkpoint so every
        # run reprocesses the full corpus.
        wall = float("inf")
        for attempt in range(3):
            seen["rows"] = 0
            stream = spark.readStream.schema("value string").text(json_dir)
            flows = normalized_stream(stream)
            t0 = time.perf_counter()
            q = (
                flows.writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{ckpt_dir}-{attempt}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            elapsed = time.perf_counter() - t0
            if seen["rows"] != n_rows:
                raise RuntimeError(
                    f"streaming bench lost rows: {seen['rows']} != {n_rows}"
                )
            if attempt > 0:  # attempt 0 is the warm-up
                wall = min(wall, elapsed)

        # Per-micro-batch latency distribution (round-5 verdict ask #8):
        # the headline number above runs availableNow as ONE batch, which
        # can't attribute a throughput drift to batch-size change vs host
        # noise. A separate pass caps maxFilesPerTrigger so the same
        # corpus streams as ~8 micro-batches; each batch's wall is the
        # time from the previous foreachBatch return to this one's return
        # (processing + scheduling — the walls sum to the run's total).
        batch_log: list[dict] = []
        mark = {"t": 0.0}

        def dist_sink(batch_df, batch_id) -> None:
            rows = _consume_all(batch_df)
            now = time.perf_counter()
            batch_log.append(
                {
                    "batch_id": int(batch_id),
                    "rows": int(rows),
                    "wall_sec": round(now - mark["t"], 4),
                }
            )
            mark["t"] = now

        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", max(1, files // 8))
            .text(json_dir)
        )
        flows = normalized_stream(stream)
        mark["t"] = time.perf_counter()
        t0 = time.perf_counter()
        q = (
            flows.writeStream.foreachBatch(dist_sink)
            .option("checkpointLocation", f"{ckpt_dir}-dist")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dist_wall = time.perf_counter() - t0
        walls = sorted(b["wall_sec"] for b in batch_log)

        def pct(p: float) -> float:
            return walls[min(len(walls) - 1, int(p * len(walls)))] if walls else -1.0

        distribution = {
            "n_batches": len(batch_log),
            "rows_per_batch_mean": round(
                sum(b["rows"] for b in batch_log) / max(1, len(batch_log)), 1
            ),
            "wall_p50": pct(0.50),
            "wall_p95": pct(0.95),
            "wall_max": walls[-1] if walls else -1.0,
            "rows_per_sec_batched": round(n_rows / dist_wall, 1),
            "batches": batch_log,
        }

        # Per-stage attribution (round-6 verdict ask #2): the headline
        # number moves round-over-round (678k -> 626k -> 591k r4->r6) and
        # the flat batch distribution ruled out batch-shape causes without
        # naming the cost. Three cumulative availableNow runs decompose the
        # spine — source scan alone, scan+JSON decode, the full spine — so
        # a drift shows up as growth in a SPECIFIC stage delta (code cost)
        # or as uniform growth across all three (host speed, which the
        # bench-level canary then corrects). Every run is already warm
        # (the spine above executed the same corpus).
        def _timed_run(make_df, tag: str) -> float:
            stream = spark.readStream.schema("value string").text(json_dir)
            df = make_df(stream)
            t0 = time.perf_counter()
            q = (
                # same all-columns consumption as the spine sinks so the
                # three stage walls differ only by the stage under test
                df.writeStream.foreachBatch(lambda b, _i: _consume_all(b))
                .option("checkpointLocation", f"{ckpt_dir}-stage-{tag}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return round(time.perf_counter() - t0, 4)

        scan_sec = _timed_run(lambda s: s, "scan")
        decode_sec = _timed_run(decode_flows, "decode")
        full_sec = _timed_run(normalized_stream, "full")
        stage_profile = {
            "scan_sec": scan_sec,
            "scan_plus_decode_sec": decode_sec,
            "full_spine_sec": full_sec,
            "decode_delta_sec": round(decode_sec - scan_sec, 4),
            "normalize_delta_sec": round(full_sec - decode_sec, 4),
            # Each stage run consumes (count + xxhash) its OWN output, so
            # a delta mixes the added stage's cost with the change in
            # consumption width — normalize SHRINKS the row (12 typed
            # columns vs raw string + decoded struct), which can make its
            # delta negative. Deltas are drift instruments per stage
            # series, not absolute stage costs.
            "consumption": "count+xxhash over the stage's output columns",
        }

        return {
            "rows": n_rows,
            "wall_sec": round(wall, 4),
            "rows_per_sec": round(n_rows / wall, 1),
            "batch_distribution": distribution,
            "stage_profile": stage_profile,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
