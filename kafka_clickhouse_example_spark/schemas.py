"""Schemas: NetObserv flow input (in-flight JSON) and the flows table (at rest).

Reference data model (SURVEY.md §1):

- In-flight, a flow is a schemaless JSON object decoded to
  ``map[string]interface{}`` (reference pkg/kafka/decode_json.go:7-11); all
  JSON numbers arrive as float64, timestamps are epoch *milliseconds* carried
  as doubles (pkg/clickhouse/export_clickhouse.go:45-50).
- At rest, the single ``flows`` table has 12 columns and 3 physical types
  (pkg/clickhouse/connect.go:74-89): Float64 x2 (start/end epoch-ms),
  String x8 (identities), UInt32 x2 (bytes/packets counters).

Spark mapping: ``from_json`` against FLOW_INPUT_SCHEMA replaces the untyped
map — missing keys become NULLs (defaulted downstream, see operators.normalize)
and extra unknown keys are ignored, both matching reference behavior.
Numerics are DoubleType to mirror Go's float64-decoding of JSON numbers;
counters narrow to LongType on output (export_clickhouse.go:76,79 does
``int(v.(float64))``).

At 100 TB the explicit schema matters: schema inference would force a full
pre-scan per batch, and a typed struct keeps the decode in the JVM instead of
a per-row Python path.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Field vocabulary from the NetObserv console-plugin constants the reference
# consumes (vendor/.../pkg/model/fields/fields.go; SURVEY.md §1.3).
# Consumed by the exporter (export_clickhouse.go:45-80):
_CONSUMED_FIELDS: list[tuple[str, object]] = [
    ("TimeFlowStartMs", DoubleType()),
    ("TimeFlowEndMs", DoubleType()),
    ("SrcAddr", StringType()),
    ("DstAddr", StringType()),
    ("SrcK8S_Name", StringType()),
    ("DstK8S_Name", StringType()),
    ("SrcK8S_Type", StringType()),
    ("DstK8S_Type", StringType()),
    ("SrcK8S_Namespace", StringType()),
    ("DstK8S_Namespace", StringType()),
    ("Bytes", DoubleType()),
    ("Packets", DoubleType()),
]

# Present on real topics but ignored by the reference exporter (fields.go:6-42);
# carried in the schema so projection robustness ("extra fields ignored") is
# exercised, and so extensions can use them without a schema change.
_EXTRA_FIELDS: list[tuple[str, object]] = [
    ("SrcPort", DoubleType()),
    ("DstPort", DoubleType()),
    ("Proto", DoubleType()),
    ("SrcK8S_HostIP", StringType()),
    ("DstK8S_HostIP", StringType()),
    ("SrcK8S_HostName", StringType()),
    ("DstK8S_HostName", StringType()),
    ("SrcK8S_OwnerName", StringType()),
    ("DstK8S_OwnerName", StringType()),
    ("SrcK8S_OwnerType", StringType()),
    ("DstK8S_OwnerType", StringType()),
    ("FlowDirection", DoubleType()),
    ("Duplicate", StringType()),
    ("DnsId", DoubleType()),
    ("DnsLatencyMs", DoubleType()),
    ("TimeFlowRttNs", DoubleType()),
    ("PktDropBytes", DoubleType()),
    ("PktDropPackets", DoubleType()),
]

FLOW_INPUT_SCHEMA = StructType(
    [StructField(name, dtype, nullable=True) for name, dtype in _CONSUMED_FIELDS + _EXTRA_FIELDS]
)

# Output mapping, 1:1 with the reference projection
# (export_clickhouse.go:38-84; SURVEY.md §2 P1-P3):
#   (input_field, output_column, output_spark_type, default_when_missing)
# Defaults are Go zero values — the reference's `if v, ok :=` pattern yields
# "" / 0 for absent keys (export_clickhouse.go:45-80).
FLOW_FIELD_MAP: list[tuple[str, str, str, object]] = [
    ("TimeFlowStartMs", "start", "double", 0.0),
    ("TimeFlowEndMs", "end", "double", 0.0),
    ("SrcAddr", "src_ip", "string", ""),
    ("DstAddr", "dst_ip", "string", ""),
    ("SrcK8S_Name", "src_name", "string", ""),
    ("DstK8S_Name", "dst_name", "string", ""),
    ("SrcK8S_Type", "src_kind", "string", ""),
    ("DstK8S_Type", "dst_kind", "string", ""),
    ("SrcK8S_Namespace", "src_namespace", "string", ""),
    ("DstK8S_Namespace", "dst_namespace", "string", ""),
    ("Bytes", "bytes", "long", 0),
    ("Packets", "packets", "long", 0),
]

FLOWS_TABLE_SCHEMA = StructType(
    [
        StructField("start", DoubleType(), False),
        StructField("end", DoubleType(), False),
        StructField("src_ip", StringType(), False),
        StructField("dst_ip", StringType(), False),
        StructField("src_name", StringType(), False),
        StructField("dst_name", StringType(), False),
        StructField("src_kind", StringType(), False),
        StructField("dst_kind", StringType(), False),
        StructField("src_namespace", StringType(), False),
        StructField("dst_namespace", StringType(), False),
        StructField("bytes", LongType(), False),
        StructField("packets", LongType(), False),
    ]
)

FLOWS_COLUMNS = [f.name for f in FLOWS_TABLE_SCHEMA.fields]
