"""The reference's transform core: decode + projection/defaults/casts (P1-P4).

Reference behavior being reproduced (SURVEY.md §2.2):

- P4  undecodable record -> log + drop          (pkg/kafka/ingest_kafka.go:40-42)
- P1  12-field projection + rename              (pkg/clickhouse/export_clickhouse.go:38-84)
- P2  missing key -> Go zero value ("" / 0)     (export_clickhouse.go:45-80)
- P3  float64 -> int narrowing for counters     (export_clickhouse.go:76,79)

Spark-first design: the whole transform is native column expressions — no UDF,
no per-row Python — and is identical in batch and Structured Streaming.
``from_json`` in PERMISSIVE mode marks malformed input in a corrupt-record
column (dropped ≙ the reference's log-and-skip) and yields NULL fields for
missing keys (defaulted with ``coalesce`` to preserve the reference's
zero-value semantics — Spark's natural NULLs would diverge from the oracle).

Scale note: this is a narrow, shuffle-free map stage; at 100 TB it
parallelizes by input split (batch) or Kafka partition (streaming) with no
skew concerns. The parse itself is the stage's cost, so each message is
parsed once (see ``decode_flows``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import StringType, StructField, StructType

from kafka_clickhouse_example_spark.schemas import FLOW_FIELD_MAP, FLOW_INPUT_SCHEMA

_CORRUPT_COL = "_corrupt_flow"
_DECODE_SCHEMA = StructType(
    list(FLOW_INPUT_SCHEMA.fields) + [StructField(_CORRUPT_COL, StringType(), True)]
)


def decode_flows(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Bytes/string JSON -> typed flow struct columns; malformed rows dropped.

    Mirrors decode_json.go:7-11 (+ drop at ingest_kafka.go:40-42). Works on
    the Kafka source's ``value: binary`` column or any string column.

    PERMISSIVE mode routes unparseable input into a corrupt-record column;
    dropping those rows is the reference's log-and-skip path (P4). An
    explicit corrupt column (rather than testing the struct for NULL) is
    required because from_json may return an all-NULL struct for some
    malformed inputs, which would be indistinguishable from a legitimately
    empty flow. The full input schema is parsed, not just the consumed
    fields, so a wrong-typed extra field still marks the record corrupt.
    Jackson's NaN/Infinity numbers (as literals or as strings in a number
    field) and single-quoted JSON are turned off: Go's ``json.Unmarshal``
    rejects them, so the reference drops such a message.

    Each message is parsed exactly once. The keep/drop test runs inside a
    generator (``inline`` over a zero-or-one element array) because a Filter
    on the parsed struct is pushed below the Project with the parse inlined
    into it, which parses every message twice; ``JsonToStructs`` is
    interpreted (CodegenFallback), so each parse costs in full.
    """
    parsed = F.from_json(
        F.col(value_col).cast("string"),
        _DECODE_SCHEMA,
        {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": _CORRUPT_COL,
            "allowNonNumericNumbers": "false",
            "allowSingleQuotes": "false",
        },
    )
    kept = F.filter(
        F.array(parsed), lambda s: s.isNotNull() & s[_CORRUPT_COL].isNull()
    )
    return raw.select(F.inline(kept)).drop(_CORRUPT_COL)


def _normalized_column(src: str, dst: str, typ: str, default: object) -> Column:
    col = F.col(src)
    if typ == "long":
        # Go does int(v.(float64)) — truncation toward zero. Counters are
        # non-negative so floor == trunc; floor() is used because it maps
        # 1:1 onto the oracle SQL (DuckDB CAST rounds, Spark CAST truncates —
        # floor() sidesteps the divergence).
        col = F.floor(col).cast("long")
    else:
        col = col.cast(typ)
    return F.coalesce(col, F.lit(default)).alias(dst)


def normalize_flows(decoded: DataFrame) -> DataFrame:
    """P1-P3: select/rename the 12 columns, defaulting missing fields.

    Input: a DataFrame with FLOW_INPUT_SCHEMA columns (from ``decode_flows``).
    Output: the 12-column flows relation (connect.go:74-89 shape).
    """
    return decoded.select(
        *[_normalized_column(src, dst, typ, default) for src, dst, typ, default in FLOW_FIELD_MAP]
    )


def flows_from_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Full record hot path (SURVEY.md §3.2): decode -> normalize."""
    return normalize_flows(decode_flows(raw, value_col))
