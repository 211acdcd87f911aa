"""Golden tests for the decode+normalize core, mirroring the reference edge
cases (FIXTURES.md §1: happy path, missing fields, malformed message, extra
unknown fields)."""

from __future__ import annotations

import json
import math
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import DoubleType

from kafka_clickhouse_example_spark.operators.normalize import decode_flows, flows_from_json
from kafka_clickhouse_example_spark.schemas import FLOW_INPUT_SCHEMA, FLOWS_COLUMNS

FULL_FLOW = {
    "TimeFlowStartMs": 1704067200000.0,
    "TimeFlowEndMs": 1704067201500.0,
    "SrcAddr": "10.0.0.1",
    "DstAddr": "10.0.0.2",
    "SrcK8S_Name": "pod-a",
    "DstK8S_Name": "pod-b",
    "SrcK8S_Type": "Pod",
    "DstK8S_Type": "Service",
    "SrcK8S_Namespace": "ns-a",
    "DstK8S_Namespace": "ns-b",
    "Bytes": 1234.0,
    "Packets": 7.0,
}


def _run(spark, messages):
    raw = spark.createDataFrame([Row(value=m) for m in messages])
    return flows_from_json(raw).collect()


def test_happy_path(spark):
    [row] = _run(spark, [json.dumps(FULL_FLOW)])
    assert row.start == 1704067200000.0
    assert row["end"] == 1704067201500.0
    assert row.src_ip == "10.0.0.1"
    assert row.dst_kind == "Service"
    assert row.bytes == 1234 and isinstance(row.bytes, int)
    assert row.packets == 7
    assert list(row.asDict().keys()) == FLOWS_COLUMNS


def test_missing_fields_default_to_zero_values(spark):
    # Node-flow shape: no K8S identity at all (README.md:115-117), and a row
    # missing the counters (export_clickhouse.go:45-80 zero-value semantics).
    no_k8s = {k: v for k, v in FULL_FLOW.items() if not k.startswith(("Src", "Dst"))}
    no_counters = {k: v for k, v in FULL_FLOW.items() if k not in ("Bytes", "Packets")}
    rows = _run(spark, [json.dumps(no_k8s), json.dumps(no_counters)])
    by_bytes = sorted(rows, key=lambda r: r.bytes)
    assert by_bytes[0].bytes == 0 and by_bytes[0].packets == 0
    assert by_bytes[0].src_ip == "10.0.0.1" or by_bytes[0].src_ip == ""
    node_row = [r for r in rows if r.src_name == ""][0]
    assert node_row.src_namespace == "" and node_row.dst_kind == ""
    assert node_row.bytes == 1234  # non-missing fields untouched


def test_malformed_message_dropped(spark):
    rows = _run(spark, ["{not json", json.dumps(FULL_FLOW), ""])
    assert len(rows) == 1
    assert rows[0].src_ip == "10.0.0.1"


def test_extra_unknown_fields_ignored(spark):
    extra = dict(FULL_FLOW, SomethingNew=42, Nested={"a": 1})
    [row] = _run(spark, [json.dumps(extra)])
    assert row.bytes == 1234
    assert list(row.asDict().keys()) == FLOWS_COLUMNS


def test_float_narrowing_truncates(spark):
    msg = dict(FULL_FLOW, Bytes=99.9, Packets=3.7)
    [row] = _run(spark, [json.dumps(msg)])
    assert row.bytes == 99 and row.packets == 3


def test_wrong_typed_field_behavior(spark):
    """Where the reference PANICS the whole process on a wrong-typed value
    (unguarded type assertion, export_clickhouse.go:52), we degrade per
    record: a JSON string where a number is expected marks the record
    corrupt -> dropped (the log-and-skip path, same as malformed JSON),
    while a JSON number where a string is expected coerces to its text form
    and the record survives. Documented deviation -- crash-per-record is not
    an option for a 100 TB pipeline."""
    assert _run(spark, [json.dumps(dict(FULL_FLOW, Bytes="not-a-number"))]) == []
    [row] = _run(spark, [json.dumps(dict(FULL_FLOW, SrcAddr=12345))])
    assert row.src_ip == "12345" and row.bytes == 1234


# -- the decode's record semantics, pinned case by case -----------------------
#
# ``_oracle_decode`` is the per-record specification of ``decode_flows``: one
# message in, the decoded row (non-NULL input fields only) or nothing out. It
# models what Spark's JSON reader (Jackson, PERMISSIVE, the full 30-field
# input schema) does on each case below; the cases pin both the decode and
# the oracle to an explicit expected row, so a Spark/Jackson upgrade that
# changes a coercion fails here instead of silently changing rows. Not
# modelled: duplicate keys inside a nested object kept as text, and JDK
# 17's Double.toString where it is not the shortest repr (e.g. 4.9E-324).

_JSON_WS = " \t\n\r"


def _reject_constant(name: str):
    raise ValueError(f"non-finite number {name}")  # Go rejects NaN/Infinity


def _java_double_text(x: float) -> str:
    """Java's Double.toString layout: positional in [1e-3, 1e7), else
    ``d.dddEn`` — the text Jackson writes for a float read as a string."""
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    if 1e-3 <= abs(x) < 1e7:
        return repr(x)  # Python's repr is positional with a ".0" here too
    sign, digits, exp = Decimal(repr(x)).as_tuple()
    text = "".join(map(str, digits)).rstrip("0") or "0"
    mantissa = text[0] + "." + (text[1:] or "0")
    return f"{'-' if sign else ''}{mantissa}E{len(digits) + exp - 1}"


def _json_text(v) -> str:
    """Compact JSON text of a non-string value, as Jackson copies it."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _java_double_text(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return "[" + ",".join(_json_text(x) for x in v) + "]"
    return "{" + ",".join(f"{_json_text(k)}:{_json_text(x)}" for k, x in v.items()) + "}"


def _oracle_decode(value) -> list[dict]:
    if value is None:
        return []
    if isinstance(value, (bytes, bytearray)):
        value = value.decode("utf-8", errors="replace")
    try:
        # Jackson reads the first JSON value and ignores what follows it.
        obj, _ = json.JSONDecoder(parse_constant=_reject_constant).raw_decode(
            value.lstrip(_JSON_WS)
        )
    except ValueError:
        return []  # malformed -> drop (ingest_kafka.go:40-42)
    if not isinstance(obj, dict):
        return []
    out = {}
    for field in FLOW_INPUT_SCHEMA.fields:
        val = obj.get(field.name)  # duplicate keys: the last one wins
        if val is None:
            continue
        if isinstance(field.dataType, DoubleType):
            if isinstance(val, bool) or not isinstance(val, (int, float)):
                return []  # type mismatch, consumed or extra field -> drop
            out[field.name] = float(val)
        else:
            text = val if isinstance(val, str) else _json_text(val)
            # a lone surrogate has no UTF-8 form; the JVM writes '?'
            out[field.name] = text.encode("utf-8", errors="replace").decode("utf-8")
    return [out]


_EDGE_CASES = {
    "duplicate_key_last_wins": (
        '{"SrcAddr":"a","SrcAddr":"b","Bytes":1}', [{"SrcAddr": "b", "Bytes": 1.0}]
    ),
    "int_for_string": ('{"SrcAddr":12345}', [{"SrcAddr": "12345"}]),
    "float_for_string": ('{"SrcAddr":1.50}', [{"SrcAddr": "1.5"}]),
    "float_for_string_exponent": ('{"DstAddr":1e20}', [{"DstAddr": "1.0E20"}]),
    "bool_for_string": ('{"SrcAddr":true}', [{"SrcAddr": "true"}]),
    "object_for_string": ('{"SrcAddr":{"x": 1}}', [{"SrcAddr": '{"x":1}'}]),
    "array_for_string": ('{"SrcAddr":[1, "a", null]}', [{"SrcAddr": '[1,"a",null]'}]),
    "object_for_extra_string": (
        '{"Duplicate":{"x":[false]}}', [{"Duplicate": '{"x":[false]}'}]
    ),
    "string_for_consumed_number": ('{"SrcAddr":"a","Bytes":"12"}', []),
    "string_for_extra_number": ('{"SrcAddr":"a","SrcPort":"12"}', []),
    "bool_for_number": ('{"Packets":true}', []),
    "nan_literal": ('{"Bytes":NaN}', []),
    "infinity_literals": ('{"Bytes":Infinity,"Packets":-Infinity}', []),
    "nan_string_for_number": ('{"Bytes":"NaN"}', []),
    "infinity_string_for_number": ('{"Packets":"-Infinity"}', []),
    "nan_literal_in_extra_field": ('{"SrcAddr":"a","SrcPort":NaN}', []),
    "nan_string_in_extra_field": ('{"SrcAddr":"a","SrcPort":"NaN"}', []),
    "single_quoted_key": ("{'SrcAddr':\"a\"}", []),
    "single_quoted_value": ("{\"SrcAddr\":'a'}", []),
    "lowercase_nan_string_for_number": ('{"Bytes":"nan"}', []),
    "malformed_json": ('{"SrcAddr":"a"', []),
    "top_level_array": ('[{"SrcAddr":"a"}]', []),
    "top_level_scalar": ("42", []),
    "empty_string": ("", []),
    "null_value": (None, []),
    "empty_object": ("{}", [{}]),
    "invalid_utf8_binary": (b'{"SrcAddr":"a\xffb"}', [{"SrcAddr": "a\ufffdb"}]),
    "raw_newline_inside_string": ('{"SrcAddr":"a\nb"}', []),
    "raw_newline_between_tokens": ('{"SrcAddr":\n"a"}', [{"SrcAddr": "a"}]),
    "trailing_content_ignored": ('{"SrcAddr":"a"} x', [{"SrcAddr": "a"}]),
    "lone_surrogate": ('{"SrcAddr":"\\ud800"}', [{"SrcAddr": "?"}]),
}


def _decoded(spark, values: list) -> list[dict]:
    binary = any(isinstance(v, bytes) for v in values)
    raw = spark.createDataFrame(
        [(v,) for v in values], "value binary" if binary else "value string"
    )
    return [
        {k: v for k, v in r.asDict().items() if v is not None}
        for r in decode_flows(raw).collect()
    ]


@pytest.mark.parametrize("case", sorted(_EDGE_CASES))
def test_decode_edge_case(spark, case):
    """One single-message batch per case: the decode and the oracle both
    produce exactly the expected row."""
    value, expected = _EDGE_CASES[case]
    assert _decoded(spark, [value]) == expected
    assert _oracle_decode(value) == expected


def test_decode_mixed_batch_matches_oracle(spark):
    """All edge cases in one batch decode exactly as they do one by one."""
    values = [v for v, _ in _EDGE_CASES.values() if not isinstance(v, bytes)]
    values += [json.dumps(FULL_FLOW), json.dumps(dict(FULL_FLOW, SomethingNew=[1]))]
    want = [r for v in values for r in _oracle_decode(v)]

    def bag(rows):
        return sorted(json.dumps(r, sort_keys=True) for r in rows)

    assert bag(_decoded(spark, values)) == bag(want)


def test_non_finite_counters_normalize(spark):
    """A message with NaN/Infinity counters is dropped, as Go's json.Unmarshal
    drops it, so no non-finite value reaches floor() and the sink."""
    assert _run(spark, ['{"Bytes":NaN,"Packets":Infinity,"TimeFlowStartMs":-Infinity}']) == []


def _from_json_count(plan) -> int:
    return plan.toString().count("from_json(")


def test_decode_plan_parses_once(spark, tmp_path):
    """The executed plan of the decode holds exactly one ``from_json``: in a
    batch scan with the session's default optimizer rules, after
    ``configure_runtime`` (which excludes two inference rules), and in the
    streaming micro-batch the app runs. Pushing a corrupt-record Filter below
    the parse would add a second one."""
    from kafka_clickhouse_example_spark.session import configure_runtime
    from kafka_clickhouse_example_spark.streaming.pipeline import normalized_stream

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.json").write_text(json.dumps(FULL_FLOW) + "\n{not json\n")

    def batch_plan():
        flows = flows_from_json(spark.read.text(str(d)))
        assert len(flows.collect()) == 1
        return flows._jdf.queryExecution().executedPlan()

    key = "spark.sql.optimizer.excludedRules"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        assert _from_json_count(batch_plan()) == 1
        configure_runtime(spark)
        assert _from_json_count(batch_plan()) == 1
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)

    stream = normalized_stream(spark.readStream.schema("value string").text(str(d)))
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = q._jsq.streamingQuery().lastExecution()
    assert _from_json_count(last.executedPlan()) == 1


def test_custom_jsonl_datasource_matches_text_source(spark, tmp_path):
    """The netobserv_jsonl Python DataSource yields the same value rows as
    spark.read.text, one partition per file, and feeds the standard decode
    path unchanged."""
    import json

    from kafka_clickhouse_example_spark.operators.normalize import flows_from_json
    from kafka_clickhouse_example_spark.sources.jsonl_source import (
        NetObservJsonlDataSource,
    )

    d = tmp_path / "in"
    d.mkdir()
    rows_a = [{"TimeFlowStartMs": 1.0, "TimeFlowEndMs": 2.0, "SrcAddr": "a",
               "DstAddr": "b", "Bytes": 10.0, "Packets": 1.0}]
    rows_b = [{"TimeFlowStartMs": 3.0, "TimeFlowEndMs": 4.0, "SrcAddr": "c",
               "DstAddr": "d", "Bytes": 20.0, "Packets": 2.0}]
    (d / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows_a) + "\n")
    (d / "b.json").write_text("\n".join(json.dumps(r) for r in rows_b) + "\n")
    (d / "ignored.txt").write_text("not picked up")

    spark.dataSource.register(NetObservJsonlDataSource)
    raw = spark.read.format("netobserv_jsonl").option("path", str(d)).load()
    assert raw.rdd.getNumPartitions() == 2  # one per matching file
    got_values = {r.value for r in raw.collect()}
    want_values = {r.value for r in spark.read.text(str(d / "a.jsonl")).collect()} | {
        r.value for r in spark.read.text(str(d / "b.json")).collect()
    }
    assert got_values == want_values
    assert {r.src_file for r in raw.collect()} == {"a.jsonl", "b.json"}

    # Same decode path as every other transport.
    flows = flows_from_json(raw.select("value"))
    got = {(r.src_ip, r.dst_ip, r.bytes) for r in flows.collect()}
    assert got == {("a", "b", 10), ("c", "d", 20)}


def test_custom_jsonl_datasource_edge_cases(spark, tmp_path):
    """Empty dir -> zero rows; missing path option -> loud error."""
    import pytest as _pytest

    from kafka_clickhouse_example_spark.sources.jsonl_source import (
        NetObservJsonlDataSource,
    )

    spark.dataSource.register(NetObservJsonlDataSource)
    empty = tmp_path / "empty"
    empty.mkdir()
    df = spark.read.format("netobserv_jsonl").option("path", str(empty)).load()
    assert df.count() == 0 and df.columns == ["value", "src_file"]

    with _pytest.raises(Exception, match="path"):
        spark.read.format("netobserv_jsonl").load().collect()
