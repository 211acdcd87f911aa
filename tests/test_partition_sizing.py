"""The partition-sizing rule, executable (round-11 verdict ask #5).

SCALE.md documents two measured mid-job deaths on a 16 GiB heap / 32
slots / 32 shuffle partitions — the SHJ hash build of the sf30ctl
inverted-index self-join (67M postings) and the SMJ sort state of the
sf100ctl split-leakage audit (5M shingle-array rows) — both completing
at 128 partitions. These tests pin that exact arithmetic into
planning.per_task_state_overflow (the failing shapes warn, the passing
shapes don't) and prove the production call sites actually invoke it.
"""

from __future__ import annotations

import warnings

import pytest

from kafka_clickhouse_example_spark.operators import dedup as D
from kafka_clickhouse_example_spark.operators import planning as P

GIB = 2**30
RIG = dict(heap_bytes=16 * GIB, task_slots=32)  # the measured rig


def test_shj_build_shapes():
    """sf30ctl inverted-index self-join: 67M postings x 24 B."""
    fail = P.per_task_state_overflow(
        67_000_000, P.POSTING_ROW_BYTES, shuffle_partitions=32, **RIG
    )
    assert fail is not None, "the measured SHJ death shape must warn"
    assert fail["partitions_floor"] > 32
    # 128 partitions completed in 130.7 s — must be silent
    assert (
        P.per_task_state_overflow(
            67_000_000, P.POSTING_ROW_BYTES, shuffle_partitions=128, **RIG
        )
        is None
    )
    # and the recommended floor itself must be a passing configuration
    assert (
        P.per_task_state_overflow(
            67_000_000,
            P.POSTING_ROW_BYTES,
            shuffle_partitions=fail["partitions_floor"],
            **RIG,
        )
        is None
    )


def test_smj_sort_shapes():
    """sf100ctl split-leakage audit: 5M shingle-array rows (~700 B)."""
    fail = P.per_task_state_overflow(
        5_000_000, P.SHINGLE_ARRAY_ROW_BYTES, shuffle_partitions=32, **RIG
    )
    assert fail is not None, "the measured SMJ OOM shape must warn"
    assert fail["partitions_floor"] > 32
    # 128 partitions completed in 111.7 s — must be silent
    assert (
        P.per_task_state_overflow(
            5_000_000, P.SHINGLE_ARRAY_ROW_BYTES, shuffle_partitions=128, **RIG
        )
        is None
    )


def test_bench_scale_shapes_stay_silent():
    """The sf0.1 bench corpus (5k docs, ~1M postings) must never warn —
    the guard is a scale contract, not bench noise."""
    assert (
        P.per_task_state_overflow(
            1_000_000, P.POSTING_ROW_BYTES, shuffle_partitions=32, **RIG
        )
        is None
    )
    assert (
        P.per_task_state_overflow(
            5_000, P.SHINGLE_ARRAY_ROW_BYTES, shuffle_partitions=32, **RIG
        )
        is None
    )


def test_memo_residency_shapes():
    """sf300ctl finding: the 5M-doc localCheckpoint memo (~1.0x the
    unified pool) completed both dedup walls; the 15M-doc memo (~3.2x)
    starved every shuffle writer. The rule must separate the two."""
    heap = 16 * GIB
    assert (
        P.memo_residency_overflow(
            5_000_000, P.MEMO_ARRAY_ROW_BYTES_DESER, heap_bytes=heap
        )
        is None
    ), "the measured-passing 5M-doc memo must stay silent"
    fail = P.memo_residency_overflow(
        15_000_000, P.MEMO_ARRAY_ROW_BYTES_DESER, heap_bytes=heap
    )
    assert fail is not None, "the measured-failing 15M-doc memo must warn"
    assert fail["ratio"] > P.MEMO_RESIDENCY_HEADROOM
    # bench/test scale is nowhere near the bound
    assert (
        P.memo_residency_overflow(
            5_000, P.MEMO_ARRAY_ROW_BYTES_DESER, heap_bytes=4 * GIB
        )
        is None
    )


def test_memo_guard_wired_into_shingle_memo(spark, monkeypatch):
    from kafka_clickhouse_example_spark.plans import queries_dedup as QD
    from kafka_clickhouse_example_spark.session import clear_session_memo

    monkeypatch.setattr(P, "MEMO_RESIDENCY_HEADROOM", 1e-12)
    clear_session_memo("shingles")
    with pytest.warns(RuntimeWarning, match="memo.*parquet-backed store"):
        QD._shingled(spark, "/root/testdata/sf0.001")
    # and silent under the real bound
    monkeypatch.undo()
    clear_session_memo("shingles")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        QD._shingled(spark, "/root/testdata/sf0.001")
    ours = [w for w in seen if "parquet-backed store" in str(w.message)]
    assert not ours


def _shingles(spark, n, offset=0):
    from pyspark.sql import functions as F

    rows = [(offset + i, f"doc {i} some shingle text here") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return D.with_shingles(docs)


def test_wired_sites_fire(spark, monkeypatch):
    """The guard is only worth anything if the production paths call it:
    shrink the share so the tiny test corpus overflows, and both wired
    sites (stop-cut SHJ memo branch; incremental shuffle-strategy SMJ)
    must emit the ResourceWarning with the partitions arithmetic."""
    monkeypatch.setattr(P, "TASK_STATE_SHARE", 1e-12)
    sh = _shingles(spark, 20).localCheckpoint(eager=True)

    with pytest.warns(RuntimeWarning, match="SHJ build.*shuffle.partitions"):
        D.jaccard_pairs(None, 0.3, shingles=sh, max_shingle_freq=50).collect()

    with pytest.warns(RuntimeWarning, match="SMJ sort state.*partitions"):
        D.incremental_minhash_pairs(
            None,
            None,
            0.3,
            new_shingles=_shingles(spark, 5, offset=10**6),
            corpus_shingles=sh,
            strategy="shuffle",
        )


def test_wired_sites_silent_at_test_scale(spark):
    """Under the real session sizing, the tiny corpus must not warn —
    the default bound has ~40 MB/task of headroom at test scale."""
    sh = _shingles(spark, 20).localCheckpoint(eager=True)
    # record=True rather than error-on-ResourceWarning: py4j emits its own
    # unclosed-socket ResourceWarnings at GC time, which must not flake this
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        D.jaccard_pairs(None, 0.3, shingles=sh, max_shingle_freq=50).collect()
        D.incremental_minhash_pairs(
            None,
            None,
            0.3,
            new_shingles=_shingles(spark, 5, offset=10**6),
            corpus_shingles=sh,
            strategy="shuffle",
        )
    ours = [w for w in seen if "shuffle.partitions" in str(w.message)]
    assert not ours, [str(w.message) for w in ours]


def test_verify_broadcast_carries_no_arrays(spark):
    """r11 verify-join restructure: under strategy='broadcast' the verify
    must broadcast only the SKINNY candidate pair list and the
    batch-bounded new side — never corpus shingle arrays. The pre-r11
    shape broadcast candidates⋈new_sh (an ARRAY per candidate row), whose
    bytes grew corpus-proportionally on a dup-heavy store (measured: 350
    MB at 500k candidates, death at spark.driver.maxResultSize at 1.5M)
    and needed an eager per-call candidate count to guard. Structurally
    array-free candidate broadcasts make that failure unreachable, so the
    plan — not a fallback — is the safety mechanism now."""
    from kafka_clickhouse_example_spark.operators.planning import (
        broadcast_subtrees,
    )

    sh_corpus = _shingles(spark, 30).localCheckpoint(eager=True)
    sh_new = _shingles(spark, 6, offset=10**6).localCheckpoint(eager=True)
    df = D.incremental_minhash_pairs(
        None, None, 0.3,
        new_shingles=sh_new, corpus_shingles=sh_corpus,
        strategy="broadcast",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    subtrees = broadcast_subtrees(plan)
    assert subtrees, "broadcast strategy must plan broadcast joins"
    for sub in subtrees:
        assert "sh_corp#" not in sub, (
            "corpus shingle arrays must never ride a BroadcastExchange:\n"
            + sub
        )
    # the intersect/verify projection still sees both array sides
    assert "sh_corp#" in plan and "sh_new#" in plan
    assert sorted(map(tuple, df.collect())), "fixture must produce pairs"


def test_stopcut_overflow_switches_to_sortfree_cut(spark, monkeypatch):
    """Round-11 ADVICE (skew cliff): the window hot-shingle cut routes all
    postings of a hot shingle through one partition where the WINDOW SORT
    must buffer them before the filter drops them — and a single key
    cannot be split by more partitions, so the guard's own prescription
    cannot fix it. When the sizing rule predicts per-task overflow, the
    cut must switch to the sort-free aggregate-join over the same
    exchange: hash-agg state is O(distinct shingles), hot postings STREAM
    through the join probe, nothing buffers. Pins: the overflow branch
    has no Window and still no broadcast; emitted pairs are identical to
    the window form's."""
    sh = _shingles(spark, 20).localCheckpoint(eager=True)

    monkeypatch.setattr(P, "TASK_STATE_SHARE", 1e-12)
    with pytest.warns(RuntimeWarning, match="SHJ build"):
        df_safe = D.jaccard_pairs(None, 0.05, shingles=sh, max_shingle_freq=15)
    plan = df_safe._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "overflow branch must not sort-buffer hot keys"
    assert "BroadcastExchange" not in plan, "hot list must never broadcast"
    got = sorted(tuple(r) for r in df_safe.collect())

    monkeypatch.undo()
    df_win = D.jaccard_pairs(None, 0.05, shingles=sh, max_shingle_freq=15)
    assert "Window" in df_win._jdf.queryExecution().executedPlan().toString()
    want = sorted(tuple(r) for r in df_win.collect())
    assert got == want
