"""The session memo's scoping and invalidation contract.

DataFrames are bound to the SparkSession that created them. A sibling
spark.newSession() shares the SparkContext and its applicationId but has
its own conf/view state, so it must build its own memo entries rather than
receive the first session's; and a session nobody holds must be freed
together with its entries.
"""

from __future__ import annotations

import gc
import re
import weakref
from pathlib import Path

import pytest

from kafka_clickhouse_example_spark.plans import (
    queries_dedup,
    queries_flows,
    queries_similarity,
)
from kafka_clickhouse_example_spark.sources import catalog

MEMOS = {
    "flows": queries_flows._flows,
    "shingles": queries_dedup._shingled,
    "emb": queries_similarity._emb,
}


def test_memo_hits_within_one_session(spark, sf_dir):
    a = catalog.load_table(spark, sf_dir, "region")
    b = catalog.load_table(spark, sf_dir, "region")
    assert a is b  # same session, same dir, same table -> memo hit


def test_sibling_session_gets_its_own_entry(spark, sf_dir):
    sib = spark.newSession()
    a = catalog.load_table(spark, sf_dir, "region")
    b = catalog.load_table(sib, sf_dir, "region")
    # Same applicationId, different sessions: the sibling builds its own.
    assert a is not b
    assert b.sparkSession is sib
    # and the sibling's own conf-set ran (nanosAsLong is per-session)
    assert sib.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert b.count() == a.count()


def test_clear_load_memo_invalidates(spark, sf_dir):
    a = catalog.load_table(spark, sf_dir, "region")
    catalog.clear_load_memo()
    b = catalog.load_table(spark, sf_dir, "region")
    assert a is not b  # fresh scan plan after invalidation


@pytest.mark.parametrize("memo", sorted(MEMOS))
def test_sibling_session_gets_its_own_memo(spark, sf_dir, memo):
    build = MEMOS[memo]
    sib = spark.newSession()
    a = build(spark, sf_dir)
    b = build(sib, sf_dir)
    assert build(spark, sf_dir) is a
    assert a is not b
    assert a.sparkSession is spark
    assert b.sparkSession is sib
    assert b.count() == a.count()


def test_dropped_session_is_freed_with_its_memos(spark, sf_dir):
    # Never createDataFrame on the sibling: it sets the class-level active
    # session, which would keep the sibling alive.
    sib = spark.newSession()
    queries_flows._flows(sib, sf_dir)
    catalog.load_table(sib, sf_dir, "region")
    ref = weakref.ref(sib)
    del sib
    # SparkSession.__init__ re-points RDD.toDF's closure at the newest
    # session; a fresh one releases the sibling from it.
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_plan_modules_use_the_session_memo():
    """State per session goes through session.session_memo: no query family,
    source or operator keys its own by applicationId (shared by sibling
    sessions) or by id(spark) (pins the session for the process's life)."""
    pkg = Path(catalog.__file__).resolve().parent.parent
    pattern = re.compile(r"\.applicationId\b|\bid\(spark\)")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for sub in ("plans", "sources", "operators")
        for path in sorted((pkg / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders
