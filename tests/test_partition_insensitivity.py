"""Partition-insensitivity certification for the rows-only registry tail.

The driver's oracle gate value-checks 180 of 190 queries against DuckDB;
the 10 rows-only queries are pinned by pure-Python contract tests instead —
but only at ONE physical layout. This closes that gap: each rows-only query
must produce identical values when the two knobs that reorder per-partition
work at scale both change — the input-split size
(spark.sql.files.maxPartitionBytes) and the shuffle partition count.
A 1000-executor cluster never sees sf0.01's layout, so a query whose
values drift with layout is wrong at scale even if its contract test
passes locally.

Every rows-only query is ENGINEERED for layout independence — trainers
seed from the md5-ordered bounded sample (operators/similarity.py:
_md5_ordered_sample), assignments/encodes are per-row Arrow maps, reduced
aggregates use integer/fixed-point math (Q30 inertia, BPE integer counts
with deterministic argmax tiebreaks) — so the comparison is exact up to
9 significant digits on float cells (layout-independent math reproduces
bit-for-bit; the rounding only guards against benign last-ulp noise in
JVM double formatting).

(Historical note: events_value_quantiles_kll used to be the one documented
exception — Datasketches KLL state depends on per-partition update order
by design. Round 7 replaced its construction with the hash-sampled HSQ
sketch, which is exactly layout-insensitive AND oracle-backed, so the
query left the rows-only tail and the exception is gone; the built-in
KLL surface stays rank-error-pinned in test_pipeline_ops.py.)

The per-session trainer/corpus memos are cleared between layouts: the
"emb" memo holds a localCheckpoint'ed corpus (frozen partitioning) and the
codebook memos would otherwise serve config-A training to the config-B
run, silently turning the probe into a no-op.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS

# (maxPartitionBytes, shuffle.partitions): a wide reference layout (128 MB
# splits, 32-way shuffles — NOT the suite session's own 8-way default,
# which doesn't matter: any two differing layouts certify the invariant),
# then a hostile one — 64 KiB input splits (dozens of scan partitions over
# sf0.01's small parquet) and a prime shuffle width.
LAYOUTS = [
    ("134217728", "32"),
    ("65536", "7"),
]

def _clear_memos() -> None:
    from kafka_clickhouse_example_spark.session import clear_session_memo

    clear_session_memo("emb", "ivf", "pq", "ivfpq", "bpe_merges")


def _fmt(v) -> str:
    # 9 significant digits: enough to catch any real divergence (a flipped
    # assignment, a different merge rule, a reordered top-k) while immune
    # to sub-ulp formatting noise.
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_fmt(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def _rows_only_names() -> list[str]:
    from kafka_clickhouse_example_spark.registry import all_oracles, all_queries

    return sorted(set(all_queries()) - set(all_oracles()))


@pytest.fixture(scope="module")
def layout_results(spark):
    """Run every rows-only query under both layouts; yield
    {layout_index: {query: sorted formatted rows}}."""
    from kafka_clickhouse_example_spark.registry import all_queries

    queries = all_queries()
    names = _rows_only_names()
    saved = {
        "spark.sql.files.maxPartitionBytes": spark.conf.get(
            "spark.sql.files.maxPartitionBytes"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
    }
    results: dict[int, dict[str, list[str]]] = {}
    try:
        for i, (mpb, shuffle) in enumerate(LAYOUTS):
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
            _clear_memos()
            results[i] = {
                name: sorted(
                    "|".join(_fmt(c) for c in row)
                    for row in queries[name](spark, SF_CORRECTNESS).collect()
                )
                for name in names
            }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        _clear_memos()  # leave no layout-B memos for later tests
    return results


def test_rows_only_queries_exist(layout_results):
    # the registry's rows-only set should shrink, never silently grow
    names = set(layout_results[0])
    assert len(names) <= 10, f"rows-only tail grew: {sorted(names)}"


def test_rows_only_values_survive_relayout(layout_results):
    base, hostile = layout_results[0], layout_results[1]
    for name in sorted(base):
        assert base[name] == hostile[name], (
            f"{name}: values changed under a different physical layout "
            f"(first diff: "
            f"{next((a, b) for a, b in zip(base[name], hostile[name]) if a != b) if len(base[name]) == len(hostile[name]) else (len(base[name]), len(hostile[name]))})"
        )

