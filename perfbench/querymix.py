"""The ``query_mix`` workload: registered queries over seeded tables.

Each query runs the way the registry's callers run it,
``registry.all_queries()[name](spark, sf_dir)``, and its result is consumed
by a no-op write, so the whole plan executes and nothing is collected.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import numpy as np

import procfs
import sparkstore
import tablegen
from stats import geomean

# One or two queries per family; family -> queries. The list is kept short
# enough that warm-up and measurement fit the benchmark's time budget.
FAMILIES = {
    "flows": ["flows_readme_verify", "flows_windowed_traffic"],
    "tpch": ["q1_pricing_summary", "top_talkers"],
    "dedup": ["dedup_simhash_pairs"],
    "similarity": ["sim_topk_ivfpq"],
    "text": ["text_token_stats"],
    "sketches": ["events_user_counts_cms"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
SCALE = 0.01
# Passes keep getting faster for several passes after the cold one. The
# warm-up is a fixed count, not a stop-when-no-faster rule, so every run
# starts its timed passes at the same point of that curve.
WARM_PASSES = 2
MIN_PASSES = 3


def make_inputs(work: str, seed: int) -> dict:
    return tablegen.write_tables(f"{work}/tables", seed, SCALE)


def pass_order(seed: int, index: int) -> list[str]:
    """The seed's permutation of the query list for pass ``index``."""
    rng = np.random.default_rng([seed, index])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def run_pass(
    spark, sf_dir: str, order: list[str], errors: list[str] | None = None
) -> dict[str, tuple[float, float]]:
    """Run each query once; name -> (wall s, work CPU s). A query that
    raises is left out and, given ``errors``, recorded there; without it the
    exception ends the pass."""
    from kafka_clickhouse_example_spark import registry

    fns = registry.all_queries()
    pid = os.getpid()
    out = {}
    for name in order:
        cpu0 = procfs.work_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:
            if errors is None:
                raise
            errors.append(f"{name} failed: {str(e).splitlines()[0]}")
            continue
        t1 = time.perf_counter()
        out[name] = (t1 - t0, procfs.work_cpu_s(pid) - cpu0)
    return out


def warm(spark, sf_dir: str, seed: int) -> list[dict]:
    """The cold pass, then WARM_PASSES warm passes. A failure here is a
    failed set-up and ends the run."""
    return [run_pass(spark, sf_dir, pass_order(seed, i)) for i in range(1 + WARM_PASSES)]


def measure(spark, sf_dir: str, seed: int, seconds: float, pass_s: float, first: int) -> dict:
    """About ``seconds`` of passes at the warm pass time ``pass_s``, at least
    MIN_PASSES; per-query medians of wall and CPU over the runs that
    succeeded, and their geometric means over the queries."""
    n = max(MIN_PASSES, round(seconds / pass_s))
    errors: list[str] = []
    t0 = time.perf_counter()
    passes = [run_pass(spark, sf_dir, pass_order(seed, first + i), errors) for i in range(n)]
    window = (t0, time.perf_counter())
    ran = [q for q in QUERIES if any(q in p for p in passes)]
    wall = {q: statistics.median(p[q][0] for p in passes if q in p) for q in ran}
    cpu = {q: statistics.median(p[q][1] for p in passes if q in p) for q in ran}
    return {
        "window": window,
        "errors": errors,
        "passes": n,
        "per_pass": passes,
        "wall_s": wall,
        "cpu_s": cpu,
        "op_wall_ms": geomean([1e3 * v for v in wall.values()]),
        "op_cpu_ms": geomean([1e3 * v for v in cpu.values()]),
    }


def _driver_rows():
    """The comparison of the repository's oracle-parity gate
    (``tests/test_oracle_parity.driver_rows``): rows as sorted tuples of
    per-cell str(), columns sorted by name."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("test_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.driver_rows


def check(spark, sf_dir: str) -> list[str]:
    """Compare every query's result with its DuckDB oracle. A query with no
    oracle (approximate search) must return rows, identically twice. A query
    that raises is one failed check."""
    import duckdb

    from kafka_clickhouse_example_spark import registry

    cells = _driver_rows()
    fns, oracles = registry.all_queries(), registry.all_oracles()
    con = duckdb.connect()
    for t in tablegen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems = []
    for name in QUERIES:
        try:
            got = fns[name](spark, sf_dir).toPandas()
            if name in oracles:
                want = con.execute(oracles[name]).df()
                if sorted(got.columns) != sorted(want.columns):
                    problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
                elif cells(got) != cells(want):
                    problems.append(f"{name}: result differs from its DuckDB oracle")
            elif got.empty or cells(got) != cells(fns[name](spark, sf_dir).toPandas()):
                problems.append(f"{name}: empty or not repeatable")
        except Exception as e:
            problems.append(f"{name}: check failed: {str(e).splitlines()[0]}")
    con.close()
    return problems


def traced(spark, sf_dir: str, seed: int, first: int, rec) -> dict:
    """One untraced pass, then one traced pass with construct / plan /
    execute spans per query and status-store reads; then the catalog's cold
    load time."""
    from kafka_clickhouse_example_spark import registry
    from kafka_clickhouse_example_spark.sources import catalog

    plain = run_pass(spark, sf_dir, pass_order(seed, first))
    fns = registry.all_queries()
    construct_ms = plan_ms = execute_ms = 0.0
    jobs_construct = 0
    stages: list[int] = []
    last_exec = sparkstore.max_execution_id(spark)
    t_pass = time.perf_counter()
    for name in pass_order(seed, first + 1):
        with rec.span(f"query.{name}"):
            last_job = sparkstore.max_job_id(spark)
            with rec.span("plans.construct"):
                t0 = time.perf_counter()
                df = fns[name](spark, sf_dir)
                construct_ms += 1e3 * (time.perf_counter() - t0)
            construct = sparkstore.jobs_since(spark, last_job)
            jobs_construct += len(construct)
            with rec.span("plans.plan"):
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan_ms += 1e3 * (time.perf_counter() - t0)
            last_job = sparkstore.max_job_id(spark)
            with rec.span("plans.execute"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                execute_ms += 1e3 * (time.perf_counter() - t0)
            for j in construct + sparkstore.jobs_since(spark, last_job):
                stages += j["stages"]
    traced_pass_s = time.perf_counter() - t_pass
    out = {
        "plans.construct_ms": construct_ms,
        "plans.construct_jobs": jobs_construct,
        "plans.plan_ms": plan_ms,
        "plans.execute_ms": execute_ms,
    }
    tot = sparkstore.stage_totals(spark, stages)
    out["plans.shuffle_read_bytes"] = tot["shuffle_read_bytes"]
    out["plans.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    out["plans.spill_bytes"] = tot["spill_bytes"]
    py = sparkstore.python_metrics_since(spark, last_exec)
    out["plans.python_rows"] = py["python_rows"]
    out["plans.python_ms"] = py["python_ms"]
    catalog.clear_load_memo()
    with rec.span("sources.catalog.load"):
        t0 = time.perf_counter()
        for t in tablegen.TABLES:
            catalog.load_table(spark, sf_dir, t)
        out["sources.catalog.load_ms"] = 1e3 * (time.perf_counter() - t0)
    return {
        "metrics": out,
        "plain": plain,
        "untraced_pass_s": sum(p[0] for p in plain.values()),
        "traced_pass_s": traced_pass_s,
    }
