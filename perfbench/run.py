"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 18 --trace 0

Inputs are generated from ``--seed`` before the clock starts, the engine is
driven only through the public functions ``streaming/app.py`` and the query
registry call, outputs are checked outside the timed region, and the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from a separate traced run. Every run also writes a uniquely named
artifact under ``perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import shutil
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402
from spans import SpanRecorder, self_time_by_name  # noqa: E402

WORKLOADS = ("ingest_backlog", "query_mix")

# Metric names and units are written once, in BENCHMARK.json.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# Per-layer metric -> (end-to-end metric it should move, workload).
LAYER_MAP = {
    "session.start_s": ("setup_s", "all"),
    "session.warmup_s": ("setup_s", "all"),
    "sources.rows_in": ("op_wall_ms", "ingest_backlog"),
    "sources.files_per_batch": ("op_wall_ms", "ingest_backlog"),
    "sources.tasks_per_batch": ("op_wall_ms", "ingest_backlog"),
    "sources.list_ms": ("op_wall_ms", "ingest_backlog"),
    "sources.catalog.load_ms": ("op_wall_ms", "query_mix"),
    "normalize.rows_out": ("op_wall_ms", "ingest_backlog"),
    "normalize.rows_dropped": ("op_wall_ms", "ingest_backlog"),
    "normalize.busy_ms": ("op_wall_ms op_cpu_ms", "ingest_backlog; setup_s on query_mix"),
    "streaming.batches": ("op_wall_ms", "ingest_backlog"),
    "streaming.rows_per_batch": ("op_wall_ms", "ingest_backlog"),
    "streaming.planning_ms": ("op_wall_ms", "ingest_backlog"),
    "streaming.commit_ms": ("op_wall_ms", "ingest_backlog"),
    "streaming.trigger_ms_p50": ("op_wall_ms", "ingest_backlog"),
    "streaming.cores_busy_frac": ("op_wall_ms", "ingest_backlog"),
    "streaming.local1_rows_per_s": ("op_wall_ms", "ingest_backlog"),
    "sinks.write_calls": ("op_wall_ms", "ingest_backlog"),
    "sinks.rows_written": ("op_wall_ms", "ingest_backlog"),
    "sinks.write_ms": ("op_wall_ms", "ingest_backlog"),
    "sinks.add_batch_ms": ("op_wall_ms", "ingest_backlog"),
    "plans.construct_ms": ("op_wall_ms", "query_mix"),
    "plans.construct_jobs": ("op_wall_ms", "query_mix"),
    "plans.plan_ms": ("op_wall_ms", "query_mix"),
    "plans.execute_ms": ("op_wall_ms", "query_mix"),
    "plans.first_call_ms": ("op_wall_ms setup_s", "query_mix"),
    "plans.shuffle_read_bytes": ("op_cpu_ms", "query_mix"),
    "plans.shuffle_write_bytes": ("op_cpu_ms", "query_mix"),
    "plans.spill_bytes": ("op_cpu_ms", "query_mix"),
    "plans.python_rows": ("op_cpu_ms", "query_mix"),
    "plans.python_ms": ("op_cpu_ms", "query_mix"),
    "operators.flows.wall_ms": ("op_wall_ms", "query_mix"),
    "operators.tpch.wall_ms": ("op_wall_ms", "query_mix"),
    "operators.dedup.wall_ms": ("op_wall_ms", "query_mix"),
    "operators.similarity.wall_ms": ("op_wall_ms", "query_mix"),
    "operators.text.wall_ms": ("op_wall_ms", "query_mix"),
    "operators.sketches.wall_ms": ("op_wall_ms", "query_mix"),
    "trace.overhead_frac": ("none (tracing cost)", "all"),
}


class PssSampler(threading.Thread):
    """Samples the process tree's summed PSS until stopped."""

    def __init__(self, interval_s: float = 0.25):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MiB)
        self._stop_event = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_event.is_set():
            self.samples.append((time.perf_counter(), procfs.tree_pss_mb(pid)))
            self._stop_event.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)

    def peak(self, window: tuple[float, float]) -> float:
        return max(mb for t, mb in self.samples if window[0] <= t <= window[1])


class HostMonitor(threading.Thread):
    """Host-contention diagnostics over the run (not gated): the share of
    CPU time stolen by the hypervisor, the mean of /proc/pressure/cpu
    'some avg10' samples and the highest 1-minute load average seen."""

    def __init__(self, interval_s: float = 2.0):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.psi: list[float] = []
        self.load: list[float] = []
        self._cpu0 = procfs.cpu_times()
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            psi = procfs.cpu_pressure_some_avg10()
            if psi is not None:
                self.psi.append(psi)
            self.load.append(procfs.loadavg_1m())
            self._stop_event.wait(self.interval_s)

    def stop(self) -> dict:
        self._stop_event.set()
        self.join(timeout=10)
        return {
            "steal_share": procfs.steal_share(self._cpu0, procfs.cpu_times()),
            "cpu_pressure_some_avg10": sum(self.psi) / len(self.psi) if self.psi else None,
            "loadavg_1m_max": max(self.load) if self.load else procfs.loadavg_1m(),
        }


def start_session(work: str, cpus: int):
    """The engine's own session factory, pinned to ``cpus`` cores, with every
    directory Spark and the JVM write to inside ``work``."""
    from kafka_clickhouse_example_spark.session import get_spark

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # A fixed set of JIT compiler threads: with dynamic ones, a thread
            # that exits takes its CPU out of procfs.jit_cpu_s and into the
            # work CPU of whatever operation is running.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the active session, end the JVM (it exits when its stdin closes)
    and wait until no child process of this one is left. A no-op once done."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.time() + 30
    while len(procfs.tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def run_ingest(args, work: str, rec: SpanRecorder, cpus: int) -> dict:
    import ingest

    expect = ingest.make_inputs(work, args.seed)
    t_setup0 = time.perf_counter()  # set-up starts after input generation
    spark = start_session(work, cpus)
    start_s = time.perf_counter() - t_setup0
    rates = ingest.warm(spark, work)
    setup_s = time.perf_counter() - t_setup0
    out = {"setup_s": setup_s, "session.start_s": start_s, "session.warmup_s": setup_s - start_s,
           "warm_rates": rates}
    if not args.trace:
        m = ingest.measure(spark, work, expect["backlog"], args.seconds, rates[-1])
        out.update(
            window=m["window"],
            problems=m["problems"], attempted=m["attempted"], failed=m["failed"],
            metrics={k: m[k] for k in ("op_wall_ms", "op_cpu_ms")},
            extra={
                "rows_per_s": (m["rows_per_s"], "1/s"),
                "cpu_us_per_row": (m["cpu_us_per_row"], "us"),
                "batch_latency_ms": (m["batch_latency_ms"], "ms"),
                "drains": (len(m["drains"]), "count"),
                "batch_ms": (m["batch_ms"], "ms"),
                "batch_cpu_ms": (m["batch_cpu_ms"], "ms"),
            },
        )
    else:
        t = ingest.traced(spark, work, expect["backlog"], rec, cpus)
        layers = t["metrics"]
        spark.stop()  # the same JVM, restarted as a single-threaded context
        spark = start_session(work, 1)
        with rec.span("baseline.local1_drain"):  # the first third of the backlog
            d = ingest.Drain(spark, f"{work}/backlog/part-0000[0-7].json", f"{work}/local1")
        layers["streaming.local1_rows_per_s"] = d.rows_in / d.wall_s
        layers["trace.overhead_frac"] = t["traced_drain_s"] / t["untraced_drain_s"] - 1
        out.update(problems=t["problems"] + (["local[1] drain failed"] if d.failed else []),
                   attempted=t["attempted"] + len(d.progress), layers=layers,
                   overhead={"untraced_s": t["untraced_drain_s"], "traced_s": t["traced_drain_s"]})
        out["failed"] = len(out["problems"])
    stop_session()
    return out


def run_query_mix(args, work: str, rec: SpanRecorder, cpus: int) -> dict:
    import querymix

    querymix.make_inputs(work, args.seed)
    sf_dir = f"{work}/tables"
    t_setup0 = time.perf_counter()  # set-up starts after input generation
    spark = start_session(work, cpus)
    start_s = time.perf_counter() - t_setup0
    warm = querymix.warm(spark, sf_dir, args.seed)
    setup_s = time.perf_counter() - t_setup0
    pass_s = sum(p[0] for p in warm[-1].values())
    out = {"setup_s": setup_s, "session.start_s": start_s, "session.warmup_s": setup_s - start_s,
           "warm_pass_s": [sum(q[0] for q in p.values()) for p in warm]}
    if not args.trace:
        m = querymix.measure(spark, sf_dir, args.seed, args.seconds, pass_s, len(warm))
        problems = m["errors"] + querymix.check(spark, sf_dir)
        out.update(
            window=m["window"],
            problems=problems,
            attempted=m["passes"] * len(querymix.QUERIES) + len(querymix.QUERIES),
            failed=len(problems),
            metrics={k: m[k] for k in ("op_wall_ms", "op_cpu_ms")},
            extra={
                "passes": (m["passes"], "count"),
                "per_pass_wall_cpu_s": (m["per_pass"], "s"),
                "query_wall_ms": ({q: 1e3 * v for q, v in m["wall_s"].items()}, "ms"),
                "query_cpu_ms": ({q: 1e3 * v for q, v in m["cpu_s"].items()}, "ms"),
            },
        )
    else:
        t = querymix.traced(spark, sf_dir, args.seed, len(warm), rec)
        layers = t["metrics"]
        layers["plans.first_call_ms"] = 1e3 * sum(p[0] for p in warm[0].values())
        for fam, names in querymix.FAMILIES.items():
            layers[f"operators.{fam}.wall_ms"] = 1e3 * sum(t["plain"][q][0] for q in names)
        layers["trace.overhead_frac"] = t["traced_pass_s"] / t["untraced_pass_s"] - 1
        import flowgen
        import ingest

        flowgen.write_backlog(f"{work}/flows", args.seed, 1, ingest.LINES_PER_FILE)
        with rec.span("operators.normalize.microbench"):
            layers["normalize.busy_ms"] = ingest.normalize_busy_ms(spark, f"{work}/flows/part-00000.json")
        problems = querymix.check(spark, sf_dir)
        out.update(problems=problems, attempted=3 * len(querymix.QUERIES), failed=len(problems),
                   layers=layers,
                   overhead={"untraced_s": t["untraced_pass_s"], "traced_s": t["traced_pass_s"]})
    stop_session()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("kafka_clickhouse_example_spark") is None:
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(HERE, "work", run_id)
    results = os.path.join(HERE, "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    cpus = min(len(os.sched_getaffinity(0)), os.cpu_count() or 1)
    rec = SpanRecorder(enabled=bool(args.trace))
    pss = PssSampler()
    host = HostMonitor()
    pss.start()
    host.start()
    try:
        runner = run_ingest if args.workload == "ingest_backlog" else run_query_mix
        out = runner(args, work, rec, cpus)
    finally:
        if "pyspark" in sys.modules:
            stop_session()  # after a failure too, so no JVM outlives the run
        pss.stop()
        diag = host.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        layers = {k: float(out["layers"].get(k, 0.0)) for k in LAYER_UNITS}
        layers["session.start_s"] = out["session.start_s"]
        layers["session.warmup_s"] = out["session.warmup_s"]
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        # peak over the timed region: the set-up peak moves with when the
        # cold pass happens to collect garbage and how many Python workers
        # it happened to start
        values = dict(out["metrics"], setup_s=out["setup_s"], peak_pss_mb=pss.peak(out["window"]))
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    artifact = {
        "run_id": run_id,
        "args": vars(args),
        "cpus": cpus,
        "metrics": metrics,
        "extra": {k: {"value": v, "unit": u} for k, (v, u) in out.get("extra", {}).items()},
        "setup": {k: out[k] for k in out if k.startswith(("session.", "warm"))},
        "host": diag,
        "problems": out["problems"],
        "attempted": out["attempted"],
        "failed": out["failed"],
    }
    if args.trace:
        artifact["layer_map"] = {
            k: {"unit": LAYER_UNITS[k], "moves": e2e, "on": wl} for k, (e2e, wl) in LAYER_MAP.items()
        }
        artifact["self_time_s"] = self_time_by_name(rec.spans)
        artifact["tracing_overhead"] = out["overhead"]
        artifact["spans"] = rec.as_dicts()
    path = os.path.join(results, f"{run_id}.json")
    with open(path, "x") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']} {m['unit']}")
    for k, m in artifact["extra"].items():
        print(f"{args.workload} {k} = {json.dumps(m['value'])} {m['unit']}")
    print(f"{args.workload} failed_frac = {out['failed'] / out['attempted']} ({out['failed']}/{out['attempted']})")
    for p in out["problems"]:
        print(f"{args.workload} FAILED CHECK: {p}")
    print(f"{args.workload} host = {json.dumps(diag)}")
    print(f"{args.workload} artifact = {os.path.relpath(path, ROOT)}")
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
