"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32), but every
config here is chosen to also hold on a 1000-executor cluster at ~100 TB:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion/promotion replace hand-tuned partition
  counts when data volume varies by 1000x between test and prod.
- ``spark.sql.shuffle.partitions`` is only the *pre-AQE initial* value; AQE
  coalesces down (local) or the cluster config raises it (prod: ~2-3x cores).
- Arrow on: every Pandas-UDF boundary (similarity, multimodal) transfers
  columnar batches instead of pickled rows.
- Session timezone pinned to UTC so epoch<->timestamp conversions are
  deterministic and match the DuckDB oracle regardless of host timezone.
"""

from __future__ import annotations

import hashlib
import os
import weakref
import zipfile
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)


def _package_zip() -> str:
    """Zip this package (content-addressed name, rebuilt only on change).

    Python UDF closures that call module-level helpers are pickled *by
    reference* to this package; executor Python workers must be able to
    import it no matter what cwd/sys.path the harness driver uses. Shipping
    the zip via ``addPyFile`` is the same mechanism spark-submit --py-files
    uses on a real cluster.
    """
    entries = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                entries.append((full, os.path.relpath(full, os.path.dirname(_PKG_DIR))))
    h = hashlib.md5()
    for full, rel in sorted(entries, key=lambda e: e[1]):
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    path = os.path.join("/tmp", f"kce_spark_pkg_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in entries:
                zf.write(full, rel)
        os.replace(tmp, path)
    return path


_shipped_apps: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers (idempotent:
    re-adding an identical file is a no-op). Memoized per SparkContext —
    configure_runtime runs per query, and re-hashing the package tree every
    call is measurable driver-side overhead across a 40-query bench."""
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _shipped_apps:
            return
        spark.sparkContext.addPyFile(_package_zip())
        _shipped_apps.add(app_id)
    except Exception:
        pass  # e.g. Spark Connect sessions without an SC; UDFs then rely on cwd


_MEMO_ATTR = "_kce_memo"
# The sessions that hold memo entries, held weakly: clear_session_memo()
# reaches every one of them without keeping any alive.
_memo_sessions: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Return ``build()``, computed once per session and ``key``.

    ``key[0]`` names the memo, e.g. ``("flows", sf_dir)``. The entries live
    on the session object itself: a memoized DataFrame is bound to the
    session that built it, so a sibling ``spark.newSession()`` (same
    SparkContext, its own conf and views) builds its own, and a dropped
    session is freed together with its entries. (Held in a
    WeakKeyDictionary keyed by the session they would never be freed: each
    memoized DataFrame refers back to its key.) Entries are never evicted.
    """
    memo = vars(spark).setdefault(_MEMO_ATTR, {})
    if key not in memo:
        memo[key] = build()
        _memo_sessions.add(spark)
    return memo[key]


def clear_session_memo(*names: str) -> None:
    """Drop the memo entries named ``names`` (``key[0]``) in every session."""
    for spark in list(_memo_sessions):
        memo = vars(spark)[_MEMO_ATTR]
        vars(spark)[_MEMO_ATTR] = {k: v for k, v in memo.items() if k[0] not in names}


def get_spark(
    app_name: str = "kafka-clickhouse-example-spark",
    *,
    cpus: str | int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``driver_memory`` only takes effect if the JVM is not already running.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Worker interpreters get PYTHONPATH rebuilt by the JVM from
    # sparkPythonPath + spark.executorEnv.PYTHONPATH — the driver's own
    # $PYTHONPATH is dropped. Propagate the sitecustomize shim dir (vendored
    # google.protobuf fallback for transformWithState) and the repo root so
    # every spawned worker self-shims. See compat/protobuf_compat.py.
    from kafka_clickhouse_example_spark.compat.protobuf_compat import pythonpath_entries

    worker_path = [p for p in pythonpath_entries() if os.path.isdir(p)]
    if os.environ.get("PYTHONPATH"):
        worker_path.append(os.environ["PYTHONPATH"])
    if worker_path:
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.pathsep.join(worker_path)
        )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The driver harness hands us its own SparkSession; these settings keep
    query results deterministic (UTC) and plans adaptive without needing to
    own session construction.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # some confs may be static on older builds; never fail a query over it
    # InferFiltersFromGenerate synthesizes a size(x)>0 filter under every
    # explode; when x is a Python-UDF output the pushed filter re-evaluates
    # the whole UDF chain a second time (2x the dominant map cost of
    # shingle/tokenize scans — observed in text_decontaminate's plan). The
    # rule only prunes empty arrays pre-explode, which the Generate does
    # anyway, so excluding it is semantics-free.
    #
    # InferFiltersFromConstraints (r11) pushes an inferred isnotnull(key)
    # under the JOIN consumer of a shared subplan but not under its
    # aggregate/scalar consumers, so the two Exchange subtrees stop being
    # canonically equal and ReuseExchange dies exactly where this engine
    # leans on it (view-consumed-twice shapes: Q15's revenue view, the
    # chi-square cell matrix, the cardinality histograms — measured 8->4,
    # 4->1, 2->1 table scans with the rule off). The inferred filters
    # themselves buy nothing here: every join key in the engine is
    # non-null by construction (synthetic ids / TPC-H keys), and queries
    # over genuinely nullable columns (reach3's md5 spokes) already filter
    # explicitly. Exclusion is semantics-free (the rule only ADDS
    # redundant filters); the trade given up — early null-row pruning
    # before a shuffle — applies only to corpora with null join keys,
    # which this engine's sources never produce.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ",org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
    )
    ship_package(spark)
    return spark
