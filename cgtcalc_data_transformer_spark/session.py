"""SparkSession construction with scale-aware defaults.

The reference is a single-threaded Node.js process that materializes
whole files in memory (`/root/reference/index.js:84-101`). Here every
pipeline is a lazy DataFrame plan; these defaults are tuned so the
same code runs on local[N] for tests and on a large cluster:

- AQE on (runtime coalescing / skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage.
- session timeZone pinned to UTC: the reference's date extraction is
  local-TZ-dependent (`/root/reference/freetrade.js:184-186`); UTC
  reproduces its golden outputs and matches the DuckDB oracle.
- Arrow enabled for the few pandas-UDF operators (similarity search,
  multimodal decode) — batched columnar transfer, never per-row.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable SQL confs we need even on sessions we did not build
# (the correctness driver hands us its own SparkSession).
RUNTIME_CONFS = {
    # events.parquet is written with nanosecond timestamps, which the
    # Spark 4 parquet reader rejects; read them as raw int64 nanos and
    # convert explicitly (sources/tpch.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on some builds; loaders degrade gracefully
    return spark


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for this host: min(32g, ~60% of MemTotal), in MiB.

    local[N] puts driver + all N executor threads in ONE JVM; an 8g
    heap across 32 concurrent tasks forces multi-second GC pauses late
    in long query batteries (observed as 5-10x outliers on otherwise
    sub-second queries), hence the 32g ceiling for large hosts. On a
    small host a 32g ceiling lets the heap outgrow physical memory and
    the kernel OOM-kills the JVM, so the heap is capped at 60% of
    MemTotal, leaving room for off-heap buffers, Python workers and the
    OS. Unreadable ``meminfo`` (non-Linux) → the 32g ceiling.
    """
    ceiling_mib = 32 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mib = int(line.split()[1]) // 1024  # value is in kB
                    return f"{min(ceiling_mib, total_mib * 6 // 10)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{ceiling_mib}m"


# Warehouse + Derby metastore dir, created once per process. mkdtemp
# (NOT a pid-keyed name): /tmp persists across runs and pids recycle,
# so a pid-keyed path can collide with a stale warehouse left by an
# earlier process whose tables the fresh in-memory catalog has never
# heard of — saveAsTable then throws LOCATION_ALREADY_EXISTS even in
# overwrite mode (this zeroed the round-8 bench run). mkdtemp is
# guaranteed-fresh and race-free.
_WAREHOUSE_DIR: str | None = None


def _warehouse_dir() -> str:
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="spark_wh_")
        # /tmp persists across runs here, so without cleanup every
        # process leaks a spark_wh_* dir full of bucketed parquet
        # copies (ADVICE r9). Best-effort removal at exit — the JVM
        # may still hold Derby locks, hence ignore_errors.
        import atexit
        import shutil

        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def get_spark(
    app_name: str = "cgtcalc-data-transformer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ≈ cores. On a real cluster AQE
    # coalesces from a deliberately high initial number instead.
    shuffle_partitions = shuffle_partitions or int(cpus)
    # warehouse + metastore in a guaranteed-fresh temp dir: bucketed-
    # table writes (sources/bucketed.py) must not litter the caller's
    # cwd or collide with stale dirs from recycled pids
    wh = _warehouse_dir()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.warehouse.dir", wh)
        .config(
            "spark.driver.extraJavaOptions", f"-Dderby.system.home={wh}"
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # sized from this host (default_driver_memory); a real cluster
        # sizes executor memory separately
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
