"""SparkSession factory tuned for the pystreams-spark engine.

Design notes (SURVEY.md §4.4, 100 TB posture):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned static plan; at 1000-executor scale AQE is what keeps the
  shuffle graph healthy when the optimizer's size estimates are wrong.
- ``spark.sql.shuffle.partitions`` is a *starting* width; AQE coalesces
  down. On a real cluster set it to ~2-3x total cores.
- Session timezone pinned to UTC so date/time functions are deterministic
  and match the DuckDB oracle (naive timestamps).
- Arrow enabled: every pandas-UDF boundary is Arrow-batched.
- Local defaults fit the machine: ``local[n]`` over the cores this
  process may run on, and a driver heap of half the physical memory
  (at most 16 GiB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (Spark 4.1): lets custom Python
    # sources consume planned filters (sources.py pushFilters) — off by
    # default upstream, required for source-side partition pruning
    "spark.sql.python.filterPushdown.enabled": "true",
    # The engine checkpoints small intermediates (MinHash signatures,
    # candidate lists) per query; their RDD blocks are only reclaimed by
    # the ContextCleaner after a DRIVER GC, and with a mostly-idle
    # driver heap that can be never. On a long pipeline (the 100+-query
    # bench, or a multi-stage production run) unreclaimed blocks crowd
    # the block manager. Force a periodic driver GC so cleanup keeps
    # pace (default is 30 min — far longer than a whole bench run).
    "spark.cleaner.periodicGC.interval": "1min",
}


def _machine_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the
    host's core count)."""
    return len(os.sched_getaffinity(0))


def _machine_driver_memory() -> str:
    """Half the physical memory, at most 16 GiB, in MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "pystreams-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Create (or fetch) the local SparkSession used by tests and bench.

    The driver's verify harness passes in its own session; production use
    on a cluster would configure master/executors externally. This factory
    only controls local runs.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or _machine_cpus()
    shuffle_partitions = shuffle_partitions or str(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _machine_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # static conf: keep managed tables (bucketing tests) out of cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/pystreams-spark-warehouse"),
        )
        .config("spark.sql.catalogImplementation", "in-memory")
    )
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    # independence sweeps (r12-ext): SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2"
    # overrides any default — e.g. spark.sql.adaptive.enabled=false to
    # re-run the whole oracle-parity suite without AQE replanning, the
    # same evidence pattern as PYSTREAMS_TEST_SHUFFLE's
    # partitioning-independence sweep
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        if not _:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONFS: expected k=v, got {pair!r}"
            )
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def apply_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable determinism confs to an externally-owned
    session (e.g. the driver's). Only touches confs that are safe to set
    after startup."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
