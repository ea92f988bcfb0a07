"""SparkSession factory with scale-appropriate defaults.

The reference is an eager single-node pandas pipeline with no execution
configuration at all (see SURVEY.md §4). Here the session is tuned for the
two regimes we care about:

- local[] testing (driver runs local[32], 128 GiB) — modest shuffle
  partition count so tiny SF inputs don't fragment into thousands of
  empty tasks;
- a real cluster at ~100 TB — AQE handles runtime coalescing/skew, the
  static shuffle-partition number is only the pre-AQE upper bound, and all
  session defaults below are safe to scale up (none encode data size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Local-mode driver heap: half the machine's physical memory, capped
    at 16g (in MiB, e.g. ``"8046m"`` on a 15.7 GiB host). The driver JVM
    also needs off-heap room (Arrow buffers, netty, metaspace) and the
    Python workers run beside it, so a heap sized to the whole machine
    lets one heavy job get the host OOM-killed where there is no swap.
    ``total_bytes`` defaults to ``os.sysconf`` physical memory; if that is
    unavailable the default is 4g."""
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (AttributeError, ValueError, OSError):
            return "4g"
    return f"{min(16 * 1024, total_bytes // 2 // (1024 * 1024))}m"


_DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning (partition coalescing, skew
    # join splitting, broadcast conversion) — the main lever that keeps one
    # static config valid from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any driver-side pandas interchange and for pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic time semantics for oracle comparisons and streaming
    # window alignment.
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps (isAdjustedToUTC=false) must scan as plain
    # TIMESTAMP, not TIMESTAMP_NTZ: NTZ breaks epoch arithmetic and
    # watermarks, and with the UTC session the two types carry the same
    # wall-clock anyway. Keeping the scan type TIMESTAMP (instead of a
    # post-scan cast) preserves ts-predicate pushdown into parquet.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Dimension tables (region/nation/customer-at-small-SF, the country
    # mapping, LSH band tables) should broadcast; 64 MB covers every
    # dimension we ship while still refusing to broadcast a fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local-mode heap: Spark's 1g default driver heap cannot HOLD a
    # 64 MB-threshold broadcast build (hashed relations inflate ~5-10×
    # over on-disk size) and OOMs under a 10× data stress
    # (SCALING.md §synthetic-sf1). In local[] the driver JVM IS the
    # executor, so it gets the executor-grade sizing, bounded by the
    # machine (``default_driver_memory``); ``extra_conf`` and, on a real
    # cluster, the submitter's --driver-memory override this.
    "spark.driver.memory": default_driver_memory(),
    # Read-side split size: 128 MB keeps scan tasks right-sized at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Generated-class cache (a static conf: it applies at session start).
    # Spark's default of 100 is below one pass of the 19 bench.py
    # headline + warehouse queries, which compiles about 235 classes, so
    # each class was evicted before its next use and every pass recompiled
    # all of them (233-238 compiles per warm pass on a 4-core local
    # session over sf0.01 tables, counted with CodegenMetrics; 0 at 1000).
    # 1000 holds that pass plus the refresh and dashboard surface with
    # headroom.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "covid-data-challenge-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests, bench.py, and the driver's harness all agree.
    On a real cluster, pass ``master=None`` with ``spark.master`` already
    set by the submitter — an existing session is returned as-is.
    """
    builder = SparkSession.builder.appName(app_name)

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()


def session_conf(
    shuffle_partitions: int | None = None, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The conf :func:`get_spark` applies: the defaults, the shuffle
    partition count (``$SPARK_GRAFT_SHUFFLE_PARTITIONS``, else 32), then
    ``extra_conf`` over both."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    return conf
