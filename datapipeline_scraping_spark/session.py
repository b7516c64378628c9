"""SparkSession factory + per-session runtime preparation.

The reference runs one Airflow LocalExecutor process per task with
asyncio concurrency (reference: ``docker-compose.yml:9``,
``src/scrapers/scraper.py:90-91``); here the execution substrate is a
Spark cluster. Everything performance-relevant is delegated to
Tungsten/AQE — the factory only turns the right knobs on.

Scale notes (100 TB): AQE handles skew joins and post-shuffle
coalescing; shuffle partition count here is a local-mode default —
on a real cluster set ``spark.sql.shuffle.partitions`` ≈ 2-3× total
cores and rely on AQE coalescing.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session (including a
# driver-provided one) before running engine queries. Keeping the
# session timezone pinned to UTC makes date_trunc/to_date behavior
# identical to the (naive-timestamp) DuckDB oracle.
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.codegen.wholeStage": "true",
    # runtime bloom-filter join pruning: ON with production-default
    # thresholds. q141 lowers the thresholds so the rewrite fires at
    # test scale; listing the keys HERE means every other query's
    # prepare() restores the defaults, so the override cannot leak.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # the engine's tuned broadcast threshold (same value build_spark
    # bakes in): prepare() applies it to driver-provided sessions too,
    # and restores it after q141's per-query -1 override
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    # r14: Spark still DEFAULTS zoned-timestamp parquet writes to the
    # deprecated INT96 physical type, which carries NO column
    # statistics — every ledger committed with a TIMESTAMP column
    # silently lost min/max (and null-count) file skipping, measured
    # when q196's pruning assert tripped on the 10x corpus (whose
    # synth casts events.ts to zoned). TIMESTAMP_MICROS restores
    # footer stats and cross-engine interop; readers of existing
    # INT96 files are unaffected (they simply keep pruning nothing).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "10GB",
    # r13: the manifest/CDF readers no longer implement pushFilters —
    # Spark 4.1 keeps one mutable read-info slot per Python source
    # instance, so filter-dependent partitions silently corrupt
    # multi-reference plans (see manifest_datasource's docstring).
    # Predicate pruning goes through manifest_sql.predicate_view
    # instead; the filterPushdown conf is no longer needed.
    # keep bucketed scans BUCKETED (r13): Spark 4.1's
    # DisableUnnecessaryBucketedScan rule drops the bucket layout for
    # pure filter queries, and with it SelectedBucketsCount pruning —
    # a `WHERE bucket_col = x` on a read_clustered table then scans
    # every bucket. The engine's clustered tables are join/prune
    # layout artifacts (n_buckets is sized to the cluster), so the
    # full-scan parallelism the rule buys is worth less than
    # one-bucket pruning on keyed lookups. Exchange-free clustered
    # joins are unaffected (their interesting partitioning already
    # kept the layout).
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
}

#: _RUNTIME_CONF keys prepare() already warned it could not set
_UNSET_WARNED: set[str] = set()


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Safe to call repeatedly; used at the top of every registry query so
    correctness does not depend on who built the SparkSession.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # a session built elsewhere may refuse a static conf: the
            # query still runs, so report once per key instead of raising
            if k not in _UNSET_WARNED:
                _UNSET_WARNED.add(k)
                warnings.warn(
                    f"session.prepare could not set {k}={v!r}: {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def build_spark(
    app_name: str = "datapipeline-scraping-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned local/cluster SparkSession.

    Local parallelism follows a ``local[N]`` master's N, else
    ``SPARK_GRAFT_CPUS`` (driver contract); on a real cluster pass
    ``master=None`` with external spark-submit conf and only the SQL
    conf below applies.
    """
    local_n = re.fullmatch(r"local\[(\d+)\]", master or "")
    cpus = int(
        local_n.group(1) if local_n else os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame-error call sites: on, every Column call
        # pays ~5 extra py4j round trips to record its Python line
        # (about 740 for q01's build). A static conf, so it cannot sit
        # in _RUNTIME_CONF; PySpark also caches it per process at the
        # first Column call, so a driver-built session keeps its own
        # setting. Errors then no longer name the building Python line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
