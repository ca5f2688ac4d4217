"""SparkSession factory with engine-wide defaults.

The configs here are the ones that matter at 100 TB just as much as on
``local[*]``:

* AQE on — runtime re-planning (coalesce shuffle partitions, skew-join
  splitting, dynamic broadcast) is the single biggest lever for plans whose
  statistics are wrong at plan time.
* ``nanosAsLong`` — the driver testdata's ``events.ts`` column is parquet
  TIMESTAMP(NANOS), which Spark 4 refuses to read natively; we read nanos as
  long and convert to microsecond timestamps in the reader
  (:func:`datapipeline_omnichanneltobigquery_spark.sources.tables.read_table`).
* Arrow enabled — every Pandas-UDF boundary (multimodal ops) moves data in
  Arrow batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
HALF_RAM = f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**21}m"


# Spark's RocksDB-backed streaming state store: state lives off-heap in a
# local RocksDB instance (changelog-checkpointed to the checkpoint location)
# instead of the default in-memory HDFSBackedStateStoreProvider map.  At real
# state sizes (billions of dedup keys / session windows) the in-memory
# provider OOMs the executors; RocksDB is the deployable setting.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "datapipeline_omnichanneltobigquery_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to 2× local cores, which keeps every core
    busy through AQE coalescing; on a real cluster you would size it to
    ~2-3× total executor cores and let AQE coalesce down.

    ``rocksdb_state_store=True`` switches Structured Streaming state to the
    RocksDB provider (:data:`ROCKSDB_STATE_STORE`).  It is a session-level
    SQL conf, so on an existing session it can also be flipped per-query via
    ``spark.conf.set("spark.sql.streaming.stateStore.providerClass", ...)``
    before ``start()`` — each query pins the provider it started with in its
    checkpoint.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime Bloom-filter semi-join pruning: for a selective build side,
        # the probe-side scan drops non-matching rows BEFORE the shuffle —
        # at 100 TB this is the difference between shuffling the fact table
        # and shuffling the match set (complements static PushedFilters,
        # which only see literal predicates)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode = driver-only JVM; this is the one memory knob.  Applied
        # only when this call actually launches the JVM (no-op afterwards).
        # Default: half of physical RAM (64g on a 128 GB host).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", HALF_RAM))
    )
    if rocksdb_state_store:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE
        )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if warehouse_dir is not None:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
