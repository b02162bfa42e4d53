"""SparkSession factory: one session path and one precedence rule.

Every setting resolves the same way: an explicit argument (``master``,
``shuffle_partitions``, ``extra_conf``) beats the launch conf, and the launch
conf beats the factory default in :data:`DEFAULTS`. The launch conf is what
``SparkConf()`` holds before the session is built: ``spark-submit
--master/--conf`` and spark-defaults.conf (in a process whose driver JVM is
already up, whatever that JVM was started with).

When nothing sets them, the master is ``local[<usable cores>]`` and shuffle
partitions are ``max(8, defaultParallelism)``, read from the created
session. There is no warm-up: a session's first query pays its own codegen
and Python-worker start.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

DEFAULTS = {
    # event-time semantics stay stable and DuckDB-oracle comparisons
    # reproducible
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan, skew-join splitting, partition coalescing
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF exchange
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128MB input splits: at 100TB that is ~800k tasks, fine for a
    # 1000-executor cluster; local tests override nothing.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": "8g",
    # throughput-oriented collector: G1's concurrent cycles inflate
    # state-store commit times 3-10x under wide executors (measured
    # 2026-08-17 on the 13.7M-turn enrich+dedup stream: local[32]
    # sustained 196-303k t/s on G1 with 75-236s total commit, 401-459k
    # t/s on ParallelGC with 34-52s — and run-to-run variance collapsed).
    # ETL/streaming workloads have no latency SLO on the driver, so the
    # stop-the-world throughput collector is the right default.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # local mode folds executors into the driver JVM; on a real cluster
    # the executor flag is the one that matters
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.ui.enabled": "false",
    # Spark 4.1 writes a checksum sidecar for every checkpoint file and
    # BLOCKS each state-store delta close on the async checksum future
    # (thread dumps r6: all 32 task threads parked in
    # ChecksumCancellableFSDataOutputStream.close -> awaitResult inside
    # finalizeDeltaFile; ~0.3-0.7s of summed commit time per partition
    # per batch).  Local/HDFS checkpoints already carry
    # filesystem-level CRCs (ChecksumFileSystem .crc sidecars / HDFS
    # block checksums) — the Spark-level layer targets object stores
    # without native checksums.  Disabling it lifted the sustained
    # enrich+dedup stream 86.7k -> 100.6k turns/s (A/B r6).  Object-store
    # deployments turn it back on with
    # ``--conf spark.sql.streaming.checkpoint.fileChecksum.enabled=true``.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # in-memory provider: right while state fits the heap; use
    # state_store_conf(est_keys, ...) via extra_conf to flip to RocksDB
    # past the measured crossover (BENCH.md §5)
    "spark.sql.streaming.stateStore.providerClass": HDFS_PROVIDER,
}


def get_spark(
    app_name: str = "dataflow-mm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    explicit = dict(extra_conf or {})
    if master is not None:
        explicit["spark.master"] = master
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # A plain `python` run starts the driver JVM here, so driver memory and
    # JVM options go in as its launch flags (they take effect only at
    # launch); under spark-submit the JVM is already up and this connects.
    launch_flags = {
        **DEFAULTS,
        "spark.master": f"local[{len(os.sched_getaffinity(0))}]",
        **explicit,
    }
    SparkContext._ensure_initialized(conf=SparkConf().setAll(launch_flags.items()))
    conf = {**DEFAULTS, **dict(SparkConf().getAll()), **explicit}
    spark = SparkSession.builder.config(map=conf).appName(app_name).getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        # 1x cores: AQE coalesces batch shuffles anyway, and streaming state
        # store instances (fixed at shuffle_partitions) stay cheap to commit.
        # A real multi-executor cluster would size this 2-3x total cores.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, spark.sparkContext.defaultParallelism)),
        )
    spark.sparkContext.setLogLevel("WARN")
    # JVM options only reach a freshly launched driver JVM: a reused one, or
    # the one spark-submit started with its own options, keeps its
    # collector. Read the ACTUAL collector and warn if it isn't Parallel.
    gc_names = runtime_gc(spark)
    if gc_names and not any(n.startswith("PS ") for n in gc_names):
        import warnings

        warnings.warn(
            f"driver JVM is running GC {gc_names} — the ParallelGC default "
            "did not take effect (pre-existing JVM?); streaming-state "
            "benchmark numbers from this session are not comparable",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def state_store_conf(
    est_keys: int,
    executors: int = 1,
    heap_bytes: int = 8 << 30,
    bytes_per_key: int = 150,
) -> dict[str, str]:
    """Pick the state-store provider from the MEASURED crossover
    (BENCH.md §5, r3): the in-memory HDFS-backed provider wins while
    per-executor state fits comfortably in the heap (13.7M dedup keys in 8g:
    HDFS 303k vs RocksDB 196k t/s), and collapses once it does not — at 30M
    keys RocksDB@8g (180k) beats HDFS even with 28g (109k), because the
    versioned in-heap maps turn the throughput collector into full-GC churn.

    Decision rule (conservative fit of both measured regimes): RocksDB when
    per-executor keys exceed 16M OR raw state bytes exceed ~30% of the
    executor heap; HDFS otherwise. Pass the result as ``extra_conf`` to
    :func:`get_spark` — per-query override stays one config line."""
    per_exec = est_keys / max(1, executors)
    if per_exec > 16_000_000 or per_exec * bytes_per_key > 0.30 * heap_bytes:
        provider = ROCKSDB_PROVIDER
    else:
        provider = HDFS_PROVIDER
    return {"spark.sql.streaming.stateStore.providerClass": provider}


def runtime_gc(spark: SparkSession) -> list[str]:
    """Names of the garbage collectors ACTUALLY running in the driver JVM
    (GarbageCollectorMXBean) — ParallelGC reports 'PS Scavenge'/'PS MarkSweep',
    G1 reports 'G1 Young Generation'/'G1 Old Generation'. Bench harnesses
    record this so a silently-ignored GC flag is detectable in the output."""
    try:
        jvm = spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return [beans.get(i).getName() for i in range(beans.size())]
    except Exception:  # no py4j gateway (spark-connect) — best-effort probe
        return []
