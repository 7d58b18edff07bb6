"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join handling, partition coalescing), UTC session
timezone (the reference stamps ``__timestamp`` in UTC,
reference:odbc2deltalake/db_to_delta.py:91-101), Arrow for the
Python<->JVM boundary, and ZSTD parquet compression
(reference:odbc2deltalake/reader/odbc_reader.py:33).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def shuffle_parallelism(spark: SparkSession, default: int = 32) -> int:
    """The session's shuffle parallelism as an int, robust to platforms
    where ``spark.sql.shuffle.partitions`` is non-numeric (``'auto'``
    under AQE-managed sizing on some distros; ADVICE r7): fall back to
    ``sparkContext.defaultParallelism``, then to ``default``. Used by
    operators that size their own range-bucket counts so per-task slices
    shrink with the cluster."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default


class SparkThreadPool(ThreadPoolExecutor):
    """The engine's one thread pool: each submitted callable runs under
    the submitting thread's Spark local properties (job group, job
    description, scheduler pool), via ``pyspark.inheritable_thread_target``.
    Local properties are per thread, so a plain pool's jobs would drop the
    caller's job group and ``cancelJobGroup`` could not stop them."""

    def __init__(self, spark: SparkSession, max_workers: int):
        super().__init__(max_workers=max_workers)
        self._spark = spark

    def submit(self, fn, /, *args, **kwargs):
        return super().submit(
            inheritable_thread_target(self._spark)(fn), *args, **kwargs
        )


def get_spark(
    app_name: str = "odbc2deltalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass ``None`` after spark-submit has set the master.
    ``shuffle_partitions`` defaults to the core count locally — on a
    1000-executor cluster you would size it to ~2-3x total cores instead
    (AQE coalesces down, so erring high is safe).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14 (guide §2.2/§2.5, measured): AQE's partition-merge floor.
        # Spark's default 1 MB floor coalesces any sub-MB shuffle to ONE
        # partition, which serializes CPU-heavy small stages onto one
        # core (measured here: the minhash signature stage — md5 + conv
        # per shingle — ran 1-partition; dedup_minhash_lsh 3.8 s → 2.2 s
        # and corpus_decontaminate_fuzzy 5.2 s → 2.3 s at sf0.1 with a
        # 16 KB floor; 4 KB showed no further gain). Scale-safe by
        # construction: the floor only *limits merging* — on production
        # inputs coalesced partitions are sized by
        # advisoryPartitionSizeInBytes (64 MB default), far above any
        # floor, so a 16 KB floor is a no-op at scale and only matters
        # exactly where it should: tiny shuffles whose per-row compute
        # is the cost. Parameterised for cluster overrides.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "16k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # straggler mitigation: re-launch tasks that run far beyond their
        # stage's norm (observed here: a vCPU occasionally stalls and a
        # normally-1s single task takes 30-40s; on a 1000-executor cluster
        # the same guard covers slow/hot nodes). The duration threshold
        # covers single-task stages that have no quantile baseline.
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "2s")
        .config("spark.speculation.multiplier", "3")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.speculation.task.duration.threshold", "15s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # modest heap: testdata is small and huge heaps (90g) caused
        # erratic multi-10s GC/heap-growth pauses on tiny queries
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        # whole-stage codegen emits huge methods whose C2 compiles take
        # tens of seconds; while a compile is in flight the query runs
        # INTERPRETED (measured: 1 thread pegged at 1.0 cores for 40s on a
        # 1s query, ~0 GC). C1-only compiles are fast and predictable —
        # right for short-lived sessions with heavy codegen churn; on a
        # long-running cluster where C2 peak throughput amortizes, override
        # via SPARK_GRAFT_JVM_OPTS="".
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JVM_OPTS",
                # the large code cache matters most: C1-only defaults to
                # 48m, which Spark's codegen churn fills ("CodeCache is
                # full. Compiler has been disabled" => everything runs
                # interpreted)
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
                " -XX:CICompilerCount=16",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark has
        # no native type for: read as long and convert at load
        # (odbc2deltalake_spark/queries/registry.py:load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as INT64 micros, not Spark's legacy INT96:
        # INT96 column chunks carry NO parquet statistics (footer-based
        # per-file skipping reads [None, None] and cannot prune) and
        # block parquet predicate pushdown on timestamp filters. INT64
        # micros is what Delta/Iceberg writers emit for the same reason.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
