"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the job would set cluster-side via
spark-submit conf: AQE on (runtime skew-join splitting + partition
coalescing), Arrow enabled for the pandas-UDF stages, shuffle
partitions sized to cores (local) — on a real cluster this would be
2-3x total executor cores and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "deduplicator_go_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (→ ``local[n]``) or a full master string.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        if isinstance(cores, (int,)) or (isinstance(cores, str) and cores.isdigit()):
            n = int(cores)
        shuffle_partitions = max(8, n)

    # local-mode shuffles go through spark.local.dir on the driver host;
    # tmpfs removes the shared-disk bottleneck (opt out: SPARK_GRAFT_TMPFS=0)
    local_dir = None
    if os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0" and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        try:
            os.makedirs(local_dir, exist_ok=True)
        except OSError:
            local_dir = None

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing is byte-targeted; this engine's hot stages are
        # CPU-bound on small-byte intermediates (band/anchor tables,
        # candidate pairs), and measured coalescing cost the candidate
        # window path 39% wall at local[16] by squeezing it to 1-3
        # tasks. On a production cluster with IO-bound scans you'd
        # re-enable it with minPartitionSize sized to the executor
        # count; skew-join splitting stays on either way.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long webtext values: keep Arrow batches small enough to bound
        # per-batch memory in the pandas-UDF stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list table directories on the driver: above the default of 32
        # paths a read starts a listing job (64 tasks for the 64-bucket
        # clusters table, ~0.6 s per read on 4 cores). Catalog tables
        # list a few hundred entries at most, which the driver walks in
        # milliseconds; Iceberg reads its manifests the same way.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # a write leaves only its data files: no _SUCCESS marker (the
        # catalog's commit marker is the table's completion record)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # and no hidden .crc sidecar per file, which doubled the file count
    # of every catalog table. The local file system is one cached
    # instance per JVM, shared by the driver and the local executors.
    # (Not RawLocalFileSystem as fs.file.impl: getLocal casts the file:
    # implementation to LocalFileSystem.)
    jvm = spark.sparkContext._jvm
    jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).setWriteChecksum(False)
    return spark
