"""SparkSession bootstrap.

Capability parity with the reference's session factory
(``/root/reference/src/h3_indexer/spark/spark.py:76-136``) minus the
jar plumbing we can't exercise offline (Sedona, Athena JDBC drivers);
the object-store tuning it bakes in (S3A fast upload, Kryo, safe
committers) is available as :data:`CLOUD_STORE_CONF` /
:func:`get_cloud_spark_session`. Keeps the reference's performance
posture: AQE with
partition coalescing + skew-join handling, 128 MB advisory partitions,
Arrow-vectorized Python interop, and a shuffle-partition width keyed to
the H3 resolution (reference ``spark/spark.py:14-23,115``).

Designed for a 1000-executor cluster; on ``local[N]`` the same settings
are safe because AQE coalesces the excess shuffle partitions at runtime.
That holds for persisted stage outputs too only because
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on:
at Spark's default (off) AQE leaves the final stage of a cached plan at
the full resolution-keyed width.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference spark/spark.py:14-23 — initial shuffle width per H3
# resolution. With AQE coalescing enabled this is an upper hint, not a
# hard width: at 100 TB the finer resolutions explode row counts, so the
# hint scales with resolution.
PARTITION_MAPPING = {
    3: 100,
    4: 200,
    5: 400,
    6: 800,
    7: 1600,
    8: 3200,
    9: 6400,
    10: 8000,
}


def get_spark_session(
    h3_resolution: int = 6,
    app_name: str = "h3_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the indexing workload.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (driver contract) or all cores; on a real cluster pass ``None`` and
    let spark-submit supply the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = PARTITION_MAPPING.get(h3_resolution, 800)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamps across engines (oracle comparisons).
        .config("spark.sql.session.timeZone", "UTC")
        # Reference spark/spark.py:115 — initial shuffle width.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Reference spark/spark.py:120-125 — AQE posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
        # Let AQE coalesce (or skew-split) the final stage of a cached
        # plan. Spark's default keeps a persisted frame at its planned
        # output partitioning, so the rebalance under each persisted
        # Index/Resolve output ran the full resolution-keyed width and
        # every consumer paid it: a 100k-point res-4 job ran 1,018
        # tasks for 1.8 MB of shuffle, 32 with this on (median job
        # 10.3 s → 3.5 s over ten paired runs, local[3] on a 4-core VM).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # AQE coalescing targets max parallelism (parallelismFirst,
        # the default) but never shrinks a partition below
        # minPartitionSize — and the 1 MB default serializes any
        # stage whose INPUT is bytes-small while its OUTPUT explodes
        # (wedge/pair self-joins: a 3 MB adjacency exchange coalesced
        # to 2 tasks emitted a 100 MB pair shuffle serially; measured
        # 6.8 s → 2.3 s steady on the link-prediction keys at 64 KB).
        # At cluster scale exchanges dwarf cores·64 KB, so the floor
        # never binds there — this only widens small-to-mid
        # intermediate stages, where idle cores are the waste.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Reference spark/spark.py:127-128 — Arrow interop; ours is
        # actually vectorized (pandas UDFs), batch size tuned larger.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Reference spark/spark.py:118 — bound output file sizes.
        .config("spark.sql.files.maxRecordsPerFile", "500000")
        # The driver's events table stores TIMESTAMP(NANOS); read as
        # long nanoseconds (Spark has no nanos timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dims (region/nation/hex-geometry tables)
        # must broadcast; AQE can also convert to broadcast at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # local[N] runs all N executor threads in the driver JVM, so
        # the driver heap IS the executor heap: at 8g, heavy
        # Arrow/GEMM workloads GC-thrash (bench measured steady-state
        # q_semantic_dedup 13.7s at 8g vs 1.6s at 32g on local[32]).
        # A real cluster sizes spark.executor.memory instead and can
        # keep the driver small.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Object-store tuning the reference bakes into its session factory
# (/root/reference/src/h3_indexer/spark/spark.py:84-136: S3A fast
# upload, Kryo serialization, committer settings). All keys are public
# Apache Spark/Hadoop configuration; they are inert on local
# filesystems, so applying them locally is safe and they take effect
# the moment the job runs against an object store with the matching
# connector jars on the classpath (jars ship with the cluster image,
# not this package).
CLOUD_STORE_CONF: dict[str, str] = {
    # serialize shuffle/broadcast with Kryo (reference spark.py:101)
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # S3A high-throughput writes (reference spark.py:84-99)
    "spark.hadoop.fs.s3a.fast.upload": "true",
    "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
    "spark.hadoop.fs.s3a.multipart.size": "104857600",
    "spark.hadoop.fs.s3a.connection.maximum": "200",
    "spark.hadoop.fs.s3a.threads.max": "64",
    # job-commit without renames — the only safe committer on S3
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
        "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
    ),
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    # don't let speculative duplicate tasks race object-store commits
    "spark.speculation": "false",
}


def get_cloud_spark_session(
    h3_resolution: int = 6,
    app_name: str = "h3_indexer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """:func:`get_spark_session` plus the object-store profile the
    reference configures — use on clusters reading/writing s3a:// (or
    any Hadoop-connector object store). Caller-supplied ``extra_conf``
    still wins over the profile."""
    return get_spark_session(
        h3_resolution=h3_resolution,
        app_name=app_name,
        master=master,
        shuffle_partitions=shuffle_partitions,
        extra_conf={**CLOUD_STORE_CONF, **(extra_conf or {})},
    )
