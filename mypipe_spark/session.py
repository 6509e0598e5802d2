"""SparkSession factory.

Centralizes the configs that matter for correctness (UTC timestamps so
results hash-match the DuckDB oracle) and for scale (AQE, skew-join
handling, partition sizing). Tests and bench share this factory so
every plan is produced under the same settings we would ship to a
1000-executor cluster — only `master` and the partition count change.

Python workers boot through :mod:`mypipe_spark.worker_daemon`, named as
``spark.python.daemon.module``. Spark puts pyspark.zip, the py4j zip and
the spark-core jar first on a worker's path, and pyspark calls
``importlib.invalidate_caches()`` on every task, which makes each of the
worker's 16 zipimporters re-read its archive's directory. Inside a
worker on a 4-core host that call took 202 ms with the archives and
0.1 ms once the daemon had dropped them — most of a live CDC
microbatch's Python time. The daemon drops them only when the installed
pyspark and py4j are importable and that pyspark's version equals the
zip's; otherwise the workers keep Spark's path.

Every Python worker, a plain user UDF's too, now starts by importing
``mypipe_spark``, so every executor must be able to import the package
(the library's own UDFs already needed it). The package's parent
directory is appended to ``spark.executorEnv.PYTHONPATH``; that is the
driver's path, so it serves only executors that share the driver's
file system (local mode). On a cluster, install mypipe_spark on every
executor.

Streaming checkpoints are written through Spark's
``FileSystemBasedCheckpointFileManager``, named as
``spark.sql.streaming.checkpointFileManagerClass``; Spark's default is
the FileContext-based manager. Every ``HDFSMetadataLog`` writes through
it: the offset and commit logs, the file source's log, the file sink's
``_spark_metadata`` and the state stores. Without the native Hadoop
library, Hadoop's local file system forks ``readlink`` for every
``getFileLinkStatus`` and ``chmod`` for every file it creates with a
permission. A FileContext rename makes several ``getFileLinkStatus``
calls, so one metadata-log write forked 8 ``readlink`` and 2 ``chmod``
processes, and a file-sink microbatch makes four such writes (source
log, offsets, sink log, commits): 40 forks, serially, on the stream
thread. ``FileSystem.rename`` on the local file system is a plain
``File.renameTo``, which leaves the 2 ``chmod`` forks of ``create`` (the
file and its ``.crc``): 8 a batch. In a loop of 100 metadata writes
over py4j on a 4-core host one write took 36-42 ms with the FileContext
manager and 8-9 ms with this one. What stays the same:

- the ``.crc`` sidecars: both managers write them through Hadoop's
  checksum file system and verify them on read;
- the no-overwrite guard ``HDFSMetadataLog.add`` relies on: with
  ``overwriteIfPossible=false`` this manager checks ``fs.exists(dst)``
  before renaming on the local file system and throws
  ``FileAlreadyExistsException``; on HDFS ``FileSystem.rename`` refuses
  an existing target and the manager raises the same exception;
- object stores: neither manager renames atomically there.

The class moved into the ``checkpointing`` package in Spark 4.1; a test
pins the name, so a Spark upgrade that moves it again fails loudly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the directory that holds the mypipe_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "mypipe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (these hold at 100 TB, not just locally):
      - AQE on: runtime coalescing of shuffle partitions + skew-join
        splitting replaces hand-tuned partition counts.
      - ``autoBroadcastJoinThreshold`` left at default so dimension
        tables (region/nation/customer at TPC-H ratios) broadcast and
        fact-side joins skip the shuffle entirely.
      - Arrow enabled: every Pandas UDF crosses the JVM/Python boundary
        in columnar batches, never row-at-a-time.
      - UTC session timezone: parquet timestamps compare bit-identically
        with the (UTC-naive) DuckDB oracle.
      - Python workers boot through the worker daemon (module
        docstring), and find the package through
        ``spark.executorEnv.PYTHONPATH``, appended to any value passed
        in ``extra_conf``, whatever the JVM's working directory (local
        mode; a cluster's executors need the package installed).
      - Streaming metadata logs and state stores are written through
        the FileSystem-based checkpoint manager (module docstring): no
        ``readlink`` forks per rename on a host without libhadoop.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's post-shuffle coalescing floors partition size at 1 MB
        # by default; a few-MB (compressed) shuffle then collapses to
        # 2-4 partitions and serializes on a many-core executor. 128 KB
        # keeps small/mid shuffles at full parallelism (measured 1.3-3×
        # on the sub-second queries here) and is inert at scale, where
        # bytes-per-task sits far above any of these floors.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "true")
        .config("spark.python.daemon.module", "mypipe_spark.worker_daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    )
    conf = dict(extra_conf or {})
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (conf.get(_WORKER_PYTHONPATH), _PACKAGE_ROOT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
