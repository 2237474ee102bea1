"""SparkSession factory with scale-oriented defaults.

The reference has no session concept — it drives Acero/delta-rs/pandas from
a single Python process (``collector.py:233-240``, ``visualizer.py:40-45``).
Here one SparkSession owns every stage; the configs below are chosen so the
same code runs on ``local[N]`` for tests and on a multi-executor cluster
unchanged:

* UTC session timezone — pins timestamp semantics so results are
  reproducible across engines (the DuckDB oracle) and cluster locales.
* AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast decisions; essential at 100 TB where static
  partition counts are always wrong for some stage.
* No legacy parquet confs — the events fixture's TIMESTAMP(MICROS) column
  is read with an explicit LongType schema in ``catalog.load_table``, so
  timestamp decoding never depends on session-level reader settings.
* Arrow everywhere — any pandas interchange (mapInPandas operators,
  toPandas in tests) goes through Arrow batches, never row pickling.
* Streaming checkpoints rename through the ``FileSystem`` API
  (``spark.sql.streaming.checkpointFileManagerClass`` =
  ``FileSystemBasedCheckpointFileManager``, the class Spark itself falls
  back to when ``FileContext`` is unsupported). Spark's default
  ``FileContext`` manager renames through ``getFileLinkStatus``, and
  Hadoop's local filesystem without libhadoop answers that by forking
  ``readlink`` (which fails on a ``file:`` path) per offset, commit and
  state file: ~90 forked processes per micro-batch trigger. Spark
  documents the FileSystem manager as correct wherever
  ``FileSystem.rename`` is atomic: a POSIX rename on a local disk, and
  HDFS. On a local disk both managers check the destination and then
  rename; on S3A neither is atomic. The key is internal, but has kept
  its name and meaning since Spark 2.4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _cpus_or_default(default: int = 32) -> int:
    # SPARK_GRAFT_CPUS may legitimately be "*" (meaning local[*]); shuffle
    # partitioning needs an integer, so non-numeric values fall back.
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", str(default)))
    except ValueError:
        return default


DEFAULT_SHUFFLE_PARTITIONS = _cpus_or_default()

#: the streaming checkpoint's file manager (see the module docstring)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _builder_conf() -> dict[str, str]:
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Parquet scan efficiency: pushdown + pruning are on by default but
        # pinned here so a misconfigured cluster can't silently regress them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
    }


def get_spark(
    app_name: str = "acero-delta-lake-streaming-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` resolution order: explicit arg > SPARK_GRAFT_MASTER env >
    ``local[$SPARK_GRAFT_CPUS]`` > ``local[*]``. On a real cluster the
    master comes from spark-submit and this arg stays None.
    """
    builder = SparkSession.builder.appName(app_name)
    resolved = master or os.environ.get("SPARK_GRAFT_MASTER")
    if resolved is None and not os.environ.get("SPARK_ENV_LOADED"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        resolved = f"local[{cpus}]"
    if resolved:
        builder = builder.master(resolved)
    conf = _builder_conf()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Runtime-settable confs are re-asserted in case an existing session was
    # reused (getOrCreate ignores builder confs on reuse).
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
    ):
        try:
            spark.conf.set(k, conf[k])
        except Exception:
            pass  # immutable in this deployment; builder value stands
    return spark
