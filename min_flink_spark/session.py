"""SparkSession construction with scale-oriented defaults.

The knobs here are chosen for the driver harness (local[32], 128 GiB,
sf<=0.1) but every one of them is the setting you would also want on a
1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- shuffle partitions sized to the parallelism at hand — at 100 TB you
  would raise ``spark.sql.shuffle.partitions`` (or let AQE coalesce from
  a high initial number), not change any code in this repo;
- Arrow transfer on, so every pandas-UDF operator ships columnar batches
  instead of pickled rows;
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- local files through ``core/NioLocalFileSystem.java``: Hadoop's
  checksummed local file system with ``setPermission`` and
  ``getFileLinkStatus`` done in-process. PySpark ships no libhadoop, so
  the stock one runs a ``chmod`` or ``readlink`` child process for each
  checkpoint file, state-store delta, checksum file and sink part file
  (~118 per micro-batch of the keyed running reduce). The jar is compiled
  with ``javac`` (a JDK is required) into the cache of ``streaming/jvm.py``
  and put on the driver's launch class path, so it is registered only when
  the JVM can load it: when this call launches the JVM, or when the
  running one already has the class (a stopped session re-created in the
  same process). A session built elsewhere keeps Hadoop's default.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from min_flink_spark.streaming import jvm

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(__file__), "core", "NioLocalFileSystem.java")
_LOCAL_FS_CLASS = "min_flink_spark.core.NioLocalFileSystem"


def _jvm_can_load(cls: str) -> bool:
    """Whether the JVM that ``getOrCreate`` will use can load ``cls``:
    true if the call is about to launch it with the given class path."""
    if SparkContext._gateway is None:
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            return True
        SparkContext._ensure_initialized()  # connects to a JVM launched elsewhere
    return SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(cls)


def get_spark(
    app_name: str = "min-flink-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    If a session already exists (e.g. the driver passed one in), the
    builder returns it unchanged; all engine code therefore treats
    session config as advisory and never depends on a specific value.
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy default) carries NO usable row-group
        # statistics — a time-range predicate on an INT96 column scans
        # every row group (measured r13: 1M rows scanned vs 65k with
        # MICROS on the identical sorted layout). At 100 TB that is the
        # difference between pruning a time-partitioned scan and
        # reading the lake. NB the reader-side twin limitation:
        # TIMESTAMP_NTZ columns never stats-prune in Spark 4 regardless
        # of physical type — keep prune-relevant event time as
        # TIMESTAMP (UTC) or epoch bigint in stored layouts.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if _jvm_can_load(_LOCAL_FS_CLASS):
        b = b.config("spark.hadoop.fs.file.impl", _LOCAL_FS_CLASS).config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl", _LOCAL_FS_CLASS + "$Fs"
        )
        class_path = [conf.get("spark.driver.extraClassPath"), jvm.build_jar(_LOCAL_FS_SOURCE)]
        conf["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, class_path))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
