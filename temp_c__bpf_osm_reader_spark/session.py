"""SparkSession factory with the engine's scale-oriented defaults, and the
one way the engine opens a parquet table.

Local-mode testing stands in for the multi-executor cluster (no cluster in
this sandbox); every config below is chosen to also be the right default at
1000-executor scale — AQE on (runtime re-plan + skew-join splitting), Arrow
transfer for the pandas-UDF stages, shuffle partitions sized to parallelism.

Two fixed costs sit in front of every Python stage; both are paid once
here instead of on every query:

  * Python workers start through `worker_daemon` (spark.python.daemon.module).
    Each task begins with importlib.invalidate_caches(), and under CPython
    3.11 every zipimporter over pyspark.zip (~20 of them, 1,328 entries)
    then re-reads the whole zip directory: 230–340 ms per task, measured in
    the workers. The daemon re-reads an archive only when it has changed.
    spark.executorEnv.PYTHONPATH carries the package root (a directory, or
    the zip under spark-submit --py-files): --py-files reaches workers per
    task, not on the daemon's own path, so without it the daemon fails to
    import `worker_daemon`.
  * read_parquet() gives Spark the table's schema from one footer read in
    this process; spark.read.parquet(path) alone runs a one-task
    schema-inference job (~120–135 ms) on every table open.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the row schema as JSON
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def get_spark(
    app: str = "spark-spatial-tiles",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers must be able to import this package regardless of the
    # driver's CWD: workers inherit PYTHONPATH through the JVM, so export the
    # package root before the JVM starts. (spark-submit --py-files covers the
    # zip case; this covers plain `python` drivers launched elsewhere.)
    # only meaningful pre-JVM (workers read PYTHONPATH at launch) and only
    # when the package lives in a real directory (spark-submit --py-files
    # ships the zip itself)
    # Allocator hygiene, exported pre-JVM so executors' Python workers
    # inherit it (workers are children of the JVM): this host's first-touch
    # page faults are ~10x slow AND kernel-serialized, so any hot path that
    # frees-and-refaults large buffers scales at ~0.5 across cores (measured:
    # repeated 240MB numpy reallocation 1→4 cores = 0.50 efficiency; with
    # these settings = 0.99 and 35% faster absolute). Keep glibc from
    # mmap/munmap-ing large blocks (reuse warm heap pages instead) and route
    # Arrow through malloc so the same policy covers pyarrow buffers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(16 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(16 << 30))
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(pkg_root):
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + pp if pp else "")
            )
    if shuffle_partitions is None:
        # ~2× task slots: enough granularity for AQE to coalesce, not so many
        # that small stages drown in scheduling overhead
        shuffle_partitions = max(cores * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # only applies when this builder starts the JVM: under spark-submit
        # the driver is already running with spark-submit's --driver-memory
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # deterministic float aggregation order is NOT assumed anywhere;
        # outputs that feed golden checks round/sort explicitly instead
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Python Data Source V2 filter pushdown (osmxml shard pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # see the module docstring: workers skip the per-task zip re-read,
        # and the daemon finds this package under --py-files too
        .config("spark.python.daemon.module", "temp_c__bpf_osm_reader_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pkg_root)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) with the schema taken from one footer read
    in this process instead of Spark's schema-inference job. A directory is
    read through its first *.parquet file in sorted order. Spark-written
    files carry their row schema as JSON in the footer; any other file's
    Arrow schema is mapped the way Spark infers parquet types, tz-naive
    timestamps becoming TIMESTAMP_NTZ."""
    f = path
    if os.path.isdir(path):
        parts = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"no *.parquet file in {path}")
        f = os.path.join(path, parts[0])
    arrow = pq.read_schema(f)
    row_json = (arrow.metadata or {}).get(SPARK_ROW_METADATA)
    if row_json is not None:
        schema = StructType.fromJson(json.loads(row_json))
    else:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(path)
