"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; on a real cluster the same conf applies
(AQE, Arrow, shuffle-partition sizing) — only master/memory change.
:func:`arrow_frame` is how the engine turns local Python rows into a
DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _default_tmpfs_dir() -> str | None:
    """/dev/shm spill dir, but only if the tmpfs has real free headroom."""
    if not os.path.isdir("/dev/shm"):
        return None
    min_gb = float(os.environ.get("SPARK_GRAFT_TMPFS_MIN_GB", "16"))
    try:
        import shutil

        free = shutil.disk_usage("/dev/shm").free
    except OSError:
        return None
    if free < min_gb * (1 << 30):
        return None
    return "/dev/shm/spark-graft-local"


def get_spark(
    app_name: str = "tap-rest-api-msdk-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's standard configuration.

    - AQE on: runtime coalescing + skew-join splitting (SURVEY §4.3)
    - Arrow on: the flatten pandas-UDF path transfers Arrow batches
    - shuffle partitions sized to cores locally; a real cluster would set
      this to ~2-3x total executor cores (or rely on AQE coalescing).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: executors share the driver JVM; size the heap for
        # 32 sort-heavy threads (8g spills at ~4M wide rows x 32 tasks)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # PySpark 4 captures a Python traceback per Column/DataFrame op to
        # decorate AnalysisExceptions with call-site origins. That costs
        # ~95ms per micro-batch plan build here (278 -> 183 ms measured on
        # the steady ingest plan) — pure driver overhead in the hot loop.
        # Off by default for an ingest engine; SPARK_GRAFT_DF_DEBUG=1
        # restores origins when debugging a plan error. Static conf, so it
        # must be decided at session build time.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true" if os.environ.get("SPARK_GRAFT_DF_DEBUG") == "1" else "false",
        )
    )
    # local mode only: shuffle spill on a DISK-backed /tmp serializes the
    # wide legs (one fixed-bandwidth device shared by N threads — measured
    # 1.8x on the 32-core CDC replay); tmpfs emulates the per-node local
    # SSDs a real cluster brings per executor. A cluster deployment gets
    # spark.local.dir from the cluster manager instead.
    # ADVICE r5: spill exists because memory is short — only default to
    # tmpfs when /dev/shm has real headroom (>= SPARK_GRAFT_TMPFS_MIN_GB,
    # default 16 GiB, commonly 50% of RAM on big hosts); otherwise keep the
    # disk default. SPARK_GRAFT_LOCAL_DIR always wins when set explicitly.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_tmpfs_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """DataFrame of local Python ``rows`` (tuples in ``schema`` order),
    shipped as one typed ``pyarrow.Table``: no pickled Python RDD, no
    Python worker and no Spark job to build it. ``createDataFrame(list)``
    would ``parallelize`` the pickled rows instead, and every plan over
    them then pays a Python-RDD stage (~0.25 s on a 4-core host)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
