"""SparkSession factory tuned for the KG-construction pipeline, plus the
two helpers every stage uses on the driver.

Defaults are sized for local[$CPUS] testing but every knob is the one you
would set on a real multi-executor cluster: AQE (runtime re-planning +
skew-join splitting), Arrow for every pandas UDF boundary, and a shuffle
partition count matched to parallelism instead of the 200 default.

- :func:`local_frame` is the one way a driver-built frame (gazetteer,
  union-find components, IVF centroids, catalog rows) enters Spark: as an
  Arrow table that Spark plans as a JVM ``LocalTableScan``. The list path
  of ``createDataFrame`` plans a PythonRDD scan instead, whose every scan
  is a Python job that starts a second pool of Python workers next to the
  pandas-UDF pool.
- :func:`job_group` names the Spark jobs a block starts.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

#: repo root (parent of this package) — exported to executor PYTHONPATH so
#: Python workers can unpickle our mapInPandas/pandas_udf closures no matter
#: what cwd the driver was launched from. On a real cluster the same is
#: achieved with ``spark-submit --py-files kgx.zip``.
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def _export_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + pp if pp else "")
        )


def get_spark(
    app_name: str = "kg-construct",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    - AQE on: coalesces post-shuffle partitions, re-plans joins at runtime,
      and splits skewed shuffle partitions (hot-entity skew per north rule).
    - Arrow on: all pandas UDF / mapInPandas exchanges are columnar batches.
    - Broadcast threshold raised: the gazetteer / canonical-map dims are
      small and must never shuffle.
    """
    _export_pythonpath()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one shuffle partition per core keeps local runs spill-free;
        # on a real cluster set ~2-3x total cores (AQE coalesces down).
        n = master.split("[")[-1].rstrip("]") if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode: driver == executors; with 32 task threads doing
        # wide signature aggregates, 8g is borderline (runtime broadcast
        # builds can fail on 400k-doc corpora) — the box has 128 GiB
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: the thread-local properties ``SparkContext.setJobGroup`` sets
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


@contextmanager
def job_group(spark: SparkSession, group: str):
    """Put the Spark jobs this thread starts inside the block into job
    group ``group`` (also their description), then restore the previous
    group; ``statusTracker().getJobIdsForGroup`` and the event log then
    attribute every job by name."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)  # None clears the property


def local_frame(
    spark: SparkSession, rows: pa.Table | list[tuple], schema: StructType | str
) -> DataFrame:
    """A driver-built frame as a ``LocalTableScan``: no Python worker and
    no job to materialize it.

    ``rows`` is a list of tuples in ``schema`` column order, or a
    ``pyarrow.Table`` already in the Arrow form of ``schema`` (a StructType
    or a DDL string)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, schema)
