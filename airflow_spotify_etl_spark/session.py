"""SparkSession factory.

Defaults are tuned for the local test harness (``local[N]``, one JVM) while
remaining correct on a real cluster: AQE enabled for runtime re-planning
(partition coalescing, skew-join splitting, broadcast demotion), UTC session
timezone so results compare bit-for-bit against the DuckDB oracle, and Arrow
for every Pandas-UDF exchange.

At 100 TB the only knobs that change are sizing knobs, not code:
``spark.sql.shuffle.partitions`` (set ~2-3x total cores; AQE coalesces down),
``spark.sql.files.maxPartitionBytes`` (keep scan tasks ~128-256 MB), and
executor memory. Every plan in this repo is declarative, so Catalyst keeps
predicate pushdown / column pruning / join selection at any scale.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["get_spark", "local_frame", "stop_spark"]


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "airflow_spotify_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters mirror what an Airflow ``SparkSubmitOperator`` would pass as
    ``--conf`` (reference keeps Airflow as scheduler only; see
    spotify_dag.py:29-34 in the reference for the orchestration seam).
    """
    cores = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # Shuffle sizing: ~cores locally. On a cluster this is 2-3x total
        # cores; AQE coalesces small post-shuffle partitions either way.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UTC so timestamp results hash-match the (UTC-naive) DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batches for createDataFrame/toPandas and pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The test events table stores TIMESTAMP(NANOS) which the parquet
        # vectorized reader can't map to TimestampType; read as long and
        # convert (sources/files.py truncates ns → µs like DuckDB does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep scan tasks ~128 MB so a 100 TB table yields ~800k tasks, not 8.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Quiet, headless local runs.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=warn")
    )
    resolved_master = master or f"local[{cores}]"
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"]
        )
    elif resolved_master.startswith("local"):
        # In local mode the driver JVM IS every executor; the JVM's ~1g
        # default heap OOMs on wide shuffles long before the machine does.
        builder = builder.config("spark.driver.memory", "16g")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver-local rows (tuples in ``schema`` field order) → DataFrame.

    The rows go through a ``pyarrow.Table`` cast to the Spark schema, so
    Spark plans them as a JVM ``LocalRelation`` (``LocalTableScan``).
    ``createDataFrame`` on a Python list instead builds a ``LogicalRDD``
    over a Python RDD, and every scan of it starts Python workers — for
    a 50-row REST payload that worker start-up is most of the job. This
    is the one way the engine turns driver-side rows into a DataFrame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
