"""SparkSession factory with scale-oriented defaults.

The engine is designed for multi-executor clusters reading ~100 TB; in
this sandbox it runs on ``local[N]``. All knobs that matter at scale
(AQE, skew-join splitting, shuffle partition sizing, Arrow transfer)
are set here so the same plan shapes hold on a real cluster.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

MERCATOR_LAT_LIMIT = 85.05112878  # Web-Mercator clamp (reference stack/sharding/src/main.rs:317)


def get_spark(
    app_name: str = "osm_poi_cloud_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster callers submit via spark-submit and leave it unset.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalesce + skew-join splitting — required at 100 TB where
        # static planning cannot know per-cell POI density (city-center skew).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps in fixtures.
        .config("spark.sql.session.timeZone", "UTC")
        # Nested column pruning (pages.html is wide; never read it unless asked).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Managed-table warehouse (bucketed tables): keep it out of the
        # repo working dir; real clusters override with their metastore.
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/osm_poi_spark_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A driver-built table as a ``LocalRelation``: the rows travel in the
    plan, so reading them back launches no Spark job. ``createDataFrame``
    over Python tuples builds a pickled RDD instead, and every consumer
    pays a job to read it. Arrow stays local when ``table`` is empty;
    empty pandas falls back to an RDD."""
    return spark.createDataFrame(table)
