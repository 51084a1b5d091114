"""SparkSession factory tuned for this engine.

Scale posture: AQE on (runtime partition coalescing + skew-join
splitting), Arrow for any Python exchange, shuffle partitions sized for
the local harness but overridable via env for cluster runs. The
generated-class cache is sized to a session's working set, so a query
compiles its code once per session (``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
# static: read once per JVM). Spark's default of 100 holds less than a third
# of one reporting pass: perfbench's reporting_queries generates ~330
# distinct whole-stage and expression classes per pass and etl_load ~106 on
# its first, so at 100 they evict each other and every pass compiles them
# all again. 2000 is over 5x the largest working set measured (345 classes).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(app_name: str = "openlmis-distributions-etl-spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    shuffle_parts = os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"))
    )
    return builder.getOrCreate()
