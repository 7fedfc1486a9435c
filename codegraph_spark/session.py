"""SparkSession construction tuned for this engine.

Local mode is the test harness; the configs are chosen so the same code
is correct on a real cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- shuffle partitions sized to cores locally (a cluster deployment would
  size to ``2-3 x total executor cores`` or rely on AQE coalescing);
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- Arrow enabled for the few Pandas-UDF paths (ingestion parse stages).

Two more settings cut the fixed cost of every small serving call. Both
are static: Spark rejects them on a running session, and PySpark reads
the debugging flag once, at the first Column it builds, so only
:func:`get_spark` can apply them and :func:`tune_session` does not:

- the generated-class cache holds :data:`CODEGEN_CACHE_ENTRIES` entries
  instead of Spark's 100. A re-index write alone generates about 134
  classes, so at 100 a warm serving session kept evicting and
  recompiling (about 7 ms per class) the classes of its own reads;
- PySpark's DataFrame debugging is off. With it on, every Column and
  DataFrame call captures its Python call site (``inspect.stack()`` and
  about six py4j round trips). On a small graph a ``go_to_definition``
  made 323 py4j calls with it and 175 without, a search 420 and 150.
  The cost is that DataFrame error messages no longer name the Python
  line that built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: ``spark.sql.codegen.cache.maxEntries``: above the generated-class
#: working set of a serving session that interleaves re-index writes
#: with every kind of read, and of the headline bench rows.
CODEGEN_CACHE_ENTRIES = 1000


def sf_dir() -> str:
    """Scale-factor directory under test (driver contract)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def get_spark(
    app_name: str = "codegraph-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except ValueError:
            shuffle_partitions = 32
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine settings to an externally-provided session (the
    driver constructs its own); only runtime-settable confs here. A conf
    the session rejects raises: a session that silently kept its own
    timezone or Arrow setting would return wrong or slow answers."""
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    # size shuffles to the actual parallelism (mirrors get_spark);
    # matters especially for streaming state-store ops, which AQE
    # cannot re-coalesce after the fact.
    conf.set(
        "spark.sql.shuffle.partitions",
        str(max(8, spark.sparkContext.defaultParallelism)),
    )
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # bound Arrow batch memory for wide (media/binary) rows — at
    # 100 TB a media batch of the default 10k rows can be gigabytes.
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    return spark
