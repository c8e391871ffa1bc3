"""SparkSession builder tuned for this engine.

Defaults chosen for correctness-vs-oracle and scale-out behavior:
  - UTC session timezone (parquet timestamps compare cleanly with DuckDB)
  - ANSI off (reference semantics are permissive Pandas/MySQL; bad casts
    yield NULL, not job failure)
  - AQE on with skew-join handling (runtime re-plan at 100 TB)
  - Arrow on for the few pandas_udf paths
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "data_management_python_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with a cluster-side
    spark-submit and these confs still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # prefer fewer/bigger post-shuffle partitions over idle-core
        # parallelism — at bench scale task overhead dominates; at 100 TB
        # advisory size (64MB) keeps partitions executor-memory-safe
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generated-code cache: the 100-entry default evicts constantly
        # under a many-query analytics workload (this engine ships 140+
        # distinct query plans, each compiling several codegen stages),
        # turning every re-run into a full Janino recompile.  Sized to
        # hold the whole workload; entries are compiled classes, cheap
        # relative to the ~0.3-1s compile each eviction re-pays.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def operator_width(spark: SparkSession) -> int:
    """Width an operator should pin for its own intermediate state
    (iteration frames, checkpointed join tables).

    min(cluster cores, configured shuffle width): an operator must not
    exceed what the session is sized for (a tuned local bench runs
    narrow on purpose), but also must not inherit a fact-table shuffle
    width like the 200 default for node-count-sized state — cores is
    the ceiling that keeps every round's task count proportional to
    the machine, not to a config meant for a different table.
    """
    cores = spark.sparkContext.defaultParallelism
    try:
        conf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on some deployments
        conf = cores
    return max(1, min(cores, conf))


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a LocalRelation.

    ``spark.createDataFrame(list)`` plans a LogicalRDD over pickled
    rows, so every action over it starts Python-worker tasks.  The rows
    go to the JVM as one Arrow table instead, which Spark plans as a
    LocalRelation below its Arrow local-relation threshold: Catalyst
    folds projections and filters over it, and ``collect``/``first``
    run in the driver without a job.  Same schema (nullability
    included) and values as ``createDataFrame(rows, schema)``.
    """
    # imported here: pyarrow adds ~25 MB to the driver's resident set,
    # which only callers that build frames from parsed files should pay
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
