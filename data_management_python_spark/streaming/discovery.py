"""Incremental sequencing-run discovery + pipeline seeding (SURVEY §2.9).

The reference polls the filesystem from Airflow: list run directories,
subtract those already registered, gate on a completion marker file,
then seed pipelines exactly-once
(find_and_process_new_seqrun.py:18-39,148-211; pipeline_seed
anti-join pipelineadaptor.py:523-569).

Spark-first re-expression:
  - batch mode: one listing scan + left_anti vs the registry table —
    idempotent, exactly-once by natural key.
  - streaming mode: Structured Streaming file source with
    ``Trigger.AvailableNow`` — Spark's checkpointed file listing IS the
    exactly-once registry, replacing the hand-rolled DB bookkeeping.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_management_python_spark import fsio
from data_management_python_spark.operators.joins import anti_join
from data_management_python_spark.session import local_frame

COMPLETION_MARKER = "RTAComplete.txt"

#: ``scheme://authority`` — what a walked ``scheme://`` path carries
#: ahead of its path component
_URI_PREFIX = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*")

RUN_DIR_SCHEMA = StructType(
    [
        StructField("seqrun_igf_id", StringType(), True),
        StructField("run_path", StringType(), True),
    ]
)


def list_run_dirs(spark: SparkSession, root: str, marker: str = COMPLETION_MARKER) -> DataFrame:
    """Finished run directories under root: (seqrun_igf_id, run_path).

    A run is 'finished' when its completion marker exists (reference
    check_finished_seqrun_dir, find_and_process_new_seqrun.py:148-185)
    — the file-arrival watermark of the batch world.

    Listing is a filesystem walk, NOT a Spark file source: Spark's
    binaryFile/text sources silently skip zero-byte files, and NovaSeq
    RTA3 writes an EMPTY RTAComplete.txt; Spark's file index also hides
    ``_``/``.``-prefixed names.  The walk is the store's own
    :func:`fsio.open_fs` dispatch — ``os.walk`` for a plain path, one
    Hadoop ``listStatus`` per directory for a ``scheme://`` root — so a
    local root costs no JVM round trip per file.  Every call lists
    afresh (a marker written since the last call is found), and a
    missing root raises ``FileNotFoundError``.

    ``run_path`` is the URI path component of the run directory (a
    plain relative root is made absolute).  The result is a
    LocalRelation: run-root listing is control-plane data, evaluated
    in the driver.
    """
    fs = fsio.open_fs(spark, root)
    if not fs.isdir(root):
        raise FileNotFoundError(root)
    found: list[tuple[str, str]] = []
    for dirpath, _, files in fs.walk(root):
        if marker in files:
            run_path = os.path.abspath(_URI_PREFIX.sub("", dirpath))
            found.append((os.path.basename(run_path), run_path))
    return local_frame(spark, sorted(found), RUN_DIR_SCHEMA)


def discover_new_runs(
    spark: SparkSession, root: str, registry: DataFrame
) -> DataFrame:
    """Finished run dirs not yet in the registry (anti-join on
    seqrun_igf_id) — check_seqrun_dir_in_db analog
    (find_and_process_new_seqrun.py:186-211)."""
    finished = list_run_dirs(spark, root)
    return anti_join(
        finished, registry.select("seqrun_igf_id"), on="seqrun_igf_id"
    )


def seed_new_runs(
    seeds: DataFrame,
    new_runs: DataFrame,
    pipeline_id: int,
    reject_runs: DataFrame | None = None,
) -> DataFrame:
    """Exactly-once pipeline seeding: SEEDED rows for unseen runs,
    skipping rejected ones (pipelineadaptor.py:533-548 seed_new_seqruns;
    reject_run='Y' exclusion :536,547).

    ``seeds`` columns: (pipeline_id, seed_id, seed_table, status);
    ``new_runs`` must carry seqrun_igf_id + a surrogate ``seed_id``.
    """
    candidates = new_runs.select(
        F.lit(pipeline_id).cast("long").alias("pipeline_id"),
        F.col("seed_id").cast("long"),
        F.lit("seqrun").alias("seed_table"),
        F.lit("SEEDED").alias("status"),
    )
    if reject_runs is not None:
        rejected = reject_runs.filter(F.col("reject_run") == "Y").select("seed_id")
        candidates = anti_join(candidates, rejected, on="seed_id")
    keys = ["pipeline_id", "seed_id", "seed_table"]
    fresh = anti_join(
        # in-batch duplicates collapse too — the uniq(pipeline, seed,
        # table) constraint the reference's DB enforces
        candidates.dropDuplicates(keys),
        seeds.select(*keys),
        on=keys,
    )
    return seeds.unionByName(fresh.select(*seeds.columns))


def stream_new_run_markers(
    spark: SparkSession,
    root: str,
    checkpoint_dir: str,
    out_dir: str,
    marker: str = COMPLETION_MARKER,
):
    """Structured Streaming discovery: the file source's checkpointed
    listing provides exactly-once marker pickup; each micro-batch
    appends newly finished runs to ``out_dir``.

    Returns the started StreamingQuery (Trigger.AvailableNow — drains
    the backlog then stops, the Airflow-schedule analog).

    LIMITATION: every Spark streaming file source (text and binaryFile
    alike) skips zero-byte files entirely, so an EMPTY completion
    marker (NovaSeq RTA3 writes one) is invisible to this stream —
    it is neither emitted nor checkpoint-consumed.  For instruments
    with empty markers use the batch path (``discover_new_runs``,
    which walks the filesystem itself) on a schedule; this
    streaming flavor is correct for markers with content."""
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            # timestamp_ltz explicitly: binaryFile's fixed dataSchema is
            # LTZ and a session spark.sql.timestampType=TIMESTAMP_NTZ
            # would otherwise re-parse the bare "timestamp" as NTZ
            "path string, modificationTime timestamp_ltz, "
            "length long, content binary"
        )
        .option("pathGlobFilter", marker)
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(F.regexp_replace("path", "^file:/*", "/").alias("marker_path"))
        .select(
            F.element_at(
                F.split(F.regexp_replace("marker_path", f"/{marker}$", ""), "/"), -1
            ).alias("seqrun_igf_id"),
            F.regexp_replace("marker_path", f"/{marker}$", "").alias("run_path"),
        )
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def register_seqrun_batch(
    registry: DataFrame, new_runs: DataFrame, platform: DataFrame
) -> DataFrame:
    """Append newly discovered runs to the seqrun registry with platform
    FK resolution by instrument-name convention
    (_check_and_load_seqrun_to_db, dag22:5835-5895): seqrun id format
    yymmdd_INSTRUMENT_NNNN_FLOWCELL.

    The run-dir token carries the flowcell SIDE prefix (A/B) on
    patterned HiSeq/NovaSeq flowcells; the reference registers the id
    from RunInfo.xml's <Flowcell> which excludes it (dag22:5855-5857) —
    strip it when the token matches the side-prefixed pattern.  When a
    RunInfo.xml is available, prefer sources.runinfo_xml.read_runinfo.
    """
    parts = F.split("seqrun_igf_id", "_")
    raw_fc = F.element_at(parts, -1)
    flowcell = F.when(
        raw_fc.rlike("^[AB][A-Z0-9]{9}$"), F.substring(raw_fc, 2, 9)
    ).otherwise(raw_fc)
    enriched = new_runs.select(
        "seqrun_igf_id",
        parts.getItem(1).alias("platform_igf_id"),
        flowcell.alias("flowcell_id"),
        F.lit("N").alias("reject_run"),
    ).join(
        F.broadcast(platform.select("platform_igf_id", "platform_id")),
        on="platform_igf_id",
        how="left",
    ).drop("platform_igf_id")
    fresh = anti_join(enriched, registry.select("seqrun_igf_id"), on="seqrun_igf_id")
    return registry.unionByName(fresh.select(*registry.columns), allowMissingColumns=True)
