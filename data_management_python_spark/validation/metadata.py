"""Metadata validation rules as DataFrame anti-joins / group checks.

Re-expresses igf_data/utils/validation_check/metadata_validation.py
(27-610) — the reference's jsonschema + row-apply validation — as set
operations that scale: every rule returns a DataFrame of violations
(empty == valid), so a million-row registration sheet validates in one
pass with no Python row loop.

The library-compatibility lookup mirrors the EXPERIMENT_TYPE_LOOKUP
constant's *shape* (reformat_metadata_file.py:10-202: valid
(library_source, library_strategy, experiment_type) combinations) with
a representative subset of the public ENA-controlled vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import StringType, StructField, StructType

from data_management_python_spark.operators.aggregates import duplicate_rows
from data_management_python_spark.session import local_frame

# Representative (library_source, library_strategy, experiment_type)
# compatibility triples — ENA vocabulary, same role as the reference's
# EXPERIMENT_TYPE_LOOKUP (reformat_metadata_file.py:10-202).
LIBRARY_COMPATIBILITY: list[tuple[str, str, str]] = [
    ("GENOMIC", "WGS", "WGS"),
    ("GENOMIC", "WXS", "WXS"),
    ("GENOMIC", "CHIP-SEQ", "TF"),
    ("GENOMIC", "CHIP-SEQ", "H3K27ME3"),
    ("GENOMIC", "CHIP-SEQ", "H3K4ME3"),
    ("GENOMIC", "ATAC-SEQ", "ATAC-SEQ"),
    ("TRANSCRIPTOMIC", "RNA-SEQ", "POLYA-RNA"),
    ("TRANSCRIPTOMIC", "RNA-SEQ", "TOTAL-RNA"),
    ("TRANSCRIPTOMIC", "MIRNA-SEQ", "SMALL-RNA"),
    ("TRANSCRIPTOMIC_SINGLE_CELL", "RNA-SEQ", "TENX-TRANSCRIPTOME-3P"),
    ("TRANSCRIPTOMIC_SINGLE_CELL", "RNA-SEQ", "TENX-TRANSCRIPTOME-5P"),
    ("GENOMIC_SINGLE_CELL", "WGS", "WGS"),
    ("METAGENOMIC", "WGS", "METAGENOMIC"),
    ("UNKNOWN", "UNKNOWN", "UNKNOWN"),
]

_COMPAT_COLS = ["library_source", "library_strategy", "experiment_type"]
_COMPAT_SCHEMA = StructType(
    [StructField(c, StringType(), True) for c in _COMPAT_COLS]
)


def compatibility_table(spark: SparkSession) -> DataFrame:
    """The compatibility triples as a LocalRelation."""
    return local_frame(spark, LIBRARY_COMPATIBILITY, _COMPAT_SCHEMA)


def invalid_library_combinations(metadata: DataFrame) -> DataFrame:
    """Rows whose (source, strategy, experiment_type) triple is not in
    the lookup (reference check_metadata_library_by_row,
    metadata_validation.py:390-495) — broadcast anti-join, not a row
    apply."""
    lookup = compatibility_table(metadata.sparkSession)
    upper = metadata
    for c in _COMPAT_COLS:
        upper = upper.withColumn(c, F.upper(F.col(c)))
    return upper.join(broadcast(lookup), on=_COMPAT_COLS, how="left_anti")


def duplicate_samples(metadata: DataFrame) -> DataFrame:
    """Duplicate sample registrations (metadata_validation.py:69-80)."""
    return duplicate_rows(metadata, ["project_igf_id", "sample_igf_id"])


def duplicate_barcodes(samplesheet: DataFrame) -> DataFrame:
    """Duplicate (Lane, index[, index2]) barcode collisions
    (metadata_validation.py:107-129)."""
    keys = [c for c in ("Lane", "index", "index2") if c in samplesheet.columns]
    return duplicate_rows(samplesheet, keys)


def duplicate_sample_names_per_lane(samplesheet: DataFrame) -> DataFrame:
    """Same Sample_Name or Sample_ID twice in one lane
    (metadata_validation.py:131-189)."""
    lane = "Lane" if "Lane" in samplesheet.columns else "PseudoLane"
    by_name = duplicate_rows(samplesheet, [lane, "Sample_Name"]).withColumn(
        "dup_kind", F.lit("Sample_Name")
    )
    by_id = duplicate_rows(samplesheet, [lane, "Sample_ID"]).withColumn(
        "dup_kind", F.lit("Sample_ID")
    )
    a = by_name.select(F.col(lane).alias("lane"), F.col("Sample_Name").alias("value"), "dup_count", "dup_kind")
    b = by_id.select(F.col(lane).alias("lane"), F.col("Sample_ID").alias("value"), "dup_count", "dup_kind")
    return a.unionByName(b)


def unregistered_in_metadata(
    samplesheet: DataFrame, metadata: DataFrame
) -> DataFrame:
    """Samplesheet (project, sample) pairs absent from the metadata
    sheet — the reference's cross-file EXCEPT comparison
    (metadata_validation.py:541-576) + the unregistered-project check
    (find_and_process_new_seqrun.py:85-147)."""
    ss = samplesheet.select(
        F.col("Sample_Project").alias("project_igf_id"),
        F.col("Sample_ID").alias("sample_igf_id"),
    ).distinct()
    md = metadata.select("project_igf_id", "sample_igf_id").distinct()
    return ss.join(md, on=["project_igf_id", "sample_igf_id"], how="left_anti")


def projects_with_multiple_authorities(metadata: DataFrame) -> DataFrame:
    """Exactly one (name, email_id) authority pair per project
    (metadata_validation.py:593-608): projects violating it."""
    return (
        metadata.select("project_igf_id", "name", "email_id")
        .distinct()
        .groupBy("project_igf_id")
        .agg(F.count(F.lit(1)).alias("n_authorities"))
        .filter(F.col("n_authorities") > 1)
    )


def required_columns_missing(df: DataFrame, required: list[str]) -> DataFrame:
    """Rows with NULL/empty required fields (jsonschema 'required'
    analog, Draft-4 schemas data/validation_schema/*.json)."""
    checks = [
        F.when(
            F.col(c).isNull() | (F.col(c).cast("string") == ""), F.lit(c)
        )
        for c in required
        if c in df.columns
    ]
    viol = F.array_compact(F.array(*checks))
    return (
        df.withColumn("missing_fields", viol)
        .filter(F.size("missing_fields") > 0)
        .withColumn("missing_fields", F.array_join("missing_fields", ","))
    )
