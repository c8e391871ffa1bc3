"""Illumina SampleSheet reader + transforms.

Format (public Illumina spec): INI-like ``[Section]`` headers; the
``[Data]`` (v1) or ``[BCLConvert_Data]`` (v2) section is a CSV block
with one row per (lane, sample, index).  Re-expresses the reference's
SampleSheet class (igf_data/illumina/samplesheet.py:8-802: _read
:781, _load_header :733, _load_data :750, v1/v2 detection :759-764)
as a driver-side parse producing a Spark DataFrame — the file is KB
sized, so its rows become a LocalRelation (``session.local_frame``)
that Catalyst evaluates in the driver; every downstream transform is a
DataFrame op so samplesheet metadata joins against fleet-scale fact
tables without collect.

All columns are strings (reference keeps raw CSV strings).
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_management_python_spark.functions import (
    normalize_description,
    normalize_index,
    rev_comp,
    strip_project_user_suffix,
)
from data_management_python_spark.session import local_frame

DATA_SECTIONS = ("Data", "BCLConvert_Data")


def parse_samplesheet_text(text: str) -> tuple[dict[str, list[str]], list[dict[str, str]], str]:
    """Parse raw samplesheet text -> (sections, data_rows, version).

    version: 'v1' when the data block is [Data], 'v2' for
    [BCLConvert_Data] (reference detection samplesheet.py:759-764).
    """
    sections: dict[str, list[str]] = {}
    current = None
    for raw in text.splitlines():
        line = raw.rstrip("\r\n")
        if not line.strip(","):
            continue
        stripped = line.strip().strip(",")
        if stripped.startswith("[") and stripped.endswith("]"):
            current = stripped[1:-1]
            sections[current] = []
            continue
        if current is not None:
            sections[current].append(line)

    data_key = None
    for k in DATA_SECTIONS:
        if k in sections:
            data_key = k
            break
    if data_key is None:
        raise ValueError("samplesheet has no [Data]/[BCLConvert_Data] section")
    version = "v2" if data_key == "BCLConvert_Data" else "v1"

    reader = csv.reader(io.StringIO("\n".join(sections[data_key])))
    rows = list(reader)
    header = [h.strip() for h in rows[0]]
    data = [
        {header[i]: (r[i].strip() if i < len(r) else "") for i in range(len(header))}
        for r in rows[1:]
        if any(c.strip() for c in r)
    ]
    return sections, data, version


# canonical spellings for the index columns; the reference matches
# headers case-insensitively (samplesheet.py:169-192 '^index' IGNORECASE),
# and Illumina's v2 sheets spell them 'Index'/'Index2'
_CANONICAL_COLUMNS = {"index": "index", "index2": "index2"}


def read_samplesheet(spark: SparkSession, path: str) -> DataFrame:
    """SampleSheet -> DataFrame (one row per sample entry), with the
    reference's load-time normalizations applied:
      - Sample_Project ':user' suffix stripped (samplesheet.py:388-389)
      - Description uppercased, ':'->'-' (samplesheet.py:390-392)
      - 'Index'/'Index2' header spellings canonicalized to
        'index'/'index2' (reference matches case-insensitively)
    Adds ``sheet_version`` ('v1'/'v2') as a constant column.  The
    frame is a LocalRelation, so collecting it fires no Spark job.
    """
    with open(path, encoding="utf-8") as fh:
        _, data, version = parse_samplesheet_text(fh.read())
    if not data:
        raise ValueError(f"no data rows in samplesheet {path}")
    rename = {
        c: _CANONICAL_COLUMNS[c.lower()]
        for c in data[0]
        if c.lower() in _CANONICAL_COLUMNS and c not in _CANONICAL_COLUMNS.values()
    }
    if rename:
        data = [{rename.get(k, k): v for k, v in row.items()} for row in data]
    cols = list(data[0].keys())
    schema = StructType([StructField(c, StringType(), True) for c in cols])
    df = local_frame(
        spark, [tuple(row.get(c, "") for c in cols) for row in data], schema
    ).withColumn("sheet_version", F.lit(version))
    if "Sample_Project" in cols:
        df = df.withColumn(
            "Sample_Project", strip_project_user_suffix("Sample_Project")
        )
    if "Description" in cols:
        df = df.withColumn("Description", normalize_description("Description"))
    return df


def add_pseudo_lane(df: DataFrame, platform_series: str) -> DataFrame:
    """Add a PseudoLane column for platforms whose sheets carry no Lane.

    MiSeq -> '1'; NextSeq -> rows duplicated across lanes '1'-'4'
    (reference samplesheet.py:319-363 add_pseudo_lane_for_miseq /
    _for_nextseq).  Platforms with a real Lane column pass through.
    """
    if "Lane" in df.columns:
        return df.withColumn("PseudoLane", F.col("Lane"))
    if platform_series.upper() == "MISEQ":
        return df.withColumn("PseudoLane", F.lit("1"))
    if platform_series.upper().startswith("NEXTSEQ"):
        lanes = F.explode(F.array(*[F.lit(str(i)) for i in range(1, 5)]))
        return df.withColumn("PseudoLane", lanes)
    return df.withColumn("PseudoLane", F.lit("1"))


def index_length_stats(df: DataFrame) -> DataFrame:
    """Barcode-length histogram per index column (reference
    get_index_count, samplesheet.py:263-285): N-stripped lengths."""
    out = None
    for col in ("index", "index2"):
        if col not in df.columns:
            continue
        part = (
            df.select(F.length(normalize_index(col)).alias("index_length"))
            .groupBy("index_length")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("index_column", F.lit(col))
        )
        out = part if out is None else out.unionByName(part)
    return out


def group_by_index_length(df: DataFrame) -> DataFrame:
    """Tag each row with its combined (index+index2) N-stripped length —
    the reference's demult work-unit partitioning key
    (samplesheet.py:135-167; dag22 partitioning :5344-5565)."""
    total = F.length(normalize_index("index"))
    if "index2" in df.columns:
        total = total + F.length(normalize_index("index2"))
    return df.withColumn("index_length_group", total)


def revcomp_index(df: DataFrame, column: str = "index2") -> DataFrame:
    """Reverse-complement one index column (platform barcode rule
    REVCOMP, flowcell_barcode_rule igfTables.py:326-366; applied in
    samplesheet.py:413-417)."""
    if column not in df.columns:
        return df
    return df.withColumn(column, rev_comp(column))


def truncate_indexes_to_lane_min(df: DataFrame, lane_col: str = "Lane") -> DataFrame:
    """Truncate every index in a lane to the lane's minimum RAW index
    length — the reference's pre-demux normalization when a lane mixes
    6bp and 8bp kits (samplesheet_utils.py:92-102: map(len).min() then
    x[0:min], on raw strings — N placeholders count).

    Expressed as a window min per lane (SURVEY O5) — no per-lane
    driver loop; one exchange on the lane key.
    """
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(lane_col)
    out = df
    for col in ("index", "index2"):
        if col not in df.columns:
            continue
        raw_len = F.length(F.col(col))
        min_len = F.min(F.when(raw_len > 0, raw_len)).over(w)
        out = out.withColumn(
            col,
            F.when(raw_len > 0, F.col(col).substr(F.lit(1), min_len)).otherwise(
                F.col(col)
            ),
        )
    return out


def validate_samplesheet_rows(df: DataFrame) -> DataFrame:
    """Per-row semantic validation -> rows with a ``validation_error``
    column (empty result == valid sheet).

    Re-expresses _check_samplesheet_data_row (samplesheet.py:38-88):
      - Sample_ID must differ from Sample_Name (:58-61)
      - 10X rows require an SI- kit-code index — a plain ACGT barcode
        is also an error (:66-71) — and must NOT carry index2 (:76-80)
      - non-10X rows need a plain ACGTN barcode; SI- codes are invalid
      - I5_Index_ID set requires index2 (:61-64), and vice versa
    as a single when/otherwise chain (no Python row loop).
    """
    sid = F.col("Sample_ID")
    name = F.col("Sample_Name") if "Sample_Name" in df.columns else F.lit(None)
    idx = F.col("index")
    desc = (
        F.coalesce(F.col("Description"), F.lit(""))
        if "Description" in df.columns
        else F.lit("")
    )
    idx2 = (
        F.coalesce(F.col("index2"), F.lit("")) if "index2" in df.columns else F.lit("")
    )
    i5 = (
        F.coalesce(F.col("I5_Index_ID"), F.lit(""))
        if "I5_Index_ID" in df.columns
        else F.lit("")
    )
    is_tenx_code = idx.rlike("^SI-[GNT][ATN]-[A-Z][0-9]+$")
    err = (
        F.when(sid == name, F.lit("Sample_ID equals Sample_Name"))
        .when((desc == "10X") & ~is_tenx_code,
              F.lit("10X sample requires an SI- kit-code index"))
        .when((desc == "10X") & (idx2 != ""),
              F.lit("10X sample must not carry index2"))
        .when((desc != "10X") & is_tenx_code,
              F.lit("10X kit index on non-10X sample"))
        .when((desc != "10X") & ~idx.rlike("^[ATGCN]+$"),
              F.lit("index is not a valid barcode"))
        .when((i5 != "") & (idx2 == ""),
              F.lit("I5_Index_ID present without index2"))
        .when((idx2 != "") & (F.coalesce(idx, F.lit("")) == ""),
              F.lit("index2 present without index"))
        .otherwise(F.lit(None))
    )
    return df.withColumn("validation_error", err).filter(
        F.col("validation_error").isNotNull()
    )


# Platform barcode rules — data/flowcell_rules.json verbatim (the
# seed data for Flowcell_barcode_rule, igfTables.py:326-366):
# (platform_igf_id, flowcell_type, index_1 rule, index_2 rule)
FLOWCELL_RULES: list[tuple[str, str, str, str]] = [
    ("K00001", "HiSeq 3000/4000 SR", "NO_CHANGE", "NO_CHANGE"),
    ("K00001", "HiSeq 3000/4000 PE", "NO_CHANGE", "REVCOMP"),
    ("NB00001", "NEXTSEQ", "NO_CHANGE", "REVCOMP"),
    ("MI00001", "MISEQ", "NO_CHANGE", "NO_CHANGE"),
]


def apply_flowcell_rules(
    df: DataFrame,
    platform_igf_id: str,
    flowcell_type: str,
    rules: list[tuple[str, str, str, str]] | None = None,
) -> DataFrame:
    """Apply the platform's barcode orientation rule to a samplesheet:
    reverse-complement index / index2 when the rule says REVCOMP
    (reference: flowcell_rules.json seeded into Flowcell_barcode_rule
    and applied during demux prep, samplesheet.py:413-417 +
    processsinglecellsamplesheet handling).

    The rule set is O(#platforms) driver data, so resolution is a
    dict lookup, and the applied transform stays a pure projection.
    Unknown (platform, flowcell_type) raises — the reference treats a
    missing barcode rule as a registration error, not a silent
    pass-through.
    """
    table = {(p, f): (i1, i2) for p, f, i1, i2 in (rules or FLOWCELL_RULES)}
    key = (platform_igf_id, flowcell_type)
    if key not in table:
        raise KeyError(
            f"no flowcell barcode rule for {key}; known: {sorted(table)}"
        )
    i1_rule, i2_rule = table[key]
    out = df
    if i1_rule == "REVCOMP" and "index" in out.columns:
        out = revcomp_index(out, "index")
    if i2_rule == "REVCOMP" and "index2" in out.columns:
        out = revcomp_index(out, "index2")
    return out
