"""RunInfo.xml / RunParameters.xml readers.

Public Illumina run-folder format: RunInfo.xml carries
Run/{Reads/Read[@Number,@NumCycles,@IsIndexedRead], FlowcellLayout,
Flowcell, Instrument, Date}; RunParameters.xml carries workflow/
chemistry parameters.  Reference parsers:
igf_data/illumina/runinfo_xml.py:5-133 and runparameters_xml.py:3-108.

KB-sized per-run files -> driver-side ElementTree, emitted as small
LocalRelation frames (``session.local_frame``) that Catalyst evaluates
in the driver and that broadcast-join against run-scale tables.  Also
derives the bases-mask string (reference illumina/basesMask.py:5-99).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from data_management_python_spark.session import local_frame

READS_SCHEMA = StructType(
    [
        StructField("read_number", IntegerType(), False),
        StructField("num_cycles", IntegerType(), False),
        StructField("is_indexed_read", BooleanType(), False),
    ]
)

RUN_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), True),
        StructField("flowcell", StringType(), True),
        StructField("instrument", StringType(), True),
        StructField("date", StringType(), True),
        StructField("lane_count", IntegerType(), True),
        StructField("surface_count", IntegerType(), True),
        StructField("swath_count", IntegerType(), True),
        StructField("tile_count", IntegerType(), True),
    ]
)


def read_runinfo(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """RunInfo.xml -> (run_df [1 row], reads_df [1 row per read]), both
    LocalRelations: ``first``/``collect`` on them fire no Spark job."""
    root = ET.parse(path).getroot()
    run = root.find("Run")
    if run is None:
        raise ValueError(f"no <Run> element in {path}")

    def _text(tag: str) -> str | None:
        el = run.find(tag)
        return el.text if el is not None else None

    layout = run.find("FlowcellLayout")
    layout_attr = (
        {k: int(v) for k, v in layout.attrib.items()} if layout is not None else {}
    )
    run_row = (
        run.attrib.get("Id"),
        _text("Flowcell"),
        _text("Instrument"),
        _text("Date"),
        layout_attr.get("LaneCount"),
        layout_attr.get("SurfaceCount"),
        layout_attr.get("SwathCount"),
        layout_attr.get("TileCount"),
    )
    reads_rows = [
        (
            int(r.attrib["Number"]),
            int(r.attrib["NumCycles"]),
            r.attrib.get("IsIndexedRead", "N").upper() == "Y",
        )
        for r in run.iter("Read")
    ]
    return (
        local_frame(spark, [run_row], RUN_SCHEMA),
        local_frame(spark, reads_rows, READS_SCHEMA),
    )


def read_runparameters(spark: SparkSession, path: str) -> DataFrame:
    """RunParameters.xml -> single-row LocalRelation of scalar leaf
    params (nested elements flattened with '/' paths, then '_')."""
    root = ET.parse(path).getroot()
    flat: dict[str, str] = {}

    def walk(el, prefix=""):
        children = list(el)
        if not children and el.text and el.text.strip():
            flat[(prefix + el.tag).lstrip("/")] = el.text.strip()
        for c in children:
            walk(c, prefix + el.tag + "/")

    for c in list(root):
        walk(c)
    cols = sorted(flat)
    schema = StructType([StructField(c.replace("/", "_"), StringType(), True) for c in cols])
    return local_frame(spark, [tuple(flat[c] for c in cols)], schema)


def bases_mask(reads_df: DataFrame, index_lengths: list[int]) -> str:
    """Derive the bcl2fastq bases-mask string, e.g. ``Y150,I8,I8,Y150``.

    For each indexed read: use the samplesheet's actual index length,
    masking trailing cycles with 'n' (reference basesMask.py:5-99 +
    dag22:5568-5639).  Non-index reads -> Y{cycles}.
    """
    parts: list[str] = []
    idx_pos = 0
    for row in sorted(reads_df.collect(), key=lambda r: r.read_number):
        if not row.is_indexed_read:
            parts.append(f"Y{row.num_cycles}")
            continue
        want = index_lengths[idx_pos] if idx_pos < len(index_lengths) else 0
        idx_pos += 1
        if want <= 0:
            parts.append(f"N{row.num_cycles}")
        elif want >= row.num_cycles:
            parts.append(f"I{row.num_cycles}")
        else:
            parts.append(f"I{want}N{row.num_cycles - want}")
    return ",".join(parts)
