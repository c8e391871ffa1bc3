"""``session.local_frame``: driver-parsed rows as a LocalRelation.

Pins the helper to ``spark.createDataFrame(rows, schema)`` (same schema,
nullability included, and the same rows), and pins what it buys: the
run-registration parsers' frames answer ``collect``/``first`` in the
driver, with no Spark job."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_management_python_spark.session import local_frame
from data_management_python_spark.sources import interop, runinfo_xml
from data_management_python_spark.sources import samplesheet as ss
from data_management_python_spark.sources.runinfo_xml import READS_SCHEMA
from data_management_python_spark.validation import metadata

FIX = Path(__file__).parent / "fixtures"

MIXED = StructType(
    [
        StructField("s", StringType(), True),
        StructField("i", IntegerType(), True),
        StructField("l", LongType(), True),
        StructField("b", BooleanType(), True),
    ]
)
MIXED_ROWS = [
    ("a", 1, 2**40, True),
    (None, None, None, None),
    ("ü,\"q\"", -(2**31), -(2**63), False),
    ("", 0, 0, None),
]


def _plan_kind(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize(
    "schema,rows",
    [
        (READS_SCHEMA, [(1, 151, False), (2, 8, True), (3, 151, False)]),
        (READS_SCHEMA, []),
        (MIXED, MIXED_ROWS),
        (MIXED, []),
    ],
    ids=["reads", "reads-empty", "mixed", "mixed-empty"],
)
def test_local_frame_matches_create_data_frame(spark, schema, rows):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # the JVM-side schema: nullability must survive the Arrow path
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    assert _plan_kind(got) == "LocalRelation"
    assert _plan_kind(got.filter("true").select(schema.names[0])) == (
        "LocalRelation"
    )


def test_run_control_files_fire_no_spark_job(spark, spark_jobs):
    def parse():
        sheet = ss.read_samplesheet(spark, str(FIX / "SampleSheet_v1.csv"))
        run_df, reads_df = runinfo_xml.read_runinfo(
            spark, str(FIX / "RunInfo.xml")
        )
        mask = runinfo_xml.bases_mask(reads_df, [8, 8])
        info = run_df.first()
        tiles = interop.read_interop_dump(
            spark, str(FIX / "interop_dump.txt")
        )["Tile"].collect()
        return sheet, mask, info, tiles

    in_group, fired, (sheet, mask, info, tiles) = spark_jobs(parse)
    assert (in_group, fired) == (0, 0)
    assert mask == "Y151,I8N2,I8N2,Y151"
    assert info.run_id == "260115_NS9001_0042_AHTESTFC42"
    assert len(tiles) == 3
    assert _plan_kind(sheet) == "LocalRelation"


def test_parser_frames_are_local_relations(spark):
    params = runinfo_xml.read_runparameters(
        spark, str(FIX / "RunParameters.xml")
    )
    sheet = ss.read_samplesheet(spark, str(FIX / "SampleSheet_v2.csv"))
    lookup = metadata.compatibility_table(spark)
    for df in (params, sheet, lookup):
        assert _plan_kind(df) == "LocalRelation"
    assert lookup.count() == len(metadata.LIBRARY_COMPATIBILITY)
