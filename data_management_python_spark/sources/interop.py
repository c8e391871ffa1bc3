"""Illumina InterOp dumptext reader.

Format (public `interop_dumptext` output): sectioned CSV — lines
``# SectionName`` begin a section, followed by a CSV header + rows
(per-lane / per-cycle metric series).  Reference:
igf_data/illumina/interop.py:4-41 (extract_data_from_interop_dump).

One dump is small (MBs) -> parsed driver-side into one LocalRelation
frame per section (``session.local_frame``); a directory of dumps from
a fleet of sequencers can instead be read with ``spark.read.text`` +
the same splitter per file via ``input_file_name``.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from data_management_python_spark.session import local_frame


def parse_interop_text(text: str) -> dict[str, tuple[list[str], list[list[str]]]]:
    """dump text -> {section: (header, rows)} (all values strings)."""
    sections: dict[str, tuple[list[str], list[list[str]]]] = {}
    current: str | None = None
    header: list[str] | None = None
    rows: list[list[str]] = []
    # per-section metadata comments the reference skips explicitly
    # (igf_data/illumina/interop.py:22-27): '# Version', '# Column
    # Count: N', '# Bin Count: N', '# Channel Count: N'
    META_NAMES = {"version", "column count", "bin count", "channel count"}
    for line in text.splitlines():
        if line.startswith("#"):
            name = line.lstrip("#").strip().split(",")[0]
            if not name:
                continue
            base = name.split(":")[0].strip().lower()
            if base in META_NAMES or ":" in name:
                continue  # metadata sub-comment, not a section break
            if current is not None and header is not None:
                sections[current] = (header, rows)
            current, header, rows = name, None, []
            continue
        if current is None or not line.strip():
            continue
        parsed = next(csv.reader(io.StringIO(line)))
        if header is None:
            header = [h.strip() for h in parsed]
        else:
            rows.append([v.strip() for v in parsed])
    if current is not None and header is not None:
        sections[current] = (header, rows)
    return sections


def read_interop_dump(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """InterOp dump file -> one LocalRelation per section (string
    columns; callers cast metric columns as needed)."""
    with open(path, encoding="utf-8") as fh:
        sections = parse_interop_text(fh.read())
    out: dict[str, DataFrame] = {}
    for name, (header, rows) in sections.items():
        schema = StructType([StructField(h, StringType(), True) for h in header])
        padded = [tuple((r[i] if i < len(r) else None) for i in range(len(header))) for r in rows]
        out[name] = local_frame(spark, padded, schema)
    return out
