"""tools/selfcheck.py view registration: a corpus table with no parquet
data is skipped by name; any other DuckDB error propagates."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def selfcheck():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import selfcheck as mod  # noqa: PLC0415
    finally:
        sys.path.pop(0)
    return mod


def test_missing_table_skipped_and_named(selfcheck, tmp_path, capsys):
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT 1 AS r_regionkey) TO '{tmp_path}/region.parquet' "
        "(FORMAT PARQUET)"
    )
    skipped = selfcheck.register_views(
        con, str(tmp_path), ("region", "nation")
    )
    assert skipped == ["nation"]
    assert "skip table nation" in capsys.readouterr().out
    assert con.sql("SELECT count(*) FROM region").fetchone() == (1,)


def test_corrupt_table_is_not_swallowed(selfcheck, tmp_path):
    (tmp_path / "region.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(duckdb.Error):
        selfcheck.register_views(duckdb.connect(), str(tmp_path), ("region",))
