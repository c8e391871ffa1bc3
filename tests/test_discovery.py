"""``streaming.discovery.list_run_dirs`` contract, on a plain-path root
and on a ``file://`` root: which run directories count as finished, and
the exact ``run_path`` strings, pinned to a Hadoop ``listFiles`` walk
(the listing discovery used before it walked through ``fsio``)."""

from __future__ import annotations

from pathlib import Path

import pytest

from data_management_python_spark.streaming import discovery

MARKER = discovery.COMPLETION_MARKER


def _run(root: Path, rel: str, marker: str | None = "done") -> Path:
    """A run directory at ``root/rel``; ``marker`` None leaves it
    unfinished, "" writes a zero-byte marker (as NovaSeq RTA3 does)."""
    d = root / rel
    d.mkdir(parents=True)
    (d / "RunInfo.xml").write_text("<RunInfo/>")
    if marker is not None:
        (d / MARKER).write_text(marker)
    return d


def _hadoop_run_dirs(spark, root: str) -> list[tuple[str, str]]:
    """Every marker under ``root`` by a recursive Hadoop listFiles walk,
    as ``(seqrun_igf_id, run_path)``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    found = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        if p.getName() == MARKER:
            run_path = p.getParent().toUri().getPath()
            found.append((run_path.rstrip("/").rsplit("/", 1)[-1], run_path))
    return sorted(found)


def _listed(spark, root: str) -> list[tuple[str, str]]:
    return sorted(
        (r.seqrun_igf_id, r.run_path)
        for r in discovery.list_run_dirs(spark, root).collect()
    )


@pytest.fixture(params=["plain", "file-uri"])
def as_root(request):
    """How the test names its root directory to discovery."""
    if request.param == "plain":
        return str
    return lambda p: f"file://{p}"


def test_finished_runs_found(spark, tmp_path, as_root):
    _run(tmp_path, "260110_NS9001_0040_AHAAA")
    _run(tmp_path, "260115_NS9001_0043_AHDDD", marker="")  # zero bytes
    _run(tmp_path, "260114_NS9001_0042_AHCCC", marker=None)  # unfinished
    _run(tmp_path, "_staging/260116_NS9001_0044_AHEEE")
    _run(tmp_path, ".incoming/260117_NS9001_0045_AHFFF")
    _run(tmp_path, "_260118_NS9001_0046_AHGGG")
    # nested delivery roots, at two depths
    _run(tmp_path, "delivery_a/260119_NS9001_0047_AHHHH")
    _run(tmp_path, "delivery_b/2026/260120_NS9001_0048_AHIII", marker="")
    # a directory named like the marker is not a marker
    (tmp_path / "not_a_run" / MARKER).mkdir(parents=True)

    got = _listed(spark, as_root(tmp_path))
    assert got == _hadoop_run_dirs(spark, as_root(tmp_path))
    assert got == sorted(
        (Path(p).name, str(tmp_path / p))
        for p in (
            "260110_NS9001_0040_AHAAA",
            "260115_NS9001_0043_AHDDD",
            "_staging/260116_NS9001_0044_AHEEE",
            ".incoming/260117_NS9001_0045_AHFFF",
            "_260118_NS9001_0046_AHGGG",
            "delivery_a/260119_NS9001_0047_AHHHH",
            "delivery_b/2026/260120_NS9001_0048_AHIII",
        )
    )


def test_root_spellings_give_the_same_run_paths(spark, tmp_path, as_root):
    _run(tmp_path, "runs/260110_NS9001_0040_AHAAA")
    want = [("260110_NS9001_0040_AHAAA",
             str(tmp_path / "runs/260110_NS9001_0040_AHAAA"))]
    for root in (
        as_root(tmp_path / "runs"),
        as_root(tmp_path / "runs") + "/",
        as_root(tmp_path) + "//runs",
    ):
        assert _listed(spark, root) == want == _hadoop_run_dirs(spark, root)


def test_marker_written_later_is_found(spark, tmp_path, as_root):
    """No listing cache: each call sees the filesystem as it is now."""
    run = _run(tmp_path, "260110_NS9001_0040_AHAAA", marker=None)
    root = as_root(tmp_path)
    assert _listed(spark, root) == []
    (run / MARKER).touch()
    assert _listed(spark, root) == [("260110_NS9001_0040_AHAAA", str(run))]


def test_missing_root_raises(spark, tmp_path, as_root):
    with pytest.raises(FileNotFoundError):
        discovery.list_run_dirs(spark, as_root(tmp_path / "absent"))


def test_listing_fires_no_spark_job(spark, tmp_path, as_root, spark_jobs):
    _run(tmp_path, "260110_NS9001_0040_AHAAA")
    in_group, fired, rows = spark_jobs(
        lambda: discovery.list_run_dirs(spark, as_root(tmp_path)).collect()
    )
    assert (in_group, fired, len(rows)) == (0, 0, 1)
