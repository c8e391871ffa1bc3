"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start a Spark session per workload and trace mode
(under a minute each).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, run, trace  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_registry_generator_is_deterministic():
    a = gen.make_registry(5, 6, 7)
    b = gen.make_registry(5, 6, 7)
    assert a == b
    assert a != gen.make_registry(6, 6, 7)
    assert len(a.samples) == 42 and len(a.runs) == 84


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_run_dir_generator_is_byte_identical(tmp_path):
    specs_a = gen.make_run_dirs(9, str(tmp_path / "a"), 6)
    specs_b = gen.make_run_dirs(9, str(tmp_path / "b"), 6)
    files = _tree(str(tmp_path / "a"))
    assert files == _tree(str(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", files, shallow=False
    )
    assert not mismatch and not errors
    assert [s.seqrun_igf_id for s in specs_a] == [
        s.seqrun_igf_id for s in specs_b
    ]


def test_star_generator_is_byte_identical(tmp_path):
    counts = gen.make_star(4, str(tmp_path / "a"))
    assert counts == gen.make_star(4, str(tmp_path / "b"))
    files = _tree(str(tmp_path / "a"))
    assert files == [f"{t}.parquet" for t in sorted(counts)]
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", files, shallow=False
    )
    assert not mismatch and not errors
    gen.make_star(5, str(tmp_path / "c"))
    assert not filecmp.cmp(
        tmp_path / "a" / "lineitem.parquet",
        tmp_path / "c" / "lineitem.parquet", shallow=False,
    )


def test_run_dir_generator_plants_every_defect(tmp_path):
    specs = gen.make_run_dirs(3, str(tmp_path), 8)
    finished = [s for s in specs if s.finished and s.redelivery_of is None]
    assert len(finished) == 8
    assert sum(not s.finished for s in specs) == 2
    # the first run, registered during set-up, carries every defect
    first = finished[0]
    assert first.empty_marker and first.sheet_version == "v1"
    assert first.dup_lanes == [1] and first.failed_lanes == [2]
    assert first.registrable == 2
    (copy,) = [s for s in specs if s.redelivery_of]
    assert copy.seqrun_igf_id == first.seqrun_igf_id
    # the first timed runs share one healthy v2 shape
    shapes = {(s.sheet_version, tuple(s.dup_lanes), tuple(s.failed_lanes),
               s.registrable) for s in finished[1:3]}
    assert shapes == {("v2", (), (), 4)}
    for s in finished:
        marker = os.path.join(s.path, "RTAComplete.txt")
        assert (os.path.getsize(marker) == 0) == s.empty_marker


def test_metric_names_are_well_formed_and_match_the_manifest():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in spec["per_layer"]} == set(run.per_layer_units())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        want = run.END_TO_END.get(m["name"]) or run.per_layer_units()[m["name"]]
        assert m["unit"] == want


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert run.tail([3.0, 1.0, 2.0])[0] == 3.0


def test_quota_is_one_block_per_ten_seconds():
    class Block:
        block = 9

    assert run.quota(Block, 10) == 9
    assert run.quota(Block, 20) == 18
    assert run.quota(Block, 1) == 9


def test_result_digest_ignores_row_and_column_order():
    from perfbench import report_scan  # noqa: PLC0415

    a = report_scan.digest(["x", "y"], [(1, 2.5), (3, None)])
    assert a == report_scan.digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a != report_scan.digest(["x", "y"], [(1, 2.5), (3, 0)])


def test_self_time_subtracts_direct_children():
    t = trace.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            with t.span("leaf"):
                pass
        with t.span("inner"):
            pass
    spans = {sp.id: sp for sp in t.spans}
    dur = {i: sp.end - sp.start for i, sp in spans.items()}
    outer = next(sp for sp in t.spans if sp.name == "outer")
    inners = [sp for sp in t.spans if sp.name == "inner"]
    leaf = next(sp for sp in t.spans if sp.name == "leaf")
    assert all(sp.parent == outer.id for sp in inners)
    assert leaf.parent == inners[0].id
    stats = t.layer_stats()
    assert stats["inner"]["calls"] == 2
    assert stats["outer"]["self_s"] == pytest.approx(
        dur[outer.id] - sum(dur[sp.id] for sp in inners), abs=1e-12
    )
    assert stats["inner"]["self_s"] == pytest.approx(
        sum(dur[sp.id] for sp in inners) - dur[leaf.id], abs=1e-12
    )


def test_install_layers_restores_every_original():
    from data_management_python_spark.store import TableStore  # noqa: PLC0415
    from data_management_python_spark.streaming import discovery  # noqa: PLC0415

    before = (TableStore.fetch_by, TableStore.transaction,
              discovery.discover_new_runs)
    t = trace.Tracer()
    trace.install_layers(t)
    assert TableStore.fetch_by is not before[0]
    t.uninstall()
    assert (TableStore.fetch_by, TableStore.transaction,
            discovery.discover_new_runs) == before


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_has_no_failures(workload, trace):
    proc = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--smoke",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = run.END_TO_END if trace == 0 else run.per_layer_units()
    assert set(result["metrics"]) == set(want)
