from __future__ import annotations

import itertools
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _protobuf_fallback() -> None:
    """TEST-ENVIRONMENT shim, not product code: this box has no
    installed protobuf (and installs are off-limits), which skipped
    the transformWithStateInPandas e2e test — the one streaming path
    that had never executed here.  A pure-Python protobuf 6.32 ships
    inside the on-box google-cloud-sdk; when ``google.protobuf`` is
    absent and that copy exists, put it on sys.path AND PYTHONPATH
    (Spark's Python workers run the typed-state server and import the
    StateMessage protos too — in local mode they inherit the driver's
    env) and set protobuf's own documented escape hatch for the
    6.33-gencode/6.32-runtime minor-version check.  On a box with a
    real protobuf this is a no-op."""
    try:
        import google.protobuf  # noqa: F401, PLC0415

        return
    except ImportError:
        pass
    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(gae, "google", "protobuf")):
        return
    sys.path.append(gae)
    os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    os.environ["PYTHONPATH"] = (
        gae + os.pathsep + os.environ.get("PYTHONPATH", "")
    )


_protobuf_fallback()

from data_management_python_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # TIMESTAMP_NTZ: the driver's testdata parquet stores naive
    # timestamps; round-1 shipped an NTZ-only bug that local fixtures
    # (plain TIMESTAMP) could not catch.  Pinning the session timestamp
    # type makes every fixture-created timestamp NTZ like production.
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions="4",
        extra_conf={"spark.sql.timestampType": "TIMESTAMP_NTZ"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


_JOB_GROUPS = itertools.count()


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(call) -> (in_group, fired, result)``: ``call`` runs
    under a fresh job group; ``in_group`` counts the jobs that carried
    that group, ``fired`` every job Spark started meanwhile, on any
    thread and in any group (the job ids between two fence jobs)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()

    def group() -> str:
        tag = f"spark-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(tag, tag)
        return tag

    def fence() -> int:
        tag = group()
        sc.parallelize([0], 1).count()
        bus.waitUntilEmpty()
        return tracker.getJobIdsForGroup(tag)[0]

    def run(call):
        first = fence()
        tag = group()
        try:
            out = call()
        finally:
            last = fence()
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(tag)), last - first - 1, out

    return run
