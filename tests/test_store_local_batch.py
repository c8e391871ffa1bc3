"""Driver-built client batches at the store boundary.

The write verbs (``store_records``, ``store_with_attributes``,
``upsert``, ``delete_where``) and ``attributes_of``'s parent frame
evaluate a driver-built frame (``createDataFrame`` of a list,
``sc.parallelize``) once, on entry, into a LocalRelation; every other
frame keeps the distributed path.  These tests pin:

- the gate: which frames are localized, that the rebuilt frame has the
  same schema and values, and that the helper never runs a job over a
  frame it does not localize;
- the job budgets that are the point of the change;
- parity: a driver-built batch and the same rows read back from
  parquet (the distributed path) leave identical table states, give
  the same ``attributes_of`` answer and raise the same errors;
- typed bucket keys: an ``int`` key frame against a ``bigint`` bucket
  column updates and deletes the rows it names.
"""

from __future__ import annotations

import datetime
import itertools

import pytest
from pyspark.sql import Row

from data_management_python_spark.store import (
    TableStore,
    _local_batch,
    bucket_of_row,
)

PROJECT_SCHEMA = (
    "project_id long, project_igf_id string, project_name string, "
    "start_timestamp timestamp, description string, status string, "
    "deliverable string"
)
METRIC_SCHEMA = (
    "metric_id long, metric_igf_id string, lane int, value double, "
    "measured_at timestamp"
)
RUN_SCHEMA = (
    "run_id long, run_igf_id string, experiment_id long, seqrun_id long, "
    "status string, lane_number string"
)
T0 = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
#: job-group tags must be unique across tests: the status tracker keeps
#: every group's jobs for the whole session
_TAGS = itertools.count()


def _projects(ids, status="ACTIVE"):
    return [
        (i, f"IGFQ{i:04d}", f"p{i}", T0 + datetime.timedelta(hours=i),
         None, status, "FASTQ")
        for i in ids
    ]


def _metrics(ids):
    return [
        (i, f"M{i:03d}", i % 4, i + 0.125,
         T0 + datetime.timedelta(minutes=i))
        for i in ids
    ]


def _wide(ids):
    return [
        (i, f"IGFQ{i:04d}", f"{i * 1.5}", f"batch{i % 3}") for i in ids
    ]


WIDE_SCHEMA = (
    "project_id long, project_igf_id string, yield_gb string, batch string"
)


@pytest.fixture()
def jobs(spark):
    """``jobs(call) -> (n_jobs, result)``: the Spark jobs ``call``
    fired, counted by a fresh job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(call):
        tag = f"local-batch-{next(_TAGS)}"
        sc.setJobGroup(tag, tag)
        try:
            out = call()
        finally:
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(tag)), out

    return run


def _plan_kind(df) -> str:
    return (
        df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    )


# -- the gate -------------------------------------------------------------


def test_driver_built_frames_become_local_relations(spark, jobs):
    rows = [
        (1, 2**40, 0.1 + 0.2, T0, "a"),
        (-7, None, float("inf"), None, None),
        (None, -(2**63), -0.0, T0 + datetime.timedelta(days=400), "ü"),
    ]
    schema = "i int, l long, d double, ts timestamp, s string"
    for df in (
        spark.createDataFrame(rows, schema),
        spark.sparkContext.parallelize(rows).toDF(schema),
    ):
        n, local = jobs(lambda df=df: _local_batch(df))
        assert n == 1  # one collect
        assert _plan_kind(local) == "LocalRelation"
        assert local.schema == df.schema
        assert local.collect() == df.collect()
        n, got = jobs(
            lambda local=local: (
                local.filter("d > 0").select("i", "ts").collect(),
                local.isEmpty(),
            )
        )
        assert n == 0
        assert got == ([Row(i=1, ts=T0), Row(i=-7, ts=None)], False)
        # already local: returned as is, without a job
        n, again = jobs(lambda local=local: _local_batch(local))
        assert (n, again is local) == (0, True)


def test_gate_keeps_distributed_frames(spark, tmp_path, jobs):
    """File scans, checkpointed frames, RDDs over files and frames
    mixing sources are never collected by the helper."""
    path = str(tmp_path / "pq")
    spark.createDataFrame(_projects(range(1, 6)), PROJECT_SCHEMA).write.parquet(
        path
    )
    text = str(tmp_path / "lines.txt")
    with open(text, "w") as f:
        f.write("IGFQ0001\nIGFQ0002\n")
    scan = spark.read.parquet(path)
    driver = spark.createDataFrame([(1,)], "project_id long")
    frames = {
        "parquet scan": scan,
        "local checkpoint": spark.createDataFrame(
            _projects(range(1, 6)), PROJECT_SCHEMA
        ).localCheckpoint(),
        "file rdd": spark.sparkContext.textFile(text)
        .map(lambda line: (line,))
        .toDF("project_igf_id string"),
        "range": spark.range(3),
        "driver rows joined to a scan": driver.join(
            scan, on="project_id"
        ),
    }
    for what, df in frames.items():
        n, out = jobs(lambda df=df: _local_batch(df))
        assert (what, n, out is df) == (what, 0, True)


# -- job budgets ----------------------------------------------------------


def test_one_row_upsert_fires_at_most_six_jobs(spark, tmp_path, jobs):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("project", ["project_id"], 8)
    store.store_records(
        "project", spark.createDataFrame(_projects(range(1, 201)), PROJECT_SCHEMA)
    )

    def upsert(i, status):
        store.upsert(
            "project",
            spark.createDataFrame([(i, status)], "project_id long, status string"),
            on=["project_id"],
            update_columns=["status"],
        )

    upsert(3, "FINISHED")  # warm the code paths once
    n, _ = jobs(lambda: upsert(5, "WITHDRAWN"))
    assert n <= 6
    assert store.fetch_by("project", project_id=5).first()["status"] == (
        "WITHDRAWN"
    )


def test_attributes_of_driver_built_parents_job_budget(spark, tmp_path, jobs):
    store = TableStore(spark, str(tmp_path / "cat"), attr_n_buckets=8)
    store.store_with_attributes(
        "project",
        spark.createDataFrame(_wide(range(1, 41)), WIDE_SCHEMA),
        key_column="project_id",
    )

    def read():
        parents = spark.createDataFrame([(2,), (3,), (17,)], "project_id long")
        return store.attributes_of(
            "project", parents, attribute_names=["batch", "yield_gb"]
        ).collect()

    read()
    n, rows = jobs(read)
    assert n < 5  # the collect_set bucket probe and its Python passes are gone
    assert sorted(tuple(r) for r in rows) == [
        (2, "batch2", "3.0"), (3, "batch0", "4.5"), (17, "batch2", "25.5"),
    ]


# -- parity with the distributed path ----------------------------------------


class _Inputs:
    """Builds a verb's input either driver-built (``createDataFrame``)
    or as the same rows read back from parquet."""

    def __init__(self, spark, tmp_path, kind):
        self.spark, self.tmp, self.kind = spark, tmp_path, kind
        self.n = itertools.count()

    def __call__(self, rows, schema):
        df = self.spark.createDataFrame(rows, schema)
        if self.kind == "driver":
            return df
        path = str(self.tmp / f"in-{next(self.n)}")
        df.write.parquet(path)
        return self.spark.read.parquet(path)


def _state(store, table):
    return sorted(
        store.table(table).collect(),
        key=lambda r: tuple((v is None, str(v)) for v in r),
    )


def _drive(spark, root, tmp_path, kind, bucketed):
    """Every verb that takes a client frame, on one store."""
    mk = _Inputs(spark, tmp_path, kind)
    store = TableStore(spark, root, attr_n_buckets=4)
    store.declare_table("metric", METRIC_SCHEMA)
    if bucketed:
        store.enable_partitioning("project", ["project_id"], 8)
        store.enable_partitioning("metric", ["metric_id"], 8)
    store.store_records("project", mk(_projects(range(1, 21)), PROJECT_SCHEMA))
    store.store_records("metric", mk(_metrics(range(1, 31)), METRIC_SCHEMA))
    store.store_with_attributes(
        "project", mk(_wide(range(1, 21)), WIDE_SCHEMA), key_column="project_id"
    )
    store.store_with_attributes(  # one new parent, one re-stored
        "project", mk(_wide([5, 21]), WIDE_SCHEMA), key_column="project_id"
    )
    store.upsert(  # two matched, one inserted
        "metric",
        mk(
            [(3, 9.75, T0), (11, -2.5, None), (40, 1e300, T0)],
            "metric_id long, value double, measured_at timestamp",
        ),
        on=["metric_id"],
        update_columns=["value", "measured_at"],
    )
    store.upsert(
        "project",
        mk(_projects([2, 22], status="FINISHED"), PROJECT_SCHEMA),
        on=["project_id"],
    )
    store.delete_where(
        "metric", mk([(4,), (12,), (99,)], "metric_id long"), on=["metric_id"]
    )
    attrs = store.attributes_of(
        "project",
        mk([(1,), (5,), (21,), (77,)], "project_id long"),
        attribute_names=["batch", "yield_gb"],
    ).collect()
    return store, sorted(tuple(r) for r in attrs)


@pytest.mark.parametrize("bucketed", [True, False])
def test_local_and_distributed_batches_agree(spark, tmp_path, bucketed):
    local, attrs_l = _drive(
        spark, str(tmp_path / "local"), tmp_path / "li", "driver", bucketed
    )
    dist, attrs_d = _drive(
        spark, str(tmp_path / "dist"), tmp_path / "di", "parquet", bucketed
    )
    assert attrs_l == attrs_d == [
        (1, "batch1", "1.5"), (5, "batch2", "7.5"), (21, "batch0", "31.5"),
    ]
    for table in ("project", "metric", "project_attribute"):
        assert _state(local, table) == _state(dist, table), table
    metric = {r.metric_id: r for r in local.table("metric").collect()}
    assert sorted(metric) == sorted(set(range(1, 31)) - {4, 12} | {40})
    assert (metric[3].value, metric[3].measured_at) == (9.75, T0)
    assert (metric[11].value, metric[11].measured_at) == (-2.5, None)
    assert metric[40].value == 1e300
    assert metric[7].measured_at == T0 + datetime.timedelta(minutes=7)
    project = {r.project_id: r for r in local.table("project").collect()}
    assert (project[2].status, project[22].status) == ("FINISHED", "FINISHED")
    assert project[2].start_timestamp == T0 + datetime.timedelta(hours=2)


def test_local_and_distributed_batches_raise_the_same_errors(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("project", ["project_id"], 8)
    store.store_records(
        "project", spark.createDataFrame(_projects(range(1, 11)), PROJECT_SCHEMA)
    )
    store.add_unique("project", ["project_igf_id"])
    store.add_foreign_key("run", "experiment_id", "experiment", "experiment_id")
    cases = {
        "enum (append)": lambda mk: store.store_records(
            "project", mk(_projects([50], status="BOGUS"), PROJECT_SCHEMA)
        ),
        "enum (upsert)": lambda mk: store.upsert(
            "project",
            mk([(3, "BOGUS")], "project_id long, status string"),
            on=["project_id"],
            update_columns=["status"],
        ),
        "duplicate merge keys": lambda mk: store.upsert(
            "project",
            mk([(3, "FINISHED"), (3, "WITHDRAWN"), (4, "FINISHED")],
               "project_id long, status string"),
            on=["project_id"],
            update_columns=["status"],
        ),
        "unique clash": lambda mk: store.store_records(
            "project",
            mk([(60, "IGFQ0004", None, None, None, "ACTIVE", "FASTQ")],
               PROJECT_SCHEMA),
        ),
        "fk orphan": lambda mk: store.store_records(
            "run", mk([(1, "R1", 999, None, "ACTIVE", "1")], RUN_SCHEMA)
        ),
    }
    for what, call in cases.items():
        messages = []
        for kind in ("driver", "parquet"):
            with pytest.raises(ValueError) as err:
                call(_Inputs(spark, tmp_path / f"{what}-{kind}", kind))
            messages.append(str(err.value))
        assert messages[0] == messages[1], what
    # every refusal left the table as it was
    assert sorted(r.project_id for r in store.table("project").collect()) == (
        list(range(1, 11))
    )
    assert {r.status for r in store.table("project").collect()} == {"ACTIVE"}
    assert store.table("run").count() == 0


# -- typed bucket keys ------------------------------------------------------


def _mismatched_keys(n: int) -> list[int]:
    """Run ids whose bucket as an ``int`` differs from their bucket as
    a ``bigint``: keys a merge hashed with the frame's own int type
    would look for in the wrong bucket."""
    return [
        k for k in range(1, 21)
        if bucket_of_row([k], ["int"], 8) != bucket_of_row([k], ["bigint"], 8)
    ][:n]


def _run_table(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("run", ["run_id"], 8)
    store.store_records(
        "run",
        spark.createDataFrame(
            [(i, f"R{i}", None, None, "ACTIVE", "1") for i in range(1, 21)],
            RUN_SCHEMA,
        ),
    )
    return store


@pytest.mark.parametrize("kind", ["driver", "parquet"])
def test_upsert_int_keys_on_bigint_bucket_column(spark, tmp_path, kind):
    store = _run_table(spark, tmp_path)
    mk = _Inputs(spark, tmp_path, kind)
    keys = _mismatched_keys(3)
    assert len(keys) == 3
    for k in keys:
        store.upsert(
            "run",
            mk([(k, "WITHDRAWN")], "run_id int, status string"),
            on=["run_id"],
            update_columns=["status"],
        )
    got = {r.run_id: r.status for r in store.table("run").collect()}
    assert len(got) == 20
    assert {k for k, s in got.items() if s == "WITHDRAWN"} == set(keys)


@pytest.mark.parametrize("kind", ["driver", "parquet"])
def test_delete_where_int_keys_on_bigint_bucket_column(spark, tmp_path, kind):
    store = _run_table(spark, tmp_path)
    mk = _Inputs(spark, tmp_path, kind)
    keys = _mismatched_keys(3)
    for k in keys:
        store.delete_where("run", mk([(k,)], "run_id int"), on=["run_id"])
    got = {r.run_id for r in store.table("run").collect()}
    assert got == set(range(1, 21)) - set(keys)
