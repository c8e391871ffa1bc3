"""TableStore facade tests — the adaptor-API parity layer, exercised
the way the reference's adaptor tests do (fixture rows in, fetch and
assert; SURVEY §5 pattern)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_management_python_spark.store import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "catalog"))


def test_store_and_fetch_project(store, spark):
    projects = spark.createDataFrame(
        [(1, "IGFQ0001_test", "Test project", None, None, "ACTIVE", "FASTQ")],
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, deliverable string",
    )
    store.store_records("project", projects)
    got = store.fetch_by("project", project_igf_id="IGFQ0001_test")
    assert got.count() == 1
    assert store.exists("project", status="ACTIVE")
    assert not store.exists("project", status="WITHDRAWN")


def test_enum_validation_on_store(store, spark):
    bad = spark.createDataFrame(
        [(2, "IGFQ0002", None, None, None, "NOT_A_STATUS", "FASTQ")],
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, deliverable string",
    )
    with pytest.raises(ValueError, match="enum violation"):
        store.store_records("project", bad)


def test_store_with_attributes_and_fk(store, spark):
    projects = spark.createDataFrame(
        [(1, "IGFQ0001_test", None, None, None, "ACTIVE", "FASTQ")],
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, deliverable string",
    )
    store.store_records("project", projects)
    # wide sample rows carrying unknown columns -> EAV, with FK by natural key
    samples = spark.createDataFrame(
        [
            ("IGF0001", "IGFQ0001_test", "ACTIVE", "96", "batch7"),
            ("IGF0002", "IGFQ0001_test", "ACTIVE", "48", None),
        ],
        "sample_igf_id string, project_igf_id string, status string, "
        "expected_read string, batch string",
    ).withColumn("sample_id", F.monotonically_increasing_id() + 10)
    store.store_with_attributes(
        "sample",
        samples,
        key_column="sample_id",
        fk=("project", "project_igf_id", "project_id"),
    )
    main = store.table("sample")
    assert main.count() == 2
    assert {r.project_id for r in main.collect()} == {1}
    # unknown columns melted to the attribute table, NULLs pruned
    eav = store.table("sample_attribute")
    names = {r.attribute_name for r in eav.collect()}
    assert names == {"expected_read", "batch"}
    assert eav.count() == 3

    wide = store.attributes_of(
        "sample", main.select("sample_id"), ["expected_read", "batch"]
    )
    by_id = {r.sample_id: r for r in wide.collect()}
    ids = sorted(by_id)
    assert by_id[ids[0]].expected_read == "96"
    assert by_id[ids[1]].batch is None


def test_store_with_attributes_jobs_carry_callers_job_group(
    store, spark, spark_jobs
):
    """The main-table append runs on a worker thread; its jobs belong
    to the caller's job group like the rest of the verb's."""
    wide = spark.createDataFrame(
        [(1, "IGFQ0001", "96", "batch7"), (2, "IGFQ0002", "48", None)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    in_group, fired, _ = spark_jobs(
        lambda: store.store_with_attributes(
            "project", wide, key_column="project_id"
        )
    )
    assert in_group == fired > 0
    assert store.table("project").count() == 2


def test_upsert_and_delete(store, spark):
    pipelines = spark.createDataFrame(
        [(1, "demult", None, None, None, "AIRFLOW", "Y", None)],
        "pipeline_id long, pipeline_name string, pipeline_db string, "
        "pipeline_init_conf string, pipeline_run_conf string, "
        "pipeline_type string, is_active string, date_stamp timestamp",
    )
    store.store_records("pipeline", pipelines)
    updates = spark.createDataFrame(
        [(1, "N"), (2, "Y")], "pipeline_id long, is_active string"
    )
    store.upsert("pipeline", updates, on=["pipeline_id"], update_columns=["is_active"])
    rows = {r.pipeline_id: r for r in store.table("pipeline").collect()}
    assert rows[1].is_active == "N"
    assert rows[2].is_active == "Y" and rows[2].pipeline_name is None

    store.delete_where(
        "pipeline",
        spark.createDataFrame([(2,)], "pipeline_id long"),
        on=["pipeline_id"],
    )
    assert store.table("pipeline").count() == 1


def test_store_rerun_read_after_swap(store, spark):
    files = spark.createDataFrame(
        [(1, "/data/f1.fastq.gz", "HPC_PROJECT", "ACTIVE", "md5x", "100", None, None)],
        "file_id long, file_path string, location string, status string, "
        "md5 string, size string, date_created timestamp, date_updated timestamp",
    )
    store.store_records("file", files)
    more = files.withColumn("file_id", F.lit(2).cast("long")).withColumn(
        "file_path", F.lit("/data/f2.fastq.gz")
    )
    store.store_records("file", more)
    assert store.table("file").count() == 2


def _listing(root):
    """{relative parquet path: (size, mtime_ns)} under a table dir."""
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_partitioned_upsert_rewrites_only_touched_buckets(store, spark):
    """The 100-TB MERGE contract: on a bucketed table, an upsert of k
    rows rewrites ONLY the bucket dirs containing them — every other
    bucket's files stay byte-identical on disk (names, sizes, mtimes),
    proven by file listing, and the logical result equals the
    full-table merge."""
    import os

    rows = [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
            for i in range(1, 201)]
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records("project", spark.createDataFrame(rows, schema))
    store.enable_partitioning("project", ["project_id"], n_buckets=8)
    root = store._path("project")
    bucket_dirs = sorted(
        d for d in os.listdir(root) if d.startswith("kb=")
    )
    assert len(bucket_dirs) == 8  # 200 keys cover all 8 buckets
    before = _listing(root)

    # update 2 rows + insert 1 -> at most 3 touched buckets
    ups = spark.createDataFrame(
        [(5, "IGFQ0005", None, None, None, "WITHDRAWN", "FASTQ"),
         (17, "IGFQ0017", None, None, None, "WITHDRAWN", "FASTQ"),
         (999, "IGFQ0999", None, None, None, "ACTIVE", "FASTQ")],
        schema,
    )
    touched = store._touched_buckets(ups, ["project_id"], 8)
    store.upsert("project", ups, on=["project_id"])

    after = _listing(root)
    untouched_before = {
        p: v for p, v in before.items()
        if int(p.split(os.sep)[0].split("=")[1]) not in touched
    }
    untouched_after = {
        p: v for p, v in after.items()
        if int(p.split(os.sep)[0].split("=")[1]) not in touched
    }
    assert untouched_before == untouched_after  # byte-identical files
    assert untouched_before  # the assertion above is not vacuous
    changed = set(after) ^ set(before) | {
        p for p in set(after) & set(before) if after[p] != before[p]
    }
    assert changed  # touched buckets actually rewrote
    assert all(
        int(p.split(os.sep)[0].split("=")[1]) in touched for p in changed
    )
    # logical correctness: merge semantics + no bucket column leaks
    got = store.table("project")
    assert "kb" not in got.columns
    assert got.count() == 201
    assert (
        got.filter("project_id = 5").first()["status"] == "WITHDRAWN"
    )
    assert store.exists("project", project_id=999)

    # partition-scoped delete: same contract
    before = _listing(root)
    keys = spark.createDataFrame([(5,), (999,)], "project_id long")
    touched = store._touched_buckets(keys, ["project_id"], 8)
    store.delete_where("project", keys, on=["project_id"])
    after = _listing(root)
    assert {
        p: v for p, v in before.items()
        if int(p.split(os.sep)[0].split("=")[1]) not in touched
    } == {
        p: v for p, v in after.items()
        if int(p.split(os.sep)[0].split("=")[1]) not in touched
    }
    assert store.table("project").count() == 199
    assert not store.exists("project", project_id=5)

    # appends only ADD files in the new rows' buckets
    before = _listing(root)
    new = spark.createDataFrame(
        [(300, "IGFQ0300", None, None, None, "ACTIVE", "FASTQ")], schema
    )
    store.store_records("project", new)
    after = _listing(root)
    assert set(before) <= set(after)
    assert all(before[p] == after[p] for p in before)  # nothing rewritten
    assert store.table("project").count() == 200


def test_partitioned_layout_survives_new_store_instance(store, spark):
    """The sidecar persists the bucket spec: a fresh TableStore over
    the same root sees the partitioning and keeps merges scoped."""
    from data_management_python_spark.store import TableStore

    rows = [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
            for i in range(1, 21)]
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records("project", spark.createDataFrame(rows, schema))
    store.enable_partitioning("project", ["project_id"], n_buckets=4)
    s2 = TableStore(spark, store.root)
    assert s2.partitioning_of("project") == (["project_id"], 4)
    assert s2.table("project").count() == 20
    # bucket keys must be a subset of the merge keys
    import pytest

    with pytest.raises(ValueError, match="subset of the merge keys"):
        s2.upsert(
            "project",
            spark.createDataFrame(
                [("IGFQ0001", "X")], "project_igf_id string, status string"
            ),
            on=["project_igf_id"],
        )


def test_partitioned_upsert_rejects_bucket_key_update(store, spark):
    """update_columns naming a bucket key would move a matched row to
    a bucket the swap never touches — silent row loss; must refuse."""
    import pytest

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=4)
    ups = spark.createDataFrame(
        [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
    )
    with pytest.raises(ValueError, match="cannot update bucket key"):
        store.upsert(
            "project", ups, on=["project_id"],
            update_columns=["project_id", "status"],
        )
    # non-key update_columns still fine
    store.upsert("project", ups, on=["project_id"], update_columns=["status"])


def test_bucketed_table_compaction_integration(store, spark):
    """Append-heavy bucketed tables fragment into many small files per
    kb= dir; the generic partition-compaction machinery must plan over
    the bucketed layout (ignoring the underscore sidecar), rewrite the
    fragmented buckets in place, and leave the TableStore fully
    functional — reads, the partitioning spec, and partition-scoped
    upserts."""
    from data_management_python_spark.sources.sinks import (
        compact_partitions,
        plan_partition_compaction,
    )

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(0, "IGFQ0000", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    # fragment: each append adds a file per touched bucket
    for i in range(1, 9):
        store.store_records(
            "project",
            spark.createDataFrame(
                [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")],
                schema,
            ),
        )
    root = store._path("project")
    plan = plan_partition_compaction(
        spark, root, target_file_bytes=64 * 1024 * 1024, min_small_files=3
    )
    flagged = [r["partition"] for r in plan.filter("needs_compaction").collect()]
    assert flagged and all(p.startswith("kb=") for p in flagged)
    done = compact_partitions(spark, root, plan)
    assert sorted(done) == sorted(flagged)
    # table intact, sidecar spec intact, one file per compacted bucket
    assert store.table("project").count() == 9
    assert store.partitioning_of("project") == (["project_id"], 2)
    # partition-scoped mutation still works on the compacted layout
    ups = spark.createDataFrame(
        [(3, "IGFQ0003", None, None, None, "WITHDRAWN", "FASTQ")], schema
    )
    store.upsert("project", ups, on=["project_id"])
    got = store.table("project")
    assert got.count() == 9
    assert got.filter("project_id = 3").first()["status"] == "WITHDRAWN"


def test_full_rewrite_preserves_bucketed_layout(store, spark):
    """_swap callers (store_with_attributes' EAV dedup rewrite) must
    keep a bucketed table bucketed: layout, sidecar, and subsequent
    partition-scoped mutations all survive a full rewrite."""
    import os

    projects = spark.createDataFrame(
        [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")],
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string",
    )
    store.store_records("project", projects)
    # bucket the ATTRIBUTE table, then store wide rows -> the EAV
    # append path rewrites project_attribute through _swap
    store.enable_partitioning("project_attribute", ["project_id"], 4)
    wide = spark.createDataFrame(
        [(1, "IGFQ0001", "96", "batch7")],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    store.store_with_attributes("project", wide, key_column="project_id")
    root = store._path("project_attribute")
    assert os.path.exists(store._sidecar("project_attribute"))
    assert any(d.startswith("kb=") for d in os.listdir(root))
    assert store.partitioning_of("project_attribute") == (
        ["project_id"], 4,
    )
    eav = store.table("project_attribute")
    assert "kb" not in eav.columns
    got = {
        r.attribute_name: r.attribute_value for r in eav.collect()
    }
    assert got == {"expected_read": "96", "batch": "batch7"}
    # partition-scoped delete still works on the rewritten layout
    keys = spark.createDataFrame([(1,)], "project_id long")
    store.delete_where("project_attribute", keys, on=["project_id"])
    assert store.table("project_attribute").count() == 0


def test_read_surfaces_stranded_swap_state_with_recovery_path(
    store, spark, tmp_path
):
    """A crashed bucket swap leaves {part}__precompact next to the kb=
    dirs; a plain read would mis-discover partitions (the temp name
    parses as a partition value and flips the column type).  The store
    must surface the crash state with the documented recovery command
    — and the recovery must actually work."""
    import os
    import shutil

    import pytest

    from data_management_python_spark.sources.sinks import (
        cleanup_compaction_leftovers,
    )

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    rows = [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
            for i in range(12)]
    store.store_records("project", spark.createDataFrame(rows, schema))
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    root = store._path("project")
    bucket = sorted(d for d in os.listdir(root) if d.startswith("kb="))[0]
    # simulate the crash-between-renames state for one bucket
    shutil.move(
        os.path.join(root, bucket), os.path.join(root, f"{bucket}__precompact")
    )
    with pytest.raises(RuntimeError, match="cleanup_compaction_leftovers"):
        store.table("project")
    handled = cleanup_compaction_leftovers(spark, root)
    assert any(h.startswith("restored:") for h in handled)
    assert store.table("project").count() == 12


def test_attribute_store_is_partition_scoped_by_default(store, spark):
    """Round-6 contract: *_attribute tables are hash-bucketed by parent
    id automatically, and a store_with_attributes touching k parents
    rewrites ONLY their buckets — every other bucket's files stay
    byte-identical (the reference's hottest write, run_attribute, must
    not be a 100-TB rewrite)."""
    import os

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 41)],
            schema,
        ),
    )
    wide = spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", str(i * 2), f"batch{i % 3}")
         for i in range(1, 41)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    store.store_with_attributes("project", wide, key_column="project_id")
    # bucketed automatically, logical schema clean
    bkeys, n_buckets = store.partitioning_of("project_attribute")
    # auto-sized: a tiny table sits at the parallelism floor
    assert bkeys == ["project_id"]
    assert n_buckets == store.MIN_AUTO_BUCKETS
    assert "kb" not in store.table("project_attribute").columns
    assert store.table("project_attribute").count() == 80

    root = store._path("project_attribute")
    before = _listing(root)
    two = spark.createDataFrame(
        [(5, "IGFQ0005", "999", "batch9"),
         (17, "IGFQ0017", "34", "batch0")],  # (17, batch0) is a DUP
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    touched = store._touched_buckets(
        two.withColumnRenamed("project_id", "pid").selectExpr(
            "pid as project_id"
        ),
        ["project_id"],
        n_buckets,
    )
    store.store_with_attributes("project", two, key_column="project_id")
    after = _listing(root)

    untouched = lambda d: {  # noqa: E731
        p: v for p, v in d.items()
        if int(p.split(os.sep)[0].split("=")[1]) not in touched
    }
    assert untouched(before) == untouched(after)
    assert untouched(before)  # non-vacuous
    # dedup on (parent, name, value) held: exactly three NEW values
    # appended (5: expected_read=999, batch=batch9; 17: batch=batch0);
    # 17's expected_read=34 duplicates the existing row and is dropped
    got = store.table("project_attribute")
    assert got.count() == 80 + 3
    p17 = {
        (r.attribute_name, r.attribute_value)
        for r in got.filter("project_id = 17").collect()
    }
    assert ("batch", "batch0") in p17  # deduped, present once
    assert (
        got.filter(
            "project_id = 17 AND attribute_name = 'batch' "
            "AND attribute_value = 'batch0'"
        ).count()
        == 1
    )


def test_unbucketed_store_records_is_true_append(store, spark):
    """store_records on an UNBUCKETED table must not read or rewrite
    existing files — appends add files, old ones stay byte-identical
    (round-5 verdict: the default path was a full-table rewrite per
    append)."""
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    root = store._path("project")
    before = _listing(root)
    store.store_records(
        "project",
        spark.createDataFrame(
            [(2, "IGFQ0002", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    after = _listing(root)
    assert set(before) <= set(after)
    assert all(before[p] == after[p] for p in before)
    assert len(after) > len(before)
    assert store.table("project").count() == 2


def test_crashed_table_swap_is_detected_and_recovered(store, spark):
    """Crash states of the table-level swap (round-6: _swap went
    through swap_directory, sidecar travels inside the temp dir):

    * live ABSENT + {table}__precompact present (crash between the two
      renames) -> reads REFUSE (previously: silent empty frame), and
      cleanup restores the original with its sidecar intact;
    * stale {table}__tmp next to an intact live table -> swept."""
    import os
    import shutil

    import pytest

    from data_management_python_spark.sources.sinks import (
        cleanup_compaction_leftovers,
    )

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(10)],
            schema,
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    path = store._path("project")
    # crash between renames: the only copy is the aside
    shutil.move(path, path + "__precompact")
    with pytest.raises(RuntimeError, match="cleanup_compaction_leftovers"):
        store.table("project")
    handled = cleanup_compaction_leftovers(spark, store.root)
    assert any(h.startswith("restored:") for h in handled)
    s2 = TableStore(spark, store.root)  # fresh: no cached spec
    assert s2.partitioning_of("project") == (["project_id"], 2)
    assert s2.table("project").count() == 10

    # stale __tmp with live intact: swept, live untouched
    os.makedirs(path + "__tmp/kb=0", exist_ok=True)
    before = _listing(path)
    cleanup_compaction_leftovers(spark, store.root)
    assert not os.path.exists(path + "__tmp")
    assert _listing(path) == before


def test_crashed_partition_merge_leftovers_swept(store, spark):
    """A crash in _merge_partitioned before/during the final temp-tree
    removal leaves a sibling {table}__merging (possibly holding a
    __deleted_kb= dir renamed aside by an all-rows-deleted bucket).
    Reads stay correct (live tree per-bucket consistent) and cleanup
    sweeps the leftover."""
    import os

    from data_management_python_spark.sources.sinks import (
        cleanup_compaction_leftovers,
    )

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(10)],
            schema,
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    path = store._path("project")
    os.makedirs(path + "__merging/kb=1", exist_ok=True)
    os.makedirs(path + "__merging/__deleted_kb=0", exist_ok=True)
    assert store.table("project").count() == 10  # reads unaffected
    handled = cleanup_compaction_leftovers(spark, store.root)
    assert any(h.endswith("__merging") for h in handled)
    assert not os.path.exists(path + "__merging")
    assert store.table("project").count() == 10


def test_all_rows_deleted_bucket_never_half_deleted(store, spark):
    """Deleting every row of a bucket renames the live dir into the
    merge temp tree before anything is removed — at no point can a
    crash leave a live bucket dir holding a partial subset of the old
    rows."""
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    rows = [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
            for i in range(40)]
    store.store_records("project", spark.createDataFrame(rows, schema))
    store.enable_partitioning("project", ["project_id"], n_buckets=4)
    # delete EVERY row of one bucket
    victims = (
        store._read_raw("project")
        .filter(F.col("kb") == 0)
        .select("project_id")
    )
    n_victims = victims.count()
    assert n_victims > 0
    store.delete_where("project", victims, on=["project_id"])
    import os

    assert not os.path.exists(store._path("project") + "/kb=0")
    assert not os.path.exists(store._path("project") + "__merging")
    assert store.table("project").count() == 40 - n_victims


def test_torn_append_detected_and_recovered(store, spark):
    """A crash during an append's job commit leaves Spark's _temporary
    staging inside the table dir (and possibly a subset of the new
    task files live — a torn append). Reads must refuse with the
    recovery path; cleanup aborts the staging and reads resume."""
    import os

    import pytest

    from data_management_python_spark.sources.sinks import (
        cleanup_compaction_leftovers,
    )

    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    path = store._path("project")
    os.makedirs(os.path.join(path, "_temporary", "0"), exist_ok=True)
    with pytest.raises(RuntimeError, match="cleanup_compaction_leftovers"):
        store.table("project")
    handled = cleanup_compaction_leftovers(spark, store.root)
    assert any(h.endswith("_temporary") for h in handled)
    assert store.table("project").count() == 1


def test_suggest_bucket_count_three_volumes():
    """Volume-derived bucket sizing (round-7): power-of-two counts
    targeting ~target bytes/bucket, unit-checked at three synthetic
    volumes spanning test-size to the 100-TB design point."""
    from data_management_python_spark.store import (
        DEFAULT_TARGET_BUCKET_BYTES,
        suggest_bucket_count,
    )

    gb = 1024**3
    # 1 GB at the 256 MB default target -> 4 buckets
    assert suggest_bucket_count(1 * gb) == 4
    # 1 TB -> 4096 buckets (power of two >= 1024*4)
    assert suggest_bucket_count(1024 * gb) == 4096
    # 100 TB -> 524288 ("thousands, not 64") and under the cap
    assert suggest_bucket_count(100 * 1024 * gb) == 524288
    assert suggest_bucket_count(100 * 1024 * gb) <= 1 << 20
    # floors and caps hold
    assert suggest_bucket_count(0, min_buckets=64) == 64
    assert suggest_bucket_count(10**18, max_buckets=1 << 20) == 1 << 20
    # power-of-two invariant across magnitudes
    for b in [1, gb, 37 * gb, 999 * gb]:
        n = suggest_bucket_count(b)
        assert n & (n - 1) == 0
    assert DEFAULT_TARGET_BUCKET_BYTES == 256 * 1024 * 1024


def test_attr_auto_bucket_growth_and_rebucket(spark, tmp_path):
    """An auto-sized attribute table GROWS its bucket count when it
    outgrows the per-bucket target: with a tiny synthetic target the
    second store triggers maybe_rebucket, the sidecar doubles (at
    least), and every logical row survives the rewrite."""
    from data_management_python_spark.store import TableStore

    store = TableStore(
        spark, str(tmp_path / "cat"), target_bucket_bytes=64
    )
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 61)],
            schema,
        ),
    )
    wide = spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", str(i * 2), f"batch{i % 3}")
         for i in range(1, 61)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    store.store_with_attributes("project", wide, key_column="project_id")
    _, n0 = store.partitioning_of("project_attribute")
    assert n0 >= TableStore.MIN_AUTO_BUCKETS
    # the first store already exceeds 64 bytes/bucket -> growth fired
    # on this or will on the next; force a second store and check
    wide2 = wide.selectExpr(
        "project_id", "project_igf_id",
        "concat(expected_read, 'x') AS expected_read", "batch"
    )
    store.store_with_attributes("project", wide2, key_column="project_id")
    _, n1 = store.partitioning_of("project_attribute")
    assert n1 > TableStore.MIN_AUTO_BUCKETS
    assert n1 & (n1 - 1) == 0
    # a NEW TableStore over the same root sees the grown layout
    fresh = TableStore(spark, str(tmp_path / "cat"))
    assert fresh.partitioning_of("project_attribute")[1] == n1
    # logical rows intact: 60 parents x (expected_read x2 variants +
    # batch deduped once) = 60 * 3
    got = store.table("project_attribute")
    assert got.count() == 180
    assert "kb" not in got.columns
    # pinned-count stores never auto-grow
    pinned = TableStore(
        spark, str(tmp_path / "cat2"), attr_n_buckets=8,
        target_bucket_bytes=64,
    )
    pinned.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    pinned.store_with_attributes(
        "project",
        wide.limit(10),
        key_column="project_id",
    )
    assert pinned.partitioning_of("project_attribute")[1] == 8


def test_rebucket_guards(spark, tmp_path):
    """rebucket refuses unpartitioned tables and no-ops on the same
    count; maybe_rebucket is a metadata no-op under the default target
    for small tables."""
    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"))
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(8)],
            schema,
        ),
    )
    with pytest.raises(ValueError, match="not partitioned"):
        store.rebucket("project", 8)
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    assert store.maybe_rebucket("project") is None  # tiny table fits
    store.rebucket("project", 2)  # same count: no-op
    assert store.partitioning_of("project")[1] == 2
    store.rebucket("project", 8)
    assert store.partitioning_of("project")[1] == 8
    assert store.table("project").count() == 8


def test_fetch_by_and_attributes_of_bucket_pruned(spark, tmp_path):
    """Read-side twin of the partition-scoped MERGE (round-7): a keyed
    fetch against a bucketed table carries a kb= partition filter in
    the physical plan (single-parent read touches one bucket), and the
    pruned results match the unpruned ones."""
    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"))
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 41)],
            schema,
        ),
    )
    wide = spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", str(i * 2), f"batch{i % 3}")
         for i in range(1, 41)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    store.store_with_attributes("project", wide, key_column="project_id")

    got = store.fetch_by("project_attribute", project_id=17)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "kb" in plan, plan
    rows = {(r.attribute_name, r.attribute_value) for r in got.collect()}
    assert rows == {("expected_read", "34"), ("batch", "batch2")}
    # IN-list fetch prunes too and matches the full-scan answer
    got_in = store.fetch_by("project_attribute", project_id=[3, 17])
    assert got_in.count() == 4

    ids = spark.createDataFrame([(17,), (3,)], "project_id long")
    wide_read = store.attributes_of("project", ids)
    plan2 = wide_read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan2 and "kb" in plan2, plan2
    by_id = {r.project_id: r for r in wide_read.collect()}
    assert by_id[17].expected_read == "34"
    assert by_id[3].batch == "batch0"
    # opting out still answers identically
    unpruned = store.attributes_of("project", ids, prune_buckets=False)
    assert {tuple(r) for r in unpruned.collect()} == {
        tuple(r) for r in wide_read.collect()
    }


def test_fetch_by_null_key_skips_pruning_and_auto_enable(spark, tmp_path):
    """A NULL bucket-key filter can't hash to a bucket — fetch_by must
    fall back to the (still correct) unpruned scan instead of crashing
    on schema inference; enable_partitioning with n_buckets=None sizes
    from on-disk bytes (floor for small tables)."""
    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"))
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 9)],
            schema,
        ),
    )
    store.enable_partitioning("project", ["project_id"])  # auto-sized
    assert store.partitioning_of("project")[1] == TableStore.MIN_AUTO_BUCKETS
    assert store.fetch_by("project", project_id=None).count() == 0
    assert store.fetch_by("project", project_id=[3, None]).count() == 1
    assert store.fetch_by("project", project_id=3).count() == 1


def _mk_bucketed_project(spark, tmp_path, n=40, n_buckets=4):
    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"))
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, n + 1)],
            schema,
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets)
    return store


def test_incremental_rebucket_split(spark, tmp_path):
    """Round-7 incremental rebucket: growing a bucketed table to a
    multiple of its count splits bucket by bucket (each row of old
    bucket b lands in {b + k*old} under pmod), preserving every row,
    updating the sidecar, and leaving pruned reads correct; non-
    multiple targets fall back to the one-shot rewrite; incremental
    to a non-multiple refuses."""
    import os

    from data_management_python_spark.store import TableStore

    store = _mk_bucketed_project(spark, tmp_path)
    before = {
        tuple(r) for r in store.table("project").collect()
    }
    store.rebucket("project", 16)  # multiple: auto-split path
    assert store.partitioning_of("project")[1] == 16
    assert {tuple(r) for r in store.table("project").collect()} == before
    assert store._split_state("project") is None
    # fresh store over the root sees the flipped layout
    fresh = TableStore(spark, str(tmp_path / "cat"))
    assert fresh.partitioning_of("project")[1] == 16
    # bucket dirs are all within the new id space and pruned reads work
    root = store._path("project")
    ids = sorted(
        int(d.split("=")[1]) for d in os.listdir(root) if d.startswith("kb=")
    )
    assert ids and all(0 <= b < 16 for b in ids)
    got = store.fetch_by("project", project_id=17)
    assert got.count() == 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    with pytest.raises(ValueError, match="multiple"):
        store.rebucket("project", 24, incremental=True)
    store.rebucket("project", 12)  # non-multiple: full rewrite path
    assert store.partitioning_of("project")[1] == 12
    assert {tuple(r) for r in store.table("project").collect()} == before


def test_incremental_rebucket_crash_windows(spark, tmp_path):
    """Every split crash window recovers without losing or duplicating
    a row: (w) temp written but bucket not retracted, (a/b) bucket
    retracted with children partially moved in, (c+) bucket fully
    split but unmarked (idempotent re-split), plus mid-split guards:
    reads refuse on the stranded temp, mutations refuse until the
    split completes, and pruned reads over the CONSISTENT mixed state
    stay correct via dual-granularity expansion."""
    import os
    import shutil

    from data_management_python_spark.store import TableStore

    store = _mk_bucketed_project(spark, tmp_path)
    before = {tuple(r) for r in store.table("project").collect()}
    root = store._path("project")
    tmp = root + "__splitting"

    # drive the split but "crash" after bucket 0 completes by calling
    # the internals the way a killed process would leave them
    keys, old, new = ["project_id"], 4, 8
    store._write_sidecar_atomic(
        "project",
        {"keys": keys, "n_buckets": old, "splitting_to": new,
         "split_done": []},
    )
    store._split_one_bucket("project", keys, old, new, 0)
    store._write_sidecar_atomic(
        "project",
        {"keys": keys, "n_buckets": old, "splitting_to": new,
         "split_done": [0]},
    )
    # CONSISTENT mixed state: no temp dir -> reads allowed and exact,
    # pruned reads expand to both granularities
    assert {tuple(r) for r in store.table("project").collect()} == before
    for pid in (1, 2, 3, 17):
        assert store.fetch_by("project", project_id=pid).count() == 1
    # mutations refuse mid-split
    with pytest.raises(RuntimeError, match="resume_rebucket"):
        store.store_records(
            "project",
            spark.createDataFrame(
                [(99, "IGFQ0099", None, None, None, "ACTIVE", "FASTQ")],
                store.table("project").schema,
            ),
        )
    with pytest.raises(RuntimeError, match="resume_rebucket"):
        store.upsert(
            "project",
            spark.createDataFrame([(1, "X")], "project_id long, project_igf_id string"),
            on=["project_id"],
            update_columns=["project_igf_id"],
        )

    # window (w): temp written for bucket 1, live bucket NOT retracted
    live1 = os.path.join(root, "kb=1")
    (
        spark.read.parquet(live1)
        .withColumn("kb", store._bucket_expr(keys, new))
        .write.mode("overwrite").partitionBy("kb").parquet(tmp)
    )
    with pytest.raises(RuntimeError, match="resume_rebucket"):
        store.table("project")
    store.resume_rebucket("project")
    assert store.partitioning_of("project")[1] == new
    assert {tuple(r) for r in store.table("project").collect()} == before

    # window (a/b): retract a bucket and move ONE child in, then crash
    store2 = _mk_bucketed_project(spark, tmp_path / "w2")
    before2 = {tuple(r) for r in store2.table("project").collect()}
    root2 = store2._path("project")
    tmp2 = root2 + "__splitting"
    store2._write_sidecar_atomic(
        "project",
        {"keys": keys, "n_buckets": old, "splitting_to": new,
         "split_done": []},
    )
    live2 = os.path.join(root2, "kb=2")
    (
        spark.read.parquet(live2)
        .withColumn("kb", store2._bucket_expr(keys, new))
        .write.mode("overwrite").partitionBy("kb").parquet(tmp2)
    )
    os.replace(live2, os.path.join(tmp2, "__old_kb=2"))
    moved = os.path.join(tmp2, "kb=6")
    if os.path.exists(moved):  # partial child move
        os.replace(moved, os.path.join(root2, "kb=6"))
    with pytest.raises(RuntimeError, match="resume_rebucket"):
        store2.table("project")
    store2.resume_rebucket("project")
    assert store2.partitioning_of("project")[1] == new
    assert {tuple(r) for r in store2.table("project").collect()} == before2

    # window (c+): bucket split fully but not marked done -> re-split
    # must be idempotent (rows re-hash to their own bucket)
    store3 = _mk_bucketed_project(spark, tmp_path / "w3")
    before3 = {tuple(r) for r in store3.table("project").collect()}
    store3._write_sidecar_atomic(
        "project",
        {"keys": keys, "n_buckets": old, "splitting_to": new,
         "split_done": []},
    )
    store3._split_one_bucket("project", keys, old, new, 3)
    # crash before marking done; resume redoes bucket 3 harmlessly
    store3.resume_rebucket("project")
    assert store3.partitioning_of("project")[1] == new
    assert {tuple(r) for r in store3.table("project").collect()} == before3
    # after completion the store mutates normally again
    store3.store_records(
        "project",
        spark.createDataFrame(
            [(99, "IGFQ0099", None, None, None, "ACTIVE", "FASTQ")],
            store3.table("project").schema,
        ),
    )
    assert store3.table("project").count() == len(before3) + 1


def test_auto_growth_uses_split_path(spark, tmp_path):
    """maybe_rebucket's doubling growth goes through the incremental
    split (power-of-two counts are always multiples), so auto-grown
    attribute tables never pay a monolithic rewrite."""
    from data_management_python_spark.store import TableStore

    store = TableStore(
        spark, str(tmp_path / "cat"), target_bucket_bytes=64
    )
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 31)],
            schema,
        ),
    )
    wide = spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", str(i * 2), f"batch{i % 3}")
         for i in range(1, 31)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    store.store_with_attributes("project", wide, key_column="project_id")
    store.store_with_attributes(
        "project",
        wide.selectExpr("project_id", "project_igf_id",
                        "concat(expected_read, 'y') AS expected_read",
                        "batch"),
        key_column="project_id",
    )
    _, n1 = store.partitioning_of("project_attribute")
    assert n1 > TableStore.MIN_AUTO_BUCKETS
    assert n1 % TableStore.MIN_AUTO_BUCKETS == 0  # split-path growth
    assert store.table("project_attribute").count() == 90
    assert store._split_state("project_attribute") is None


def test_store_compact_coalesces_hot_buckets(spark, tmp_path):
    """compact(): after repeated appends each touched bucket holds one
    file per batch; compaction coalesces flagged buckets to target
    size in one bounded job each, preserves every row, and leaves
    unflagged buckets' files byte-identical."""
    import os

    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"))
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    for batch in range(4):
        store.store_records(
            "project",
            spark.createDataFrame(
                [(batch * 10 + i, f"IGFQ{batch}{i}", None, None, None,
                  "ACTIVE", "FASTQ") for i in range(6)],
                schema,
            ),
        )
    root = store._path("project")

    def files_of(bucket):
        d = os.path.join(root, f"kb={bucket}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        ) if os.path.isdir(d) else []

    before = {b: files_of(b) for b in (0, 1)}
    assert any(len(v) >= 2 for v in before.values())  # appends stacked
    rows_before = {tuple(r) for r in store.table("project").collect()}

    done = store.compact("project", target_file_bytes=64 * 1024 * 1024)
    assert done  # at least one bucket flagged (>=2 tiny files)
    for b in (0, 1):
        if any(f"kb={b}" in d for d in done):
            assert len(files_of(b)) == 1  # coalesced
        else:
            assert files_of(b) == before[b]  # untouched byte set
    assert {tuple(r) for r in store.table("project").collect()} == rows_before
    # guards: unbucketed tables and mid-split tables refuse
    store2 = TableStore(spark, str(tmp_path / "flat"))
    store2.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    with pytest.raises(ValueError, match="not bucketed"):
        store2.compact("project")


def test_split_superseded_marker_and_cross_instance_freshness(spark, tmp_path):
    """Round-7 review fixes: (1) a crash between the split's marker
    supersede and temp removal leaves only a __superseded copy —
    recovery must DROP it (children are already live), never restore
    it over complete children; (2) layout changes are visible to a
    SECOND long-lived TableStore instance immediately (no stale cached
    count pruning reads to emptied buckets)."""
    import os
    import shutil

    from data_management_python_spark.store import TableStore

    store_a = _mk_bucketed_project(spark, tmp_path)
    store_b = TableStore(spark, str(tmp_path / "cat"))  # second handle
    assert store_b.partitioning_of("project")[1] == 4   # reads layout
    before = {tuple(r) for r in store_a.table("project").collect()}

    store_a.rebucket("project", 16)
    # instance B sees the new layout without any refresh call, and a
    # keyed fetch through B finds rows that now live in split buckets
    assert store_b.partitioning_of("project")[1] == 16
    for pid in (1, 7, 23, 40):
        assert store_b.fetch_by("project", project_id=pid).count() == 1
    assert {tuple(r) for r in store_b.table("project").collect()} == before

    # simulate a crash between the supersede rename and rmtree: temp
    # holds ONLY a __superseded copy (possibly partial) while the
    # children are complete in the live tree
    root = store_a._path("project")
    tmp = root + "__splitting"
    os.makedirs(tmp, exist_ok=True)
    some_bucket = next(
        d for d in os.listdir(root) if d.startswith("kb=")
    )
    shutil.copytree(
        os.path.join(root, some_bucket),
        os.path.join(tmp, f"__superseded_{some_bucket}"),
    )
    with pytest.raises(RuntimeError, match="resume_rebucket"):
        store_a.table("project")
    store_a.resume_rebucket("project")
    assert not os.path.exists(tmp)
    assert {tuple(r) for r in store_a.table("project").collect()} == before


def test_eav_null_key_rows_do_not_duplicate(store, spark):
    """Round-7 review fix: the anti-join dedup must treat NULLs as
    equal (like the uniq constraint and SELECT DISTINCT) — a NULL-id
    attribute row stored twice keeps exactly one copy instead of
    re-appending forever."""
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", None, None, None, "ACTIVE", "FASTQ")], schema
        ),
    )
    wide = spark.createDataFrame(
        [(1, "IGFQ0001", "96", "batchX"),
         (None, "IGFQ_NULL", "77", None)],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )
    for _ in range(3):  # idempotent under re-store
        store.store_with_attributes("project", wide, key_column="project_id")
    attrs = store.table("project_attribute")
    nulls = attrs.filter("project_id IS NULL").collect()
    # the NULL parent keeps ONE row per (name, value): expected_read=77
    # (batch=None is dropped by melt's null-value filter)
    assert len(nulls) == 1
    assert attrs.filter("project_id = 1").count() == 2


def test_fetch_by_empty_in_list_returns_empty(store, spark):
    """Round-7 review fix: an empty IN-list on a bucketed key returns
    an empty frame (the pre-pruning behavior) instead of crashing on
    empty-dataset schema inference."""
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(4)],
            schema,
        ),
    )
    store.enable_partitioning("project", ["project_id"], n_buckets=2)
    assert store.fetch_by("project", project_id=[]).count() == 0
    assert store.fetch_by("project", project_id=[2]).count() == 1


def test_resplit_crash_cannot_destroy_prior_children(spark, tmp_path):
    """Second-review finding: a bucket fully split but UNMARKED, then
    re-entered after a crash, must be SKIPPED (its live children came
    from the completed attempt and are not reconstructible from a new
    retraction).  Simulates the double-crash sequence that previously
    destroyed the sibling child's rows."""
    import os

    store = _mk_bucketed_project(spark, tmp_path)
    before = {tuple(r) for r in store.table("project").collect()}
    keys, old, new = ["project_id"], 4, 8
    root = store._path("project")

    # bucket b: fully split but not marked done (crash before the mark)
    b = next(
        int(d.split("=")[1]) for d in sorted(os.listdir(root))
        if d.startswith("kb=")
    )
    store._write_sidecar_atomic(
        "project",
        {"keys": keys, "n_buckets": old, "splitting_to": new,
         "split_done": []},
    )
    store._split_one_bucket("project", keys, old, new, b)
    # resume: must NOT re-split b (children exist); all rows survive
    store.resume_rebucket("project")
    assert store.partitioning_of("project")[1] == new
    assert {tuple(r) for r in store.table("project").collect()} == before


def test_insert_if_absent_null_key_idempotent(spark):
    """Second-review finding: insert_if_absent shares the NULL-safe
    anti-join — a NULL-keyed candidate matches its stored twin instead
    of re-inserting on every seeding run."""
    from data_management_python_spark.operators.upsert import (
        insert_if_absent,
    )

    target = spark.createDataFrame([(None, "seeded")], "id long, v string")
    cand = spark.createDataFrame(
        [(None, "dup"), (2, "new")], "id long, v string"
    )
    once = insert_if_absent(target, cand, ["id"])
    twice = insert_if_absent(once, cand, ["id"])
    assert once.count() == 2 and twice.count() == 2
    assert {r.v for r in once.filter("id IS NULL").collect()} == {"seeded"}


def test_store_with_attributes_key_type_mismatch_no_dups(spark, tmp_path):
    """Round-8 ADVICE (medium): incoming attribute rows whose key
    column's PHYSICAL type differs from the attribute schema (int vs
    long) must still hash into the same buckets as the on-disk rows —
    xxhash64 is type-sensitive, so without the schema cast the
    anti-join's pruned read misses the on-disk twins and re-appends
    them, violating uniq(parent, name, value)."""
    from data_management_python_spark.store import TableStore

    store = TableStore(spark, str(tmp_path / "cat"), attr_n_buckets=8)
    schema = (
        "project_id long, project_igf_id string, project_name string, "
        "start_timestamp timestamp, description string, status string, "
        "deliverable string"
    )
    store.store_records(
        "project",
        spark.createDataFrame(
            [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
             for i in range(1, 9)],
            schema,
        ),
    )
    wide_long = spark.createDataFrame(
        [(i, str(i * 2)) for i in range(1, 9)],
        "project_id long, expected_read string",
    )
    store.store_with_attributes("project", wide_long, key_column="project_id")
    assert store.table("project_attribute").count() == 8
    # same logical rows, key physically INT: must dedup, not duplicate
    wide_int = wide_long.withColumn(
        "project_id", F.col("project_id").cast("int")
    )
    store.store_with_attributes("project", wide_int, key_column="project_id")
    got = store.table("project_attribute")
    assert got.count() == 8
    # and genuinely-new rows through the int-typed path still land
    extra = spark.createDataFrame(
        [(1, "late")], "project_id int, batch string"
    )
    store.store_with_attributes("project", extra, key_column="project_id")
    assert store.table("project_attribute").count() == 9


def test_overwrite_replaces_contents(store, spark):
    """overwrite: the table's content becomes exactly the new frame —
    on flat AND bucketed layouts — with constraint probes cost-gated
    like the merge path (round-10; motivated by the sketch monitors,
    whose merged register frame is the complete post-state)."""
    from pyspark.sql import functions as F

    store.store_records(
        "project",
        spark.createDataFrame(
            [(1, "IGFQ0001", "ACTIVE"), (2, "IGFQ0002", "ACTIVE")],
            "project_id long, project_igf_id string, status string",
        ),
    )
    store.overwrite(
        "project",
        spark.createDataFrame(
            [(5, "IGFQ0005", "FINISHED")],
            "project_id long, project_igf_id string, status string",
        ),
    )
    rows = store.table("project").collect()
    assert [(r.project_id, r.status) for r in rows] == [(5, "FINISHED")]
    # enum domain still enforced on the replace
    import pytest

    with pytest.raises(ValueError, match="enum violation"):
        store.overwrite(
            "project",
            spark.createDataFrame(
                [(6, "IGFQ0006", "NOT_A_STATUS")],
                "project_id long, project_igf_id string, status string",
            ),
        )
    # bucketed layout preserved through the replace
    store.enable_partitioning("sample", ["sample_id"], 4)
    store.store_records(
        "sample",
        spark.createDataFrame(
            [(i, f"IGF{i}", 5, "ACTIVE") for i in range(1, 9)],
            "sample_id long, sample_igf_id string, project_id long, "
            "status string",
        ),
    )
    store.overwrite(
        "sample",
        spark.createDataFrame(
            [(i, f"IGF{i}", 5, "FAILED") for i in range(1, 4)],
            "sample_id long, sample_igf_id string, project_id long, "
            "status string",
        ),
    )
    assert store.partitioning_of("sample") == (["sample_id"], 4)
    assert store.table("sample").count() == 3
    assert store.fetch_by("sample", sample_id=2).first().status == "FAILED"
    # joins an open transaction: rollback restores the pre-state
    try:
        with store.transaction():
            store.overwrite(
                "sample",
                spark.createDataFrame(
                    [(99, "IGF99", 5, "ACTIVE")],
                    "sample_id long, sample_igf_id string, "
                    "project_id long, status string",
                ),
            )
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    assert store.table("sample").count() == 3
    assert store.table("sample").filter(F.col("sample_id") == 99).isEmpty()
