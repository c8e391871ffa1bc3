"""Transactional commit log + concurrent-writer lock for TableStore.

Round-8 substrate: the reference gets multi-table atomicity and writer
serialization from one ORM session transaction against MySQL
(igf_data/igfdb/dbconnect.py:122-141; implicit InnoDB serialization in
baseadaptor.py:269-303).  These tests pin the lake-side equivalents:

- a two-table ``store_with_attributes`` commits or rolls back as ONE
  unit — crash injection at every internal boundary, then recovery,
  yields exactly the pre-transaction state (old-or-new, never mixed);
- readers of a mid-transaction table REFUSE instead of seeing half;
- a committed-but-uncleaned crash rolls FORWARD (data already live);
- two concurrent mutators serialize into one order via the pending
  journal CAS; the loser waits, or raises ``ConcurrentWriterError``
  on timeout; a DEAD writer's lock is rolled back and taken over.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time

import pytest
from pyspark.sql import functions as F

from data_management_python_spark.store import (
    ConcurrentWriterError,
    TableStore,
    _local_batch,
)

PROJECT_SCHEMA = (
    "project_id long, project_igf_id string, project_name string, "
    "start_timestamp timestamp, description string, status string, "
    "deliverable string"
)


def _projects(spark, ids):
    return spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", None, None, None, "ACTIVE", "FASTQ")
         for i in ids],
        PROJECT_SCHEMA,
    )


def _wide(spark, ids, suffix=""):
    return spark.createDataFrame(
        [(i, f"IGFQ{i:04d}", f"{i * 2}{suffix}", f"batch{i % 3}")
         for i in ids],
        "project_id long, project_igf_id string, expected_read string, "
        "batch string",
    )


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _snapshot(root: str) -> dict[str, int]:
    """Relative-path -> size map of every data file under the store
    root (journal dir excluded) — byte-level old-state identity."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel.split(os.sep)[0] == "_txn":
            continue
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _abandon_as_dead(store: TableStore) -> None:
    """Turn the store's OPEN transaction into a crashed one: forget the
    in-memory txn (no rollback runs — exactly what process death does)
    and re-stamp the journal with a reaped pid so recovery is allowed
    to roll it back."""
    pend = store._read_journal("pending")
    assert pend is not None
    pend["pid"] = _dead_pid()
    with open(store._txn_path("pending"), "w") as f:
        json.dump(pend, f)
    store._txn = None


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "cat")


def test_two_table_commit_and_cleanup(spark, root):
    """The happy path: store_with_attributes writes main + attribute
    tables atomically; after commit no journal files or txn siblings
    remain and both tables read back complete."""
    store = TableStore(spark, root, attr_n_buckets=8)
    store.store_records("project", _projects(spark, range(1, 5)))
    store.store_with_attributes(
        "project", _wide(spark, range(1, 5)), key_column="project_id"
    )
    assert store.table("project").count() == 8  # 4 + 4 melted mains
    assert store.table("project_attribute").count() == 8
    assert not [d for d in os.listdir(root) if "__txn" in d]
    assert not os.path.exists(os.path.join(root, "_txn", "pending.json"))
    assert not os.path.exists(os.path.join(root, "_txn", "committed.json"))


def test_exception_inside_transaction_rolls_back(spark, root):
    """An exception anywhere in an explicit transaction undoes every
    table it touched — including appends already moved live."""
    store = TableStore(spark, root, attr_n_buckets=8)
    store.store_records("project", _projects(spark, [1]))
    before = _snapshot(root)
    with pytest.raises(RuntimeError, match="boom"):
        with store.transaction():
            store.store_records("project", _projects(spark, [2]))
            store.store_records(
                "sample",
                spark.createDataFrame(
                    [(10, "IGF0010", 1, "ACTIVE")],
                    "sample_id long, sample_igf_id string, "
                    "project_id long, status string",
                ),
            )
            raise RuntimeError("boom")
    assert _snapshot(root) == before
    assert store.table("project").count() == 1
    assert store.table("sample").count() == 0


@pytest.mark.parametrize(
    "boundary",
    [
        "after_main_append",
        "mid_attr_stage",
        "mid_attr_moves",
        "before_commit",
    ],
)
def test_crash_injection_every_boundary(spark, root, boundary, monkeypatch):
    """Process death at EVERY boundary of a two-table store: readers
    refuse until recovery, and recovery restores the byte-exact
    pre-transaction file tree — old-or-new, never mixed."""
    store = TableStore(spark, root, attr_n_buckets=8)
    store.store_records("project", _projects(spark, [1, 2]))
    store.store_with_attributes(
        "project", _wide(spark, [1, 2]), key_column="project_id"
    )
    before = _snapshot(root)
    pre_rows = {
        (r.project_id, r.attribute_name, r.attribute_value)
        for r in store.table("project_attribute").collect()
    }

    class _Crash(BaseException):
        pass

    orig_replace = os.replace

    if boundary == "after_main_append":
        calls = {"n": 0}
        real_store_records = TableStore.store_records

        def patched(self, name, data, validate=True):
            real_store_records(self, name, data, validate)
            calls["n"] += 1
            if calls["n"] == 1:  # right after the main-table append
                raise _Crash

        monkeypatch.setattr(TableStore, "store_records", patched)
    elif boundary == "mid_attr_stage":
        def patched_append(self, name, writer_df, partitioned):
            # journal + stage written, crash before ANY move
            t = self._txn
            stage_rel = f"{name}__txnstage-{t.token[:8]}-{t.seq}"
            t.seq += 1
            op = {"kind": "append", "table": name,
                  "stage": stage_rel, "files": []}
            self._journal_op(name, op)
            w = writer_df.write.mode("overwrite")
            if partitioned:
                w = w.partitionBy(self.BUCKET_COL)
            w.parquet(os.path.join(self.root, stage_rel))
            raise _Crash

        monkeypatch.setattr(TableStore, "_txn_append", patched_append)
    elif boundary == "mid_attr_moves":
        moved = {"n": 0}

        def patched_replace(src, dst):
            if "__txnstage-" in str(src) and str(dst).endswith(".parquet"):
                moved["n"] += 1
                if moved["n"] == 2:  # crash after ONE file moved live
                    raise _Crash
            return orig_replace(src, dst)

        monkeypatch.setattr(os, "replace", patched_replace)
    elif boundary == "before_commit":
        def patched_commit(self):
            raise _Crash

        monkeypatch.setattr(TableStore, "_commit", patched_commit)

    # drive the two-table store; the injected crash escapes the
    # rollback handler only for before_commit/_Crash-as-BaseException…
    # so call the txn internals the way a dying process leaves them:
    store2 = TableStore(spark, root, attr_n_buckets=8)
    store2._acquire_lock(explicit=True)
    try:
        store2._store_with_attributes_txn(
            "project", _wide(spark, [2, 3], suffix="x"),
            "project_id", None, False,
        )
        if boundary == "before_commit":
            raise _Crash  # all ops done, journal still pending
    except _Crash:
        pass
    _abandon_as_dead(store2)

    monkeypatch.undo()
    reader = TableStore(spark, root, attr_n_buckets=8)
    # round-8 snapshot isolation: an append-only in-flight txn no
    # longer fences readers — they see the exact pre-txn state
    if reader._read_journal("pending")["tables"]:
        seen = {
            (r.project_id, r.attribute_name, r.attribute_value)
            for r in reader.table("project_attribute").collect()
        }
        assert seen == pre_rows
    assert reader.recover_transactions() == "back"
    assert _snapshot(root) == before
    got = {
        (r.project_id, r.attribute_name, r.attribute_value)
        for r in reader.table("project_attribute").collect()
    }
    assert got == pre_rows
    # and the store is writable again after recovery
    reader.store_with_attributes(
        "project", _wide(spark, [9]), key_column="project_id"
    )
    assert reader.table("project_attribute").count() == len(pre_rows) + 2


def test_crash_before_first_attr_store_rolls_back_sidecar(spark, root):
    """Crash after the FIRST store's main append + attr-table layout
    creation (sidecar op): recovery removes the sidecar and the main
    rows — the attr table returns to never-written."""
    store = TableStore(spark, root, attr_n_buckets=8)
    before = _snapshot(root)
    store._acquire_lock(explicit=True)
    # main append + enable_partitioning(sidecar), then "die"
    table_cols_frame = _projects(spark, [1])
    store.store_records("project", table_cols_frame, validate=False)
    store._enable_partitioning_locked(
        "project_attribute", ["project_id"], 8
    )
    assert store.partitioning_of("project_attribute") == (
        ["project_id"], 8,
    )
    _abandon_as_dead(store)

    reader = TableStore(spark, root)
    assert reader.recover_transactions() == "back"
    assert _snapshot(root) == before
    assert reader.partitioning_of("project_attribute") is None
    assert reader.table("project").count() == 0


def test_committed_marker_rolls_forward(spark, root):
    """Crash AFTER the commit rename but before cleanup: the data is
    fully live (reads work immediately), and the next writer finishes
    the cleanup — txn siblings and the marker disappear."""
    store = TableStore(spark, root, attr_n_buckets=8)
    store._acquire_lock(explicit=True)
    store._store_with_attributes_txn(
        "project", _wide(spark, [1, 2]), "project_id", None, False
    )
    # commit point only: rename pending -> committed, then "die"
    os.replace(
        store._txn_path("pending"), store._txn_path("committed")
    )
    store._txn = None

    reader = TableStore(spark, root)
    assert reader.table("project").count() == 2
    assert reader.table("project_attribute").count() == 4
    # next mutation rolls forward (cleanup) before acquiring
    reader.store_records("project", _projects(spark, [5]))
    assert not os.path.exists(reader._txn_path("committed"))
    assert not [d for d in os.listdir(root) if "__txn" in d]


def test_swap_fallback_crash_rolls_back(spark, root):
    """The custom-layout fallback path goes through the journaled txn
    SWAP (pre-image kept until commit): a crash mid-swap restores the
    original table exactly."""
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, [1, 2]))
    store.store_with_attributes(
        "project", _wide(spark, [1, 2]), key_column="project_id"
    )
    # re-layout the attr table so bucket keys ⊄ dedup keys -> fallback
    eav_rows = store.table("project_attribute").collect()  # materialize
    eav = spark.createDataFrame(
        eav_rows, store.table("project_attribute").schema
    )
    store2 = TableStore(spark, root)
    # force an unbucketed table with a custom layout: rebuild flat
    import shutil

    shutil.rmtree(store._path("project_attribute"))
    store2.store_records("project_attribute", eav, validate=False)
    store2.enable_partitioning(
        "project_attribute", ["project_attribute_id"], 4
    )
    before = _snapshot(root)

    store3 = TableStore(spark, root)
    store3._acquire_lock(explicit=True)
    store3._store_with_attributes_txn(
        "project", _wide(spark, [1, 2], suffix="y"),
        "project_id", None, False,
    )  # full body ran: main append + attr swap — then "die" pre-commit
    _abandon_as_dead(store3)

    reader = TableStore(spark, root)
    with pytest.raises(RuntimeError, match="transaction"):
        reader.table("project_attribute").collect()
    assert reader.recover_transactions() == "back"
    assert _snapshot(root) == before


def test_reader_snapshot_isolation_mid_txn(spark, root):
    """Mid-transaction reads from another instance: an append-only
    open txn serves the last COMMITTED state (snapshot isolation, not
    fencing); the owner sees its own uncommitted writes; after commit
    everyone sees the new state.  A txn holding a SWAP still fences."""
    a = TableStore(spark, root, attr_n_buckets=8)
    a.store_records("project", _projects(spark, [1]))
    b = TableStore(spark, root)
    ctx = a.transaction()
    ctx.__enter__()
    a.store_records("project", _projects(spark, [2]))
    # b: snapshot view = committed state only; owner sees both rows
    assert {r.project_id for r in b.table("project").collect()} == {1}
    assert b.table("sample").count() == 0
    assert a.table("project").count() == 2
    ctx.__exit__(None, None, None)
    assert b.table("project").count() == 2
    # a swap-shaped op (upsert inside a txn) fences readers
    ctx = a.transaction()
    ctx.__enter__()
    a.store_records("project", _projects(spark, [3]))
    a.enable_partitioning("sample", ["sample_id"], 2)
    a.upsert(
        "sample",
        spark.createDataFrame(
            [(1, "IGF1", 1, "ACTIVE")],
            "sample_id long, sample_igf_id string, project_id long, "
            "status string",
        ),
        on=["sample_id"],
    )
    with pytest.raises(RuntimeError, match="rewritten by transaction"):
        b.table("sample").collect()
    # the append-only project table is STILL snapshot-readable
    assert {r.project_id for r in b.table("project").collect()} == {1, 2}
    ctx.__exit__(None, None, None)
    assert b.table("sample").count() == 1
    assert b.table("project").count() == 3


def test_concurrent_writers_serialize_to_one_order(spark, root):
    """Two threads (two instances) appending concurrently: the lock
    serializes them — both land, rows equal the union, and no journal
    remains."""
    a = TableStore(spark, root)
    b = TableStore(spark, root)
    a.store_records("project", _projects(spark, [1]))
    errs = []

    def run(st, ids):
        try:
            st.store_records("project", _projects(spark, ids))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=run, args=(a, range(10, 15)))
    t2 = threading.Thread(target=run, args=(b, range(20, 25)))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    got = {r.project_id for r in a.table("project").collect()}
    assert got == {1, *range(10, 15), *range(20, 25)}
    assert not os.path.exists(a._txn_path("pending"))


def test_live_writer_times_out_loser_raises(spark, root):
    """A second mutator against a LIVE held lock fails cleanly with
    ConcurrentWriterError after its timeout — it never rolls back live
    work."""
    a = TableStore(spark, root)
    b = TableStore(spark, root)
    b.lock_timeout = 0.3
    ctx = a.transaction()
    ctx.__enter__()
    try:
        with pytest.raises(ConcurrentWriterError, match="live"):
            b.store_records("project", _projects(spark, [1]))
        with pytest.raises(ConcurrentWriterError):
            b.recover_transactions()
    finally:
        ctx.__exit__(None, None, None)
    # lock released: b proceeds
    b.store_records("project", _projects(spark, [2]))
    assert a.table("project").count() == 1


def test_dead_writer_lock_taken_over(spark, root):
    """A pending lock whose pid is dead is recovered (rolled back) and
    taken over by the next writer without manual intervention."""
    store = TableStore(spark, root)
    os.makedirs(os.path.join(root, "_txn"), exist_ok=True)
    with open(store._txn_path("pending"), "w") as f:
        json.dump(
            {"token": "deadbeef", "pid": _dead_pid(), "ts": 0,
             "explicit": True, "tables": [], "ops": []},
            f,
        )
    store.store_records("project", _projects(spark, [1]))
    assert store.table("project").count() == 1


def test_maintenance_verbs_forbidden_inside_transaction(spark, root):
    """rebucket/compact are maintenance, not data mutations — inside an
    open transaction they refuse loudly instead of breaking the undo
    journal."""
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, [1]))
    store.enable_partitioning("project", ["project_id"], 4)
    with store.transaction():
        with pytest.raises(ValueError, match="transaction"):
            store.rebucket("project", 8)
        with pytest.raises(ValueError, match="transaction"):
            store.compact("project")


def test_upsert_and_delete_inside_transaction(spark, root):
    """Round-8: upsert/delete_where PARTICIPATE in transactions — the
    reference's status-update-plus-registration session shape.  A
    rollback restores every touched bucket byte-exactly; a commit
    applies the update together with the other tables' writes."""
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, range(1, 9)))
    store.enable_partitioning("project", ["project_id"], 4)
    before = _snapshot(root)

    upd = _projects(spark, [2, 3]).withColumn("status", F.lit("FINISHED"))
    # exception inside the txn: the upsert's bucket swaps roll back
    with pytest.raises(RuntimeError, match="boom"):
        with store.transaction():
            store.upsert("project", upd, on=["project_id"],
                         update_columns=["status"])
            store.delete_where(
                "project",
                _projects(spark, [7]).select("project_id"),
                on=["project_id"],
            )
            raise RuntimeError("boom")
    assert _snapshot(root) == before
    assert {r.status for r in store.table("project").collect()} == {"ACTIVE"}

    # committed: update + delete + append land as one unit
    with store.transaction():
        store.upsert("project", upd, on=["project_id"],
                     update_columns=["status"])
        store.delete_where(
            "project",
            _projects(spark, [7]).select("project_id"),
            on=["project_id"],
        )
        store.store_records("project", _projects(spark, [20]))
    got = {r.project_id: r.status for r in store.table("project").collect()}
    assert got[2] == got[3] == "FINISHED"
    assert 7 not in got and got[20] == "ACTIVE"
    assert store.partitioning_of("project") == (["project_id"], 4)
    assert not [d for d in os.listdir(root) if "__txn" in d]


def test_upsert_crash_mid_bucket_swap_rolls_back(spark, root):
    """Process death halfway through an in-txn upsert's per-bucket
    swap loop (some buckets retracted, some untouched): recovery
    restores the byte-exact pre-state."""
    _upsert_crash_mid_bucket_swap(spark, root, localized=False)


def test_upsert_crash_mid_bucket_swap_rolls_back_local_batch(spark, root):
    """The same crash after the batch was turned into a LocalRelation,
    as ``upsert`` does on entry with a driver-built frame."""
    _upsert_crash_mid_bucket_swap(spark, root, localized=True)


def _upsert_crash_mid_bucket_swap(spark, root, localized):
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, range(1, 9)))
    store.enable_partitioning("project", ["project_id"], 4)
    before = _snapshot(root)

    upd = _projects(spark, range(1, 9)).withColumn(
        "status", F.lit("FINISHED")
    )
    if localized:
        upd = _local_batch(upd)
    store._acquire_lock(explicit=True)
    # run the journaled merge but crash after TWO bucket renames
    orig_replace = os.replace
    calls = {"n": 0}

    class _Crash(BaseException):
        pass

    def patched(src, dst):
        if "__txnmrgpre-" in str(dst) or "__txnmrgtmp-" in str(src):
            calls["n"] += 1
            if calls["n"] == 3:
                raise _Crash
        return orig_replace(src, dst)

    os.replace = patched
    try:
        with pytest.raises(_Crash):
            store._upsert_locked(
                "project", upd, ["project_id"], ["status"]
            )
    finally:
        os.replace = orig_replace
    _abandon_as_dead(store)

    reader = TableStore(spark, root)
    with pytest.raises(RuntimeError, match="transaction"):
        reader.table("project").collect()
    assert reader.recover_transactions() == "back"
    assert _snapshot(root) == before
    assert {r.status for r in reader.table("project").collect()} == {
        "ACTIVE"
    }


def test_unparseable_stale_lock_taken_over(spark, root, monkeypatch):
    """A writer that died between the O_EXCL lock create and its first
    journal flush leaves an EMPTY pending file no pid check can judge:
    after the grace period the next writer drops it (nothing was
    journaled, so nothing moved) instead of blocking forever."""
    import time as _time

    store = TableStore(spark, root)
    os.makedirs(os.path.join(root, "_txn"), exist_ok=True)
    lock = store._txn_path("pending")
    with open(lock, "w") as f:
        f.write("")  # torn first flush
    old = _time.time() - 60
    os.utime(lock, (old, old))  # aged past the 5s grace
    store.lock_timeout = 10.0
    store.store_records("project", _projects(spark, [1]))
    assert store.table("project").count() == 1
    # a FRESH empty lock (a live writer mid-create) is awaited, not
    # stolen: with a short timeout the contender raises instead
    with open(lock, "w") as f:
        f.write("")
    b = TableStore(spark, root)
    b.lock_timeout = 0.3
    with pytest.raises(ConcurrentWriterError):
        b.store_records("project", _projects(spark, [2]))
    os.unlink(lock)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    ops=st.lists(
        st.sampled_from(["append_p", "append_s", "attr", "upsert"]),
        min_size=1,
        max_size=4,
    ),
    crash_after=st.integers(min_value=0, max_value=25),
    retain=st.booleans(),
    data=st.data(),
)
def test_txn_crash_recovery_property(spark, ops, crash_after, retain, data):
    """PROPERTY: for ANY sequence of transactional ops crashed at ANY
    rename boundary, recovery restores the byte-exact pre-transaction
    file tree.  Hypothesis drives random op sequences and a random
    crash point over os.replace calls (the primitive every commit-log
    step bottoms out in); op payloads vary by example.  With version
    HISTORY on (``retain``), the restored tree includes the manifest/
    seq state — a rolled-back transaction must never leave an
    addressable version — and every surviving manifest stays readable.
    """
    import tempfile
    import shutil as _sh

    root = tempfile.mkdtemp(prefix="txnprop_")
    try:
        store = TableStore(
            spark, root, attr_n_buckets=4, retain_history=retain
        )
        base = data.draw(st.integers(min_value=1, max_value=50))
        store.store_records("project", _projects(spark, [base, base + 1]))
        store.enable_partitioning("project", ["project_id"], 4)
        store.store_with_attributes(
            "project", _wide(spark, [base]), key_column="project_id"
        )
        before = _snapshot(root)

        def run_ops(st_):
            for i, op in enumerate(ops):
                if op == "append_p":
                    st_.store_records(
                        "project", _projects(spark, [100 + i])
                    )
                elif op == "append_s":
                    st_.store_records(
                        "sample",
                        spark.createDataFrame(
                            [(200 + i, f"IGF{i}", base, "ACTIVE")],
                            "sample_id long, sample_igf_id string, "
                            "project_id long, status string",
                        ),
                    )
                elif op == "attr":
                    st_._store_with_attributes_txn(
                        "project",
                        _wide(spark, [base + 1], suffix=f"v{i}"),
                        "project_id", None, False,
                    )
                elif op == "upsert":
                    st_._upsert_locked(
                        "project",
                        _projects(spark, [base]).withColumn(
                            "status", F.lit("FINISHED")
                        ),
                        ["project_id"],
                        ["status"],
                    )

        class _Crash(BaseException):
            pass

        orig_replace = os.replace
        count = {"n": 0}

        def counting(src, dst):
            # only renames under THIS store root count: Spark's own
            # shuffle/temp renames must not absorb the crash budget
            if str(src).startswith(root) or str(dst).startswith(root):
                count["n"] += 1
                if count["n"] > crash_after:
                    raise _Crash
            return orig_replace(src, dst)

        store._acquire_lock(explicit=True)
        os.replace = counting
        crashed = True
        try:
            run_ops(store)
            crashed = False
        except _Crash:
            pass
        finally:
            os.replace = orig_replace
        if not crashed:
            # no crash drawn: commit instead and check the ops LANDED
            store._commit()
            store._txn = None
            after = _snapshot(root)
            assert after != before or not ops
            assert not os.path.exists(store._txn_path("pending"))
        else:
            _abandon_as_dead(store)
            reader = TableStore(spark, root, attr_n_buckets=4)
            reader.recover_transactions()
            assert _snapshot(root) == before, (
                f"ops={ops} crash_after={crash_after}"
            )
            # and the store still works end to end after recovery
            reader.store_records("project", _projects(spark, [999]))
            assert reader.fetch_by(
                "project", project_id=999
            ).count() == 1
            if retain:
                # every surviving version stays readable, and the
                # newest one equals the live table
                for m in reader.list_versions("project"):
                    reader.read_version("project", m["seq"]).count()
                assert reader.read_version(
                    "project", reader.latest_version()
                ).count() == reader.table("project").count()
    finally:
        _sh.rmtree(root, ignore_errors=True)


def test_recovery_sweeps_orphan_txn_dirs(spark, root):
    """A stage dir from a crash inside a Spark write (op journaled
    with no files yet) is swept by recovery rather than leaking
    forever; the sweep happens while the dead lock still fences new
    writers."""
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, [1]))
    before = _snapshot(root)
    store._acquire_lock(explicit=True)
    t = store._txn
    # simulate: op journaled, stage dir created, crash before listing
    stage_rel = f"project__txnstage-{t.token[:8]}-0"
    store._journal_op(
        "project",
        {"kind": "append", "table": "project",
         "stage": stage_rel, "files": []},
    )
    os.makedirs(os.path.join(root, stage_rel))
    with open(os.path.join(root, stage_rel, "part-x.parquet"), "wb") as f:
        f.write(b"junk")
    # plus a fully ORPHANED dir (crash before its op was journaled)
    os.makedirs(os.path.join(root, "sample__txnstage-deadbeef-9"))
    _abandon_as_dead(store)

    reader = TableStore(spark, root)
    assert reader.recover_transactions() == "back"
    assert not [d for d in os.listdir(root) if "__txn" in d]
    assert _snapshot(root) == before


def test_store_with_attributes_nested_in_user_txn(spark, root):
    """store_with_attributes nested inside a caller's transaction must
    join it (one atomic commit across everything) — and must NOT fire
    the maybe_rebucket maintenance while the outer txn is open (it
    would raise mid-transaction).  Regression for a round-8
    self-review finding; the tiny target forces growth pressure."""
    store = TableStore(spark, root, target_bucket_bytes=64)
    store.store_records("project", _projects(spark, range(1, 13)))
    with store.transaction():
        store.store_with_attributes(
            "project", _wide(spark, range(1, 13)),
            key_column="project_id",
        )
        store.store_records("sample", spark.createDataFrame(
            [(1, "IGF1", 1, "ACTIVE")],
            "sample_id long, sample_igf_id string, project_id long, "
            "status string",
        ))
    assert store.table("project_attribute").count() == 24
    assert store.table("sample").count() == 1
    # growth deferred, not lost: the next STANDALONE store fires it
    n0 = store.partitioning_of("project_attribute")[1]
    store.store_with_attributes(
        "project",
        _wide(spark, range(1, 13), suffix="x"),
        key_column="project_id",
    )
    assert store.partitioning_of("project_attribute")[1] >= n0


def test_cross_host_lock_not_taken_over_by_pid_liveness(spark, tmp_path):
    """Round-9 (verdict item 4): pid liveness is only meaningful on
    the lock owner's own host — two writers on different hosts over a
    shared (NFS/HDFS) root must NOT both judge the other dead.  A
    pending journal stamped with a FOREIGN host name is never
    recovered by pid check; takeover needs the mtime LEASE to expire."""
    root = str(tmp_path / "cat")
    store = TableStore(spark, root)
    store.store_records("project", _projects(spark, [1]))
    # forge a foreign-host writer's live lock: dead pid ON THIS HOST,
    # but the host field says another machine — pid is unjudgeable
    store._acquire_lock(explicit=True)
    pend = store._read_journal("pending")
    pend["pid"] = _dead_pid()
    pend["host"] = "some-other-host"
    store.fs.write_text_atomic(
        store._txn_path("pending"), json.dumps(pend)
    )
    store._txn = None
    s2 = TableStore(spark, root)
    s2.lock_timeout = 0.6
    # acquire refuses: the foreign lock's lease has not expired
    with pytest.raises(ConcurrentWriterError):
        s2._acquire_lock(explicit=False)
    # recovery refuses too — never roll back a possibly-live writer
    with pytest.raises(ConcurrentWriterError, match="foreign host"):
        s2.recover_transactions()
    # expire the lease (backdate the journal mtime) -> takeover works
    old = time.time() - s2.cross_host_lease - 10
    os.utime(store._txn_path("pending"), (old, old))
    assert s2.recover_transactions() == "back"
    # and a plain verb now succeeds
    s2.store_records("project", _projects(spark, [2]))
    assert s2.table("project").count() == 2


def test_same_host_dead_writer_still_recovered_fast(spark, tmp_path):
    """The same-host path keeps its pid-liveness semantics: a dead
    local writer's lock is rolled back and taken over immediately,
    no lease wait."""
    root = str(tmp_path / "cat")
    store = TableStore(spark, root)
    store._acquire_lock(explicit=True)
    store.store_records("project", _projects(spark, [1]))
    pend = store._read_journal("pending")
    pend["pid"] = _dead_pid()  # host stays THIS host
    store.fs.write_text_atomic(
        store._txn_path("pending"), json.dumps(pend)
    )
    store._txn = None
    s2 = TableStore(spark, root)
    s2.store_records("project", _projects(spark, [5]))  # takes over inline
    assert {r.project_id for r in s2.table("project").collect()} == {5}


def test_lease_heartbeat_refreshes_lock_during_long_write(spark, tmp_path):
    """Round-10 ADVICE fix: the cross-host lease is judged by the
    pending journal's mtime, which previously only refreshed when an
    op was journaled — one long Spark write inside a txn could exceed
    the lease and get a LIVE writer usurped by a foreign host.  The
    heartbeat thread must re-touch the journal while the lock is held,
    and must be joined before release so a late beat can never
    resurrect a released lock."""
    root = str(tmp_path / "cat")
    store = TableStore(spark, root)
    store.cross_host_lease = 1.5  # heartbeat every 0.5s
    store._acquire_lock(explicit=True)
    try:
        time.sleep(2.0)  # longer than the lease, no ops journaled
        age = time.time() - store.fs.getmtime(store._txn_path("pending"))
        assert age < 1.2, "heartbeat did not refresh the lease mtime"
        # a foreign-host observer would NOT judge this writer dead
        pend = store._read_journal("pending")
        pend["host"] = "some-other-host"  # view it as s2 would
        s2 = TableStore(spark, root)
        s2.cross_host_lease = 1.5
        assert not s2._writer_dead(pend)
    finally:
        store._rollback()
        store._txn = None
    assert store._hb_thread is None  # joined, not leaked
    time.sleep(0.8)  # one more interval: no resurrection
    assert not store.fs.exists(store._txn_path("pending"))
    # normal verbs still work afterwards
    store.store_records("project", _projects(spark, [1]))
    assert store.table("project").count() == 1
