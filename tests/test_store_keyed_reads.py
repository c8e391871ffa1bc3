"""Keyed reads on a bucketed TableStore table.

A literal-keyed ``fetch_by``/``exists`` hashes its key on the driver
(the XxHash64 port in ``store.py``) and scans only the touched ``kb=``
dirs through ``_read_buckets``.  These tests pin:

- the port against Spark's own ``pmod(xxhash64(...), n)``;
- the fast path's answer against the slow path's,
  ``filter_by_columns(store.table(name), ...)``, including a mid-split
  table and literals whose Python type is not the column's;
- the read guards on the bucket-scoped read: another writer's open
  append txn is invisible, a swap txn fences, stranded siblings refuse;
- one Spark job per keyed read.
"""

from __future__ import annotations

import itertools
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_management_python_spark.operators.filters import filter_by_columns
from data_management_python_spark.store import TableStore, bucket_of_row

SAMPLE_SCHEMA = (
    "sample_id long, sample_igf_id string, project_id long, status string"
)
KEY_SETS = (
    ("s",), ("i",), ("l",), ("s", "i"), ("i", "l"), ("l", "s"), ("s", "i", "l"),
)
DTYPES = {"s": "string", "i": "int", "l": "bigint"}
N_BUCKETS = (1, 7, 8, 1024)
INT32, INT64 = 1 << 31, 1 << 63

#: strings whose UTF-8 length sits on either side of the 4-, 8- and
#: 32-byte steps of the hash, plus empty and multi-byte ones
_EDGE_STRINGS = [
    "", "abc", "abcd", "abcde", "abcdefg", "abcdefgh", "abcdefghi",
    "x" * 31, "x" * 32, "x" * 33, "y" * 63, "y" * 64, "y" * 65,
    "é", "€uro", "😀😀", "ÄÖÜäöüß" * 5,
]
#: fixed rows in every batch: extreme ints and NULL components
_EDGE_ROWS = [
    ("", -INT32, -INT64),
    ("é€😀", INT32 - 1, INT64 - 1),
    ("k", 0, 0),
    (None, -1, -1),
    ("n", None, None),
    (None, None, None),
]


def _samples(spark, ids, status="ACTIVE"):
    return spark.createDataFrame(
        [(i, f"IGFS{i:06d}", i % 3, status) for i in ids], SAMPLE_SCHEMA
    )


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(
                st.none(),
                st.text(max_size=40),
                st.sampled_from(_EDGE_STRINGS),
            ),
            st.one_of(st.none(), st.integers(-INT32, INT32 - 1)),
            st.one_of(st.none(), st.integers(-INT64, INT64 - 1)),
        ),
        max_size=30,
    )
)
@example(rows=[(s, len(s), len(s)) for s in _EDGE_STRINGS])
def test_driver_hash_matches_spark_xxhash64(spark, rows):
    """PROPERTY: ``bucket_of_row`` equals
    ``pmod(xxhash64(*cols), n).cast("int")`` for string/int/bigint
    keys, one- and multi-column, NULL components included, at every
    bucket count — each batch checked with one Spark job."""
    rows = rows + _EDGE_ROWS
    df = spark.createDataFrame(rows, "s string, i int, l bigint")
    exprs = [
        F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int").alias(f"b{j}_{n}")
        for j, cols in enumerate(KEY_SETS)
        for n in N_BUCKETS
    ]
    got = df.select("s", "i", "l", *exprs).collect()
    for r in got:
        for j, cols in enumerate(KEY_SETS):
            for n in N_BUCKETS:
                want = r[f"b{j}_{n}"]
                mine = bucket_of_row(
                    [r[c] for c in cols], [DTYPES[c] for c in cols], n
                )
                assert mine == want, (cols, n, tuple(r[c] for c in cols))


# -- fast path == slow path ---------------------------------------------------


def _same(store, name, **filters):
    """The keyed read's answer equals the full-table filter's."""
    fast = store.fetch_by(name, **filters)
    slow = filter_by_columns(store.table(name), **filters)
    assert fast.columns == slow.columns
    got = sorted(map(tuple, fast.collect()), key=repr)
    want = sorted(map(tuple, slow.collect()), key=repr)
    assert got == want, filters
    assert store.exists(name, **filters) == bool(want)
    return got


@pytest.fixture()
def bucketed(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_igf_id"], 8)
    store.store_records("sample", _samples(spark, range(1, 41)))
    store.store_records("sample", _samples(spark, [7], status="FAILED"))
    return store


def test_keyed_read_matches_full_filter(bucketed):
    assert len(_same(bucketed, "sample", sample_igf_id="IGFS000005")) == 1
    # a key stored twice, in two files of one bucket
    assert len(_same(bucketed, "sample", sample_igf_id="IGFS000007")) == 2
    # IN list across buckets, with one never-stored key
    keys = ["IGFS000001", "IGFS000007", "IGFS000023", "IGFS999999"]
    assert len(_same(bucketed, "sample", sample_igf_id=keys)) == 4
    assert _same(bucketed, "sample", sample_igf_id="IGFS999999") == []
    # a further non-key filter rides along
    assert len(
        _same(bucketed, "sample", sample_igf_id="IGFS000007", status="FAILED")
    ) == 1


def test_keyed_read_of_missing_bucket_dir(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_igf_id"], 8)
    store.store_records("sample", _samples(spark, [1]))
    live = {
        d for d in os.listdir(store._path("sample")) if d.startswith("kb=")
    }
    absent = next(
        k
        for k in (f"IGFS{i:06d}" for i in range(2, 200))
        if f"kb={bucket_of_row([k], ['string'], 8)}" not in live
    )
    assert _same(store, "sample", sample_igf_id=absent) == []
    assert len(_same(store, "sample", sample_igf_id=["IGFS000001", absent])) == 1


def test_keyed_read_mid_split(spark, tmp_path):
    """A table mid-split (``splitting_to`` in the sidecar, bucket 0
    already split into 0 and 4): rows of old bucket 0 live in the new
    children, the rest in their old dirs — every key still reads."""
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_id"], 4)
    store.store_records("sample", _samples(spark, range(1, 41)))
    spec = {"keys": ["sample_id"], "n_buckets": 4, "splitting_to": 8}
    store._write_sidecar_atomic("sample", {**spec, "split_done": []})
    store._split_one_bucket("sample", ["sample_id"], 4, 8, 0)
    store._write_sidecar_atomic("sample", {**spec, "split_done": [0]})
    for sid in range(1, 41):
        assert len(_same(store, "sample", sample_id=sid)) == 1
    assert len(_same(store, "sample", sample_id=list(range(1, 41)))) == 40


def test_keyed_read_literal_of_other_type(spark, tmp_path):
    """A literal whose Python type is not the column's keeps the Spark
    cast-and-hash probe and still finds the row."""
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_id"], 8)
    store.store_records("sample", _samples(spark, range(1, 41)))
    assert len(_same(store, "sample", sample_id="17")) == 1
    assert len(_same(store, "sample", sample_id=17.0)) == 1
    assert len(_same(store, "sample", sample_id=["3", "17"])) == 2
    # an int-typed key column: Python ints hash as int, not bigint
    store.declare_table("reg", "k int, v string")
    store.enable_partitioning("reg", ["k"], 8)
    store.store_records(
        "reg",
        spark.createDataFrame([(i, f"v{i}") for i in range(-20, 20)], "k int, v string"),
    )
    for k in (-20, -1, 0, 5, 19):
        assert len(_same(store, "reg", k=k)) == 1
    assert len(_same(store, "reg", k=str(5))) == 1
    assert _same(store, "reg", k=1 << 40) == []  # out of int range


# -- read guards on the bucket-scoped read -------------------------------------


def test_keyed_read_sees_snapshot_of_other_writers_txn(spark, tmp_path):
    """Rename mode: another instance's open APPEND txn leaves a keyed
    fetch seeing committed rows only."""
    root = str(tmp_path / "cat")
    a = TableStore(spark, root)
    a.enable_partitioning("sample", ["sample_id"], 8)
    a.store_records("sample", _samples(spark, range(1, 17)))
    b = TableStore(spark, root)
    ctx = a.transaction()
    ctx.__enter__()
    try:
        # the txn's files are already live in kb=; only the guard's
        # snapshot view hides them
        a.store_records("sample", _samples(spark, [5, 17], status="FAILED"))
        got = b.fetch_by("sample", sample_id=5).collect()
        assert [r.status for r in got] == ["ACTIVE"]
        assert not b.exists("sample", sample_id=17)
        assert len(a.fetch_by("sample", sample_id=5).collect()) == 2
    finally:
        ctx.__exit__(None, None, None)
    assert b.exists("sample", sample_id=17)
    assert len(b.fetch_by("sample", sample_id=5).collect()) == 2


def test_keyed_read_fenced_by_other_writers_swap_txn(spark, tmp_path):
    """Rename mode: while another instance's open txn holds a bucket
    swap of the table, a keyed fetch refuses instead of reading a
    half-swapped tree."""
    root = str(tmp_path / "cat")
    a = TableStore(spark, root)
    a.enable_partitioning("sample", ["sample_id"], 8)
    a.store_records("sample", _samples(spark, range(1, 17)))
    b = TableStore(spark, root)
    ctx = a.transaction()
    ctx.__enter__()
    try:
        a.upsert(
            "sample",
            _samples(spark, [9], status="FAILED"),
            on=["sample_id"],
            update_columns=["status"],
        )
        with pytest.raises(RuntimeError, match="rewritten by transaction"):
            b.fetch_by("sample", sample_id=9).collect()
        with pytest.raises(RuntimeError, match="rewritten by transaction"):
            b.exists("sample", sample_id=1)
    finally:
        ctx.__exit__(None, None, None)
    assert [r.status for r in b.fetch_by("sample", sample_id=9).collect()] == [
        "FAILED"
    ]


@pytest.mark.parametrize(
    "leftover, match",
    [
        ("sample__splitting", "stranded sibling"),
        ("sample__precompact", "stranded sibling"),
        ("sample/kb=3__tmp", "stranded swap temp"),
        ("sample/_temporary", "stranded swap temp"),
    ],
)
def test_keyed_read_refuses_stranded_leftovers(spark, tmp_path, leftover, match):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_id"], 8)
    store.store_records("sample", _samples(spark, range(1, 17)))
    os.makedirs(os.path.join(store.root, leftover))
    with pytest.raises(RuntimeError, match=match):
        store.fetch_by("sample", sample_id=5)
    with pytest.raises(RuntimeError, match=match):
        store.exists("sample", sample_id=[5, 6])


# -- cost ------------------------------------------------------------------


def test_keyed_read_is_one_spark_job(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "cat"))
    store.enable_partitioning("sample", ["sample_igf_id"], 8)
    store.store_records("sample", _samples(spark, range(1, 201)))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    calls = itertools.count()

    def jobs(call):
        # a fresh job group per call: the jobs it fired, whatever group
        # earlier code left set on this thread
        tag = f"keyed-read-{next(calls)}"
        sc.setJobGroup(tag, tag)
        try:
            out = call()
        finally:
            sc.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(tag)), out

    n, rows = jobs(
        lambda: store.fetch_by("sample", sample_igf_id="IGFS000042").collect()
    )
    assert (n, len(rows)) == (1, 1)
    n, rows = jobs(
        lambda: store.fetch_by(
            "sample", sample_igf_id=["IGFS000001", "IGFS000150"]
        ).collect()
    )
    assert (n, len(rows)) == (1, 2)
    n, hit = jobs(lambda: store.exists("sample", sample_igf_id="IGFS000077"))
    assert (n, hit) == (1, True)
