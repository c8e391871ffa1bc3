"""TableStore — the adaptor-facade over a parquet-backed catalog.

Mirrors the reference's adaptor API surface (igf_data/igfdb/*adaptor.py)
so a user of data-management-python can switch with familiar verbs:

  reference                                   here
  ------------------------------------------  -------------------------------
  BaseAdaptor.store_records                   TableStore.store_records
  store_project_and_attribute_data (M2)       store_with_attributes
  fetch_records_by_column (P1)                fetch_by
  check_* existence probes (J8)               exists
  create_or_update_* (M3)                     upsert
  map_foreign_table_and_store_attribute (M1)  resolve_fk option on store
  get_attributes_by_dbid (EAV read)           attributes_of

Transaction semantics (round-8): the reference wraps one ORM session
per call (dbconnect.py:122-141); the store now matches it with a
root-level COMMIT LOG — ``transaction()`` makes multi-table writes
atomic (``store_with_attributes`` uses it: main + attribute tables
commit or roll back together), every mutating verb takes the same
O_EXCL writer lock (concurrent mutators serialize; a live competitor
times out with ``ConcurrentWriterError``, a dead one's journal is
rolled back and its lock taken over), and readers of a
mid-transaction table get SNAPSHOT ISOLATION: the last committed
state when the open txn holds only appends for that table (the common
shape), a fence otherwise — never half a commit either way.  See the
"transactional commit log" section below.  Outside a transaction,
per-table semantics are unchanged:
``store_records`` is a TRUE file append on every layout
(nothing existing is read or rewritten); an append that crashes before
job commit vanishes cleanly (task outputs stay under Spark's
``_temporary`` staging, which reads ignore), but a crash DURING the
job commit's multi-rename can leave a torn append — reads then REFUSE
(``_read_raw`` flags the leftover ``_temporary``) until
``cleanup_compaction_leftovers`` aborts the staging; task outputs
already committed stay, so exactly-once writers go through the keyed
``upsert``/``insert_if_absent``, the reference's own idempotency
shape.  Mutations (``upsert``/``delete_where`` and the EAV dedup)
rewrite whole tables only when unbucketed — on a bucketed table
(``enable_partitioning``; ``*_attribute`` tables are bucketed by
parent id BY DEFAULT on first ``store_with_attributes``) they read
and crash-safe swap ONLY the touched ``kb=`` buckets.
``store_records``/``store_with_attributes`` are APPENDS — like the
reference's bulk insert, re-running them duplicates rows unless the
caller goes through ``upsert`` or pre-filters with
``exists``/``tag_existing`` (the reference's own idempotency mechanism,
M6).  EAV appends ARE deduplicated on (parent, name, value) — the
uniq constraint the reference's schema enforces (igfTables.py:1037+) —
and because the bucket key (parent id) is part of that constraint, the
dedup is per-bucket and still globally exact.
On Delta, `_swap` becomes a MERGE and the read-back is versioned; the
parquet implementation keeps the same call contract.
"""

from __future__ import annotations

import contextlib
import json
import os
import socket
import threading
import time
import uuid
import warnings
from collections import Counter
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_management_python_spark.catalog import (
    ATTRIBUTE_PARENTS,
    CORE_SCHEMAS,
    ENUMS,
    attribute_schema,
    validate_enums,
)
from data_management_python_spark.fsio import (
    ObjectStoreFsIO,
    open_fs,
    scheme_of,
)
from data_management_python_spark.eav import (
    melt_attributes,
    unmelt_attributes,
)
from data_management_python_spark.operators.filters import filter_by_columns
from data_management_python_spark.operators.joins import (
    resolve_foreign_key,
    semi_join,
)
from data_management_python_spark.operators.upsert import merge_upsert

#: default per-bucket size target for auto-sized bucketed tables: one
#: bucket is the unit a partition-scoped MERGE reads, unions, dedups,
#: and rewrites, so it must fit comfortably in one executor's working
#: memory.  256 MB of parquet (~1 GB decoded) is the classic
#: maxPartitionBytes-shaped choice.
DEFAULT_TARGET_BUCKET_BYTES = 256 * 1024 * 1024

# -- driver-side port of Spark's XxHash64 (xxhash64 expression, seed 42) ----
#
# The bucket of a row is pmod(xxhash64(key cols), n_buckets).  Hashing a
# literal key through Spark costs a whole job (a parallelized local frame
# and a Python worker); this port gives the same ids on the driver for
# the key types the store buckets on.  Arithmetic is mod 2**64, words
# are little-endian, exactly as Spark's XXH64 reads them.

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_XXHASH_SEED = 42
_INT_RANGE = {"int": (-(1 << 31), 1 << 31), "bigint": (-(1 << 63), 1 << 63)}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def _xxh64_word(h: int, k: int) -> int:
    h ^= _rotl(k * _P2 & _M64, 31) * _P1 & _M64
    return (_rotl(h, 27) * _P1 + _P4) & _M64


def _xxh64_half(h: int, k: int) -> int:
    h ^= (k & 0xFFFFFFFF) * _P1 & _M64
    return (_rotl(h, 23) * _P2 + _P3) & _M64


def _xxh64_bytes(b: bytes, seed: int) -> int:
    """Spark's ``XXH64.hashUnsafeBytes``."""
    n, i = len(b), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed,
            (seed - _P1) & _M64,
        ]
        while i <= n - 32:
            for j in range(4):
                k = int.from_bytes(b[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = _rotl((v[j] + k * _P2) & _M64, 31) * _P1 & _M64
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for x in v:
            h ^= _rotl(x * _P2 & _M64, 31) * _P1 & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h = _xxh64_word(h, int.from_bytes(b[i:i + 8], "little"))
        i += 8
    if i + 4 <= n:
        h = _xxh64_half(h, int.from_bytes(b[i:i + 4], "little"))
        i += 4
    for byte in b[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    return _fmix(h)


def _xxh64_value(v: Any, dtype: str, seed: int) -> int:
    if dtype == "string":
        return _xxh64_bytes(v.encode("utf-8"), seed)
    if dtype == "int":  # Spark's XXH64.hashInt
        return _fmix(_xxh64_half((seed + _P5 + 4) & _M64, v))
    return _fmix(_xxh64_word((seed + _P5 + 8) & _M64, v & _M64))  # hashLong


def driver_hashable(v: Any, dtype: str) -> bool:
    """True when ``v`` is a Python literal that :func:`bucket_of_row`
    hashes exactly as Spark hashes a ``dtype`` column holding it: a
    ``str`` for ``string``, an in-range ``int`` (not ``bool``) for
    ``int``/``bigint``."""
    if dtype == "string":
        return isinstance(v, str)
    lo_hi = _INT_RANGE.get(dtype)
    return (
        lo_hi is not None
        and type(v) is int
        and lo_hi[0] <= v < lo_hi[1]
    )


def bucket_of_row(values, dtypes, n_buckets: int) -> int:
    """``pmod(xxhash64(*cols), n_buckets)`` of one row, on the driver.
    ``values``/``dtypes`` pair up column by column (``string``, ``int``
    or ``bigint``); a None component is skipped, as Spark skips NULL
    inputs when it chains the hash across columns."""
    h = _XXHASH_SEED
    for v, dtype in zip(values, dtypes):
        if v is not None:
            h = _xxh64_value(v, dtype, h)
    if h >> 63:
        h -= 1 << 64
    return h % n_buckets  # Python's % on a positive modulus is pmod


def _driver_buckets(rows, dtypes, n_buckets: int) -> list[int] | None:
    """Sorted distinct :func:`bucket_of_row` ids of ``rows`` (key
    tuples typed column by column as ``dtypes``), or None when some
    non-NULL value is not :func:`driver_hashable` — the caller then
    hashes through Spark's own ``xxhash64``."""
    if not all(
        v is None or driver_hashable(v, kind)
        for row in rows
        for v, kind in zip(row, dtypes)
    ):
        return None
    return sorted({bucket_of_row(r, dtypes, n_buckets) for r in rows})


# -- client batches -----------------------------------------------------------
#
# The write verbs take small driver-built frames (a status update, a
# two-lane append).  ``spark.createDataFrame(list)`` plans them as a
# LogicalRDD fed by Python workers, and every check that looks at the
# batch (enum domains, touched buckets, duplicate merge keys, the
# merge's broadcast sides) re-runs that Python pass as a Spark job.
# A LocalRelation holds the same rows in the driver: Catalyst folds
# Project/Filter over it and collects it without a job.


def _plan_leaves(df: DataFrame) -> list:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _node_kind(node) -> str:
    return node.getClass().getSimpleName()


def _driver_resident(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s optimized plan is a
    LocalRelation: its rows already sit in the driver, so collecting
    (a projection of) it costs no shuffle — and no job at all when
    Catalyst folds the plan into one LocalRelation."""
    return all(_node_kind(n) == "LocalRelation" for n in _plan_leaves(df))


def _parallelized(rdd) -> bool:
    """True when every root of ``rdd``'s lineage is a
    ParallelCollectionRDD (``sc.parallelize``/``createDataFrame`` of a
    Python list): data that went through driver memory."""
    deps = rdd.dependencies()
    if deps.size() == 0:
        return _node_kind(rdd) == "ParallelCollectionRDD"
    return all(_parallelized(deps.apply(i).rdd()) for i in range(deps.size()))


def _local_batch(df: DataFrame) -> DataFrame:
    """``df`` as a LocalRelation when it is driver-built data: every
    leaf of its optimized plan is a non-streaming LogicalRDD over
    parallelized collections.  Such a frame is collected once on the
    JVM side (one job) and rebuilt as a LocalRelation with the same
    schema, so every later check and join over it runs in the driver.
    Anything else — a frame already folded into a LocalRelation, file
    scans, checkpointed or cached frames, streaming micro-batches,
    RDDs over files, plans mixing sources — is returned unchanged and
    keeps the distributed path.  Decided from the plan alone: no job
    runs unless the frame is localized."""
    leaves = _plan_leaves(df)
    if not leaves or not all(
        _node_kind(n) == "LogicalRDD"
        and not n.isStreaming()
        and _parallelized(n.rdd())
        for n in leaves
    ):
        return df
    jdf = df._jdf
    rows = jdf.collectAsList()
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark
    )


class ConcurrentWriterError(RuntimeError):
    """Another writer holds (or abandoned) this store's commit lock."""


class _Txn:
    """In-flight transaction state for one TableStore instance.

    ``explicit`` distinguishes a user/multi-table transaction (ops are
    undo-journaled, readers of touched tables are fenced) from the
    single-verb writer guard (lock only — per-table crash recovery
    already covers a torn single mutation)."""

    __slots__ = ("token", "explicit", "tables", "ops", "seq")

    def __init__(self, token: str, explicit: bool):
        self.token = token
        self.explicit = explicit
        self.tables: list[str] = []
        self.ops: list[dict] = []
        self.seq = 0


def suggest_bucket_count(
    est_bytes: int,
    target_bucket_bytes: int = DEFAULT_TARGET_BUCKET_BYTES,
    min_buckets: int = 1,
    max_buckets: int = 1 << 20,
) -> int:
    """Bucket count for a table of ``est_bytes`` on-disk bytes,
    targeting ~``target_bucket_bytes`` per bucket.

    Always a POWER OF TWO, so growth is a doubling: under
    ``pmod(xxhash64(keys), n)``, doubling ``n`` splits each old bucket
    ``b`` into exactly ``{b, b + n}`` — every row of a new bucket comes
    from ONE old bucket, so an incremental rebucketer could split
    bucket-by-bucket without a global shuffle.  At 100 TB of
    attributes this yields ~400k buckets of 256 MB (capped at 2^20);
    at a test-sized 1 GB, 4.
    """
    need = max(1, -(-int(est_bytes) // int(target_bucket_bytes)))
    n = 1
    while n < need:
        n <<= 1
    # NOTE the limit hash bucketing shares with every hash layout:
    # count sizing bounds the AVERAGE bucket, not a skewed KEY — one
    # parent carrying 10 GB of attributes is one 10 GB bucket at any
    # count (the bucket key is part of the uniq constraint, so it
    # cannot be salted without losing per-bucket dedup locality).
    # Keyed reads/writes on such a parent degrade to that parent's
    # volume, which is the floor any layout pays for it.
    return max(min_buckets, min(n, max_buckets))


class TableStore:
    """Parquet-backed catalog of the reference's core tables."""

    #: reserved hash-bucket partition column on partitioned tables
    BUCKET_COL = "kb"

    #: auto-sized bucketed tables never start below this: a fresh table
    #: has no volume signal yet, and a merge wants at least ~2x a
    #: cluster's cores of parallelism; growth past it is volume-derived
    MIN_AUTO_BUCKETS = 64

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        attr_n_buckets: int | None = None,
        target_bucket_bytes: int = DEFAULT_TARGET_BUCKET_BYTES,
        retain_history: bool = False,
        object_store: bool | None = None,
    ):
        self.spark = spark
        self.root = root
        #: bucket count for auto-bucketed ``*_attribute`` tables —
        #: bounds EAV write amplification at |table| / n_buckets per
        #: touched parent.  ``None`` (default) = VOLUME-DERIVED: tables
        #: are created at :func:`suggest_bucket_count` of their
        #: existing on-disk bytes (floor ``MIN_AUTO_BUCKETS``) and
        #: every EAV store re-checks :meth:`maybe_rebucket`, doubling
        #: the count whenever average bucket size outgrows
        #: ``target_bucket_bytes`` — at 100 TB of attributes that
        #: converges to hundreds of thousands of ~256 MB buckets, each
        #: fitting one executor, with amortized O(1) rewrite cost per
        #: stored byte (a rewrite only fires when the table has
        #: doubled).  An explicit int pins the count (tests, known
        #: workloads) and disables auto-growth.
        self.attr_n_buckets = attr_n_buckets
        self.target_bucket_bytes = target_bucket_bytes
        #: seconds a mutation waits for a LIVE competing writer before
        #: raising ConcurrentWriterError (a DEAD one is recovered and
        #: taken over immediately)
        self.lock_timeout = 60.0
        #: seconds a FOREIGN-host writer's lock must sit unrefreshed
        #: (journal mtime) before takeover — pid liveness is only
        #: judgeable on the owner's host, so cross-host recovery is
        #: lease-based.  Every journaled op refreshes the mtime; set
        #: this ABOVE the longest single Spark write a transaction
        #: performs between journal entries, or an active foreign
        #: writer mid-write could be usurped.  Same-host recovery is
        #: unaffected (immediate on dead pid).
        self.cross_host_lease = 600.0
        self._host = socket.gethostname()
        self._txn: _Txn | None = None
        # serializes journal mutations when a transaction overlaps
        # independent table writes on worker threads (see
        # _store_with_attributes_txn)
        self._txn_mutex = threading.Lock()
        # lease-heartbeat thread state (see _start_lease_heartbeat)
        self._hb_stop: threading.Event | None = None
        self._hb_thread: threading.Thread | None = None
        #: filesystem primitives for everything under the root — os/
        #: shutil for plain paths, Hadoop FileSystem/FileContext for
        #: scheme:// roots (hdfs://, file://, ...), and the
        #: object-store backends (rename_atomic=False) for s3a://-class
        #: schemes or ``object_store=True`` (the local simulation —
        #: the test surface for manifest-commit mode, see fsio.py)
        if object_store is None and scheme_of(root) is None:
            # SPARK_GRAFT_STORE_OBJECT=1 flips every plain-root store
            # to the object-store simulation — the harness knob that
            # lets the whole query registry + selfcheck run against
            # manifest-commit mode (tests/test_store_objectstore.py)
            object_store = (
                os.environ.get("SPARK_GRAFT_STORE_OBJECT") == "1"
            )
        if object_store:
            if scheme_of(root) is not None:
                raise ValueError(
                    "object_store=True simulates object-store "
                    "semantics over a plain local root; a real "
                    f"scheme:// root ({root!r}) selects its backend "
                    "automatically"
                )
            self.fs = ObjectStoreFsIO()
        else:
            self.fs = open_fs(spark, root)
        #: manifest-pointer commit mode: the root's filesystem lacks
        #: atomic rename / exclusive create (object stores), so data
        #: segments are immutable, per-table pointer files name the
        #: live file set, and the commit marker PUT is the commit
        #: point — see the "object-store commit mode" section
        self.manifest_commits = not getattr(self.fs, "rename_atomic", True)
        #: pointer-manifest SHARDING (manifest-commit mode, pointer
        #: format 2): a table whose live file count exceeds the
        #: threshold gets its pointer split into per-bucket-range
        #: shard objects, so a commit rewrites only the touched
        #: shards + a tiny root — O(touched buckets) commit metadata
        #: instead of O(live files).  At 100 TB / 256 MB files (~400k
        #: entries) a monolithic pointer is tens of MB rewritten per
        #: 1-row upsert; at the default 64 shards each shard is
        #: ~600 KB and a single-bucket commit rewrites exactly one.
        self.ptr_shard_threshold = int(
            os.environ.get("SPARK_GRAFT_PTR_SHARD_THRESHOLD", "512")
        )
        self.ptr_n_shards = int(
            os.environ.get("SPARK_GRAFT_PTR_SHARDS", "64")
        )
        #: fold small segments after this many segment-adding commits
        #: (manifest mode; 0 disables) — reads cost one scan per
        #: segment, so unbounded append streams need a compaction
        #: trigger, not just the machinery (_obj_maybe_fold_segments)
        self.auto_compact_commits = int(
            os.environ.get("SPARK_GRAFT_AUTO_COMPACT_COMMITS", "32")
        )
        #: which writer-lock guarantee this deployment actually runs
        #: under — recorded in every journal spec (pending/committed)
        #: so the regime is visible in durable store metadata, not
        #: just in code.  ``conditional-put``: exactly-one-winner lock
        #: creation (O_EXCL locally; S3 If-None-Match / GCS
        #: generation-0 / Azure If-None-Match).  ``check-then-create
        #: +lease``: the connector lacks conditional create, so lock
        #: creation has a residual race window bounded by (a) a
        #: read-back ownership check right after acquisition, (b)
        #: ownership RE-VERIFICATION before every journal write (a
        #: usurped writer detects within one op and aborts), and (c)
        #: the mtime lease.  See _verify_lock_owned.
        if not self.manifest_commits:
            self.lock_regime = "exclusive-create"
        elif getattr(self.fs, "conditional_put_atomic", True):
            self.lock_regime = "conditional-put"
        else:
            self.lock_regime = "check-then-create+lease"
            warnings.warn(
                f"TableStore root {root!r}: the filesystem backend "
                "reports NO atomic conditional PUT (e.g. s3a without "
                "fs.s3a.create.conditional.enabled / HADOOP-19256). "
                "Writer-lock acquisition falls back to "
                "check-then-create; concurrent writers landing inside "
                "one check->PUT window are detected (and the loser "
                "aborted) at the next journal write rather than "
                "excluded up front.  Enable conditional create on the "
                "connector for the stronger regime.",
                stacklevel=2,
            )
        self.fs.makedirs(root)
        #: version retention (time travel) is a persisted root-level
        #: property — see the "version history" section; the flag here
        #: just turns it on at construction
        if retain_history:
            self.enable_history()

    # -- transactional commit log -------------------------------------------
    #
    # The reference gets multi-table atomicity and writer serialization
    # from one ORM session transaction against MySQL
    # (dbconnect.py:122-141; baseadaptor.py:269-303).  A lake has
    # neither, so the store provides both with a root-level COMMIT LOG:
    #
    #   _txn/pending.json    the writer lock (created O_EXCL — the CAS)
    #                        and the UNDO journal of the open txn
    #   _txn/committed.json  the committed-but-uncleaned marker
    #
    # Protocol: every mutating verb acquires the lock (single verbs as
    # a lock-only guard; ``transaction()``/``store_with_attributes`` as
    # an explicit journaled txn).  Inside an explicit txn, appends are
    # STAGED then moved file-by-file (each dst path journaled BEFORE
    # any move), and table swaps keep their pre-image dir until commit
    # — so every op is undoable.  COMMIT POINT is one atomic rename
    # (pending -> committed); cleanup then drops pre-images/stages and
    # the marker.  Recovery (``recover_transactions``) rolls a pending
    # journal BACK (reverse-order undo) and a committed one FORWARD
    # (finish cleanup); both are idempotent, so a crash during recovery
    # itself just re-runs.  Readers of a table named by a pending
    # explicit txn REFUSE (same pattern as the stranded-sibling
    # checks): old-or-new, never mixed.
    #
    # Scope and assumptions: any rename-atomic filesystem root —
    # plain local paths, or hdfs://-semantics schemes through fsio's
    # Hadoop FileSystem/FileContext backend (exclusive create and
    # atomic overwrite-rename are the two primitives; object stores
    # lacking them switch the store to the MANIFEST-POINTER commit
    # mode — see the "object-store commit mode" section);
    # one TableStore instance per thread (the lock serializes
    # instances/processes, not threads sharing one instance); writer
    # liveness is judged by pid for SAME-host locks (dead pid ->
    # immediate recovery and takeover; live -> awaited up to
    # ``lock_timeout``) and by an mtime LEASE for FOREIGN-host locks
    # (``cross_host_lease`` since the last journal write — pid
    # numbers don't travel across hosts, and two NFS writers must
    # never both judge each other dead).  upsert/delete_where participate in open
    # transactions (their touched buckets keep pre-images until
    # commit); rebucket/compact/resume_rebucket are MAINTENANCE, not
    # data mutations, and stay forbidden inside a transaction — run
    # them as their own serialized verbs.

    def _txn_path(self, which: str) -> str:
        return os.path.join(self.root, "_txn", which + ".json")

    def _read_journal(self, which: str) -> dict | None:
        try:
            return json.loads(self.fs.read_text(self._txn_path(which)))
        except (OSError, ValueError):
            return None

    def _journal_spec(self) -> dict:
        t = self._txn
        return {
            "token": t.token,
            "pid": os.getpid(),
            "host": self._host,
            "ts": time.time(),
            "explicit": t.explicit,
            # durable record of which lock guarantee this writer ran
            # under (conditional-put vs check-then-create+lease) —
            # operators auditing a root see the regime in every
            # journal/marker, not just in connector config
            "lock_regime": self.lock_regime,
            "tables": t.tables,
            "ops": t.ops,
        }

    def _verify_lock_owned(self) -> None:
        """Weak-regime guard: under a check-then-create
        ``put_if_absent`` (no conditional PUT on the connector), two
        writers landing inside one check->PUT window can BOTH believe
        they hold the lock.  Re-reading the pending journal and
        checking the token bounds that race: a usurped writer detects
        the foreign token at its NEXT journal write (i.e. within one
        op) and aborts — its own ops roll back, the usurper's journal
        is left untouched.  Under a true conditional PUT this cannot
        fire and is skipped entirely (zero extra I/O)."""
        if self._txn is None or getattr(
            self.fs, "conditional_put_atomic", True
        ):
            return
        pend = self._read_journal("pending")
        if pend is None or pend.get("token") != self._txn.token:
            # foreign token: usurped and the usurper is live.  None:
            # usurped AND the usurper already finished — either way
            # this writer's critical section was violated.
            raise ConcurrentWriterError(
                f"store {self.root!r}: writer lock usurped by a "
                "concurrent check-then-create acquisition (expected "
                f"token {self._txn.token[:8]}, found "
                f"{pend and str(pend.get('token'))[:8]}); aborting "
                "this writer's work"
            )

    def _owns_pending(self) -> bool:
        """Does the pending journal (still) carry OUR token?  Always
        True under a true conditional PUT; in the weak regime a
        rollback must not unlink a usurper's journal."""
        if getattr(self.fs, "conditional_put_atomic", True):
            return True
        if self._txn is None:
            return False
        pend = self._read_journal("pending")
        return pend is None or pend.get("token") == self._txn.token

    def _drop_own_pending(self) -> None:
        """Release OUR pending journal — in the weak lock regime a
        usurper's journal is left untouched (they own the lock now;
        destroying it would unlock a live writer)."""
        if not self._owns_pending():
            return
        with contextlib.suppress(OSError):
            self.fs.unlink(self._txn_path("pending"))

    def _write_journal(self) -> None:
        """Persist the open txn's journal atomically over the lock file
        (rename keeps the lock continuously present; in manifest-commit
        mode write_text_atomic IS a whole-object PUT — same
        continuity, natively atomic)."""
        t = self._txn
        self.fs.write_text_atomic(
            self._txn_path("pending"),
            json.dumps(self._journal_spec()),
            tmp=self._txn_path("pending") + f".{t.token}.tmp",
        )

    def _journal_op(self, table: str, op: dict) -> None:
        """Record an undoable op (and its table) BEFORE performing it.
        Mutex-guarded: a transaction may run independent table writes
        on worker threads, and the journal must never lose an op to a
        concurrent rewrite."""
        with self._txn_mutex:
            self._verify_lock_owned()  # weak regime only; no-op else
            t = self._txn
            if table not in t.tables:
                t.tables.append(table)
            if op:
                t.ops.append(op)
            self._write_journal()

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            return False
        except (PermissionError, OverflowError, ValueError):
            return True  # exists but not ours / unjudgeable: assume live
        return True

    def _writer_dead(self, pend: dict) -> bool:
        """Is the pending journal's writer safely considered dead?
        SAME host (or a pre-round-9 journal without a host field):
        pid liveness, immediate.  FOREIGN host: pid numbers are
        meaningless here — two NFS/HDFS writers on different hosts
        must never both judge each other dead — so takeover waits for
        the mtime LEASE to expire (every journal write refreshes it);
        an actively journaling foreign writer is never usurped."""
        host = pend.get("host")
        if host is None or host == self._host:
            return not self._pid_alive(pend.get("pid", -1))
        try:
            age = time.time() - self.fs.getmtime(
                self._txn_path("pending")
            )
        except OSError:
            return False  # lock vanished: the caller's loop retries
        return age > self.cross_host_lease

    def _start_lease_heartbeat(self) -> None:
        """Keep the cross-host lease alive THROUGH long Spark writes:
        the lease is judged by the pending journal's mtime, which
        otherwise only refreshes when an op is journaled — one
        compact/rebucket/_swap of a large table easily exceeds the
        lease between journal entries, and a foreign host would judge
        this live writer dead and usurp it mid-write.  A daemon thread
        re-persists the journal (refreshing mtime and ``ts``) every
        third of the lease while the lock is held; commit/rollback/
        guard-exit stop and JOIN it before releasing the lock file so
        a late beat can never resurrect a released lock."""
        token = self._txn.token
        stop = threading.Event()
        interval = max(1.0, min(self.cross_host_lease / 3.0, 120.0))

        def beat() -> None:
            while not stop.wait(interval):
                with self._txn_mutex:
                    t = self._txn
                    if t is None or t.token != token or stop.is_set():
                        return
                    if not getattr(
                        self.fs, "conditional_put_atomic", True
                    ):
                        pend = self._read_journal("pending")
                        if pend is None or pend.get("token") != token:
                            # weak regime, lock usurped (or usurped-
                            # then-released): stop beating — a beat
                            # would clobber the new owner's journal or
                            # resurrect a released lock; the main
                            # thread aborts at its next journal write
                            return
                    with contextlib.suppress(OSError):
                        self._write_journal()

        self._hb_stop = stop
        self._hb_thread = threading.Thread(
            target=beat, name="tablestore-lease-heartbeat", daemon=True
        )
        self._hb_thread.start()

    def _stop_lease_heartbeat(self) -> None:
        stop = getattr(self, "_hb_stop", None)
        if stop is None:
            return
        stop.set()
        thread = self._hb_thread
        self._hb_stop = None
        self._hb_thread = None
        thread.join()

    def _acquire_lock(self, explicit: bool) -> _Txn:
        self.fs.makedirs(os.path.dirname(self._txn_path("pending")))
        deadline = time.monotonic() + self.lock_timeout
        while True:
            # finish any committed-but-uncleaned txn first (cheap no-op
            # when the marker is absent)
            self._roll_forward()
            token = uuid.uuid4().hex
            try:
                if self.manifest_commits:
                    # conditional PUT: lock creation and its first
                    # journal flush are ONE atomic step (no empty-lock
                    # window at all on a real object store)
                    self._txn = _Txn(token, explicit)
                    try:
                        self.fs.put_if_absent(
                            self._txn_path("pending"),
                            json.dumps(self._journal_spec()),
                        )
                    except FileExistsError:
                        self._txn = None
                        raise
                    if not getattr(
                        self.fs, "conditional_put_atomic", True
                    ):
                        # check-then-create regime: our PUT may have
                        # raced another writer's.  Read back — if the
                        # journal carries a foreign token, their PUT
                        # clobbered ours (or landed after): treat as
                        # lost contention and retry.  The residual
                        # window is one read round-trip; a later
                        # clobber of OUR journal is caught by
                        # _verify_lock_owned at the next journal write.
                        pend = self._read_journal("pending")
                        if pend is None or pend.get("token") != token:
                            self._txn = None
                            raise FileExistsError(
                                self._txn_path("pending")
                            )
                    self._start_lease_heartbeat()
                    return self._txn
                self.fs.create_exclusive(self._txn_path("pending"))
            except FileExistsError:
                pend = self._read_journal("pending")
                if pend is not None and self._writer_dead(pend):
                    # abandoned by a dead writer: roll it back and retry
                    self.recover_transactions()
                    continue
                if pend is None:
                    # unparseable lock: either another writer is inside
                    # the microsecond window between O_EXCL create and
                    # its first journal flush (age ~0 — wait), or a
                    # writer died INSIDE that window and left an empty
                    # lock no pid check can vindicate — after a grace
                    # period treat it as dead (nothing was journaled,
                    # so nothing moved; dropping the lock is the whole
                    # recovery)
                    try:
                        age = time.time() - self.fs.getmtime(
                            self._txn_path("pending")
                        )
                    except OSError:
                        continue  # vanished: retry the create
                    if age > 5.0:
                        with contextlib.suppress(OSError):
                            self.fs.unlink(self._txn_path("pending"))
                        continue
                if time.monotonic() >= deadline:
                    raise ConcurrentWriterError(
                        f"store {self.root!r} is locked by a live "
                        f"writer (pid {pend and pend.get('pid')}); "
                        f"gave up after {self.lock_timeout}s"
                    ) from None
                time.sleep(0.02)
                continue
            self._txn = _Txn(token, explicit)
            self._write_journal()
            self._start_lease_heartbeat()
            return self._txn

    def _commit(self) -> None:
        """Atomic commit point (one rename), then cleanup.  With
        history on, the touched tables' version manifests are written
        (journaled) BEFORE the rename — their data files are already
        fully live; the rename only flips visibility — so a crash
        before it rolls the manifests back with everything else."""
        if self._history_on():
            self._record_versions_in_txn()
        self._stop_lease_heartbeat()  # joined BEFORE the lock moves
        if self.manifest_commits:
            # commit point = the committed-marker PUT (atomic whole-
            # object write); the pending lock is then dropped.  A crash
            # between the two leaves BOTH markers with one token —
            # _roll_forward recognizes that state and finishes the
            # cleanup instead of rolling the committed txn back.
            # Weak-regime last line of defense: never stamp a
            # committed marker while a usurper owns the lock (raising
            # here leaves OUR pending journal semantics to recovery:
            # the journal was clobbered, but our ops' pre-images are
            # intact — see _verify_lock_owned's contract).
            self._verify_lock_owned()
            self.fs.put_text(
                self._txn_path("committed"),
                json.dumps(self._journal_spec()),
            )
            self._drop_own_pending()
        else:
            self.fs.replace(
                self._txn_path("pending"), self._txn_path("committed")
            )
        self._roll_forward()

    def _rollback(self) -> None:
        self._stop_lease_heartbeat()
        for op in reversed(self._txn.ops):
            self._undo_op(op)
        self._drop_own_pending()

    def _undo_op(self, op: dict) -> None:
        kind = op["kind"]
        if kind == "append":
            for rel in op["files"]:
                with contextlib.suppress(OSError):
                    self.fs.unlink(os.path.join(self.root, rel))
            self.fs.rmtree(os.path.join(self.root, op["stage"]))
        elif kind == "swap":
            live = self._path(op["table"])
            pre = os.path.join(self.root, op["pre"])
            if self.fs.exists(pre):
                # the pre-image exists from the moment the live dir is
                # renamed aside, so: drop whatever is live (absent, the
                # new copy, or nothing yet) and restore the original
                self.fs.rmtree(live)
                self.fs.replace(pre, live)
            elif not op["had_live"]:
                # the table did not exist before the txn and the new
                # copy may already have been renamed in: remove it
                self.fs.rmtree(live)
            # (pre absent + had_live: crash before the live->pre
            # rename — the live dir still IS the original; keep it)
            self.fs.rmtree(os.path.join(self.root, op["tmp"]))
        elif kind == "sidecar":
            if op["had"] is None:
                with contextlib.suppress(OSError):
                    self.fs.unlink(self._sidecar(op["table"]))
            else:
                self._write_sidecar_atomic(op["table"], op["had"])
        elif kind == "bucket_swap":
            path = self._path(op["table"])
            pre_root = os.path.join(self.root, op["pre"])
            for b, had_live in op["buckets"]:
                live = os.path.join(path, f"{self.BUCKET_COL}={b}")
                pre = os.path.join(pre_root, f"{self.BUCKET_COL}={b}")
                if self.fs.exists(pre):
                    # retracted: drop whatever is live, restore original
                    self.fs.rmtree(live)
                    self.fs.replace(pre, live)
                elif not had_live:
                    # bucket did not exist pre-txn; a new copy may have
                    # been moved in already
                    self.fs.rmtree(live)
                # (pre absent + had_live: crash before this bucket's
                # retraction — live still IS the original; keep it)
            self.fs.rmtree(pre_root)
            self.fs.rmtree(os.path.join(self.root, op["tmp"]))
        elif kind == "filewrite":
            p = os.path.join(self.root, op["rel"])
            if op["had"] is None:
                with contextlib.suppress(OSError):
                    self.fs.unlink(p)
            else:
                self.fs.write_text_atomic(
                    p, op["had"], tmp=p + ".undo.tmp"
                )
        elif kind == "objptr":
            # manifest-commit mode: restore the pre-op ROOT pointer
            # (one PUT — or remove it for a never-written table), drop
            # the shard objects the op added (the restored root never
            # references them; the OLD shards it does reference are
            # immutable and were never touched), and drop the op's
            # segment dirs.  Retired files were never touched before
            # commit, so nothing to restore.
            p = self._ptr_path(op["table"])
            if self.lock_regime == "check-then-create+lease":
                # weak-regime guard: if a usurper committed a NEWER
                # root for this table after our op (current root is
                # neither our pre-image nor our recorded post-image),
                # restoring op['old'] would clobber their commit —
                # and our staged objects may even be referenced by
                # their live set.  Leave everything for recovery /
                # vacuum_orphans.  This BOUNDS the clobber window (a
                # usurper landing after this re-read can still lose);
                # it does not eliminate it — only the conditional-PUT
                # regime can.
                try:
                    cur = self.fs.read_text(p)
                except OSError:
                    cur = None
                ours = (cur == op["old"]) or (
                    "new" in op and cur == op["new"]
                )
                if cur is not None and not ours:
                    return
            if op["old"] is None:
                with contextlib.suppress(OSError):
                    self.fs.unlink(p)
            else:
                self.fs.write_text_atomic(p, op["old"])
            for rel in op.get("add_ptr_objs", ()):
                with contextlib.suppress(OSError):
                    self.fs.unlink(os.path.join(self.root, rel))
            for seg in op.get("add_segs", ()):
                self.fs.rmtree(os.path.join(self.root, seg))

    def _roll_forward(self) -> None:
        """Finish a committed txn's cleanup: drop pre-images and stage
        dirs, then the marker.  Idempotent; no-op without a marker."""
        spec = self._read_journal("committed")
        if spec is None:
            return
        retain = self._history_on()
        for op in spec.get("ops", []):
            if op["kind"] == "append":
                self.fs.rmtree(os.path.join(self.root, op["stage"]))
            elif op["kind"] in ("bucket_swap", "swap"):
                pre = os.path.join(self.root, op["pre"])
                if retain and self.fs.isdir(pre):
                    # superseded pre-image files become the archive
                    # copies older manifests resolve to (swap pre = the
                    # whole old table dir; bucket_swap pre = kb= dirs,
                    # both already table-relative shaped)
                    self._archive_superseded(pre, op["table"])
                self.fs.rmtree(pre)
                self.fs.rmtree(os.path.join(self.root, op["tmp"]))
            elif op["kind"] == "objptr":
                # manifest-commit mode: files superseded by the new
                # pointer.  With history on they STAY in place (older
                # version manifests resolve to them live — zero-copy
                # time travel; vacuum_history prunes); otherwise they
                # are garbage the moment the commit marker landed.
                if not retain:
                    for base, rel in op.get("retire", ()):
                        with contextlib.suppress(OSError):
                            self.fs.unlink(
                                os.path.join(self.root, base, rel)
                            )
                # superseded SHARD objects are garbage regardless of
                # history: manifests and snapshot reads reference data
                # files / the journaled old root, never live shards
                for rel in op.get("retire_ptr_objs", ()):
                    with contextlib.suppress(OSError):
                        self.fs.unlink(os.path.join(self.root, rel))
        if self.manifest_commits:
            # a crash between the committed PUT and the pending unlink
            # leaves both markers with one token: the txn IS committed;
            # drop the stale lock (before the committed marker, so a
            # crash here re-enters this branch instead of rolling back)
            pend = self._read_journal("pending")
            if pend is not None and pend.get("token") == spec.get("token"):
                with contextlib.suppress(OSError):
                    self.fs.unlink(self._txn_path("pending"))
        with contextlib.suppress(OSError):
            self.fs.unlink(self._txn_path("committed"))

    def recover_transactions(self) -> str | None:
        """Resolve any crashed transaction at this root: a committed
        marker is rolled FORWARD (cleanup only — the data was fully in
        place before the commit rename), a pending journal from a DEAD
        writer is rolled BACK op by op in reverse (readers then see the
        exact pre-transaction state).  Returns 'forward', 'back', or
        None when there was nothing to do.  Raises
        :class:`ConcurrentWriterError` when the pending writer is still
        alive — never undoes live work."""
        self._roll_forward()
        pend = self._read_journal("pending")
        if pend is None:
            # an unparseable-but-present lock file (torn write of the
            # very first journal flush) from a dead-or-any writer:
            # nothing was journaled, so nothing moved — drop the lock
            if self.fs.exists(self._txn_path("pending")) and (
                self._txn is None
            ):
                with contextlib.suppress(OSError):
                    self.fs.unlink(self._txn_path("pending"))
                return "back"
            return None
        if self._txn is not None and self._txn.token == pend.get("token"):
            raise ConcurrentWriterError(
                "recover_transactions called inside this store's own "
                "open transaction"
            )
        if not self._writer_dead(pend):
            owner = pend.get("host")
            if owner is not None and owner != self._host:
                raise ConcurrentWriterError(
                    f"store {self.root!r} is locked by a writer on "
                    f"foreign host {owner!r} (pid liveness is not "
                    "judgeable across hosts); takeover only after "
                    f"its lease ({self.cross_host_lease}s since the "
                    "last journal write) expires"
                )
            raise ConcurrentWriterError(
                f"store {self.root!r} has a LIVE writer "
                f"(pid {pend.get('pid')}); not rolling back live work"
            )
        for op in reversed(pend.get("ops", [])):
            self._undo_op(op)
        # sweep orphaned __txn* sibling dirs BEFORE releasing the dead
        # writer's lock file: while pending.json exists no live txn can
        # start, so anything matching is provably garbage (a stage dir
        # from a crash inside a Spark write whose op carried no files
        # yet, or a cleanup raced by a second recovery) — sweeping
        # after the unlink could race a fast new writer's fresh dirs
        self._sweep_orphan_txn_dirs()
        with contextlib.suppress(OSError):
            self.fs.unlink(self._txn_path("pending"))
        return "back"

    def _sweep_orphan_txn_dirs(self) -> None:
        for d in self.fs.listdir(self.root):
            if "__txn" in d and self.fs.isdir(os.path.join(self.root, d)):
                self.fs.rmtree(os.path.join(self.root, d))

    @contextlib.contextmanager
    def transaction(self):
        """Multi-table atomic commit scope (the reference's ORM session
        txn, dbconnect.py:122-141): every ``store_records`` /
        ``store_with_attributes`` / ``enable_partitioning`` inside the
        block commits atomically at exit — a crash (or exception) at
        ANY point leaves readers the exact pre-transaction state after
        :meth:`recover_transactions`.  Reentrant: a nested call joins
        the open transaction.  Readers in other instances/processes
        see the last COMMITTED state of touched tables while the txn
        is open (snapshot isolation via :meth:`_snapshot_view`) when
        the txn holds only appends for them; tables mid-swap fence
        until commit or recovery."""
        if self._txn is not None and self._txn.explicit:
            yield self
            return
        if self._txn is not None:
            raise ConcurrentWriterError(
                "cannot open a transaction inside a single-verb "
                "writer guard"
            )
        self._acquire_lock(explicit=True)
        try:
            yield self
        except BaseException:
            self._rollback()
            self._txn = None
            raise
        self._commit()
        self._txn = None

    @contextlib.contextmanager
    def _write_guard(self):
        """Writer serialization for single mutating verbs: takes the
        same lock as :meth:`transaction` (so concurrent mutators across
        instances/processes serialize into one order) without op
        journaling in rename mode — a torn single verb is covered by
        its own per-table crash machinery there.  In MANIFEST-COMMIT
        mode single verbs DO journal their objptr ops (the pointer is
        the only crash machinery), so the guard upgrades to per-verb
        atomicity: an exception rolls the ops back (the verb never
        happened), success finishes retirement exactly like a txn
        roll-forward."""
        if self._txn is not None:
            yield
            return
        self._acquire_lock(explicit=False)
        try:
            yield
        except BaseException:
            self._stop_lease_heartbeat()
            for op in reversed(self._txn.ops):
                self._undo_op(op)
            self._drop_own_pending()
            self._txn = None
            raise
        self._stop_lease_heartbeat()
        retire: list = []
        if self._txn.ops:
            retain = self._history_on()
            # manifest mode (the only journaler under a guard): the
            # files the verb's pointer flips superseded are deleted
            # AFTER the journal is released (with history on they stay
            # live for time travel; vacuum prunes).  Ordering is
            # load-bearing: deleting them while the pending journal
            # still holds the objptr ops means a crash in that window
            # ROLLS BACK — restoring a pointer to already-deleted files
            # and rmtree-ing the new segment, destroying both copies.
            # Journal-first matches the committed-txn ordering (marker
            # PUT before retirement); a crash after the journal release
            # merely orphans retired files, which no pointer references
            # (invisible to readers, prunable by vacuum).
            for op in self._txn.ops:
                if op["kind"] == "objptr":
                    if not retain:
                        retire.extend(op.get("retire", ()))
                    # superseded shard objects are garbage even with
                    # history on (manifests reference data files,
                    # never shard objects)
                    retire.extend(
                        (None, rel) for rel in op.get("retire_ptr_objs", ())
                    )
        self._drop_own_pending()
        self._txn = None
        for base, rel in retire:
            with contextlib.suppress(OSError):
                self.fs.unlink(
                    os.path.join(self.root, rel)
                    if base is None
                    else os.path.join(self.root, base, rel)
                )

    # -- object-store (manifest-pointer) commit mode --------------------------
    #
    # Object stores (s3a/gs/abfs) lack the two primitives the rename
    # protocol leans on: atomic rename-with-clobber and O_EXCL create.
    # When the root's fsio backend advertises ``rename_atomic = False``
    # the store switches to an APPEND-ONLY commit protocol built from
    # the primitives those stores DO provide (atomic whole-object PUT,
    # conditional PUT, strongly consistent LIST — fsio.py lists the
    # public store-side guarantees):
    #
    #   - data files are IMMUTABLE and live in write-once SEGMENT dirs
    #     (``<table>/seg-<token>-<n>/``); nothing is ever renamed or
    #     rewritten in place — a "swap" writes a new segment and flips
    #     the pointer, a bucket merge retires just the touched
    #     buckets' file entries.
    #   - the live file set of a table is its POINTER
    #     (``_ptr/<table>.json``: [[segment, file, bytes], ...]).
    #     Readers read the pointer, never list data dirs — so a
    #     crashed write's orphan files are invisible, not a torn
    #     table.  Pointer updates are single-object PUTs (atomic).
    #   - the writer lock is acquired by CONDITIONAL PUT
    #     (``put_if_absent`` — S3 If-None-Match / GCS generation-0 /
    #     Azure If-None-Match; the same primitive Delta's and
    #     Iceberg's object-store commit protocols use), carrying the
    #     journal's first flush in the same atomic step.
    #   - the txn COMMIT POINT is the committed-marker PUT; the
    #     pending lock is deleted after it.  A crash in between leaves
    #     both markers with one token — _roll_forward finishes the
    #     cleanup instead of rolling back.
    #   - every mutation journals an ``objptr`` op (pre-op pointer
    #     text + added segments + retired files) BEFORE touching
    #     anything, so rollback is restore-pointer + drop-segments,
    #     and snapshot reads of a mid-transaction table are simply
    #     the journaled OLD pointer — swaps and merges included,
    #     strictly stronger than rename mode's append-only snapshots.
    #   - superseded files are deleted at roll-forward (history off)
    #     or retained in place for ZERO-COPY time travel (history on:
    #     version manifests reference immutable live paths; vacuum
    #     prunes unreferenced ones).
    #
    # Scale note (100 TB): a MONOLITHIC pointer listing every live
    # file (~400k entries of ~100 bytes at 256 MB files = tens of MB
    # of JSON) would be read per plan and REWRITTEN per commit — a
    # 1-row upsert paying O(live files) metadata I/O.  Round-11
    # therefore SHARDS the pointer (format 2, _obj_commit_ptr): above
    # ``ptr_shard_threshold`` entries the root object holds only
    # [key, rel, n_files, n_bytes] rows pointing at immutable
    # per-bucket-range shard objects — the Iceberg manifest-list
    # shape — so a commit reads and rewrites ONLY the shards its
    # adds/retires touch (O(touched buckets)), existence/size probes
    # read the root alone, and rollback stays restore-one-root (old
    # shards are immutable and still referenced by the restored
    # root).  Segment sprawl from long append streams is folded by
    # _obj_maybe_fold_segments (commit-count triggered).
    # Reference anchor: the reference's only durable store was a
    # network MySQL DB (igf_data/igfdb/dbconnect.py:8-91); this mode
    # makes the lake substrate deployable on the storage real
    # clusters actually use.

    def _ptr_rel(self, name: str) -> str:
        return os.path.join("_ptr", f"{name}.json")

    def _ptr_path(self, name: str) -> str:
        return os.path.join(self.root, self._ptr_rel(name))

    def _read_ptr_text(self, name: str) -> str | None:
        try:
            return self.fs.read_text(self._ptr_path(name))
        except OSError:
            return None

    def _ptr_doc_of_text(self, text: str | None) -> dict | None:
        """Parsed pointer root document, or None (absent or
        unparseable — both read as 'no pointer').  Two formats:
        format 1 inlines the live entries (``{"files": [...]}``);
        format 2 (``{"format": 2, "n_shards": N, "shards": [[key,
        rel, n_files, n_bytes], ...]}``) points at immutable
        per-bucket-range SHARD objects so commits rewrite O(touched
        buckets) metadata — see _obj_commit_ptr."""
        if text is None:
            return None
        try:
            doc = json.loads(text)
        except ValueError:
            return None
        if "files" in doc or doc.get("format") == 2:
            return doc
        return None

    def _read_shard_files(self, rel: str) -> list:
        """Entries of one immutable pointer-shard object.  A missing
        shard raises FileNotFoundError; every LOCKLESS read path must
        materialize shards through :meth:`_shard_read_retry`, which
        turns the read-vs-retirement race into one re-resolve.
        Writer-side callers (merge, fold, rebucket) hold the writer
        lock, so no concurrent commit can retire their shards and
        they may read directly."""
        return json.loads(
            self.fs.read_text(os.path.join(self.root, rel))
        )["files"]

    def _shard_read_retry(self, resolve, materialize):
        """Run ``materialize(resolve())`` with ONE re-resolve on
        FileNotFoundError.  A concurrent commit's roll-forward (or a
        checkpoint/vacuum sweep) may retire a superseded shard object
        between a lockless reader's root GET and its shard GETs; the
        NEW root no longer references that shard, so re-resolving once
        succeeds.  Shards are immutable, so the second pass can only
        fail if yet another commit lands mid-read — then the error is
        loud rather than an infinite loop.  Returns ``(doc, result)``
        so callers that need the resolved root document get the one
        the materialization actually used."""
        for attempt in range(2):
            doc = resolve()
            try:
                return doc, materialize(doc)
            except FileNotFoundError:
                if attempt:
                    raise
        raise AssertionError("unreachable")

    def _doc_files(self, doc: dict | None) -> list | None:
        """Materialize a root document's full live entry list (reads
        every shard object for format-2 roots); None when absent."""
        if doc is None:
            return None
        if doc.get("format") == 2:
            out: list = []
            for s in doc.get("shards", ()):
                out.extend(self._read_shard_files(s[1]))
            return sorted(out)
        return doc.get("files", [])

    def _read_ptr(self, name: str) -> list | None:
        """The live file entries ([segment, file, bytes] lists) or
        None for a never-written table."""
        return self._shard_read_retry(
            lambda: self._ptr_doc_of_text(self._read_ptr_text(name)),
            self._doc_files,
        )[1]

    def _obj_external_entries(self, name: str) -> list:
        """Pointer-shaped entries for parquet files placed in the
        table dir OUTSIDE the store (``df.write.parquet(root/name)``
        then adopt — the rename mode reads such dirs natively).  Only
        consulted while the table has no pointer: the first store
        mutation ADOPTS these entries into pointer management (an
        append keeps them, a rewrite retires them), after which the
        fallback never fires again.  Segment dirs and underscore/dot
        paths (Spark staging, sidecars) are excluded — a crashed
        store write can never leak into the adoption set."""
        base = self._path(name)
        if not self.fs.isdir(base):
            return []
        out = []
        for dirpath, _dirs, files in self.fs.walk(base):
            rel_dir = os.path.relpath(dirpath, base)
            if rel_dir != ".":
                parts = rel_dir.split(os.sep)
                if parts[0].startswith("seg-") or any(
                    c.startswith(("_", ".")) for c in parts
                ):
                    continue
            for fn in sorted(files):
                if not fn.endswith(".parquet") or fn.startswith(
                    ("_", ".")
                ):
                    continue
                rel = fn if rel_dir == "." else os.path.join(rel_dir, fn)
                out.append(
                    [
                        name,
                        rel,
                        int(
                            self.fs.getsize(os.path.join(dirpath, fn))
                        ),
                    ]
                )
        return sorted(out)

    def _obj_current_files(self, name: str) -> list:
        """The table's live entries: the pointer, or (pointer absent)
        the externally-written adoption set."""
        files = self._read_ptr(name)
        if files is None:
            return self._obj_external_entries(name)
        return files

    def _obj_new_seg(self, name: str) -> str:
        """Allocate a write-once segment dir (root-relative) under the
        table dir — unique per (txn token, op seq), so concurrent
        tables in one txn and retries across txns never collide."""
        t = self._txn
        with self._txn_mutex:
            seq = t.seq
            t.seq += 1
        return os.path.join(name, f"seg-{t.token[:8]}-{seq}")

    def _obj_list_seg(self, seg_rel: str) -> list:
        """Pointer entries for every parquet file in a just-written
        segment (relative path + size — the size feeds table_bytes
        without a later listing)."""
        seg = os.path.join(self.root, seg_rel)
        out = []
        for dirpath, _dirs, files in self.fs.walk(seg):
            rel_dir = os.path.relpath(dirpath, seg)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = fn if rel_dir == "." else os.path.join(rel_dir, fn)
                out.append(
                    [
                        seg_rel,
                        rel,
                        int(self.fs.getsize(os.path.join(dirpath, fn))),
                    ]
                )
        return sorted(out)

    def _ptr_shard_key(self, rel: str, n_shards: int) -> str:
        """Shard key of a table-relative data path: bucket-range
        (``b<bucket mod n_shards>``) for ``kb=``-partitioned files,
        ``flat`` otherwise — so a commit touching K buckets touches at
        most K shard objects."""
        head, sep, _ = rel.partition("/")
        if sep and head.startswith(f"{self.BUCKET_COL}="):
            with contextlib.suppress(ValueError):
                return f"b{int(head.split('=', 1)[1]) % n_shards}"
        return "flat"

    def _ptr_shard_rel(self, name: str, key: str) -> str:
        """Root-relative path for a NEW immutable shard object —
        uuid-suffixed so rewrites of the same key never collide and
        old shards stay readable until retired."""
        return os.path.join(
            "_ptr", f"{name}.shards", f"{key}-{uuid.uuid4().hex[:12]}.json"
        )

    def _update_journaled_op(self, op: dict, **fields) -> None:
        """Extend an already-journaled op in place and re-persist the
        journal — used to record the shard-object delta a commit
        computes after the op was first journaled, BEFORE any of
        those objects are written (rollback must know what to drop)."""
        with self._txn_mutex:
            op.update(fields)
            self._write_journal()

    def _put_shard_objs(self, add_objs: list) -> list:
        """Write new immutable shard objects; returns root ``shards``
        rows ([key, rel, n_files, n_bytes])."""
        rows = []
        for key, rel, entries in add_objs:
            p = os.path.join(self.root, rel)
            self.fs.makedirs(os.path.dirname(p))
            self.fs.write_text_atomic(p, json.dumps({"files": entries}))
            rows.append(
                [key, rel, len(entries), sum(int(e[2]) for e in entries)]
            )
        return rows

    def _obj_commit_ptr(
        self,
        name: str,
        old: str | None,
        seg_rel: str | None,
        retire: list,
        op: dict | None = None,
        schema_fn=None,
        reset_commits: bool = False,
    ) -> None:
        """Flip ``name``'s pointer to ``<old live set> - retire +
        <segment's files>`` with one atomic PUT of the ROOT object.
        The caller journaled the objptr op (``old``/``seg_rel``/
        ``retire``) BEFORE any write; when the commit also writes or
        retires SHARD objects (pointer format 2), their delta is
        journaled onto ``op`` before any shard object is written.

        Format selection: a live set at or under ``ptr_shard_threshold``
        entries stays an inline format-1 root; above it the entries
        split into ``ptr_n_shards`` per-bucket-range immutable shard
        objects and the root holds only [key, rel, n_files, n_bytes]
        rows — a later commit reads and rewrites ONLY the shards its
        adds/retires touch, so commit metadata I/O is O(touched
        buckets), not O(live files).  A table that shrinks back under
        half the threshold downgrades to an inline root (hysteresis).
        ``schema_fn`` (lazy) records the table schema in the root when
        the commit empties the table, so the read side can still
        produce a typed empty DataFrame."""
        adds = self._obj_list_seg(seg_rel) if seg_rel is not None else []
        doc = self._ptr_doc_of_text(old)
        retire_set = {(b, r) for b, r in retire}
        thresh = self.ptr_shard_threshold
        self.fs.makedirs(os.path.dirname(self._ptr_path(name)))
        # segment-sprawl accounting: count segment-adding commits
        # since the last fold (an O(1) root field — computing the true
        # distinct-segment count would read every shard, the exact
        # cost sharding exists to avoid).  _obj_maybe_fold_segments
        # triggers on this and resets it.
        commits = (doc.get("commits", 0) if doc is not None else 0) + (
            1 if adds else 0
        )
        if reset_commits:
            commits = 0

        def _root_put(doc_out: dict, total_files: int) -> None:
            if total_files == 0 and schema_fn is not None:
                sj = schema_fn()
                if sj:
                    doc_out["schema"] = sj
            doc_out["commits"] = commits
            text = json.dumps(doc_out)
            if op is not None and self.lock_regime == (
                "check-then-create+lease"
            ):
                # weak regime only: journal the POST-image root text
                # BEFORE the PUT so a later rollback can tell "the
                # root is still ours" from "a usurper committed a
                # newer root" and skip the restore in the latter case
                # (see _undo_op's objptr guard) — one extra journal
                # write per commit, charged only to the degraded
                # regime
                self._update_journaled_op(op, new=text)
            self.fs.write_text_atomic(self._ptr_path(name), text)

        if doc is not None and doc.get("format") == 2:
            n_shards = int(doc.get("n_shards", self.ptr_n_shards))
            old_shards = {s[0]: s for s in doc.get("shards", ())}
            add_by: dict[str, list] = {}
            for e in adds:
                add_by.setdefault(
                    self._ptr_shard_key(e[1], n_shards), []
                ).append(e)
            touched = set(add_by)
            for _b, r in retire_set:
                touched.add(self._ptr_shard_key(r, n_shards))
            touched &= set(old_shards) | set(add_by)
            new_entries_by: dict[str, list] = {}
            for key in sorted(touched):
                cur = (
                    self._read_shard_files(old_shards[key][1])
                    if key in old_shards
                    else []
                )
                kept = [e for e in cur if (e[0], e[1]) not in retire_set]
                new_entries_by[key] = sorted(kept + add_by.get(key, []))
            untouched = [
                s for k, s in sorted(old_shards.items()) if k not in touched
            ]
            total = sum(int(s[2]) for s in untouched) + sum(
                len(v) for v in new_entries_by.values()
            )
            retire_objs = [
                old_shards[k][1] for k in sorted(touched) if k in old_shards
            ]
            if total <= thresh // 2:
                # shrank: downgrade to an inline root (all shards retire)
                files: list = []
                for s in untouched:
                    files.extend(self._read_shard_files(s[1]))
                for v in new_entries_by.values():
                    files.extend(v)
                if op is not None and old_shards:
                    self._update_journaled_op(
                        op,
                        retire_ptr_objs=[
                            s[1] for s in old_shards.values()
                        ],
                    )
                _root_put({"files": sorted(files)}, total)
                return
            add_objs = [
                (key, self._ptr_shard_rel(name, key), entries)
                for key, entries in sorted(new_entries_by.items())
                if entries
            ]
            if op is not None and (add_objs or retire_objs):
                self._update_journaled_op(
                    op,
                    add_ptr_objs=[rel for _k, rel, _e in add_objs],
                    retire_ptr_objs=retire_objs,
                )
            new_rows = self._put_shard_objs(add_objs)
            shards = sorted(untouched + new_rows, key=lambda s: s[0])
            _root_put(
                {"format": 2, "n_shards": n_shards, "shards": shards},
                total,
            )
            return

        # inline (format-1) or absent root; absent adopts
        # externally-written files (see _obj_external_entries)
        old_entries = (
            doc.get("files", [])
            if doc is not None
            else self._obj_external_entries(name)
        )
        keep = [e for e in old_entries if (e[0], e[1]) not in retire_set]
        files = sorted(keep + adds)
        if len(files) <= thresh:
            _root_put({"files": files}, len(files))
            return
        # crossed the threshold: upgrade the whole set to format 2
        n_shards = self.ptr_n_shards
        by_key: dict[str, list] = {}
        for e in files:
            by_key.setdefault(
                self._ptr_shard_key(e[1], n_shards), []
            ).append(e)
        add_objs = [
            (key, self._ptr_shard_rel(name, key), entries)
            for key, entries in sorted(by_key.items())
        ]
        if op is not None:
            self._update_journaled_op(
                op, add_ptr_objs=[rel for _k, rel, _e in add_objs]
            )
        new_rows = self._put_shard_objs(add_objs)
        _root_put(
            {
                "format": 2,
                "n_shards": n_shards,
                "shards": sorted(new_rows, key=lambda s: s[0]),
            },
            len(files),
        )

    def _obj_journal_ptr(
        self, name: str, old: str | None, seg_rel: str | None, retire: list
    ) -> dict:
        op = {
            "kind": "objptr",
            "table": name,
            "old": old,
            "add_segs": [seg_rel] if seg_rel else [],
            "retire": [[b, r] for b, r in retire],
        }
        self._journal_op(name, op)
        return op

    def _obj_entries_for_buckets(
        self, name: str, doc: dict | None, buckets
    ) -> list:
        """Live entries under the given ``kb=`` buckets, reading only
        the shard objects that can contain them — O(touched shards)
        under a format-2 root, which is the point of pointer
        sharding: a partition-scoped merge never materializes the
        whole live set."""
        prefixes = tuple(
            f"{self.BUCKET_COL}={int(b)}/" for b in buckets
        )
        if doc is not None and doc.get("format") == 2:
            n_shards = int(doc.get("n_shards", self.ptr_n_shards))
            keys = {f"b{int(b) % n_shards}" for b in buckets}
            entries: list = []
            for s in doc.get("shards", ()):
                if s[0] in keys:
                    entries.extend(self._read_shard_files(s[1]))
        elif doc is not None:
            entries = doc.get("files", [])
        else:
            entries = self._obj_external_entries(name)
        return [e for e in entries if e[1].startswith(prefixes)]

    def _obj_append(self, name: str, writer_df, partitioned: bool) -> None:
        """Append in manifest-commit mode: one new segment, pointer
        gains its files, nothing existing is read, rewritten, moved,
        or retired — O(new rows) at any table size, like the rename
        mode's true append but with crash-invisible orphans instead
        of a ``_temporary`` refusal."""
        old = self._read_ptr_text(name)
        seg_rel = self._obj_new_seg(name)
        op = self._obj_journal_ptr(name, old, seg_rel, [])
        w = writer_df.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy(self.BUCKET_COL)
        w.parquet(os.path.join(self.root, seg_rel))
        # the commit resolves the old live set itself (absent pointer
        # = adoption of externally-written files) and, on a sharded
        # root, rewrites only the shards the new files land in
        self._obj_commit_ptr(
            name,
            old,
            seg_rel,
            [],
            op=op,
            schema_fn=lambda: writer_df.schema.json(),
        )
        # sprawl backstop: every append adds a segment; fold small
        # ones once the commit counter crosses the threshold
        self._obj_maybe_fold_segments(name)

    def _obj_promote_embedded_sidecar(self, name: str, seg_rel: str) -> None:
        """Rename-mode full rewrites carry ``_partitioning.json``
        INSIDE the replacement dir (spec + data swap in together); in
        manifest mode the table dir persists, so a spec the write_fn
        embedded in the segment is promoted to the live sidecar (a
        journaled filewrite — rollback restores the old spec)."""
        emb = os.path.join(self.root, seg_rel, "_partitioning.json")
        if not self.fs.exists(emb):
            return
        spec_text = self.fs.read_text(emb)
        sidecar_rel = os.path.join(name, "_partitioning.json")
        try:
            had = self.fs.read_text(self._sidecar(name))
        except OSError:
            had = None
        self._journal_op(
            name, {"kind": "filewrite", "rel": sidecar_rel, "had": had}
        )
        self.fs.makedirs(self._path(name))
        self.fs.write_text_atomic(self._sidecar(name), spec_text)
        with contextlib.suppress(OSError):
            self.fs.unlink(emb)

    def _obj_replace(self, name: str, write_fn) -> None:
        """Full-table rewrite in manifest-commit mode: ``write_fn``
        produces the replacement in a fresh segment, the pointer flips
        to exactly that segment's files, every previous entry is
        retired (deleted at roll-forward, or retained live for time
        travel when history is on)."""
        old = self._read_ptr_text(name)
        old_files = self._doc_files(self._ptr_doc_of_text(old))
        if old_files is None:
            old_files = self._obj_external_entries(name)
        retired = [(e[0], e[1]) for e in old_files]
        seg_rel = self._obj_new_seg(name)
        op = self._obj_journal_ptr(name, old, seg_rel, retired)
        write_fn(os.path.join(self.root, seg_rel))
        self._obj_promote_embedded_sidecar(name, seg_rel)

        def _old_schema():
            # the rewrite produced ZERO files (emptied table): record
            # the pre-rewrite schema so reads stay typed — the old
            # files still exist here (retired only after the journal
            # releases)
            return (
                self._obj_frame(name, old_files).schema.json()
                if old_files
                else None
            )

        self._obj_commit_ptr(
            name, old, seg_rel, retired, op=op, schema_fn=_old_schema
        )

    def _obj_merge_buckets(
        self, name: str, touched: list[int], out: DataFrame
    ) -> None:
        """Partition-scoped merge in manifest-commit mode: the
        rewritten buckets land in one new segment; the pointer keeps
        untouched buckets' entries byte-identical and retires only the
        touched ones.  A bucket whose every row was deleted simply has
        no file in the new segment — retirement already removed its
        old entries (no tombstones needed)."""
        old = self._read_ptr_text(name)
        # touched buckets' entries only — on a sharded root this reads
        # just the shards covering those buckets, never the whole
        # pointer: commit metadata I/O is O(touched buckets)
        retired = [
            (e[0], e[1])
            for e in self._obj_entries_for_buckets(
                name, self._ptr_doc_of_text(old), touched
            )
        ]
        seg_rel = self._obj_new_seg(name)
        op = self._obj_journal_ptr(name, old, seg_rel, retired)
        out.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
            os.path.join(self.root, seg_rel)
        )
        self._obj_commit_ptr(
            name,
            old,
            seg_rel,
            retired,
            op=op,
            schema_fn=lambda: out.schema.json(),
        )

    def _obj_frame(self, name: str, files: list) -> DataFrame:
        """DataFrame over pointer entries: one read per SEGMENT (its
        basePath re-derives the kb= partition column from the file
        paths), unioned — segment count is bounded by commits since
        the last compaction, not by bucket count."""
        by_base: dict[str, list[str]] = {}
        for e in files:
            by_base.setdefault(e[0], []).append(e[1])
        sch = None
        if self._schema_override(name) is not None:
            sch = self._evolved_struct(name)
        out = None
        for base in sorted(by_base):
            reader = self.spark.read.option(
                "basePath", os.path.join(self.root, base)
            )
            if sch is not None:
                reader = reader.schema(sch)
            df = reader.parquet(
                *[
                    os.path.join(self.root, base, r)
                    for r in sorted(by_base[base])
                ]
            )
            out = (
                df
                if out is None
                else out.unionByName(df, allowMissingColumns=True)
            )
        return out

    def _obj_read_raw(self, name: str) -> DataFrame:
        """Manifest-mode read: resolve the pointer (or, for a table
        named by ANOTHER writer's open explicit transaction, the
        journaled PRE-transaction pointer — snapshot isolation with no
        fencing, swaps and merges included: immutable files make the
        old state always reconstructible)."""
        files = self._shard_read_retry(
            lambda: self._obj_resolve_ptr_doc(name), self._doc_files
        )[1]
        if files is None:
            # pointer ABSENT (never written / pre-txn state was
            # pointerless): adopt externally-written files, the rename
            # mode's native read.  A PRESENT-but-empty pointer
            # ({"files": []}) is an intentionally emptied table — the
            # adoption fallback must NOT fire for it (it would
            # resurrect retained pre-adoption files under
            # retain_history).
            files = self._obj_external_entries(name)
        if files:
            return self._obj_frame(name, files)
        sch = self._evolved_struct(name)
        if sch is None:
            # emptied table with no declared schema: the pointer
            # recorded the last data schema when the emptying commit
            # landed (see _obj_commit_ptr)
            sch = self._ptr_empty_schema(name)
        if sch is not None:
            return self.spark.createDataFrame([], sch)
        raise KeyError(f"unknown table {name!r}")

    def _obj_resolve_ptr_doc(self, name: str) -> dict | None:
        """Root pointer document honoring snapshot isolation: a table
        named by ANOTHER writer's open explicit transaction resolves
        to the journaled PRE-transaction root (its shard objects are
        immutable and still present — retirement happens only at
        roll-forward, after the commit marker)."""
        if self.fs.exists(self._txn_path("pending")):
            pend = self._read_journal("pending")
            if (
                pend is not None
                and pend.get("explicit")
                and name in pend.get("tables", ())
                and (
                    self._txn is None
                    or self._txn.token != pend["token"]
                )
            ):
                for op in pend.get("ops", ()):
                    if (
                        op.get("table") == name
                        and op.get("kind") == "objptr"
                    ):
                        return self._ptr_doc_of_text(op.get("old"))
        return self._ptr_doc_of_text(self._read_ptr_text(name))

    def _obj_read_buckets(self, name: str, buckets) -> DataFrame | None:
        """BUCKET-PRUNED manifest read: on a sharded (format-2) root,
        resolve ONLY the shard objects covering ``buckets`` — the
        read-side twin of the sharded commit.  A keyed fetch against
        a 400k-file table reads one shard object + the root instead
        of the whole pointer (O(touched shards) metadata, matching
        the O(touched buckets) commit).  Returns None when the fast
        path does not apply (inline root — already one small object;
        root absent; ``flat`` non-bucketed entries present — the full
        read handles mixed layouts) and a typed EMPTY frame when the
        touched buckets hold no files.  Snapshot isolation is the
        same as the full read's (_obj_resolve_ptr_doc); shard GETs
        ride _shard_read_retry like every lockless reader."""

        def _materialize(doc):
            if doc is None or doc.get("format") != 2:
                return None
            if any(s[0] == "flat" for s in doc.get("shards", ())):
                return None
            return self._obj_entries_for_buckets(name, doc, buckets)

        entries = self._shard_read_retry(
            lambda: self._obj_resolve_ptr_doc(name), _materialize
        )[1]
        if entries is None:
            return None
        if entries:
            return self._obj_frame(name, entries)
        sch = self._evolved_struct(name)
        if sch is None:
            return None  # no typed empty possible: full read decides
        from pyspark.sql import types as T  # noqa: PLC0415

        if self.BUCKET_COL not in [f.name for f in sch.fields]:
            sch = T.StructType(
                list(sch.fields)
                + [T.StructField(self.BUCKET_COL, T.IntegerType(), True)]
            )
        return self.spark.createDataFrame([], sch)

    def _ptr_empty_schema(self, name: str):
        """The schema an emptying commit recorded in the pointer (see
        :meth:`_obj_commit_ptr`), or None."""
        from pyspark.sql import types as T  # noqa: PLC0415

        text = self._read_ptr_text(name)
        if text is None:
            return None
        try:
            sch = json.loads(text).get("schema")
        except ValueError:
            return None
        if sch is None:
            return None
        return T.StructType.fromJson(json.loads(sch))

    def _obj_compact(
        self,
        name: str,
        target_file_bytes: int,
        small_file_bytes: int | None,
        min_small_files: int,
    ) -> list[str]:
        """Bucket-granular compaction from pointer metadata alone (no
        directory census): buckets holding >= ``min_small_files``
        files below the small threshold are read (partition-pruned)
        and rewritten into one new segment at ~``target_file_bytes``
        granularity; every other bucket's entries stay
        byte-identical."""
        small = small_file_bytes or max(1, target_file_bytes // 2)
        files = self._obj_current_files(name)
        per_bucket: dict[int, int] = {}
        for e in files:
            head, sep, _ = e[1].partition("/")
            if sep and head.startswith(f"{self.BUCKET_COL}="):
                b = int(head.split("=", 1)[1])
                if int(e[2]) < small:
                    per_bucket[b] = per_bucket.get(b, 0) + 1
        flagged = sorted(
            b for b, n in per_bucket.items() if n >= min_small_files
        )
        if not flagged:
            return []
        raw = self._obj_read_raw(name)
        current = raw.filter(
            F.col(self.BUCKET_COL).isin([int(b) for b in flagged])
        )
        keys, n_buckets = self.partitioning_of(name)
        out = self._cluster_by_bucket(current, n_buckets)
        self._obj_merge_buckets(name, flagged, out)
        return [
            os.path.join(self._path(name), f"{self.BUCKET_COL}={b}")
            for b in flagged
        ]

    def _obj_maybe_fold_segments(self, name: str) -> None:
        """Segment-sprawl backstop: every append adds one segment, and
        reads cost one scan per segment (_obj_frame) — a 1000-commit
        append stream would degrade every read without a trigger.
        When the root's ``commits`` counter (segment-adding commits
        since the last fold check — an O(1) root field) reaches
        ``auto_compact_commits``, fold the small segments into one
        bucket-clustered segment.  Amortized cost: one full pointer
        materialization + one bounded rewrite per ``threshold``
        commits; large segments (real data volume) are never
        rewritten, so fold work is O(small-segment bytes), not
        O(table)."""
        limit = self.auto_compact_commits
        if not limit or not self.manifest_commits:
            return
        doc = self._ptr_doc_of_text(self._read_ptr_text(name))
        if doc is None or doc.get("commits", 0) < limit:
            return
        files = self._doc_files(doc)
        by_seg: dict[str, list] = {}
        for e in files:
            by_seg.setdefault(e[0], []).append(e)
        cut = max(1, int(self.target_bucket_bytes))
        small = sorted(
            s
            for s, es in by_seg.items()
            if sum(int(e[2]) for e in es) < cut
        )
        old = self._read_ptr_text(name)
        if len(small) < 2:
            # nothing foldable (segments are genuinely large): reset
            # the counter with a journaled no-op pointer rewrite so
            # the check does not re-run on every subsequent append
            op = self._obj_journal_ptr(name, old, None, [])
            self._obj_commit_ptr(
                name, old, None, [], op=op, reset_commits=True
            )
            return
        entries = [e for s in small for e in by_seg[s]]
        retired = [(e[0], e[1]) for e in entries]
        spec = self._layout(name) or {}
        out = self._obj_frame(name, entries)
        partitioned = bool(spec.get("keys"))
        if partitioned:
            out = self._cluster_by_bucket(out, int(spec["n_buckets"]))
        else:
            out = out.coalesce(1)
        seg_rel = self._obj_new_seg(name)
        op = self._obj_journal_ptr(name, old, seg_rel, retired)
        w = out.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy(self.BUCKET_COL)
        w.parquet(os.path.join(self.root, seg_rel))
        self._obj_commit_ptr(
            name, old, seg_rel, retired, op=op, reset_commits=True
        )

    def _obj_txn_checkpoint(self) -> None:
        """COMMIT the work journaled so far inside the current lock
        session without releasing it: retire superseded files the way
        a commit's roll-forward would (history keeps them live), then
        truncate the journal — a later crash rolls back only ops
        journaled AFTER this point.  The durability unit behind the
        object mode's RESUMABLE maintenance loops (incremental
        rebucket): each bucket's step commits before the next starts."""
        t = self._txn
        retain = self._history_on()
        with self._txn_mutex:
            # commit point FIRST: persist the truncated journal, THEN
            # delete the retired files.  The reverse order has a crash
            # window where recovery rolls the ops back — restoring a
            # pointer onto already-deleted files and dropping the new
            # segment (both copies lost).  After the truncation lands,
            # leftover retired files are unreferenced orphans (vacuum
            # prunes them), the same guarantee as commit roll-forward.
            retire: list = []
            for op in t.ops:
                if op["kind"] == "objptr":
                    if not retain:
                        retire.extend(op.get("retire", ()))
                    retire.extend(
                        (None, rel)
                        for rel in op.get("retire_ptr_objs", ())
                    )
            t.ops = []
            self._write_journal()
            for base, rel in retire:
                with contextlib.suppress(OSError):
                    self.fs.unlink(
                        os.path.join(self.root, rel)
                        if base is None
                        else os.path.join(self.root, base, rel)
                    )

    def _obj_journal_sidecar(self, name: str) -> None:
        """Journal the sidecar's pre-image (kind filewrite) so a crash
        rolls the layout spec back with everything else."""
        rel = os.path.join(name, "_partitioning.json")
        try:
            had = self.fs.read_text(self._sidecar(name))
        except OSError:
            had = None
        self._journal_op(
            name, {"kind": "filewrite", "rel": rel, "had": had}
        )

    def _obj_split_rebucket(
        self, name: str, keys: list[str], old: int, new: int
    ) -> None:
        """Incremental bucket split in manifest-commit mode: one old
        bucket at a time is read (pointer-pruned), re-hashed at the
        new count into its ``{b + j*old}`` children, and committed as
        its own pointer flip + sidecar progress update — a crash
        anywhere resumes at the next bucket (:meth:`resume_rebucket`),
        and no step ever holds more than one bucket's rows.  The
        rename mode's directory-move protocol (_split_one_bucket) is
        replaced by JOURNAL CHECKPOINTS: each bucket's objptr +
        sidecar ops commit via :meth:`_obj_txn_checkpoint` before the
        next bucket starts, so rollback scope is always exactly the
        in-flight bucket.  Mid-split reads stay correct the same way
        as rename mode: the sidecar's ``splitting_to`` drives
        :meth:`_expand_split_buckets` for pruned reads, and unpruned
        reads see every row regardless of which bucket dir holds it."""
        spec = self._layout(name)
        if "splitting_to" not in spec:
            self._obj_journal_sidecar(name)
            spec = {
                "keys": list(keys),
                "n_buckets": old,
                "splitting_to": new,
                "split_done": [],
            }
            self._write_sidecar_atomic(name, spec)
            self._obj_txn_checkpoint()
        done = {int(b) for b in spec.get("split_done", ())}
        prefix_of = f"{self.BUCKET_COL}="
        present = sorted(
            {
                int(e[1].split("=", 1)[1].split("/", 1)[0])
                for e in self._obj_current_files(name)
                if e[1].startswith(prefix_of)
            }
        )
        for b in [b for b in present if b < old and b not in done]:
            old_text = self._read_ptr_text(name)
            bucket_files = self._obj_entries_for_buckets(
                name, self._ptr_doc_of_text(old_text), [b]
            )
            if bucket_files:
                rows = self._obj_frame(name, bucket_files).drop(
                    self.BUCKET_COL
                )
                out = self._cluster_by_bucket(
                    rows.withColumn(
                        self.BUCKET_COL, self._bucket_expr(keys, new)
                    ),
                    max(1, new // old),  # a bucket splits k ways
                )
                seg_rel = self._obj_new_seg(name)
                retired = [(e[0], e[1]) for e in bucket_files]
                op = self._obj_journal_ptr(
                    name, old_text, seg_rel, retired
                )
                out.write.mode("overwrite").partitionBy(
                    self.BUCKET_COL
                ).parquet(os.path.join(self.root, seg_rel))
                self._obj_commit_ptr(
                    name, old_text, seg_rel, retired, op=op
                )
            self._obj_journal_sidecar(name)
            done.add(b)
            self._write_sidecar_atomic(
                name,
                {
                    "keys": list(keys),
                    "n_buckets": old,
                    "splitting_to": new,
                    "split_done": sorted(done),
                },
            )
            self._obj_txn_checkpoint()
        # every bucket split: flip the layout
        self._obj_journal_sidecar(name)
        self._write_sidecar_atomic(
            name, {"keys": list(keys), "n_buckets": new}
        )
        self._obj_txn_checkpoint()

    # -- streaming-ingestion batch markers -----------------------------------

    @staticmethod
    def _marker_rel(stream_id: str) -> str:
        if not stream_id or not all(
            c.isalnum() or c in "._-" for c in stream_id
        ):
            raise ValueError(
                f"stream_id must be [A-Za-z0-9._-]+, got {stream_id!r}"
            )
        return os.path.join("_ingest", f"{stream_id}.json")

    def get_stream_marker(self, stream_id: str) -> int:
        """Highest streaming micro-batch id already COMMITTED into this
        store under ``stream_id`` (-1 when none).  The read side of the
        exactly-once ingestion contract (see streaming/ingest.py)."""
        rel = self._marker_rel(stream_id)  # validates OUTSIDE the try
        try:
            return int(
                json.loads(
                    self.fs.read_text(os.path.join(self.root, rel))
                )["batch_id"]
            )
        except (OSError, ValueError, KeyError):
            return -1

    def set_stream_marker(self, stream_id: str, batch_id: int) -> None:
        """Record ``batch_id`` as committed for ``stream_id``.  Inside
        an open transaction the write is JOURNALED (kind ``filewrite``)
        — rollback restores the previous marker, so the marker and the
        batch's appends commit or vanish together: the atomicity that
        turns foreachBatch's at-least-once re-delivery into
        exactly-once."""
        rel = self._marker_rel(stream_id)
        p = os.path.join(self.root, rel)
        if self._txn is not None and self._txn.explicit:
            try:
                had = self.fs.read_text(p)
            except OSError:
                had = None
            self._journal_op(
                f"_ingest/{stream_id}",
                {"kind": "filewrite", "rel": rel, "had": had},
            )
        self.fs.makedirs(os.path.dirname(p))
        self.fs.write_text_atomic(p, json.dumps({"batch_id": int(batch_id)}))

    def _forbid_in_explicit_txn(self, verb: str) -> None:
        if self._txn is not None and self._txn.explicit:
            raise ValueError(
                f"{verb} is not supported inside an open transaction "
                "(its per-bucket swap loop is not undo-journaled); "
                "call it as its own serialized verb"
            )

    # -- version history (time travel) ---------------------------------------
    #
    # Opt-in per store root (``enable_history()``): every committed
    # mutation records a MANIFEST of the touched tables' data files
    # under _history/manifests/<table>/<seq>.json (one GLOBAL
    # monotonically increasing commit seq across tables, so a
    # multi-table transaction yields one cross-table-consistent
    # version), and files a mutation would supersede are ARCHIVED to
    # _history/files/<their original table-relative path> instead of
    # deleted — parquet part names are write-unique (task UUIDs /
    # txn-token prefixes), so the relpath identifies a file forever.
    # ``read_version`` resolves a manifest's paths live-first,
    # archive-second, which keeps old versions readable across both
    # appends (files only added) and swaps (pre-images archived at
    # roll-forward).  The reference keeps audit lineage as row-level
    # date_created/date_modified columns (igfdb models); a lake engine
    # generalizes that to whole-table snapshots with O(changed files)
    # extra storage.
    #
    # Maintenance verbs (rebucket / resume_rebucket / compact /
    # enable_partitioning outside a transaction) rewrite files without
    # journaled pre-images: they TRUNCATE the table's history to the
    # post-maintenance state (floor marker + fresh manifest) — the
    # documented tradeoff; run them after ``vacuum_history`` would
    # have pruned the tail anyway.  Archiving runs through the same
    # fsio primitives as the commit log, so it works on any
    # rename-atomic root (see ``table_bytes``).

    _HISTORY_DIR = "_history"

    def _history_rel(self, *parts: str) -> str:
        return os.path.join(self._HISTORY_DIR, *parts)

    def _history_abs(self, *parts: str) -> str:
        return os.path.join(self.root, self._HISTORY_DIR, *parts)

    def enable_history(self) -> None:
        """Turn on version retention for this store root (persisted —
        every instance/process over the root sees it, including crash
        recovery, which must know to archive rather than delete).

        Tables that ALREADY hold data get an initial manifest at a
        freshly allocated seq plus a history floor at that seq: their
        enable-time state is readable as-of that version, and asking
        for any earlier version raises (pre-enablement history was
        never retained) instead of silently reading as empty —
        'table was empty then' and 'history did not exist then' must
        be distinguishable."""
        with self._write_guard():
            already = self._history_on()
            self.fs.makedirs(self._history_abs())
            self.fs.write_text_atomic(
                self._history_abs("config.json"),
                json.dumps({"retain": True}),
                tmp=self._history_abs("config.json.tmp"),
            )
            if already:
                return
            preexisting = [
                t for t in self._data_table_names() if self._has_data(t)
            ]
            if preexisting:
                seq = self._next_seq()
                for name in preexisting:
                    self._write_manifest(name, seq, "enable", journal=False)
                    self._set_history_floor(name, seq, "enable_history")

    def _data_table_names(self) -> list[str]:
        """Top-level table directories at the root (reserved dirs —
        ``_history``/``_schema``/``_ingest``/journals — excluded)."""
        try:
            entries = self.fs.listdir(self.root)
        except OSError:
            return []
        return sorted(
            e
            for e in entries
            if not e.startswith(("_", "."))
            and self.fs.isdir(os.path.join(self.root, e))
        )

    def _history_on(self) -> bool:
        try:
            return bool(
                json.loads(
                    self.fs.read_text(self._history_abs("config.json"))
                ).get("retain")
            )
        except (OSError, ValueError):
            return False

    def _next_seq(self) -> int:
        """Allocate the next commit seq (writer lock held by every
        caller — allocation is single-writer by construction)."""
        p = self._history_abs("seq.json")
        try:
            cur = int(json.loads(self.fs.read_text(p))["seq"])
        except (OSError, ValueError, KeyError):
            cur = 0
        nxt = cur + 1
        self.fs.makedirs(os.path.dirname(p))
        self.fs.write_text_atomic(p, json.dumps({"seq": nxt}))
        return nxt

    def _table_data_files(self, name: str) -> list[str]:
        """Current table-relative data-file paths (sorted; parquet
        only — sidecars/_SUCCESS never enter a manifest).  In
        manifest-commit mode the live set IS the pointer (a directory
        walk would also see superseded/orphaned segment files)."""
        if self.manifest_commits:
            return sorted(
                os.path.join(e[0], e[1])
                for e in self._obj_current_files(name)
            )
        base = self._path(name)
        out: list[str] = []
        for dirpath, _dirs, files in self.fs.walk(base):
            rel = os.path.relpath(dirpath, self.root)
            for fn in files:
                if fn.endswith(".parquet"):
                    out.append(os.path.join(rel, fn))
        return sorted(out)

    def _write_manifest(
        self, name: str, seq: int, verb: str, journal: bool
    ) -> None:
        rel = self._history_rel("manifests", name, f"{seq}.json")
        p = os.path.join(self.root, rel)
        if journal:
            # inside an explicit txn the manifest must vanish on
            # rollback — a manifest describing a never-committed state
            # would be served by read_version after recovery
            self._journal_op(
                f"_history/{name}",
                {"kind": "filewrite", "rel": rel, "had": None},
            )
        self.fs.makedirs(os.path.dirname(p))
        # record the AS-WRITTEN logical schema: a manifest mixing
        # pre-/post-ADD-COLUMN footers must not depend on which file's
        # footer Spark samples at read time (read_version pins this).
        # All-nullable, because parquet reads resolve every column
        # nullable — the as-of schema must equal the live-read schema
        from pyspark.sql import types as T  # noqa: PLC0415

        sch = self._evolved_struct(name)
        if sch is not None:
            sch = T.StructType(
                [
                    T.StructField(f.name, f.dataType, True, f.metadata)
                    for f in sch.fields
                ]
            )
        self.fs.write_text_atomic(
            p,
            json.dumps(
                {
                    "seq": seq,
                    "verb": verb,
                    "ts": time.time(),
                    "files": self._table_data_files(name),
                    "schema": sch.json() if sch is not None else None,
                }
            ),
        )

    def _record_versions_in_txn(self) -> None:
        """Manifest every real table the open txn touched, BEFORE the
        commit rename (data files are fully in place by then; only
        visibility flips at commit).  All writes are journaled
        filewrites so a crash-then-rollback removes them."""
        tables = [t for t in self._txn.tables if "/" not in t]
        if not tables:
            return
        seq_rel = self._history_rel("seq.json")
        try:
            had = self.fs.read_text(os.path.join(self.root, seq_rel))
        except OSError:
            had = None
        self._journal_op(
            "_history/seq", {"kind": "filewrite", "rel": seq_rel, "had": had}
        )
        seq = self._next_seq()
        for name in tables:
            self._write_manifest(name, seq, "txn", journal=True)

    def _archive_superseded(self, src_abs: str, table: str) -> None:
        """Move ``src_abs``'s parquet files into the archive under
        their original table-relative paths.  Idempotent and safe
        under concurrent roll-forwards (a file the other mover already
        took is simply gone here); non-parquet leftovers are the
        caller's rmtree's problem."""
        dst_root = self._history_abs("files", table)
        for dirpath, _dirs, files in self.fs.walk(src_abs):
            rel = os.path.relpath(dirpath, src_abs)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                d = dst_root if rel == "." else os.path.join(dst_root, rel)
                self.fs.makedirs(d)
                with contextlib.suppress(OSError):
                    self.fs.replace(
                        os.path.join(dirpath, fn), os.path.join(d, fn)
                    )

    def _manifest_seqs(self, name: str) -> list[int]:
        d = self._history_abs("manifests", name)
        try:
            names = self.fs.listdir(d)
        except OSError:
            return []
        out = []
        for fn in names:
            stem, ext = os.path.splitext(fn)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def _history_floor(self, name: str) -> int:
        try:
            return int(
                json.loads(
                    self.fs.read_text(
                        self._history_abs(
                            "manifests", name, "floor.json"
                        )
                    )
                )["floor"]
            )
        except (OSError, ValueError, KeyError):
            return 0

    def _set_history_floor(self, name: str, floor: int, reason: str) -> None:
        p = self._history_abs("manifests", name, "floor.json")
        self.fs.makedirs(os.path.dirname(p))
        self.fs.write_text_atomic(
            p, json.dumps({"floor": int(floor), "reason": reason})
        )

    def list_versions(self, name: str) -> list[dict]:
        """Committed versions of ``name`` visible to ``read_version``:
        one dict per manifest (seq, verb, ts, n_files), oldest first."""
        out = []
        for seq in self._manifest_seqs(name):
            try:
                m = json.loads(
                    self.fs.read_text(
                        self._history_abs(
                            "manifests", name, f"{seq}.json"
                        )
                    )
                )
            except (OSError, ValueError):
                continue
            out.append(
                {
                    "seq": m["seq"],
                    "verb": m.get("verb", "?"),
                    "ts": m.get("ts"),
                    "n_files": len(m.get("files", ())),
                }
            )
        return out

    def latest_version(self) -> int:
        """Highest commit seq allocated at this root (0 = none)."""
        try:
            return int(
                json.loads(
                    self.fs.read_text(self._history_abs("seq.json"))
                )["seq"]
            )
        except (OSError, ValueError, KeyError):
            return 0

    def read_version(self, name: str, version: int) -> DataFrame:
        """Read ``name`` AS OF commit ``version`` (time travel): the
        state the largest manifest seq <= ``version`` recorded.  A
        multi-table transaction gives all its tables the same seq, so
        reading several tables at one ``version`` is cross-table
        consistent.  Requires history (``enable_history``) to have
        been on when the versions were written; versions below a
        vacuum/maintenance floor raise."""
        if not self._history_on():
            raise ValueError(
                f"store {self.root!r} has no version history: call "
                "enable_history() before the writes you want to travel to"
            )
        floor = self._history_floor(name)
        cands = [s for s in self._manifest_seqs(name) if s <= version]
        if not cands:
            if floor > 0:
                raise ValueError(
                    f"history for {name!r} below seq {floor} was "
                    "truncated (vacuum_history or a maintenance "
                    f"rewrite); cannot read version {version}"
                )
            # never written as of that seq: the declared empty table
            return self.table(name).limit(0)
        mseq = max(cands)
        manifest = json.loads(
            self.fs.read_text(
                self._history_abs("manifests", name, f"{mseq}.json")
            )
        )
        paths, missing = [], []
        for rel in manifest.get("files", ()):
            live = os.path.join(self.root, rel)
            arch = self._history_abs("files", rel)
            if self.fs.exists(live):
                paths.append(live)
            elif self.fs.exists(arch):
                paths.append(arch)
            else:
                missing.append(rel)
        if missing:
            raise RuntimeError(
                f"version {version} of {name!r} (manifest seq {mseq}) "
                f"is missing {len(missing)} file(s), e.g. "
                f"{missing[0]!r}: either another writer's transaction "
                "is mid-swap (retry after it commits / "
                "recover_transactions) or the files were removed by "
                "vacuum_history/a maintenance rewrite"
            )
        if not paths:
            return self.table(name).limit(0)
        reader = self.spark.read
        sch_json = manifest.get("schema")
        if sch_json:
            # pin the manifest's as-written schema: an append AFTER an
            # ADD COLUMN leaves the version's file set with mixed
            # footers, and footer sampling could silently drop (or
            # NULL out) the added column for the whole as-of read
            from pyspark.sql import types as T  # noqa: PLC0415

            reader = reader.schema(
                T.StructType.fromJson(json.loads(sch_json))
            )
        else:
            # pre-round-9 manifest without a recorded schema: merge
            # all footers so no file's columns are silently dropped
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        if self.BUCKET_COL in df.columns:  # pre-partitioning snapshots
            df = df.drop(self.BUCKET_COL)
        return df

    def diff_versions(
        self, name: str, v_from: int, v_to: int, on: list[str]
    ) -> DataFrame:
        """CHANGE DATA FEED between two committed versions: one row per
        changed row-version, Delta-CDF-shaped — ``change_type`` in
        {insert, delete, update_preimage, update_postimage} plus the
        table's logical columns.  ``on`` names the row identity (the
        natural key ``upsert``/``delete_where`` address by).

        Plan: one full-outer join of the two as-of reads on the key,
        presence markers on both sides, null-safe inequality over the
        non-key columns for update detection — a single key-shuffle
        regardless of how many commits separate the versions (the diff
        is state-to-state, not a replay of the log).  Downstream
        consumers get the reference's "what changed since" question
        (status-transition polling over pipeline/seed tables,
        find_and_process_new_* scans) as one relational operator.

        Schema-evolution-safe: as-of reads carry their as-written
        shape, so a version predating an ADD COLUMN lacks it — both
        sides are aligned to the UNION of their columns (absent ones
        read NULL), and the added column then surfaces as
        update_pre/postimage rows exactly when its value changed."""
        a = self.read_version(name, v_from)
        b = self.read_version(name, v_to)
        all_cols = list(a.columns) + [
            c for c in b.columns if c not in a.columns
        ]
        b_types = dict(b.dtypes)
        a_types = dict(a.dtypes)

        def _aligned(df, types):
            other = b_types if types is a_types else a_types
            return df.select(
                *[
                    F.col(c)
                    if c in types
                    else F.lit(None).cast(other[c]).alias(c)
                    for c in all_cols
                ]
            )

        a = _aligned(a, a_types)
        b = _aligned(b, b_types)
        data_cols = [c for c in all_cols if c not in on]
        missing = [c for c in on if c not in all_cols]
        if missing:
            raise ValueError(f"key columns {missing} not in {name!r}")
        a2 = a.select(
            *[F.col(c) for c in on],
            *[F.col(c).alias(f"__a_{c}") for c in data_cols],
            F.lit(True).alias("__in_a"),
        )
        b2 = b.select(
            *[F.col(c) for c in on],
            *[F.col(c).alias(f"__b_{c}") for c in data_cols],
            F.lit(True).alias("__in_b"),
        )
        j = a2.join(b2, on=on, how="full_outer")
        changed = F.lit(False)
        for c in data_cols:
            changed = changed | ~F.col(f"__a_{c}").eqNullSafe(
                F.col(f"__b_{c}")
            )

        def _rows(side: str, tag: str, pred):
            return j.filter(pred).select(
                F.lit(tag).alias("change_type"),
                *on,
                *[
                    F.col(f"__{side}_{c}").alias(c) for c in data_cols
                ],
            )

        both = F.col("__in_a").isNotNull() & F.col("__in_b").isNotNull()
        return (
            _rows("b", "insert", F.col("__in_a").isNull())
            .unionByName(_rows("a", "delete", F.col("__in_b").isNull()))
            .unionByName(_rows("a", "update_preimage", both & changed))
            .unionByName(_rows("b", "update_postimage", both & changed))
        )

    def _truncate_history(self, name: str, verb: str) -> None:
        """Collapse ``name``'s history to the current state: floor
        first (older reads fail safe from that instant), then drop old
        manifests + archived files, then manifest the present.  Called
        by maintenance verbs, which rewrite files without journaled
        pre-images."""
        seq = self._next_seq()
        self._set_history_floor(name, seq, verb)
        for s in self._manifest_seqs(name):
            if s < seq:
                with contextlib.suppress(OSError):
                    self.fs.unlink(
                        self._history_abs("manifests", name, f"{s}.json")
                    )
        self.fs.rmtree(self._history_abs("files", name))
        self._write_manifest(name, seq, verb, journal=False)

    def vacuum_orphans(self, name: str | None = None) -> dict[str, int]:
        """Delete data files and pointer-shard objects NO live pointer
        references — manifest-commit mode with history OFF, where
        ``vacuum_history`` never runs (no manifests exist).  These
        orphans are what a crash can leave in the window AFTER the
        journal releases but BEFORE retirement cleanup completes (the
        round-11 journal-first ordering trades rollback-onto-deleted-
        files corruption for exactly this prunable garbage), plus any
        crashed write's never-committed segment files.  Readers never
        see them (reads resolve the pointer), so the sweep is purely
        space reclamation.  Serialized like any mutation — the guard's
        lock acquisition roll-forwards any committed-but-uncleaned txn
        first, so everything unreferenced at sweep time is provably
        garbage.  Returns {table: n_files_deleted}."""
        if not self.manifest_commits:
            return {}
        if self._history_on():
            raise ValueError(
                "vacuum_orphans is the history-OFF sweep; with "
                "retention on use vacuum_history (superseded files "
                "are live for time travel and referenced by "
                "manifests, not the pointer)"
            )
        self._forbid_in_explicit_txn("vacuum_orphans")
        with self._write_guard():
            if name is not None:
                tables = [name]
            else:
                tables = sorted(
                    d
                    for d in self.fs.listdir(self.root)
                    if not d.startswith(("_", "."))
                    and "__txn" not in d
                    and self.fs.isdir(os.path.join(self.root, d))
                )
            deleted: dict[str, int] = {}
            for t in tables:
                live = {
                    os.path.join(e[0], e[1])
                    for e in self._obj_current_files(t)
                }
                n = 0
                for dirpath, _dirs, files in self.fs.walk(self._path(t)):
                    for fn in files:
                        if not fn.endswith(".parquet"):
                            continue
                        p = os.path.join(dirpath, fn)
                        if os.path.relpath(p, self.root) not in live:
                            with contextlib.suppress(OSError):
                                self.fs.unlink(p)
                                n += 1
                doc = self._ptr_doc_of_text(self._read_ptr_text(t))
                live_shards = (
                    {s[1] for s in doc.get("shards", ())}
                    if doc is not None and doc.get("format") == 2
                    else set()
                )
                sdir = os.path.join(self.root, "_ptr", f"{t}.shards")
                if self.fs.isdir(sdir):
                    for fn in self.fs.listdir(sdir):
                        rel = os.path.join("_ptr", f"{t}.shards", fn)
                        if rel not in live_shards:
                            with contextlib.suppress(OSError):
                                self.fs.unlink(os.path.join(sdir, fn))
                                n += 1
                deleted[t] = n
            return deleted

    def vacuum_history(
        self, name: str | None = None, keep_last: int = 1
    ) -> dict[str, int]:
        """Prune version history: keep each table's ``keep_last``
        newest manifests, raise its floor, and delete archived files
        no remaining manifest references.  Live data files are never
        touched (the archive only ever holds superseded copies).
        Returns {table: n_files_deleted}.  Serialized like any
        mutation."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        self._forbid_in_explicit_txn("vacuum_history")
        with self._write_guard():
            tables = (
                [name]
                if name is not None
                else sorted(
                    d
                    for d in (
                        self.fs.listdir(self._history_abs("manifests"))
                        if self.fs.isdir(self._history_abs("manifests"))
                        else []
                    )
                )
            )
            deleted: dict[str, int] = {}
            for t in tables:
                seqs = self._manifest_seqs(t)
                if len(seqs) <= keep_last:
                    continue
                cut = seqs[-keep_last]
                self._set_history_floor(t, cut, "vacuum")
                keep_refs: set[str] = set()
                for s in seqs:
                    if s >= cut:
                        keep_refs.update(
                            json.loads(
                                self.fs.read_text(
                                    self._history_abs(
                                        "manifests", t, f"{s}.json"
                                    )
                                )
                            ).get("files", ())
                        )
                n = 0
                if self.manifest_commits:
                    # object-store mode never archives: superseded
                    # files stay LIVE in their immutable segments for
                    # zero-copy time travel.  Vacuum deletes every
                    # data file referenced by neither a kept manifest
                    # nor the current live set (a crashed write's
                    # orphans included).  _obj_current_files, NOT
                    # _read_ptr: a table still on its externally-
                    # written adoption set has no pointer yet, and its
                    # live files must survive the sweep.
                    keep_refs.update(
                        os.path.join(e[0], e[1])
                        for e in self._obj_current_files(t)
                    )
                    froot = self._path(t)
                    for dirpath, _dirs, files in self.fs.walk(froot):
                        for fn in files:
                            if not fn.endswith(".parquet"):
                                continue
                            p = os.path.join(dirpath, fn)
                            rel = os.path.relpath(p, self.root)
                            if rel not in keep_refs:
                                with contextlib.suppress(OSError):
                                    self.fs.unlink(p)
                                    n += 1
                    # orphaned POINTER-SHARD objects (a crash between
                    # the journal release and retirement cleanup):
                    # anything in the shards dir the current root does
                    # not reference is garbage — vacuum holds the
                    # writer lock, so no pending txn's old root can
                    # reference them either
                    doc = self._ptr_doc_of_text(self._read_ptr_text(t))
                    live_shards = (
                        {s[1] for s in doc.get("shards", ())}
                        if doc is not None and doc.get("format") == 2
                        else set()
                    )
                    sdir = os.path.join(
                        self.root, "_ptr", f"{t}.shards"
                    )
                    if self.fs.isdir(sdir):
                        for fn in self.fs.listdir(sdir):
                            rel = os.path.join(
                                "_ptr", f"{t}.shards", fn
                            )
                            if rel not in live_shards:
                                with contextlib.suppress(OSError):
                                    self.fs.unlink(
                                        os.path.join(sdir, fn)
                                    )
                else:
                    froot = self._history_abs("files", t)
                    for dirpath, _dirs, files in self.fs.walk(froot):
                        for fn in files:
                            p = os.path.join(dirpath, fn)
                            rel = os.path.relpath(
                                p, self._history_abs("files")
                            )
                            if rel not in keep_refs:
                                with contextlib.suppress(OSError):
                                    self.fs.unlink(p)
                                    n += 1
                for s in seqs:
                    if s < cut:
                        with contextlib.suppress(OSError):
                            self.fs.unlink(
                                self._history_abs(
                                    "manifests", t, f"{s}.json"
                                )
                            )
                deleted[t] = n
            return deleted

    # -- schema evolution (migrations) ---------------------------------------
    #
    # The reference evolves its catalog with alembic migrations
    # (migrations/versions/*): ADD COLUMN, MODIFY COLUMN ENUM(...)
    # domain widening, ADD UNIQUE.  The lake equivalents live in a
    # per-table override sidecar (_schema/<table>.json at the store
    # root, so it survives table swaps): reads project the EVOLVED
    # schema over the physical files via an explicit read schema
    # (files predating an ADD COLUMN yield NULL for it — Delta's ADD
    # COLUMN semantics; no backfill rewrite), writes align to the
    # evolved schema, DROPped columns are hidden without touching a
    # byte, enum domains feed the store's validate_enums gate, and
    # UNIQUE constraints are enforced at append time (within-batch +
    # against the bucket-pruned existing rows).  Catalog tables only —
    # ad-hoc temp tables have no declared base schema to evolve.
    # Time-travel reads return data in its as-written shape (the
    # manifest records files, not DDL) — documented, like Delta's
    # schema-per-version.

    def _schema_override_path(self, name: str) -> str:
        return os.path.join(self.root, "_schema", f"{name}.json")

    def _schema_override(self, name: str) -> dict | None:
        try:
            return json.loads(
                self.fs.read_text(self._schema_override_path(name))
            )
        except (OSError, ValueError):
            return None

    def _write_schema_override(self, name: str, spec: dict) -> None:
        p = self._schema_override_path(name)
        self.fs.makedirs(os.path.dirname(p))
        self.fs.write_text_atomic(p, json.dumps(spec))

    def _base_struct(self, name: str):
        if name in CORE_SCHEMAS:
            return CORE_SCHEMAS[name]
        parent = name.removesuffix("_attribute")
        if parent in ATTRIBUTE_PARENTS:
            return attribute_schema(parent)
        ov = self._schema_override(name)
        if ov and ov.get("base"):  # declare_table'd ad-hoc table
            from pyspark.sql import types as T  # noqa: PLC0415

            return T.StructType.fromJson(ov["base"])
        return None

    def declare_table(self, name: str, schema: str | Any) -> None:
        """Declare an ad-hoc (non-catalog) table's schema — the lake
        analog of CREATE TABLE for tables the genomics catalog doesn't
        know (e.g. standing sketch registers).  ``schema`` is a DDL
        string ("j long, M int") or a StructType.  After this, every
        store verb (``table``/``store_records``/``upsert``/history)
        treats the name like a catalog table: reads of a never-written
        table return the declared empty frame, writes align/cast to
        it, and schema evolution applies.  Idempotent for an identical
        schema; refuses redeclaration with a different one (evolve via
        ``add_column``/``drop_column`` instead)."""
        from pyspark.sql import types as T  # noqa: PLC0415

        if name in CORE_SCHEMAS or name.removesuffix(
            "_attribute"
        ) in ATTRIBUTE_PARENTS:
            raise ValueError(
                f"{name!r} is a catalog table; its schema is declared"
            )
        struct = (
            T._parse_datatype_string(schema)
            if isinstance(schema, str)
            else schema
        )
        if not isinstance(struct, T.StructType):
            raise ValueError(f"not a struct schema: {schema!r}")
        # idempotent fast path WITHOUT the writer lock: per-batch
        # callers (the streaming sketch monitors) re-declare on every
        # micro-batch, and a full lock acquire/release cycle per batch
        # was a measurable slice of their fixed cost.  A matching base
        # needs no write; mismatches still go through the locked path
        # for the authoritative re-check.
        ov = self._schema_override(name)
        if ov and ov.get("base") == struct.jsonValue():
            return
        with self._write_guard():
            ov = self._schema_override(name)
            if ov and ov.get("base"):
                if ov["base"] == struct.jsonValue():
                    return
                raise ValueError(
                    f"{name!r} already declared with a different "
                    "schema; use add_column/drop_column to evolve it"
                )
            spec = ov or {"add": [], "drop": [], "enums": {}, "uniques": []}
            spec["base"] = struct.jsonValue()
            self._write_schema_override(name, spec)

    def _evolved_struct(self, name: str):
        """Declared schema with the override applied (drops removed,
        adds appended), or None when the table has neither a declared
        base nor an override.  SESSION-TYPED: under
        ``spark.sql.timestampType=TIMESTAMP_NTZ`` the write verbs'
        ``cast("timestamp")`` resolves to NTZ, so files carry NTZ —
        the declared struct must say the same or every schema pin
        (live evolved reads, as-of manifest reads, empty-table frames)
        would disagree with what a footer read returns."""
        from pyspark.sql import types as T  # noqa: PLC0415

        base = self._base_struct(name)
        ov = self._schema_override(name)
        if base is not None and ov is not None:
            dropped = set(ov.get("drop", ()))
            fields = [f for f in base.fields if f.name not in dropped]
            for add in ov.get("add", ()):
                fields.append(
                    T.StructField(
                        add["name"],
                        T._parse_datatype_string(add["dtype"]),
                        nullable=True,
                    )
                )
            base = T.StructType(fields)
        if base is None:
            return None
        if (
            self.spark.conf.get(
                "spark.sql.timestampType", "TIMESTAMP_LTZ"
            )
            == "TIMESTAMP_NTZ"
        ):
            base = T.StructType(
                [
                    T.StructField(
                        f.name,
                        T.TimestampNTZType()
                        if isinstance(f.dataType, T.TimestampType)
                        else f.dataType,
                        f.nullable,
                        f.metadata,
                    )
                    for f in base.fields
                ]
            )
        return base

    def _evolution_guard(self, name: str, verb: str) -> dict:
        self._forbid_in_explicit_txn(verb)
        if self._base_struct(name) is None:
            raise ValueError(
                f"{verb}: {name!r} is not a catalog table — schema "
                "evolution needs a declared base schema"
            )
        return self._schema_override(name) or {
            "add": [],
            "drop": [],
            "enums": {},
            "uniques": [],
        }

    def add_column(self, name: str, column: str, dtype: str) -> None:
        """ADD COLUMN (alembic op.add_column; e.g. analysis_name,
        migrations/versions/*adding_tables*): existing files are
        untouched and read the new column as NULL; subsequent writes
        carry it.  O(1) metadata, no rewrite at any table size."""
        with self._write_guard():
            spec = self._evolution_guard(name, "add_column")
            from pyspark.sql import types as T  # noqa: PLC0415

            T._parse_datatype_string(dtype)  # validate early
            current = [f.name for f in self._evolved_struct(name).fields]
            if column in current:
                raise ValueError(f"{name!r} already has column {column!r}")
            if column in spec.get("drop", ()):
                raise ValueError(
                    f"{column!r} was DROPped from {name!r}; re-adding "
                    "would resurrect hidden file data — use a new name"
                )
            spec.setdefault("add", []).append(
                {"name": column, "dtype": dtype}
            )
            self._write_schema_override(name, spec)

    def drop_column(self, name: str, column: str) -> None:
        """Logical DROP COLUMN: reads stop projecting it; no byte of
        any file is rewritten (the physical data ages out with normal
        rewrites).  Refused for bucket keys and unique-constraint
        members."""
        with self._write_guard():
            spec = self._evolution_guard(name, "drop_column")
            current = [f.name for f in self._evolved_struct(name).fields]
            if column not in current:
                raise ValueError(f"{name!r} has no column {column!r}")
            part = self.partitioning_of(name)
            if part is not None and column in part[0]:
                raise ValueError(
                    f"cannot drop bucket key {column!r} of {name!r}"
                )
            if any(column in u for u in spec.get("uniques", ())):
                raise ValueError(
                    f"{column!r} is part of a UNIQUE constraint on "
                    f"{name!r}; drop the constraint first"
                )
            if any(
                column == fk["column"] for fk in spec.get("fks", ())
            ):
                raise ValueError(
                    f"{column!r} carries a FOREIGN KEY on {name!r}; "
                    "drop the constraint first"
                )
            adds = spec.get("add", [])
            added = [a for a in adds if a["name"] == column]
            if added:
                spec["add"] = [a for a in adds if a["name"] != column]
            else:
                spec.setdefault("drop", []).append(column)
            spec.get("enums", {}).pop(column, None)
            self._write_schema_override(name, spec)

    def modify_enum(self, name: str, column: str, values: list[str]) -> None:
        """MODIFY COLUMN ... ENUM(...): replace the column's allowed
        domain (the reference's most common migration — e.g. pipeline
        pipeline_type gaining AIRFLOW/NEXTFLOW, platform model lists
        growing).  Existing rows are NOT revalidated (MySQL keeps old
        values too); the new domain gates subsequent writes."""
        if not values:
            raise ValueError("enum domain cannot be empty")
        with self._write_guard():
            spec = self._evolution_guard(name, "modify_enum")
            current = [f.name for f in self._evolved_struct(name).fields]
            if column not in current:
                raise ValueError(f"{name!r} has no column {column!r}")
            spec.setdefault("enums", {})[column] = list(values)
            self._write_schema_override(name, spec)

    def add_unique(self, name: str, columns: list[str]) -> None:
        """ADD UNIQUE (e.g. analysis(project_id, analysis_name)):
        registered in the override and enforced on every subsequent
        ``store_records`` — within the batch and against existing rows
        (bucket-pruned when the layout allows).  Raises now if the
        CURRENT table already violates it (MySQL refuses the ALTER the
        same way).  Rows with NULL in any member column are exempt,
        matching SQL UNIQUE."""
        if not columns:
            raise ValueError("unique constraint needs columns")
        with self._write_guard():
            spec = self._evolution_guard(name, "add_unique")
            current = [f.name for f in self._evolved_struct(name).fields]
            missing = [c for c in columns if c not in current]
            if missing:
                raise ValueError(f"{name!r} has no columns {missing}")
            cur = self.table(name)
            dup = (
                cur.na.drop(subset=list(columns))
                .groupBy(*columns)
                .count()
                .filter(F.col("count") > 1)
            )
            if not dup.isEmpty():
                row = dup.first()
                raise ValueError(
                    f"existing rows violate UNIQUE{tuple(columns)} on "
                    f"{name!r}: e.g. {tuple(row[c] for c in columns)}"
                )
            uniques = spec.setdefault("uniques", [])
            if list(columns) not in uniques:
                uniques.append(list(columns))
            self._write_schema_override(name, spec)

    def add_foreign_key(
        self,
        name: str,
        column: str,
        parent_table: str,
        parent_column: str,
    ) -> None:
        """Declare a FOREIGN KEY (the reference's igfTables.py FK DDL,
        e.g. sample.project_id -> project.project_id): refused if
        current rows already orphan, then enforced on every subsequent
        ``store_records`` of the child (bucket-pruned anti-probe) and
        as ON DELETE RESTRICT on ``delete_where`` of the parent.  NULL
        child values are exempt, matching SQL FK semantics."""
        with self._write_guard():
            spec = self._evolution_guard(name, "add_foreign_key")
            current = [f.name for f in self._evolved_struct(name).fields]
            if column not in current:
                raise ValueError(f"{name!r} has no column {column!r}")
            pstruct = self._evolved_struct(parent_table)
            if pstruct is None:
                raise ValueError(
                    f"FK parent {parent_table!r} is not a catalog table"
                )
            if parent_column not in [f.name for f in pstruct.fields]:
                raise ValueError(
                    f"{parent_table!r} has no column {parent_column!r}"
                )
            orphans = (
                self.table(name)
                .na.drop(subset=[column])
                .join(
                    self.table(parent_table).select(
                        F.col(parent_column).alias(column)
                    ),
                    on=column,
                    how="left_anti",
                )
            )
            if not orphans.isEmpty():
                row = orphans.first()
                raise ValueError(
                    f"existing rows violate FK {name}.{column} -> "
                    f"{parent_table}.{parent_column}: e.g. {row[column]!r}"
                )
            fks = spec.setdefault("fks", [])
            entry = {
                "column": column,
                "parent_table": parent_table,
                "parent_column": parent_column,
            }
            if entry not in fks:
                fks.append(entry)
            self._write_schema_override(name, spec)

    def _enforce_fks(self, name: str, aligned: DataFrame) -> None:
        """Append-time FK enforcement: one keyed anti-probe per
        declared FK against the parent (the reference's DB refused
        violating inserts via the constraint)."""
        spec = self._schema_override(name)
        for fk in (spec or {}).get("fks", []):
            col = fk["column"]
            if col not in aligned.columns:
                continue
            orphans = aligned.na.drop(subset=[col]).join(
                self.table(fk["parent_table"]).select(
                    F.col(fk["parent_column"]).alias(col)
                ),
                on=col,
                how="left_anti",
            )
            if not orphans.isEmpty():
                row = orphans.first()
                raise ValueError(
                    f"append violates FK {name}.{col} -> "
                    f"{fk['parent_table']}.{fk['parent_column']}: "
                    f"{row[col]!r} has no parent row"
                )

    def _enforce_delete_restrict(
        self, name: str, keys: DataFrame, on: list[str]
    ) -> None:
        """ON DELETE RESTRICT: refuse deleting parent rows a declared
        child FK still references.  Scans the _schema overrides for
        children of ``name`` — O(#declared tables) tiny JSON reads,
        one child semi-probe per referencing FK."""
        sdir = os.path.join(self.root, "_schema")
        try:
            names = self.fs.listdir(sdir)
        except OSError:
            return
        for fn in names:
            if not fn.endswith(".json"):
                continue
            child = fn[: -len(".json")]
            spec = self._schema_override(child)
            for fk in (spec or {}).get("fks", []):
                if fk["parent_table"] != name or fk["parent_column"] not in (
                    on
                ):
                    continue
                referenced = self.table(child).join(
                    keys.select(
                        F.col(fk["parent_column"]).alias(fk["column"])
                    ),
                    on=fk["column"],
                    how="left_semi",
                )
                if not referenced.isEmpty():
                    row = referenced.first()
                    raise ValueError(
                        f"delete from {name!r} RESTRICTed: "
                        f"{child}.{fk['column']} still references "
                        f"{row[fk['column']]!r} (delete/cascade the "
                        "child rows first)"
                    )

    def _enforce_uniques(self, name: str, aligned: DataFrame) -> None:
        """Append-time UNIQUE enforcement: the reference's DB refused
        violating inserts via index; the lake equivalent is one
        within-batch agg plus one (bucket-pruned where possible)
        anti-probe against existing rows, both O(batch)-driven."""
        spec = self._schema_override(name)
        uniques = (spec or {}).get("uniques", [])
        if not uniques:
            return
        part = self.partitioning_of(name)
        for cols in uniques:
            if not set(cols) <= set(aligned.columns):
                # partial batch (merge path) without the unique
                # columns: those columns insert as NULL == exempt
                continue
            batch = aligned.na.drop(subset=cols)
            dup = (
                batch.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
            )
            # both probes (within-batch dup, clash vs existing) are
            # evaluated in ONE driver-blocking action (r12): the two
            # sequential isEmpty jobs each paid the full job floor on
            # the happy path — an isEmpty over an EMPTY probe frame
            # cannot early-exit, it scans everything.  A union of the
            # two limit-1 legs collects both verdicts in one job;
            # error identity and precedence (dup first) are unchanged.
            # (Trade-off, accepted: a batch that DOES contain a dup now
            # also builds and runs the clash leg — _touched_buckets
            # included — before raising; extra jobs on the error path
            # only, bought for one fewer job on every happy path.)
            legs = dup.limit(1).select(
                F.lit("dup").alias("__kind"),
                *[F.col(c) for c in cols],
                F.col("__n"),
            )
            if self._has_data(name):
                if part is not None and set(part[0]) <= set(cols):
                    keys, n_buckets = part
                    touched = self._touched_buckets(batch, keys, n_buckets)
                    spec_l = self._layout(name)
                    existing = self._read_buckets(
                        name,
                        self._expand_split_buckets(spec_l, touched)
                        if spec_l is not None
                        else touched,
                    )
                else:
                    existing = self.table(name)
                clash = batch.join(
                    existing.na.drop(subset=cols).select(*cols),
                    on=list(cols),
                    how="left_semi",
                )
                legs = legs.unionByName(
                    clash.limit(1).select(
                        F.lit("clash").alias("__kind"),
                        *[F.col(c) for c in cols],
                        F.lit(None).cast("long").alias("__n"),
                    )
                )
            found = {r["__kind"]: r for r in legs.collect()}
            if "dup" in found:
                row = found["dup"]
                raise ValueError(
                    f"batch violates UNIQUE{tuple(cols)} on {name!r}: "
                    f"{tuple(row[c] for c in cols)} appears "
                    f"{row['__n']} times"
                )
            if "clash" in found:
                row = found["clash"]
                raise ValueError(
                    f"append violates UNIQUE{tuple(cols)} on {name!r}: "
                    f"key {tuple(row[c] for c in cols)} already exists"
                )

    # -- storage primitives -------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table(self, name: str) -> DataFrame:
        """Read a table; empty frame with the declared schema if never
        written.  On a partitioned table the internal bucket column is
        dropped — callers see the logical schema either way."""
        df = self._read_raw(name)
        if self.partitioning_of(name) is not None:
            df = df.drop(self.BUCKET_COL)
        return df

    def _read_raw(self, name: str) -> DataFrame:
        if self.manifest_commits:
            # pointer-scoped read (object-store commit mode): crashed
            # writes are invisible orphans and mid-transaction tables
            # resolve to their journaled pre-txn pointer, so none of
            # the rename-mode strand/fence checks below apply
            return self._obj_read_raw(name)
        view = self._read_guard(name)
        if view is not None:
            return view
        p = self._path(name)
        if self._has_data(name):
            if self._schema_override(name) is not None:
                sch = self._evolved_struct(name)
                if sch is not None:
                    # explicit evolved schema: files predating an ADD
                    # COLUMN read it as NULL, DROPped columns are not
                    # projected, and mixed-schema dirs read
                    # deterministically (no footer sampling); the kb=
                    # partition column is appended by partition
                    # discovery as usual
                    return self.spark.read.schema(sch).parquet(p)
            return self.spark.read.parquet(p)
        sch = self._evolved_struct(name)
        if sch is not None:
            return self.spark.createDataFrame([], sch)
        raise KeyError(f"unknown table {name!r}")

    def _read_guard(self, name: str) -> DataFrame | None:
        """The rename-mode checks every read of ``name`` runs first.
        Returns the last-committed snapshot view while another
        writer's open transaction holds only appends to the table,
        else None (read the live tree).  Raises while that writer
        holds a swap of the table, and on any stranded sibling or swap
        temp dir a crashed mutation left behind."""
        p = self._path(name)
        if self.fs.exists(self._txn_path("pending")):
            pend = self._read_journal("pending")
            if (
                pend is not None
                and pend.get("explicit")
                and name in pend.get("tables", ())
                and (self._txn is None or self._txn.token != pend["token"])
            ):
                # the table is mid-transaction in another writer: a
                # plain read could see table A's committed half of a
                # two-table store without table B's — exactly the
                # old-or-new-never-mixed guarantee the commit log
                # exists for.  When the open txn holds only APPENDS
                # for this table (the overwhelmingly common shape),
                # serve a SNAPSHOT view instead: the journal names
                # every uncommitted file before it moves, so the last
                # committed state is current-files-minus-journaled.
                # Swap-shaped ops fence readers until commit/recovery.
                view = self._snapshot_view(name)
                if view is not None:
                    return view
                # re-check: the txn may have ended while building
                pend = self._read_journal("pending")
                if not (
                    pend is not None
                    and pend.get("explicit")
                    and name in pend.get("tables", ())
                    and (
                        self._txn is None
                        or self._txn.token != pend["token"]
                    )
                ):
                    return self._read_guard(name)
                raise RuntimeError(
                    f"table {name!r} is being rewritten by transaction "
                    f"{pend['token'][:8]} (pid {pend.get('pid')}); "
                    "retry after it commits, or call "
                    "TableStore.recover_transactions() if the writer "
                    "crashed"
                )
        if self.fs.exists(p + "__splitting"):
            # a crashed incremental rebucket: the live tree may be
            # missing a bucket (retracted into the temp) or holding a
            # partial sibling move — plain reads would silently drop
            # or double-count rows.  Refuse until the documented
            # recovery completes the split.
            raise RuntimeError(
                f"table {name!r} has a stranded sibling "
                f"{p}__splitting: an incremental rebucket crashed "
                "mid-bucket; call TableStore.resume_rebucket("
                f"{name!r}) before reading"
            )
        if self.fs.exists(p + "__precompact"):
            # a crashed TABLE-LEVEL swap (_swap / enable_partitioning)
            # left the previous copy renamed aside — and possibly the
            # live dir ABSENT, in which case a plain read would
            # silently return an empty declared-schema frame and a
            # subsequent full-rewrite mutation would persist the loss.
            # Refuse until the documented recovery restores/clears it.
            raise RuntimeError(
                f"table {name!r} has a stranded sibling "
                f"{p}__precompact: a table swap crashed mid-rename; "
                "run sources.sinks.cleanup_compaction_leftovers on "
                "the store root (it RESTORES a live-absent "
                "__precompact) before reading"
            )
        if self.fs.exists(p):
            stranded = [
                d
                for d in self.fs.listdir(p)
                if self.fs.isdir(os.path.join(p, d))
                and (
                    d.endswith(("__precompact", "__compacting", "__tmp"))
                    # a _temporary dir is Spark's in-flight append
                    # staging; under the store's single-writer-per-
                    # table model its presence at READ time means an
                    # append crashed mid-job-commit — possibly having
                    # moved SOME task outputs live (a torn append).
                    # Refuse and route to cleanup rather than silently
                    # reading a partial append.
                    or d == "_temporary"
                )
            ]
            if stranded:
                # a crashed swap left recovery artifacts; plain reads
                # would mis-discover partitions or double-count —
                # surface the documented recovery path instead of a
                # cryptic partition-inference error
                raise RuntimeError(
                    f"table {name!r} has stranded swap temp dirs "
                    f"{stranded}: a mutation crashed mid-swap; run "
                    "sources.sinks.cleanup_compaction_leftovers on "
                    f"{p} (it RESTORES a live-absent __precompact) "
                    "before reading"
                )
        return None

    def _read_buckets(self, name: str, buckets: list[int]) -> DataFrame:
        """Logical rows (``kb`` dropped) of the given buckets of a
        bucketed table — the one bucket-scoped read every keyed verb
        and partition-scoped mutation goes through.

        Runs :meth:`_read_guard` first, so a pruned read gets the same
        snapshot view, fence and stranded-sibling refusals as a full
        one.  Then it opens only the ``kb=<b>`` dirs that exist, with
        ``basePath`` (partition discovery over the touched dirs only)
        and the declared struct (no footer job to infer a schema).  No
        touched dir on disk reads as the declared empty frame."""
        if self.manifest_commits:
            view = self._read_raw(name)
        else:
            view = self._read_guard(name)
        if view is None:
            p = self._path(name)
            dirs = [
                d
                for d in (
                    os.path.join(p, f"{self.BUCKET_COL}={int(b)}")
                    for b in buckets
                )
                if self.fs.exists(d)
            ]
            sch = self._evolved_struct(name)
            if not dirs:
                if sch is None:
                    raise KeyError(f"unknown table {name!r}")
                return self.spark.createDataFrame([], sch)
            reader = self.spark.read.option("basePath", p)
            if sch is not None:
                reader = reader.schema(sch)
            return reader.parquet(*dirs).drop(self.BUCKET_COL)
        if self.BUCKET_COL not in view.columns:
            return view  # dataless: the declared empty frame
        return view.filter(
            F.col(self.BUCKET_COL).isin([int(b) for b in buckets])
        ).drop(self.BUCKET_COL)

    def _declared_dtypes(self, name: str) -> list[tuple[str, str]] | None:
        """(column, spark dtype) pairs from the CATALOG's declared
        schema — the write verbs align/cast against this instead of a
        ``spark.read.parquet`` schema resolution (a driver-side file
        listing + footer read that costs ~100 ms per call and adds
        nothing: the store only ever writes catalog tables, whose
        on-disk schema IS the declared one).  None for unknown
        tables.  Applies the schema-evolution override (adds/drops)."""
        sch = self._evolved_struct(name)
        if sch is None:
            return None
        return [(f.name, f.dataType.simpleString()) for f in sch.fields]

    def _column_dtypes(self, name: str) -> dict[str, str]:
        """Column -> spark dtype: the declared ones, or (an undeclared
        table) the ones a read of its files resolves."""
        decl = self._declared_dtypes(name)
        return dict(decl if decl is not None else self.table(name).dtypes)

    def _snapshot_view(self, name: str) -> DataFrame | None:
        """Last-COMMITTED view of ``name`` while another writer's
        transaction holds uncommitted APPENDS to it (snapshot
        isolation for the append-only case): every in-txn append
        journals its destination paths BEFORE the first move, so the
        committed state is exactly the table's current files minus the
        journaled ones.

        Race-free by ordering: the file listing is taken FIRST, the
        journal read SECOND — any txn file present in the listing was
        necessarily journaled before its move, so the later journal
        read always covers it; files a newer op moves in after the
        listing simply aren't in the listing.  A rollback meanwhile
        only deletes journaled (= excluded) files; a commit leaves
        everything in place (and then including them would have been
        correct anyway, but the listing predates that knowledge, so
        the view stays the pre-commit snapshot — still a consistent
        committed state).

        Returns None when the txn holds NON-append ops for this table
        (a swap/bucket-swap mid-flight has no reconstructible live
        view — the caller falls back to fencing) or when no pending
        txn names the table anymore."""
        p = self._path(name)
        files = []
        if self.fs.exists(p):
            for dirpath, _dirs, fnames in self.fs.walk(p):
                for fn in fnames:
                    if fn.endswith(".parquet"):
                        files.append(os.path.join(dirpath, fn))
        pend = self._read_journal("pending")  # AFTER the listing
        if pend is None or not pend.get("explicit"):
            return None
        ops = [
            op for op in pend.get("ops", []) if op.get("table") == name
        ]
        if name not in pend.get("tables", ()) and not ops:
            return None
        if any(op["kind"] != "append" for op in ops):
            return None
        excluded = {
            os.path.join(self.root, rel)
            for op in ops
            for rel in op["files"]
        }
        keep = [f for f in files if f not in excluded]
        if not keep:
            # committed state is empty: declared schema, like a
            # never-written table
            sch = self._evolved_struct(name)
            if sch is not None:
                return self.spark.createDataFrame([], sch)
            return None
        # basePath keeps kb= partition-column inference working on an
        # explicit file list; with an evolution override the evolved
        # schema is pinned explicitly (mixed-schema file lists must
        # not depend on footer sampling)
        reader = self.spark.read.option("basePath", p)
        if self._schema_override(name) is not None:
            sch = self._evolved_struct(name)
            if sch is not None:
                reader = reader.schema(sch)
        return reader.parquet(*keep)

    def has_data(self, name: str) -> bool:
        """True iff the table has at least one parquet file on disk —
        the public existence probe (cheap: one directory walk, no
        Spark job); a declared-but-never-written table reads as an
        empty frame and reports False here."""
        return self._has_data(name)

    def _has_data(self, name: str) -> bool:
        """True iff the table has at least one parquet file on disk."""
        if self.manifest_commits:
            doc = self._ptr_doc_of_text(self._read_ptr_text(name))
            if doc is not None and doc.get("format") == 2:
                # sharded root: file counts live in the root rows — no
                # shard-object reads for an existence probe
                return any(int(s[2]) for s in doc.get("shards", ()))
            return bool(self._obj_current_files(name))
        p = self._path(name)
        return self.fs.exists(p) and any(
            f.endswith(".parquet")
            for _, _, files in self.fs.walk(p)
            for f in files
        )

    def table_bytes(self, name: str) -> int:
        """On-disk bytes of a table — the volume signal bucket sizing
        uses.  Hadoop FileSystem content summary through the JVM (the
        same signal ``compact_dataset`` sizes output files from), so
        the SIGNAL works on any scheme a real deployment points
        ``root`` at; 0 for a never-written table.

        Round-9: the MAINTENANCE this signal triggers now shares that
        reach — every sidecar/journal/manifest/rename primitive runs
        through ``self.fs`` (fsio.py), so rebucket/compact/``_swap``
        and the commit log work on any rename-atomic scheme
        (``hdfs://``, ``file://``, ``viewfs://``).  Round-10:
        object-store schemes run the manifest-pointer commit mode,
        whose pointer records per-file sizes at write time — the
        volume signal is one JSON read there (a contentSummary walk
        would also count superseded-but-retained files)."""
        if self.manifest_commits:
            doc = self._ptr_doc_of_text(self._read_ptr_text(name))
            if doc is not None and doc.get("format") == 2:
                # sharded root: byte totals live in the root rows
                return int(sum(int(s[3]) for s in doc.get("shards", ())))
            return int(
                sum(int(e[2]) for e in self._obj_current_files(name))
            )
        p = self._path(name)
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            return 0
        return int(fs.getContentSummary(path).getLength())

    def _swap(self, name: str, df: DataFrame) -> None:
        """Atomic-enough FULL-table replace: write to a temp dir, then
        move into place.  The default physical path for small dims;
        big mutable facts should :meth:`enable_partitioning` so
        upsert/delete rewrite only touched buckets.

        Partitioning-aware: on a bucketed table the replacement is
        written in the bucketed layout and the sidecar re-created —
        otherwise any full-rewrite caller (store_with_attributes' EAV
        dedup, a direct _swap) would silently flatten the table while
        the cached spec still claims it is bucketed, corrupting the
        next partition-scoped mutation."""
        self._check_mutable(name)
        from data_management_python_spark.sources.sinks import (  # noqa: PLC0415
            swap_directory,
        )

        part = self.partitioning_of(name)

        def write_replacement(tmp: str) -> None:
            w = df
            if part is not None:
                keys, n_buckets = part
                w = self._cluster_by_bucket(
                    df.withColumn(
                        self.BUCKET_COL,
                        self._bucket_expr(keys, n_buckets),
                    ),
                    n_buckets,
                )  # one file per bucket
            writer = w.write.mode("overwrite")
            if part is not None:
                writer = writer.partitionBy(self.BUCKET_COL)
            writer.parquet(tmp)
            if part is not None:
                # the sidecar travels INSIDE the temp dir so spec +
                # data move atomically: a crash can never leave
                # bucketed data with no spec (which would silently
                # flatten the layout — table() would stop dropping the
                # internal kb column)
                keys, n_buckets = part
                self.fs.write_text_atomic(
                    os.path.join(tmp, "_partitioning.json"),
                    json.dumps({"keys": keys, "n_buckets": n_buckets}),
                )

        if self.manifest_commits:
            # object-store mode: a "swap" is a new segment + pointer
            # flip — pre-image survival and crash atomicity come from
            # the objptr journal, in or out of an explicit txn
            self._obj_replace(name, write_replacement)
            return
        if self._txn is not None and self._txn.explicit:
            # inside a transaction the pre-image must survive until
            # COMMIT (not just until the renames finish): route through
            # the journaled txn swap instead of the immediate one
            self._txn_swap(name, write_replacement)
            return
        tmp = self._path(name) + "__tmp"
        write_replacement(tmp)
        # crash-safe replace: the old copy is renamed aside (never
        # deleted before the replacement is in place) and every crash
        # state is recoverable by cleanup_compaction_leftovers; the
        # old rmtree-then-replace left a window where the table dir
        # was simply ABSENT and reads returned an empty frame
        swap_directory(self.spark, self._path(name), tmp)

    def _txn_swap(self, name: str, write_fn) -> None:
        """Explicit-txn table replace: ``write_fn(tmp_dir)`` writes the
        replacement, which then becomes live — but the PRE-IMAGE
        survives (renamed aside) until the transaction commits, so a
        crash anywhere in the txn rolls the table back exactly.  The
        op is journaled BEFORE the write (idempotent undo covers every
        phase: mid-write, between renames, mid-undo)."""
        t = self._txn
        live = self._path(name)
        with self._txn_mutex:
            seq = t.seq
            t.seq += 1
        pre_rel = f"{name}__txnpre-{t.token[:8]}-{seq}"
        tmp_rel = f"{name}__txntmp-{t.token[:8]}-{seq}"
        op = {
            "kind": "swap",
            "table": name,
            "pre": pre_rel,
            "tmp": tmp_rel,
            "had_live": self.fs.exists(live),
        }
        self._journal_op(name, op)
        tmp = os.path.join(self.root, tmp_rel)
        write_fn(tmp)
        if op["had_live"]:
            self.fs.replace(live, os.path.join(self.root, pre_rel))
        self.fs.replace(tmp, live)

    # -- hash-bucket partitioning (partition-scoped MERGE substrate) --------

    def _sidecar(self, name: str) -> str:
        return os.path.join(self._path(name), "_partitioning.json")

    def partitioning_of(self, name: str) -> tuple[list[str], int] | None:
        """(bucket key columns, n_buckets) if ``name`` is partitioned.
        Persisted as an underscore-prefixed sidecar INSIDE the table
        dir (invisible to Spark reads), so a new TableStore over an
        existing root sees the same layout.

        Read FRESH on every call (one tiny local file): an instance
        cache was safe while layouts were immutable, but ``rebucket``
        made the count changeable — a second long-lived TableStore
        over the same root holding a cached old count would prune
        reads to buckets that no longer hold the rows and bucket
        appends at the wrong granularity."""
        spec = self._layout(name)
        if spec is None:
            return None
        return (list(spec["keys"]), int(spec["n_buckets"]))

    def _layout(self, name: str) -> dict | None:
        """One-shot sidecar snapshot (raw dict, or None when
        unpartitioned).  Readers that derive several decisions from
        the layout — the bucket count AND the split-expansion — must
        work from ONE snapshot: two reads straddling a concurrent
        rebucket flip would hash keys at the old count and then skip
        the expansion, pruning to buckets that no longer hold the
        rows."""
        try:
            return json.loads(self.fs.read_text(self._sidecar(name)))
        except (OSError, ValueError):
            return None

    def _split_state(self, name: str) -> dict | None:
        """Raw sidecar when an incremental rebucket is UNFINISHED
        (``splitting_to`` present), else None.  Never cached — the
        state changes bucket by bucket during the split."""
        spec = self._layout(name)
        return spec if spec is not None and "splitting_to" in spec else None

    def _write_sidecar_atomic(self, name: str, spec: dict) -> None:
        self.fs.write_text_atomic(self._sidecar(name), json.dumps(spec))

    def _check_mutable(self, name: str) -> None:
        """Mutations and appends REFUSE while an incremental rebucket
        is unfinished: a write at the old bucket granularity into an
        already-split bucket dir would be misplaced the moment the
        layout flips (pruned reads would then miss it)."""
        if self._split_state(name) is not None:
            raise RuntimeError(
                f"table {name!r} has an unfinished incremental "
                "rebucket; call resume_rebucket before writing"
            )

    @staticmethod
    def _expand_split_buckets(spec: dict, buckets: list[int]) -> list[int]:
        """Bucket-prune set that stays CORRECT mid-split: while a
        table is split bucket-by-bucket, a row of old bucket ``b``
        lives either in ``kb=b`` (not yet split) or in one of
        ``kb=b + k*old`` (split) — the pruned read must include them
        all.  Works from the caller's ONE sidecar snapshot (see
        :meth:`_layout`); no-op when that snapshot has no split in
        flight."""
        if "splitting_to" not in spec:
            return buckets
        old, new = int(spec["n_buckets"]), int(spec["splitting_to"])
        return sorted(
            {b + k * old for b in buckets for k in range(new // old)}
        )

    def _bucket_expr(self, keys: list[str], n_buckets: int):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
        ).cast("int")

    def _cluster_by_bucket(self, df: DataFrame, n_buckets: int) -> DataFrame:
        """Hash-cluster a frame on the bucket column with a PINNED
        partition count: ``min(n_buckets, session shuffle
        partitions)``.  Any hash repartition on ``kb`` puts each
        bucket wholly in one task (the one-file-per-bucket write
        contract); pinning the count skips AQE's per-write query-stage
        materialization round-trip — ~0.2 s of fixed cost on a small
        batch, nothing lost at scale where the deployment's own
        ``spark.sql.shuffle.partitions`` bounds the task count
        anyway (and more tasks than buckets can never help, since a
        bucket can't split across files)."""
        try:
            sp = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):  # e.g. unset/auto: let AQE size
            return df.repartition(F.col(self.BUCKET_COL))
        return df.repartition(
            max(1, min(n_buckets, sp)), F.col(self.BUCKET_COL)
        )

    def enable_partitioning(
        self, name: str, keys: list[str], n_buckets: int | None = None
    ) -> None:
        """Convert ``name`` to a hash-bucketed layout: rows live under
        ``kb=<pmod(xxhash64(keys), n_buckets)>`` partition dirs, so a
        mutation touching k keys rewrites ONLY the buckets containing
        them — the physical fix for the 100-TB fact-table problem
        where a 1-row upsert through the full-table swap rewrites
        everything.  The logical schema is unchanged (:meth:`table`
        drops the bucket column).  Reference analog: the ORM adaptors'
        row-scoped UPDATE (collectionadaptor.py:101-261,
        pipelineadaptor.py:293-494) — a lake's unit of rewrite is a
        partition, so bucket count bounds write amplification at
        |table| / n_buckets per touched key.

        ``n_buckets=None`` (round-7) sizes the layout from the table's
        actual on-disk bytes via :func:`suggest_bucket_count` at this
        store's ``target_bucket_bytes`` (floor ``MIN_AUTO_BUCKETS``).
        """
        with self._write_guard():
            in_txn = self._txn is not None and self._txn.explicit
            self._enable_partitioning_locked(name, keys, n_buckets)
            if not in_txn and self._history_on():
                # non-txn layout conversion swaps files with no
                # journaled pre-image: history collapses to the
                # post-conversion state (inside a transaction the swap
                # IS journaled and commit manifests it instead)
                self._truncate_history(name, "enable_partitioning")

    def _enable_partitioning_locked(
        self, name: str, keys: list[str], n_buckets: int | None
    ) -> None:
        if n_buckets is None:
            n_buckets = suggest_bucket_count(
                self.table_bytes(name),
                self.target_bucket_bytes,
                min_buckets=self.MIN_AUTO_BUCKETS,
            )
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        existing = self.partitioning_of(name)
        if existing is not None:
            if existing == (list(keys), n_buckets):
                return
            raise ValueError(
                f"{name} already partitioned as {existing}; "
                "repartitioning in place is not supported"
            )
        current = self.table(name)  # resolves schema even if unwritten
        if self.BUCKET_COL in current.columns:
            raise ValueError(
                f"{name} has a {self.BUCKET_COL!r} column — the bucket "
                "column name is reserved on partitioned tables"
            )
        missing = [k for k in keys if k not in current.columns]
        if missing:
            raise KeyError(f"bucket keys absent from {name}: {missing}")
        if not self._has_data(name):
            # dataless table: the layout IS the sidecar — write it and
            # skip the empty-frame Spark write + swap entirely (the
            # create-bucketed-from-the-start path costs zero jobs; the
            # first append then lands bucketed)
            if self._txn is not None and self._txn.explicit:
                # undoable: rollback removes the sidecar again
                self._journal_op(
                    name, {"kind": "sidecar", "table": name, "had": None}
                )
            self.fs.makedirs(self._path(name))
            # atomic (tmp + rename): a torn sidecar parses as
            # unpartitioned and the next append would land FLAT
            self._write_sidecar_atomic(
                name, {"keys": list(keys), "n_buckets": n_buckets}
            )
            return

        def write_bucketed(tmp: str) -> None:
            (
                self._cluster_by_bucket(
                    current.withColumn(
                        self.BUCKET_COL,
                        self._bucket_expr(list(keys), n_buckets),
                    ),
                    n_buckets,
                )  # one file per bucket
                .write.mode("overwrite")
                .partitionBy(self.BUCKET_COL)
                .parquet(tmp)
            )
            # sidecar INSIDE the temp dir: spec + data swap in
            # atomically (see _swap)
            self.fs.write_text_atomic(
                os.path.join(tmp, "_partitioning.json"),
                json.dumps({"keys": list(keys), "n_buckets": n_buckets}),
            )

        if self.manifest_commits:
            self._obj_replace(name, write_bucketed)
            return
        if self._txn is not None and self._txn.explicit:
            # conversion rewrite inside a transaction: the pre-image
            # (data + absent sidecar, both under the table dir) must
            # survive until commit
            self._txn_swap(name, write_bucketed)
            return
        from data_management_python_spark.sources.sinks import (  # noqa: PLC0415
            swap_directory,
        )

        tmp = self._path(name) + "__tmp"
        write_bucketed(tmp)
        swap_directory(self.spark, self._path(name), tmp)

    def rebucket(
        self, name: str, n_buckets: int, incremental: bool | None = None
    ) -> None:
        """Re-layout a bucketed table at a new bucket count (same
        keys) — the outgrown-spec escape hatch ``enable_partitioning``
        refuses.

        When the new count is a MULTIPLE of the old (the shape
        :func:`suggest_bucket_count`'s power-of-two policy always
        produces), the default is the INCREMENTAL SPLIT: under
        ``pmod(hash, old)`` a row of bucket ``b`` can only land in
        ``{b + k*old}`` under the larger count, so each old bucket is
        read, re-hashed, and swapped INDEPENDENTLY — one
        bucket-sized job at a time, bounded temp space, resumable
        after a crash (:meth:`resume_rebucket`), with per-bucket
        progress in the sidecar.  At 100 TB this is the difference
        between one monolithic full-table rewrite job and a stream of
        256 MB maintenance tasks.  ``incremental=False`` forces the
        one-shot full rewrite; non-multiple targets always use it.
        Cost either way is amortized O(1) per stored byte under
        :meth:`maybe_rebucket`'s doubling policy."""
        self._forbid_in_explicit_txn("rebucket")
        with self._write_guard():
            part = self.partitioning_of(name)
            self._rebucket_locked(name, n_buckets, incremental)
            if (
                self._history_on()
                and part is not None
                and int(part[1]) != int(n_buckets)
            ):
                # files moved between buckets with no journaled
                # pre-images: older manifests are unresolvable
                self._truncate_history(name, "rebucket")

    def _rebucket_locked(
        self, name: str, n_buckets: int, incremental: bool | None
    ) -> None:
        self._check_mutable(name)
        part = self.partitioning_of(name)
        if part is None:
            raise ValueError(
                f"{name} is not partitioned; use enable_partitioning"
            )
        keys, old = part
        if n_buckets == old:
            return
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        splittable = n_buckets > old and n_buckets % old == 0
        if incremental and not splittable:
            raise ValueError(
                f"incremental rebucket needs the new count to be a "
                f"multiple of the old ({old} -> {n_buckets} is not)"
            )
        if self.manifest_commits:
            if splittable and incremental is not False:
                self._obj_split_rebucket(name, keys, old, n_buckets)
                return
            current = self.table(name)

            def write_rebucketed(tmp: str) -> None:
                (
                    self._cluster_by_bucket(
                        current.withColumn(
                            self.BUCKET_COL,
                            self._bucket_expr(keys, n_buckets),
                        ),
                        n_buckets,
                    )
                    .write.mode("overwrite")
                    .partitionBy(self.BUCKET_COL)
                    .parquet(tmp)
                )
                self.fs.write_text_atomic(
                    os.path.join(tmp, "_partitioning.json"),
                    json.dumps(
                        {"keys": keys, "n_buckets": n_buckets}
                    ),
                )

            self._obj_replace(name, write_rebucketed)
            return
        if splittable and incremental is not False:
            self._split_rebucket(name, keys, old, n_buckets)
            return
        from data_management_python_spark.sources.sinks import (  # noqa: PLC0415
            swap_directory,
        )

        current = self.table(name)
        tmp = self._path(name) + "__tmp"
        (
            self._cluster_by_bucket(
                current.withColumn(
                    self.BUCKET_COL, self._bucket_expr(keys, n_buckets)
                ),
                n_buckets,
            )  # one file per bucket
            .write.mode("overwrite")
            .partitionBy(self.BUCKET_COL)
            .parquet(tmp)
        )
        self.fs.write_text_atomic(
            os.path.join(tmp, "_partitioning.json"),
            json.dumps({"keys": keys, "n_buckets": n_buckets}),
        )
        swap_directory(self.spark, self._path(name), tmp)

    def _split_one_bucket(
        self, name: str, keys: list[str], old: int, new: int, b: int
    ) -> None:
        """Split live bucket ``b`` into its ``{b + k*old}`` children.

        Commit protocol (each step one rename, every crash state
        recoverable by :meth:`resume_rebucket`):
          (w) write the re-hashed children to ``{table}__splitting``
          (a) retract live ``kb=b`` INTO the temp as ``__old_kb=b`` —
              from here the temp holds the bucket's only full copy,
              and reads refuse on the stranded temp
          (b) move each child dir into the live tree
          (c) drop the temp (including the superseded ``__old`` copy)
        Only ever invoked on a bucket with NO live children (the
        split loop skips already-split-but-unmarked buckets), so a
        retraction marker in the temp always implies every existing
        child came from the current attempt and is reconstructible
        from the marker — the invariant recovery's
        delete-children-then-restore depends on."""
        path = self._path(name)
        tmp = path + "__splitting"
        if self.fs.exists(tmp):
            self.fs.rmtree(tmp)
        live = os.path.join(path, f"{self.BUCKET_COL}={b}")
        (
            self._cluster_by_bucket(
                self.spark.read.parquet(live).withColumn(
                    self.BUCKET_COL, self._bucket_expr(keys, new)
                ),
                new,
            )
            .write.mode("overwrite")
            .partitionBy(self.BUCKET_COL)
            .parquet(tmp)
        )
        self.fs.replace(live, os.path.join(tmp, f"__old_{self.BUCKET_COL}={b}"))
        for k in range(new // old):
            child = f"{self.BUCKET_COL}={b + k * old}"
            src = os.path.join(tmp, child)
            if self.fs.exists(src):
                self.fs.replace(src, os.path.join(path, child))
        # SUPERSEDE the retracted copy with one atomic rename BEFORE
        # deleting anything: rmtree is not atomic, and a crash midway
        # through it would leave a PARTIAL __old marker that recovery
        # would otherwise restore as the bucket's only copy — silent
        # row loss inside the crash-safety machinery itself.  With the
        # marker renamed aside, recovery sees a markerless temp (a
        # dead partial write) and simply drops it; the children are
        # already complete in the live tree.
        self.fs.replace(
            os.path.join(tmp, f"__old_{self.BUCKET_COL}={b}"),
            os.path.join(tmp, f"__superseded_{self.BUCKET_COL}={b}"),
        )
        self.fs.rmtree(tmp)

    def _split_rebucket(
        self, name: str, keys: list[str], old: int, new: int
    ) -> None:
        path = self._path(name)
        st = self._split_state(name)
        if st is None:
            st = {
                "keys": list(keys),
                "n_buckets": old,
                "splitting_to": new,
                "split_done": [],
            }
            self._write_sidecar_atomic(name, st)
        done = set(int(b) for b in st["split_done"])
        for b in range(old):
            if b in done:
                continue
            # SKIP a bucket that already has live children: within one
            # split operation, any dir id >= old with residue b mod old
            # can ONLY have come from b's own (completed but unmarked)
            # split — the pre-split layout held ids < old and mutations
            # are blocked.  Re-splitting such a bucket would retract
            # ONLY kb=b (the rows that re-hashed to b) and a crash
            # there would make recovery's delete-children-and-restore
            # destroy the sibling children, whose rows are NOT in the
            # retracted copy — permanent loss.  Skipping keeps the
            # invariant recovery relies on: a retraction marker always
            # implies every existing child came from the current
            # attempt and is reconstructible from the marker.
            already_split = any(
                self.fs.exists(
                    os.path.join(path, f"{self.BUCKET_COL}={b + k * old}")
                )
                for k in range(1, new // old)
            )
            if not already_split and self.fs.exists(
                os.path.join(path, f"{self.BUCKET_COL}={b}")
            ):
                self._split_one_bucket(name, keys, old, new, b)
            st["split_done"] = sorted(done | {b})
            done.add(b)
            self._write_sidecar_atomic(name, st)
        self._write_sidecar_atomic(
            name, {"keys": list(keys), "n_buckets": new}
        )

    def resume_rebucket(self, name: str) -> None:
        """Crash recovery + completion for an interrupted incremental
        rebucket.  First repairs any stranded ``__splitting`` temp:
        with the ``__old_kb=b`` marker present, every (possibly
        partially) moved-in child dir of ``b`` is deleted and the
        retracted original renamed back — the marker is only ever
        created for a bucket that had NO pre-existing children (the
        split loop skips completed-but-unmarked buckets), so every
        child present came from the crashed attempt and is fully
        reconstructible; without the marker the temp is a dead
        partial write (or an already-superseded copy whose children
        are complete in the live tree) and is dropped.  Then the
        remaining buckets split and the layout flips.  A no-op when
        no split is in flight."""
        self._forbid_in_explicit_txn("resume_rebucket")
        with self._write_guard():
            had_split = self._split_state(name) is not None
            self._resume_rebucket_locked(name)
            if had_split and self._history_on():
                self._truncate_history(name, "rebucket")

    def _resume_rebucket_locked(self, name: str) -> None:
        st = self._split_state(name)
        if self.manifest_commits:
            if st is not None:
                # continue the checkpointed split from its done-list
                self._obj_split_rebucket(
                    name,
                    list(st["keys"]),
                    int(st["n_buckets"]),
                    int(st["splitting_to"]),
                )
            return
        path = self._path(name)
        tmp = path + "__splitting"
        if st is None:
            if self.fs.exists(tmp):  # flip already happened
                self.fs.rmtree(tmp)
            return
        old, new = int(st["n_buckets"]), int(st["splitting_to"])
        if self.fs.exists(tmp):
            marker = [
                d
                for d in self.fs.listdir(tmp)
                if d.startswith(f"__old_{self.BUCKET_COL}=")
            ]
            if marker:
                b = int(marker[0].split("=", 1)[1])
                for k in range(new // old):
                    child = os.path.join(
                        path, f"{self.BUCKET_COL}={b + k * old}"
                    )
                    if self.fs.exists(child):
                        self.fs.rmtree(child)
                self.fs.replace(
                    os.path.join(tmp, marker[0]),
                    os.path.join(path, f"{self.BUCKET_COL}={b}"),
                )
            self.fs.rmtree(tmp)
        self._split_rebucket(name, list(st["keys"]), old, new)

    def maybe_rebucket(
        self, name: str, target_bucket_bytes: int | None = None
    ) -> int | None:
        """Grow ``name``'s bucket count when the table has outgrown its
        spec: when average bucket size exceeds 2x the target, rewrite
        at :func:`suggest_bucket_count` of the ACTUAL on-disk bytes
        (at least a doubling).  Returns the new count, or None when the
        layout already fits.  The 2x slack plus power-of-two growth
        means a rewrite fires only when the table has doubled since
        the last one — total rewritten bytes stay ~2x the final size.
        The check itself is metadata-only (one FS content summary)."""
        part = self.partitioning_of(name)
        if part is None:
            return None
        target = target_bucket_bytes or self.target_bucket_bytes
        _, n = part
        size = self.table_bytes(name)
        if size <= 2 * target * n:
            return None
        new_n = suggest_bucket_count(size, target, min_buckets=n * 2)
        self.rebucket(name, new_n)
        return new_n

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        min_small_files: int = 2,
    ) -> list[str]:
        """Bucket-granular small-file compaction — the maintenance
        counterpart of the append-only write path: every
        ``store_records``/EAV store adds one file per touched bucket,
        so a hot bucket accumulates files batch by batch.  This plans
        over the bucket dirs (metadata-only census), rewrites ONLY the
        flagged ones to ~``target_file_bytes`` files (one bounded job
        per bucket, crash-safe swap via the shared compaction
        primitives), and leaves every other bucket's files
        byte-identical.  Returns the rewritten bucket dirs.  Bucketed
        tables only — point unbucketed tables at
        ``sources.sinks.compact_dataset``."""
        self._forbid_in_explicit_txn("compact")
        with self._write_guard():
            out = self._compact_locked(
                name, target_file_bytes, small_file_bytes, min_small_files
            )
            if out and self._history_on():
                # rewritten buckets lost their old files un-archived
                self._truncate_history(name, "compact")
            return out

    def _compact_locked(
        self,
        name: str,
        target_file_bytes: int,
        small_file_bytes: int | None,
        min_small_files: int,
    ) -> list[str]:
        self._check_mutable(name)
        if self.partitioning_of(name) is None:
            raise ValueError(
                f"{name} is not bucketed; use "
                "sources.sinks.compact_dataset for flat tables"
            )
        if not self._has_data(name):
            return []
        if self.manifest_commits:
            return self._obj_compact(
                name, target_file_bytes, small_file_bytes, min_small_files
            )
        from data_management_python_spark.sources.sinks import (  # noqa: PLC0415
            compact_partitions,
            plan_partition_compaction,
        )

        path = self._path(name)
        plan = plan_partition_compaction(
            self.spark,
            path,
            target_file_bytes=target_file_bytes,
            small_file_bytes=small_file_bytes,
            min_small_files=min_small_files,
        )
        return compact_partitions(self.spark, path, plan)

    def _touched_buckets(
        self, frame: DataFrame, keys: list[str], n_buckets: int
    ) -> list[int]:
        """Distinct bucket ids a key frame lands in, hashed with the
        frame's own column types — callers cast the keys to the
        table's declared types first (xxhash64 is type-sensitive).

        A driver-resident frame (a client batch after
        :func:`_local_batch`) has its key columns collected — no job
        when the plan folds into a LocalRelation — and hashed on the
        driver by the same XxHash64 port keyed reads use.  Any other
        frame, or a key type the port does not cover, runs one
        collect_set job (partial per-partition sets, one single-task
        final combine) instead of distinct+collect: same answer, one
        reduce task instead of a full shuffle fan-out, and bucket ids
        are never NULL (xxhash64 is null-tolerant and non-null)."""
        if _driver_resident(frame):
            dtypes = dict(frame.dtypes)
            got = _driver_buckets(
                frame.select(*keys).collect(),
                [dtypes[k] for k in keys],
                n_buckets,
            )
            if got is not None:
                return got
        got = frame.select(
            F.collect_set(
                self._bucket_expr(keys, n_buckets)
            ).alias("bs")
        ).first()
        return sorted(int(b) for b in (got["bs"] or []))

    def _merge_partitioned(
        self,
        name: str,
        touched: list[int],
        rewrite,
    ) -> None:
        """Shared partition-scoped mutation driver: read ONLY the
        touched buckets (partition-pruned scan), apply ``rewrite``
        (logical rows -> logical rows), write the result bucketed to a
        temp tree, then crash-safe swap each touched bucket dir via
        :func:`swap_directory` — the same primitive partition
        compaction uses, with the same recovery story
        (:func:`cleanup_compaction_leftovers` restores a crash between
        renames).  Untouched bucket dirs are never read, never
        written."""
        self._check_mutable(name)
        from data_management_python_spark.sources.sinks import (  # noqa: PLC0415
            swap_directory,
        )

        keys, n_buckets = self.partitioning_of(name)
        path = self._path(name)
        current = None
        if self.manifest_commits:
            # sharded-root fast path: a partition-scoped merge reads
            # only the touched buckets' shard objects (the write side
            # already retires via _obj_entries_for_buckets — this
            # makes the READ of the current rows O(touched) too)
            pruned = self._obj_read_buckets(name, touched)
            if pruned is not None and self.BUCKET_COL in pruned.columns:
                current = pruned.filter(
                    F.col(self.BUCKET_COL).isin(
                        [int(b) for b in touched]
                    )
                ).drop(self.BUCKET_COL)
        if current is None:
            current = self._read_buckets(name, touched)
        out = self._cluster_by_bucket(
            rewrite(current).withColumn(
                self.BUCKET_COL, self._bucket_expr(keys, n_buckets)
            ),
            n_buckets,
        )  # one file per bucket
        if self.manifest_commits:
            self._obj_merge_buckets(name, touched, out)
            return
        if self._txn is not None and self._txn.explicit:
            # inside a transaction every touched bucket's pre-image
            # must survive until COMMIT so the whole txn can roll back
            self._txn_merge_buckets(name, touched, out)
            return
        tmp_root = path + "__merging"
        if self.fs.exists(tmp_root):
            self.fs.rmtree(tmp_root)
        out.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
            tmp_root
        )
        for b in touched:
            live = f"{path}/{self.BUCKET_COL}={b}"
            tmp = f"{tmp_root}/{self.BUCKET_COL}={b}"
            if self.fs.exists(tmp):
                swap_directory(self.spark, live, tmp)
            elif self.fs.exists(live):
                # every row in the bucket was deleted: rename the live
                # dir INTO the merge temp tree (atomic, same fs) before
                # anything is removed — a crash mid-delete then leaves
                # the data under {path}__merging (a sibling Spark never
                # reads, swept by cleanup_compaction_leftovers), never
                # a half-deleted live bucket that reads as a random
                # subset of the old rows
                self.fs.replace(
                    live,
                    os.path.join(tmp_root, f"__deleted_{self.BUCKET_COL}={b}"),
                )
        self.fs.rmtree(tmp_root)

    def _txn_merge_buckets(
        self, name: str, touched: list[int], out: DataFrame
    ) -> None:
        """Explicit-txn variant of the partition-scoped merge: the new
        bucket tree is written to a txn temp, each touched live bucket
        is RETRACTED into a pre-image tree (one rename), and the new
        bucket moved in — pre + tmp survive until the transaction
        commits, so upsert/delete_where participate in multi-table
        atomicity.  The op (with per-bucket had_live flags) is
        journaled BEFORE the Spark write; undo restores each bucket to
        exactly its phase — and while the loop is mid-flight the table
        is inconsistent ACROSS buckets, which is precisely what the
        reader txn fencing exists to hide."""
        t = self._txn
        with self._txn_mutex:
            seq = t.seq
            t.seq += 1
        pre_rel = f"{name}__txnmrgpre-{t.token[:8]}-{seq}"
        tmp_rel = f"{name}__txnmrgtmp-{t.token[:8]}-{seq}"
        path = self._path(name)
        op = {
            "kind": "bucket_swap",
            "table": name,
            "pre": pre_rel,
            "tmp": tmp_rel,
            "buckets": [
                [
                    int(b),
                    self.fs.exists(
                        os.path.join(path, f"{self.BUCKET_COL}={b}")
                    ),
                ]
                for b in touched
            ],
        }
        self._journal_op(name, op)
        tmp_root = os.path.join(self.root, tmp_rel)
        pre_root = os.path.join(self.root, pre_rel)
        out.write.mode("overwrite").partitionBy(self.BUCKET_COL).parquet(
            tmp_root
        )
        self.fs.makedirs(pre_root)
        for b, had_live in op["buckets"]:
            live = os.path.join(path, f"{self.BUCKET_COL}={b}")
            new = os.path.join(tmp_root, f"{self.BUCKET_COL}={b}")
            if had_live:
                self.fs.replace(
                    live, os.path.join(pre_root, f"{self.BUCKET_COL}={b}")
                )
            if self.fs.exists(new):
                self.fs.replace(new, live)
            # (no new dir = every row of the bucket deleted: the
            # retraction above already removed it from the live tree)

    # -- reference-adaptor verbs --------------------------------------------

    def _txn_append(self, name: str, writer_df, partitioned: bool) -> None:
        """Explicit-txn append: STAGE the write, journal every
        destination path, then move files in one by one — each move an
        atomic rename, each destination undoable.  The journal op is
        written BEFORE the Spark job (a crash mid-write then cleans the
        stage instead of leaking it); the file list is journaled after
        the write but BEFORE the first move, so undo always knows the
        complete set of moved-or-movable files."""
        t = self._txn
        with self._txn_mutex:
            seq = t.seq
            t.seq += 1
        stage_rel = f"{name}__txnstage-{t.token[:8]}-{seq}"
        op = {"kind": "append", "table": name,
              "stage": stage_rel, "files": []}
        self._journal_op(name, op)
        stage = os.path.join(self.root, stage_rel)
        w = writer_df.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy(self.BUCKET_COL)
        w.parquet(stage)
        moves: list[tuple[str, str]] = []
        for dirpath, _dirs, files in self.fs.walk(stage):
            relsub = os.path.relpath(dirpath, stage)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                dst_rel = os.path.join(
                    name,
                    "" if relsub == "." else relsub,
                    f"t{t.token[:8]}-{fn}",
                )
                moves.append((os.path.join(dirpath, fn), dst_rel))
        with self._txn_mutex:
            op["files"] = [dst for _, dst in moves]
            self._write_journal()
        for src, dst_rel in moves:
            dst = os.path.join(self.root, dst_rel)
            self.fs.makedirs(os.path.dirname(dst))
            self.fs.replace(src, dst)
        self.fs.rmtree(stage)

    def store_records(
        self, name: str, data: DataFrame, validate: bool = True
    ) -> None:
        """Append rows (bulk path; S4).  Enum domains are checked the
        way the reference's SQL Enum columns would reject bad rows.

        TRUE append on every layout: new files land next to the
        existing ones (bucketed tables under the new rows' ``kb=``
        dirs); nothing existing is read or rewritten — an append to a
        100-TB table costs O(new rows), not a table rewrite.  Columns
        are cast to the table schema so the parquet dir never mixes
        physical types across files.  Serialized against concurrent
        writers; inside a :meth:`transaction` the append is staged and
        journaled, so the whole transaction commits or rolls back as
        one.

        A driver-built ``data`` (``createDataFrame`` of a list) is
        evaluated once, on entry, into a LocalRelation
        (:func:`_local_batch`): the enum check then runs without a
        job and the write reads the batch from the driver, not through
        Python workers again."""
        data = _local_batch(data)
        with self._write_guard():
            self._check_mutable(name)
            if validate and name in CORE_SCHEMAS:
                ov = self._schema_override(name)
                bad = validate_enums(
                    data, name, (ov or {}).get("enums") or None
                )
                if not bad.isEmpty():
                    row = bad.first()
                    raise ValueError(
                        f"enum violation in {name}: "
                        f"{row['enum_violation']}"
                    )
            decl = self._declared_dtypes(name)
            if decl is None:  # unknown table: KeyError, same as reads
                decl = self.table(name).dtypes
            dtypes = dict(decl)
            aligned = data.select(  # absent columns load as NULL, as
                *[  # the reference's serial store does
                    F.col(c).cast(dtypes[c]).alias(c)
                    if c in data.columns
                    else F.lit(None).cast(dtypes[c]).alias(c)
                    for c, _ in decl
                ]
            )
            self._enforce_uniques(name, aligned)
            self._enforce_fks(name, aligned)
            part = self.partitioning_of(name)
            writer = aligned
            if part is not None:
                keys, n_buckets = part
                # cluster the batch by bucket before the partitioned
                # write: without this every task writes a sliver into
                # every bucket it sees — an append of one batch through
                # P partitions creates up to P x n_buckets tiny files,
                # the small-file explosion that kills scan performance
                # at scale.  Clustered, an append adds at most one file
                # per touched bucket (a bucket's batch-slice fits a
                # task by the same per-bucket sizing contract merges
                # rely on).
                writer = self._cluster_by_bucket(
                    aligned.withColumn(
                        self.BUCKET_COL,
                        self._bucket_expr(keys, n_buckets),
                    ),
                    n_buckets,
                )
            if self.manifest_commits:
                self._obj_append(name, writer, part is not None)
                if self._txn is not None and self._txn.explicit:
                    return  # commit manifests at txn commit
            elif self._txn is not None and self._txn.explicit:
                self._txn_append(name, writer, part is not None)
                return
            else:
                w = writer.write.mode("append")
                if part is not None:
                    w = w.partitionBy(self.BUCKET_COL)
                w.parquet(self._path(name))
            # (no sidecar re-materialization: with the layout read
            # fresh on every call, part is non-None exactly when the
            # sidecar exists — a table dir recreated externally
            # WITHOUT its sidecar is, by definition, unpartitioned)
            if self._history_on():
                # single-verb append: manifest directly (lock held); a
                # crash between the data write and here just means the
                # version becomes addressable at the next commit
                self._write_manifest(
                    name, self._next_seq(), "append", journal=False
                )

    def store_with_attributes(
        self,
        name: str,
        data: DataFrame,
        key_column: str,
        fk: tuple[str, str, str] | None = None,
        validate: bool = True,
    ) -> None:
        """Wide frame -> main table + EAV attribute table (M2;
        store_project_and_attribute_data, projectadaptor.py:10-33).

        ``fk`` = (dim_table, natural_key, surrogate_key) resolves a
        parent reference via broadcast join before the split (M1).
        ``validate=False`` skips the main table's enum-domain scan
        (same contract as :meth:`store_records`) — for loaders whose
        rows were already validated upstream.

        ATOMIC across both tables (round-8): the whole call runs in
        one :meth:`transaction` — a crash between the main-table write
        and the attribute write can no longer leave a half-registered
        entity (the gap vs the reference's ORM session txn,
        dbconnect.py:122-141); after :meth:`recover_transactions`
        readers see the exact pre-call state.  The volume-driven
        ``maybe_rebucket`` maintenance runs AFTER commit — it is not
        part of the logical transaction and its own incremental-split
        protocol is independently crash-safe.

        A driver-built ``data`` is evaluated once, on entry
        (:func:`_local_batch`); the main and attribute halves then
        derive from that LocalRelation — the nested appends never
        re-run the client's Python rows, and the attribute side's
        touched buckets are hashed on the driver.
        """
        data = _local_batch(data)
        with self.transaction():
            attr_table = self._store_with_attributes_txn(
                name, data, key_column, fk, validate
            )
        if (
            attr_table is not None
            and self.attr_n_buckets is None
            and self._txn is None
        ):
            # auto-sized layout: grow the bucket count when the table
            # has outgrown its spec (metadata-only check; rewrite only
            # fires when the table doubled past the per-bucket target).
            # Skipped when this call is NESTED in a caller's open
            # transaction (self._txn still set after the reentrant
            # block): rebucket is maintenance and refuses inside a
            # txn — growth simply defers to the next standalone store.
            self.maybe_rebucket(attr_table)

    def _store_with_attributes_txn(
        self,
        name: str,
        data: DataFrame,
        key_column: str,
        fk: tuple[str, str, str] | None,
        validate: bool,
    ) -> str | None:
        """Transaction body of :meth:`store_with_attributes`; returns
        the attribute table name when the caller should run the
        post-commit ``maybe_rebucket`` check (None on the early-return
        paths that never did)."""
        if fk is not None:
            dim_table, natural, surrogate = fk
            data = resolve_foreign_key(
                data, self.table(dim_table), natural, surrogate, required=True
            )
        table_cols = [f.name for f in CORE_SCHEMAS[name].fields]
        main, eav = melt_attributes(
            data, key_columns=[key_column], table_columns=table_cols
        )
        # the main-table append and the attribute-side pipeline touch
        # DIFFERENT tables and share no data dependency (the fk was
        # resolved above): overlap them — the main append runs as a
        # concurrent Spark job on a worker thread while the attr side
        # plans/hashes/anti-joins.  Journal ops are mutex-guarded; the
        # thread is always joined before this txn body returns, so the
        # commit point still covers both writes.  On a cluster this is
        # plain multi-job scheduling inside one application.  The worker
        # thread's jobs keep the caller's job group and tags.
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        append = inheritable_thread_target(self.spark)(self.store_records)
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(append, name, main, validate)
            try:
                ret = self._store_attributes_side(name, eav, key_column)
            except BaseException:
                # join the main append before the txn rollback runs —
                # rolling back under a still-writing thread would race
                with contextlib.suppress(BaseException):
                    fut.result()
                raise
        fut.result()  # surface a main-append failure -> txn rollback
        return ret

    def _store_attributes_side(
        self, name: str, eav: DataFrame, key_column: str
    ) -> str | None:
        """Attribute-table half of :meth:`_store_with_attributes_txn`
        (runs concurrently with the main-table append)."""
        attr_table = f"{name}_attribute"
        key = f"{name}_id"
        if self.partitioning_of(attr_table) is None:
            # EAV attribute tables are the reference's hottest mutable
            # facts (run_attribute read counts, projectutils.py:52-64):
            # bucket them by parent id BY DEFAULT so the
            # uniq(parent, name, value) dedup below reads and rewrites
            # only the touched parents' buckets — never the whole
            # table.  An existing unbucketed table pays one conversion
            # rewrite here, then every later store is partition-scoped.
            n = self.attr_n_buckets
            if n is None:
                # volume-derived (round-7): size from the bytes already
                # on disk — an existing unbucketed table converts at
                # its true volume; a fresh table starts at the floor
                # and grows via maybe_rebucket below as stores land
                n = suggest_bucket_count(
                    self.table_bytes(attr_table),
                    self.target_bucket_bytes,
                    min_buckets=self.MIN_AUTO_BUCKETS,
                )
            self.enable_partitioning(attr_table, [key], n)
        decl = self._declared_dtypes(attr_table)  # static: no file read
        attr_cols = [c for c, _ in decl]
        attr_dtypes = dict(decl)
        incoming = (
            eav.withColumnRenamed(key_column, key)
            .withColumn(f"{name}_attribute_id", F.lit(None).cast("long"))
            # cast to the attribute table schema BEFORE bucket hashing
            # and the anti-join below: xxhash64 is type-sensitive (the
            # same reason _buckets_of_values casts), so an incoming key
            # whose physical type differs from the table's (int vs
            # long) would hash to different buckets — the anti-join's
            # pruned read would miss on-disk twins and silently append
            # duplicates, violating uniq(parent, name, value)
            .select(
                *[
                    F.col(c).cast(attr_dtypes[c]).alias(c)
                    for c in attr_cols
                ]
            )
        )
        dedup_keys = [key, "attribute_name", "attribute_value"]
        bkeys, n_buckets = self.partitioning_of(attr_table)
        if not set(bkeys) <= set(dedup_keys):
            # custom layout whose bucket keys exceed the uniq
            # constraint: per-bucket dedup would not be global — fall
            # back to the full-table rewrite
            out = (
                self.table(attr_table)
                .unionByName(incoming)
                .dropDuplicates(dedup_keys)
            )
            self._swap(attr_table, out)
            return None
        if not self._has_data(attr_table):
            # first load: nothing on disk to dedup against — dedup the
            # incoming batch alone and append it straight into the
            # bucketed layout (one write job; no bucket reads, no swap
            # loop).
            self.store_records(
                attr_table,
                incoming.dropDuplicates(dedup_keys),
                validate=False,
            )
        else:
            touched = self._touched_buckets(incoming, bkeys, n_buckets)
            if not touched:
                return None
            # uniq(parent, name, value) via ANTI-JOIN + APPEND, not a
            # bucket rewrite: rows already on disk are unique, so
            # appending (incoming \ existing), deduped against itself,
            # preserves the constraint exactly — and bucket keys ⊆
            # dedup keys means a twin can only live in a bucket the
            # incoming rows name, so the anti-join's read is PRUNED to
            # the touched buckets.  Write cost is O(new rows) with no
            # swap renames (existing files — touched buckets included —
            # stay byte-identical); at 100 TB this is the difference
            # between appending a batch and rewriting every touched
            # 256 MB bucket.  Unlike the old union+dropDuplicates
            # rewrite, an existing row can never be arbitrarily
            # replaced by its incoming twin (attribute ids survive).
            existing = self._read_buckets(attr_table, touched).select(
                *dedup_keys
            )
            # NULL-SAFE anti-join (shared helper): a plain equality
            # join never matches a NULL parent id / value, so a
            # NULL-keyed attribute row would be re-appended on EVERY
            # store — unbounded duplicates where the uniq constraint
            # (and SELECT DISTINCT oracles) treat NULLs as equal.
            from data_management_python_spark.operators.joins import (  # noqa: PLC0415
                anti_join,
            )

            fresh = anti_join(
                incoming.dropDuplicates(dedup_keys),
                existing,
                on=dedup_keys,
                null_safe=True,
            )
            self.store_records(attr_table, fresh, validate=False)
        return attr_table

    def _buckets_of_values(
        self,
        dtypes: dict[str, str],
        keys: list[str],
        n_buckets: int,
        filters: dict[str, Any],
    ) -> list[int]:
        """Bucket ids the literal key values in ``filters`` hash to,
        hashed as values of the TABLE's column types (``dtypes``, the
        catalog's declared ones — no read of the table) — xxhash64 is
        type-sensitive, so a Python int probed against an int-typed
        column must hash as an int, not a bigint.

        Literals that already are the column's type (``str`` for
        ``string``, an in-range ``int`` for ``int``/``bigint``) are
        hashed on the driver by the XxHash64 port (:func:`bucket_of_row`)
        — no Spark job.  Any other literal (a ``"5"`` probed against a
        bigint column, a float, a date key) keeps the Spark probe: the
        combinations go through a local frame, are CAST to the column
        types and hashed by ``xxhash64`` itself, one small job.
        O(#literal combinations) driver rows either way."""
        import itertools  # noqa: PLC0415

        lists = [
            list(v) if isinstance(v, (list, tuple, set)) else [v]
            for v in (filters[k] for k in keys)
        ]
        combos = [tuple(c) for c in itertools.product(*lists)]
        got = _driver_buckets(combos, [dtypes[k] for k in keys], n_buckets)
        if got is not None:
            return got
        frame = self.spark.createDataFrame(combos, schema=list(keys)).select(
            *[F.col(k).cast(dtypes[k]).alias(k) for k in keys]
        )
        # r13: collect the hashed ids straight off the local literal
        # frame and dedup driver-side — _touched_buckets' collect_set
        # is a TWO-stage job (partial agg + single-partition exchange +
        # final), pure overhead for O(#combos) local rows (measured
        # ~0.45 s -> ~0.1 s for m_rebucket_split's one-literal
        # fetch_by probe).  Batch-sized frames keep the aggregate path.
        rows = frame.select(
            self._bucket_expr(keys, n_buckets).alias("b")
        ).collect()
        return sorted({int(r["b"]) for r in rows})

    def fetch_by(self, name: str, **filters: Any) -> DataFrame:
        """Equality/IN fetch (fetch_records_by_column /
        _by_multiple_column, baseadaptor.py:450-504).

        BUCKET-SCOPED on a partitioned table when the filters pin every
        bucket key to non-empty literals: the key values are hashed
        into their ``kb=`` buckets and the scan opens only those dirs
        (:meth:`_read_buckets`, which runs every read guard first) — a
        single-parent fetch against a 100-TB EAV table lists and reads
        ONE bucket, not the table (the read-side twin of the
        partition-scoped MERGE).  The hash is typed by the catalog's
        declared key types (no read of the table to learn them) and,
        for literals of the column's own type, computed by the
        driver-side XxHash64 port, so a keyed fetch is ONE Spark job:
        the scan that collects it."""
        spec = self._layout(name)  # ONE snapshot serves count + expand
        if spec is not None:
            keys = list(spec["keys"])
            n_buckets = int(spec["n_buckets"])

            def bad(v):  # NULL can't hash to a bucket; empty IN = empty
                if v is None:
                    return True
                if isinstance(v, (list, tuple, set)):
                    return len(v) == 0 or None in v
                return False

            literal_keyed = set(keys) <= set(filters) and not any(
                bad(filters[k]) for k in keys
            )
            if literal_keyed:
                if self.manifest_commits:
                    # sharded-root fast path: hash the literals with
                    # the DECLARED dtypes (no read needed to learn
                    # them) and resolve only the touched buckets'
                    # shard objects — a keyed fetch reads O(touched
                    # shards) metadata, never the whole pointer
                    decl = self._declared_dtypes(name)
                    if decl is not None:
                        buckets = self._expand_split_buckets(
                            spec,
                            self._buckets_of_values(
                                dict(decl), keys, n_buckets, filters
                            ),
                        )
                        pruned = self._obj_read_buckets(name, buckets)
                        if pruned is not None:
                            pruned = pruned.filter(
                                F.col(self.BUCKET_COL).isin(buckets)
                            ).drop(self.BUCKET_COL)
                            return filter_by_columns(pruned, **filters)
                buckets = self._expand_split_buckets(
                    spec,
                    self._buckets_of_values(
                        self._column_dtypes(name), keys, n_buckets, filters
                    ),
                )
                return filter_by_columns(
                    self._read_buckets(name, buckets), **filters
                )
        return filter_by_columns(self.table(name), **filters)

    def exists(self, name: str, **filters: Any) -> bool:
        """Existence probe (J8; check_seqrun_exists etc.)."""
        return not self.fetch_by(name, **filters).isEmpty()

    def upsert(
        self,
        name: str,
        updates: DataFrame,
        on: list[str],
        update_columns: list[str] | None = None,
    ) -> None:
        """create-or-update by natural key (M3/M5; Delta MERGE analog).

        On a partitioned table this is a PARTITION-SCOPED merge: only
        the buckets containing the update keys are read, merged, and
        crash-safe swapped; every other bucket's files stay
        byte-identical on disk (asserted by test).  Requires the
        bucket keys to be a subset of ``on`` — otherwise a matched
        target row could live in a bucket the updates don't name.

        Inside an open :meth:`transaction` (round-8) the touched
        buckets keep their pre-images until commit, so an upsert
        composes with other tables' writes into one atomic unit — the
        reference's status-update-plus-registration session shape
        (pipeline_seed status + file rows in one ORM txn).  A
        STANDALONE call opens its own single-op transaction: a crash
        halfway through the bucket swaps rolls back atomically
        (old-path torn multi-bucket states are gone), and concurrent
        readers are fenced for exactly the swap window.

        A driver-built ``updates`` is evaluated once, on entry, into a
        LocalRelation (:func:`_local_batch`): the enum check, the
        touched-bucket hash (driver-side, on the keys cast to the
        table's declared types) and the duplicate-key check then run
        without Spark jobs, and the merge write reads the batch from
        the driver."""
        updates = _local_batch(updates)
        with self.transaction():
            self._upsert_locked(name, updates, on, update_columns)

    def _enforce_merge_constraints(
        self, name: str, updates: DataFrame, on: list[str]
    ) -> None:
        """Constraint enforcement for the MERGE path (round-9): the
        reference DB enforced UNIQUE/FK/enum on EVERY write, but until
        now only ``store_records`` checked them — an upsert (or the
        CDC apply path, which routes inserts through upsert) could
        create an orphan-FK child row or duplicate a UNIQUE key.

        Cost-gated: the probes run only when the table actually
        declares constraints (or has enum columns), so unconstrained
        merges pay nothing.  FKs and enums bind UPDATED values too, so
        they check the whole batch; UNIQUE checks only the brand-new
        (anti-joined) insert subset — a matched row legitimately
        'collides' with itself."""
        spec = self._schema_override(name) or {}
        doms = name in ENUMS or bool(spec.get("enums"))
        if not (spec.get("uniques") or spec.get("fks") or doms):
            return
        self._enforce_fks(name, updates)
        if doms:
            bad = validate_enums(
                updates, name, spec.get("enums") or None
            )
            if not bad.isEmpty():
                row = bad.first()
                raise ValueError(
                    f"enum violation in {name} (upsert): "
                    f"{row['enum_violation']}"
                )
        if spec.get("uniques"):
            inserts = updates
            if self._has_data(name):
                inserts = updates.join(
                    self.table(name).select(*on), on=on, how="left_anti"
                )
            self._enforce_uniques(name, inserts)

    def _upsert_locked(
        self,
        name: str,
        updates: DataFrame,
        on: list[str],
        update_columns: list[str] | None,
    ) -> None:
        part = self.partitioning_of(name)
        if part is not None and self.fs.exists(self._path(name)):
            keys, n_buckets = part
            if not set(keys) <= set(on):
                raise ValueError(
                    f"partition-scoped upsert on {name} needs bucket "
                    f"keys {keys} to be a subset of the merge keys {on}"
                )
            if update_columns and set(update_columns) & set(keys):
                # a matched row whose bucket key changes would land in
                # a bucket the swap never touches — silent row loss
                raise ValueError(
                    f"partition-scoped upsert on {name} cannot update "
                    f"bucket key columns {sorted(set(update_columns) & set(keys))}"
                )
            # the batch takes the table's column types before anything
            # hashes it: an int key against a bigint bucket column
            # would otherwise hash to another bucket and the update
            # would land in no touched bucket — silently lost
            updates = self._as_declared(name, updates)
            self._enforce_merge_constraints(name, updates, on)
            touched = self._touched_buckets(updates, keys, n_buckets)
            if not touched:
                return
            check = self._needs_unique_check(updates, on)
            self._merge_partitioned(
                name,
                touched,
                lambda cur: merge_upsert(
                    cur, updates, on, update_columns, validate_unique=check
                ),
            )
            return
        self._enforce_merge_constraints(name, updates, on)
        merged = merge_upsert(
            self.table(name), updates, on, update_columns,
            validate_unique=self._needs_unique_check(updates, on),
        )
        self._swap(name, merged)

    def _as_declared(self, name: str, df: DataFrame) -> DataFrame:
        """``df`` with every column the table declares cast to its
        declared type (other columns untouched, order kept)."""
        dtypes = self._column_dtypes(name)
        return df.select(
            *[
                F.col(c).cast(dtypes[c]).alias(c) if c in dtypes else F.col(c)
                for c in df.columns
            ]
        )

    @staticmethod
    def _needs_unique_check(updates: DataFrame, on: list[str]) -> bool:
        """Whether merge_upsert must run its duplicate-merge-key check
        in Spark.  A driver-resident batch is counted on the driver
        instead; only a batch that does repeat a key goes on to the
        Spark check, which raises merge_upsert's own error."""
        if not _driver_resident(updates):
            return True
        seen = Counter(tuple(r) for r in updates.select(*on).collect())
        return any(n > 1 for n in seen.values())

    def overwrite(
        self, name: str, data: DataFrame, validate: bool = True
    ) -> None:
        """Full-table REPLACE: after the call the table's content is
        exactly ``data`` (the reference's truncate-and-reload shape —
        the degenerate M5 where every row is the update).  Physical
        path is the crash-safe table swap (rename mode) or a new
        segment + pointer flip (manifest-commit mode); a bucketed
        table is rewritten in its bucketed layout.  Participates in
        an open :meth:`transaction` like upsert; standalone calls get
        their own single-op transaction.

        The streaming sketch monitors (streaming/ingest.py) are the
        motivating caller: their merged register frame already IS the
        complete post-state, so routing it through ``upsert`` paid a
        redundant join against the very rows being replaced — ~15% of
        the monitor's per-batch fixed cost for no semantic gain."""
        with self.transaction():
            self._check_mutable(name)
            if validate and name in CORE_SCHEMAS:
                ov = self._schema_override(name)
                bad = validate_enums(
                    data, name, (ov or {}).get("enums") or None
                )
                if not bad.isEmpty():
                    row = bad.first()
                    raise ValueError(
                        f"enum violation in {name} (overwrite): "
                        f"{row['enum_violation']}"
                    )
            decl = self._declared_dtypes(name)
            if decl is None:
                decl = self.table(name).dtypes
            dtypes = dict(decl)
            aligned = data.select(
                *[
                    F.col(c).cast(dtypes[c]).alias(c)
                    if c in data.columns
                    else F.lit(None).cast(dtypes[c]).alias(c)
                    for c, _ in decl
                ]
            )
            spec = self._schema_override(name) or {}
            # constraint probes are cost-gated like the merge path:
            # unconstrained tables (the sketch registers) pay nothing
            for cols in spec.get("uniques", ()) or ():
                dup = (
                    aligned.groupBy(*cols)
                    .count()
                    .filter(F.col("count") > 1)
                )
                if not dup.isEmpty():
                    raise ValueError(
                        f"overwrite of {name} violates "
                        f"UNIQUE({', '.join(cols)})"
                    )
            if spec.get("fks"):
                self._enforce_fks(name, aligned)
            self._swap(name, aligned)

    def delete_where(self, name: str, keys: DataFrame, on: list[str]) -> None:
        """Key-addressed delete (M7 building block).  Partition-scoped
        on a bucketed table, same contract as :meth:`upsert` —
        including transaction participation and the standalone
        single-op transaction (atomic across every touched bucket).
        A driver-built ``keys`` frame is evaluated once, on entry
        (:func:`_local_batch`)."""
        keys = _local_batch(keys)
        with self.transaction():
            self._enforce_delete_restrict(name, keys, on)
            self._delete_where_locked(name, keys, on)

    def _delete_where_locked(
        self, name: str, keys: DataFrame, on: list[str]
    ) -> None:
        part = self.partitioning_of(name)
        if part is not None and self.fs.exists(self._path(name)):
            bkeys, n_buckets = part
            if not set(bkeys) <= set(on):
                raise ValueError(
                    f"partition-scoped delete on {name} needs bucket "
                    f"keys {bkeys} to be a subset of the delete keys {on}"
                )
            keys = self._as_declared(name, keys)  # hash as upsert does
            touched = self._touched_buckets(keys, bkeys, n_buckets)
            if not touched:
                return
            self._merge_partitioned(
                name,
                touched,
                lambda cur: cur.join(keys, on=on, how="left_anti"),
            )
            return
        self._swap(name, self.table(name).join(keys, on=on, how="left_anti"))

    def attributes_of(
        self,
        parent: str,
        parent_ids: DataFrame,
        attribute_names: list[str] | None = None,
        prune_buckets: bool = True,
    ) -> DataFrame:
        """Wide attribute read for a set of parent rows
        (get_attributes_by_dbid, baseadaptor.py:507-539).

        On a bucketed attribute table the scan is PARTITION-PRUNED to
        the buckets the requested parents hash into (``parent_ids``
        cast to the declared key type — no read of the table to learn
        it), then a scan of only those ``kb=`` dirs
        (:meth:`_read_buckets`) — a keyed read touches
        |parents|/n_buckets of the table instead of all of it.  A
        driver-built ``parent_ids`` is evaluated once, on entry
        (:func:`_local_batch`), and its ids are hashed on the driver;
        any other frame pays one extra O(n_buckets) collect_set job
        over ``parent_ids`` (:meth:`_touched_buckets`).
        Pass ``prune_buckets=False`` when ``parent_ids`` is itself a
        huge frame whose extra pass costs more than the full scan it
        saves (reads stay correct either way)."""
        parent_ids = _local_batch(parent_ids)
        name = f"{parent}_attribute"
        key = f"{parent}_id"
        spec = self._layout(name)  # ONE snapshot serves count + expand
        eav = None
        if (
            prune_buckets
            and spec is not None
            and list(spec["keys"]) == [key]
        ):
            n_buckets = int(spec["n_buckets"])
            if self.manifest_commits:
                # sharded-root fast path: the canonical single-parent
                # EAV fetch resolves only the touched buckets' shard
                # objects (declared dtypes — no read needed first)
                decl = self._declared_dtypes(name)
                if decl is not None:
                    dt = dict(decl)
                    keyed = parent_ids.select(
                        F.col(key).cast(dt[key]).alias(key)
                    )
                    buckets = self._expand_split_buckets(
                        spec,
                        self._touched_buckets(keyed, [key], n_buckets),
                    )
                    pruned = self._obj_read_buckets(name, buckets)
                    if (
                        pruned is not None
                        and self.BUCKET_COL in pruned.columns
                    ):
                        eav = pruned.filter(
                            F.col(self.BUCKET_COL).isin(buckets)
                        ).drop(self.BUCKET_COL)
            if eav is None:
                dtypes = self._column_dtypes(name)
                keyed = parent_ids.select(
                    F.col(key).cast(dtypes[key]).alias(key)
                )
                eav = self._read_buckets(
                    name,
                    self._expand_split_buckets(
                        spec, self._touched_buckets(keyed, [key], n_buckets)
                    ),
                )
        if eav is None:
            eav = self.table(name)
        scoped = semi_join(eav, parent_ids, on=key)
        return unmelt_attributes(scoped, key, attribute_names=attribute_names)
