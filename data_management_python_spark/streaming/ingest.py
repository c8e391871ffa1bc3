"""Exactly-once streaming ingestion into the TableStore.

Closes the loop between §2.9's discovery streams and the bucketed
store: the reference's incremental registration pattern — discover new
seqruns, register each exactly once, survive restarts —
(igf_airflow/utils/dag22_find_and_process_new_seqrun_utils style entry,
dags/dag22*: find new, seed once) runs there as an Airflow task against
MySQL, whose transaction makes "register + remember" atomic.  Here the
same guarantee comes from composing two existing substrates:

- Structured Streaming's ``foreachBatch`` delivers micro-batches with
  monotonically increasing ``batch_id`` and AT-LEAST-ONCE semantics
  (the last batch can be re-delivered after a restart, and a custom
  sink re-run on failure);
- ``TableStore.transaction()`` commits the batch's bucketed append and
  the per-stream batch-id marker ATOMICALLY (the marker write is a
  journaled op, store.py) — a crash between them rolls BOTH back, so
  the re-delivered batch simply applies again; a crash after commit
  leaves the marker, so the re-delivered batch is SKIPPED.

Net: every row of every micro-batch lands in the store exactly once,
the store stays bucket-clustered (appends go through
``store_records``'s one-file-per-touched-bucket path), and restarts
need no operator intervention.

Scale: the sink is one bounded transaction per micro-batch — O(batch)
work, no reads of existing data (a pure append), marker I/O is two
tiny local files.  Idempotency is per-(store, stream_id); run parallel
ingestion streams under distinct stream ids (the store's writer lock
serializes their commits).
"""

from __future__ import annotations

from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_management_python_spark.store import TableStore


def ingest_batch(
    store: TableStore,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    validate: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> bool:
    """Apply one micro-batch idempotently: append ``batch_df`` (after
    ``transform``, if given) to ``table`` and advance the stream
    marker, both inside ONE store transaction.  Returns False when the
    batch id was already committed (a re-delivery) and nothing was
    written.  This is the foreachBatch body, exposed separately so
    batch backfills and tests drive the exact code path the stream
    runs."""
    if batch_id <= store.get_stream_marker(stream_id):
        return False  # re-delivered batch: already committed, skip
    if transform is not None:
        batch_df = transform(batch_df)
    with store.transaction():
        store.store_records(table, batch_df, validate=validate)
        store.set_stream_marker(stream_id, batch_id)
    return True


def stream_into_store(
    stream_df: DataFrame,
    store: TableStore,
    table: str,
    stream_id: str,
    checkpoint_dir: str,
    validate: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_once: bool = False,
):
    """Run a streaming frame into a TableStore table with exactly-once
    semantics (see module docstring).  Returns the StreamingQuery.

    ``transform`` maps each micro-batch frame to the table's rows
    (rename/derive columns) — it must be deterministic, since a
    re-delivered batch re-runs it.  ``trigger_once`` drains all
    available input and stops (the incremental-backfill shape the
    reference's discovery DAGs run on a schedule)."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            store, table, batch_df, batch_id, stream_id,
            validate=validate, transform=transform,
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_cdc_batch(
    store: TableStore,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    on: list[str],
) -> bool:
    """Apply one micro-batch of a CHANGE FEED idempotently: rows shaped
    like :meth:`TableStore.diff_versions` output (``change_type`` in
    insert / delete / update_preimage / update_postimage plus the
    table columns).  Inserts and update postimages MERGE in via
    ``upsert``; deletes go through ``delete_where``; preimages are
    informational and ignored.  All of it plus the stream marker
    commits in ONE store transaction — the exactly-once contract of
    :func:`ingest_batch`, extended from pure appends to mutations
    (the reference's status-update pollers applied the same
    "what changed since" deltas inside one ORM session).

    A change feed is state-to-state (one verdict per key per batch),
    so upsert-then-delete ordering is safe; both verbs are
    partition-scoped on a bucketed table, so the batch cost is
    O(touched buckets), not table size."""
    if batch_id <= store.get_stream_marker(stream_id):
        return False
    ups = batch_df.filter(
        F.col("change_type").isin("insert", "update_postimage")
    ).drop("change_type")
    dels = batch_df.filter(F.col("change_type") == "delete").select(*on)
    with store.transaction():
        if not ups.isEmpty():
            store.upsert(table, ups, on=on)
        if not dels.isEmpty():
            store.delete_where(table, dels, on=on)
        store.set_stream_marker(stream_id, batch_id)
    return True


def stream_cdc_into_store(
    stream_df: DataFrame,
    store: TableStore,
    table: str,
    stream_id: str,
    checkpoint_dir: str,
    on: list[str],
    trigger_once: bool = False,
):
    """Run a change-feed stream into a TableStore table with
    exactly-once apply semantics (see :func:`apply_cdc_batch`).
    Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(store, table, batch_df, batch_id, stream_id, on)

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hll_monitor_batch(
    store: TableStore,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    col: str,
    p: int = 8,
) -> bool:
    """Fold one micro-batch into a standing HLL register table — the
    STREAMING cardinality monitor built from the sketch's merge
    algebra (stats.hll_registers: union == element-wise register max).
    The standing table holds <= 2^p rows (j, M); each batch computes
    its own registers (one bounded agg over the batch), max-merges
    them with the standing rows, and upserts the merged registers +
    the stream marker in ONE store transaction.  Exactly-once via the
    marker — and max-merge is additionally IDEMPOTENT, so even a
    replayed batch without the marker could never corrupt the
    registers (pinned by test).  Reading the current estimate is
    stats.hll_estimate over the table at any moment."""
    from data_management_python_spark.llmdata import stats  # noqa: PLC0415

    if batch_id <= store.get_stream_marker(stream_id):
        return False
    # declare (don't directly write) the register table: the schema
    # lands through the store's own catalog surface, so reads of the
    # never-written table return the declared empty frame and the
    # first upsert below creates the data under the same commit log
    # and writer lock as every other mutation (round-9, was a direct
    # parquet write through private APIs)
    store.declare_table(table, "j long, M int")
    batch_regs = stats.hll_registers(batch_df, col, p).select(
        F.col("__j").alias("j"), F.col("__M").alias("M")
    )
    merged = (
        store.table(table)
        .unionByName(batch_regs)
        .groupBy("j")
        .agg(F.max("M").alias("M"))
        # the register table is <= 2^p rows: one output file, not one
        # sliver per shuffle partition (32 tiny files per batch made
        # the standing-table reread the monitor's dominant cost)
        .coalesce(1)
    )
    with store.transaction():
        # merged IS the complete post-state (standing union batch,
        # re-aggregated): a full replace skips the upsert's redundant
        # join against the very rows being superseded
        store.overwrite(table, merged, validate=False)
        store.set_stream_marker(stream_id, batch_id)
    return True


def stream_hll_into_store(
    stream_df: DataFrame,
    store: TableStore,
    table: str,
    col: str,
    stream_id: str,
    checkpoint_dir: str,
    p: int = 8,
    trigger_once: bool = False,
):
    """Run a stream into a standing HLL register table (see
    :func:`hll_monitor_batch`).  Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        hll_monitor_batch(
            store, table, batch_df, batch_id, stream_id, col, p
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cms_monitor_batch(
    store: TableStore,
    table: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    col: str,
    depth: int = 4,
    width: int = 1024,
) -> bool:
    """Fold one micro-batch into a standing Count-Min register table —
    the streaming FREQUENCY monitor, completing the sketch pair with
    :func:`hll_monitor_batch` (reference parity: the demultiplexing
    stats the reference polled per run, kept as a running sketch).
    The standing table holds <= depth x width rows (i, b, c); each
    batch computes its own registers (one bounded agg) and SUM-merges
    them with the standing rows in ONE store transaction with the
    stream marker.

    Exactly-once is load-bearing here in a way it is not for the HLL:
    CMS merge is SUM, NOT idempotent — a replayed batch without the
    marker would double-count every token it carries (the HLL's
    max-merge would shrug it off).  The marker commits in the same
    transaction as the register upsert, so a crash between them is
    impossible and foreachBatch's at-least-once re-delivery becomes
    exactly-once (pinned by test: forced replay of a committed batch
    id is a no-op and total counter mass stays depth x corpus rows).
    """
    from data_management_python_spark.llmdata import stats  # noqa: PLC0415

    if batch_id <= store.get_stream_marker(stream_id):
        return False
    store.declare_table(table, "i int, b long, c long")
    batch_regs = stats.cms_registers(
        batch_df, col, depth=depth, width=width
    ).select(
        F.col("__i").cast("int").alias("i"),
        F.col("__b").alias("b"),
        F.col("__c").alias("c"),
    )
    merged = (
        store.table(table)
        .unionByName(batch_regs)
        .groupBy("i", "b")
        .agg(F.sum("c").alias("c"))
        # <= depth x width rows: same one-file contract as the HLL
        .coalesce(1)
    )
    with store.transaction():
        # same full-replace shape as the HLL monitor: merged is the
        # complete post-state, so upsert's target join is pure cost
        store.overwrite(table, merged, validate=False)
        store.set_stream_marker(stream_id, batch_id)
    return True


def stream_cms_into_store(
    stream_df: DataFrame,
    store: TableStore,
    table: str,
    col: str,
    stream_id: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
    trigger_once: bool = False,
):
    """Run a stream into a standing Count-Min register table (see
    :func:`cms_monitor_batch`).  Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cms_monitor_batch(
            store, table, batch_df, batch_id, stream_id, col,
            depth=depth, width=width,
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def span_monitor_batch(
    store: TableStore,
    prefix: str,
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_freq: int = 64,
) -> bool:
    """Fold one micro-batch into the STANDING exact-substring dedup
    state — the streaming twin of
    :func:`llmdata.dedup.incremental_duplicate_spans`, completing the
    monitor family (HLL cardinality, CMS frequency, and now duplicate
    spans).  Three store tables under ``prefix`` — the corpus TEXT is
    never retained (span text slices from the delta side, which is
    verbatim-equal to the base side):

    - ``{prefix}_detail``   gated anchor occurrences (h, id, pos)
    - ``{prefix}_summary``  per-gram occurrence counts (h, n)
    - ``{prefix}_pairs``    every reported duplicate-span pair
    - ``{prefix}_gate``     one gate-observability row PER BATCH
      (dedup.incremental_span_gate_stats): the batch's anchors, how
      many fell to the frequency gate at union counts, and the gated
      share — the drift signal that says boilerplate is saturating
      the cap and spans are silently being missed (round-11; the
      one-shot operator's suffix_gate_stats, now in the streaming
      path where saturation drift matters operationally)

    Each batch probes the standing assets (the base corpus is never
    re-tokenized), appends the NEW pairs it introduces, and folds its
    anchors into the assets: the summary SUM-merges (NOT idempotent —
    the stream marker in the same transaction is load-bearing exactly
    like the CMS monitor's), and detail rows append only for grams
    whose merged count stays within the cap (a gram that later
    crosses the cap leaves inert detail rows the probe's union-count
    gate excludes — counts only grow, so detail is complete for every
    gram that can still pass a future gate).

    The frequency gate is therefore evaluated with the counts AS OF
    each pair's report time (the batch that completed the pair) — the
    registered twin's oracle replays exactly that cumulative gating.
    """
    from data_management_python_spark.llmdata import dedup  # noqa: PLC0415

    if batch_id <= store.get_stream_marker(stream_id):
        return False
    t_detail = f"{prefix}_detail"
    t_summary = f"{prefix}_summary"
    t_pairs = f"{prefix}_pairs"
    store.declare_table(
        t_detail, f"__h long, {id_col} long, __pos int"
    )
    store.declare_table(t_summary, "__h long, __n long")
    t_gate = f"{prefix}_gate"
    store.declare_table(
        t_pairs,
        "doc_a long, doc_b long, span_tokens long, start_a long, "
        "start_b long, span_text string",
    )
    store.declare_table(
        t_gate,
        "batch_id long, n_anchors long, n_gated_anchors long, "
        "n_grams long, n_gated_grams long, gated_share double",
    )
    batch_df = batch_df.select(id_col, text_col).localCheckpoint(
        eager=True
    )
    detail = store.table(t_detail)
    summary = store.table(t_summary)
    # ONE anchor scan serves the probe and the asset update; span
    # text slices from the DELTA side (verbatim-equal to the base
    # side), so NO standing docs table exists — the monitor's state
    # is anchors + counts + reported pairs, never corpus text
    _, d_occ = dedup._suffix_occurrences(batch_df, id_col, text_col, k)
    d_occ = d_occ.localCheckpoint(eager=True)
    d_cnt = d_occ.groupBy("__h").agg(F.count(F.lit(1)).alias("__nd"))

    # the PROBE (new pairs) and the SUMMARY MERGE are independent
    # Spark jobs over the pinned d_occ + the standing tables — run
    # their materializations concurrently (local threads submitting
    # jobs, the pattern store_with_attributes uses): micro-batch
    # wall-clock is probe-or-merge, not probe-plus-merge.  Both are
    # PINNED before the transaction: fresh_detail's gate references
    # merged_summary, and the txn overwrites t_summary — a lazy plan
    # would re-read the already-merged table mid-append and gate on
    # doubled counts.
    def _probe():
        return dedup.incremental_duplicate_spans(
            None,
            batch_df,
            id_col,
            text_col,
            k=k,
            max_gram_freq=max_gram_freq,
            base_detail=detail,
            base_summary=summary,
            delta_occ=d_occ,
            text_from_delta=True,
        ).localCheckpoint(eager=True)

    def _merge():
        return (
            summary.unionByName(
                d_cnt.select(
                    "__h", F.col("__nd").cast("long").alias("__n")
                )
            )
            .groupBy("__h")
            .agg(F.sum("__n").alias("__n"))
            .coalesce(1)
            .localCheckpoint(eager=True)
        )

    import concurrent.futures as _cf  # noqa: PLC0415

    # the worker threads' jobs keep the caller's job group and tags
    inherit = inheritable_thread_target(store.spark)
    with _cf.ThreadPoolExecutor(2) as ex:
        f_pairs = ex.submit(inherit(_probe))
        f_merge = ex.submit(inherit(_merge))
        pairs = f_pairs.result()
        merged_summary = f_merge.result()
    # batch grams within the merged cap — batch-bounded, so both the
    # gate join and the detail filter run as broadcasts (the standing
    # summary is corpus-scale and must never be the broadcast side)
    kept_new = (
        merged_summary.join(
            F.broadcast(d_cnt.select("__h")), "__h", "left_semi"
        )
        .filter(F.col("__n") <= max_gram_freq)
        .select("__h")
    )
    fresh_detail = d_occ.join(
        F.broadcast(kept_new), "__h", "left_semi"
    ).select("__h", id_col, F.col("__pos").cast("int").alias("__pos"))
    # per-batch gate observability over the SAME pinned frames the
    # probe gated on (merged_summary is checkpointed; d_cnt is
    # batch-bounded, so the join broadcasts) — one extra tiny agg
    gate = dedup.incremental_span_gate_stats(
        merged_summary, d_cnt, max_gram_freq, batch_id=batch_id
    )
    with store.transaction():
        # all four writes are over PINNED frames (no store re-reads),
        # so they are independent — thread them inside the one txn
        # (journal mutations are mutex-serialized; the marker commits
        # last, with everything, at the txn's single commit point)
        writes = (
            (store.overwrite, t_summary, merged_summary),
            (store.store_records, t_detail, fresh_detail),
            (store.store_records, t_pairs, pairs),
            (store.store_records, t_gate, gate),
        )
        with _cf.ThreadPoolExecutor(4) as ex:
            futs = [
                ex.submit(inherit(verb), t, df, validate=False)
                for verb, t, df in writes
            ]
            for f in futs:
                f.result()
        store.set_stream_marker(stream_id, batch_id)
    return True


def stream_spans_into_store(
    stream_df: DataFrame,
    store: TableStore,
    prefix: str,
    stream_id: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_freq: int = 64,
    trigger_once: bool = False,
):
    """Run a document stream into the standing exact-substring dedup
    state (see :func:`span_monitor_batch`).  Returns the
    StreamingQuery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        span_monitor_batch(
            store, prefix, batch_df, batch_id, stream_id,
            id_col, text_col, k, max_gram_freq,
        )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
