"""Redelivery-safe streaming sinks.

A plain ``foreachBatch`` append sink double-writes when a micro-batch
is REDELIVERED — the crash window between the sink's write and the
checkpoint commit replays the batch on restart, and Structured
Streaming's contract is exactly that the replayed batch has identical
content. ``exactly_once_parquet_sink`` turns that contract into
effective exactly-once delivery with the same primitive
operators/backfill.py uses for batch reprocessing: each micro-batch
lands in its own ``<partition_col>=<batch_id>`` hive partition via
dynamic partition overwrite, so a redelivered batch OVERWRITES its own
partition instead of appending a second copy. No transaction log, no
sink-side dedup state — idempotence comes from write scoping alone,
which is how foreachBatch exactly-once is built on real clusters when
the sink is a plain object store.

Readers ignore the batch-id partition column (it is metadata, not
data); ``spark.read.parquet(sink_dir)`` sees it as an ordinary
partition column that downstream selects simply drop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

BATCH_COL = "_batch_id"


def exactly_once_parquet_sink(
    sink_dir: str, partition_col: str = BATCH_COL
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function writing each micro-batch to its own
    ``partition_col=batch_id`` partition with dynamic partition
    overwrite — redelivery of a batch replaces its partition with the
    identical content instead of double-appending."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(partition_col, F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(sink_dir)
        )

    return write


def exactly_once_append_chain_sink(
    root: str,
    stats_cols: list[str] | None = None,
    compact_every: int | None = None,
    compact_target_files: int = 8,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function committing each micro-batch as a
    file-level APPEND on a versioned chain
    (operators/versioned.py::append_version — O(batch) bytes per
    commit, never a snapshot rewrite), exactly-once under redelivery:
    every commit stamps its ``writer_batch_id`` into the manifest, and
    a redelivered batch whose id is already ON the current chain is
    skipped before any write. This is the transaction-log shape of a
    Delta/Iceberg streaming sink (txnAppId/txnVersion), built from the
    same manifest the chain already carries — no extra state store.

    The first batch on an empty root commits the base snapshot; later
    batches append. Readers get a CONSISTENT snapshot at every commit
    boundary (the chain tip is atomic — a rename), which a plain
    directory-append sink cannot offer mid-write; ``compact_version``
    flattens the chain on a maintenance cadence, exactly like a real
    streaming table's OPTIMIZE job.

    Idempotence scope: the marker check walks the CURRENT chain's
    manifests (driver-side JSON, O(chain)); Structured Streaming only
    ever redelivers the batch whose checkpoint did not commit, so the
    chain always still contains the original commit when the replay
    arrives. Crash BETWEEN the append rename and the checkpoint write
    is precisely the window this closes.

    With ``compact_every=N``, the sink FLATTENS the chain (one full
    rewrite to ``compact_target_files`` files) whenever it reaches N
    members — the bounded-read-fan-in maintenance a streaming table
    needs, inlined so chain length never grows past N. Flattening
    CUTS the chain, which would lose the batch-id markers and break
    idempotence for a batch redelivered right after a compaction; the
    flatten therefore CARRIES the chain's full marker set forward in
    its own manifest (``writer_batch_ids``), and the redelivery check
    reads both forms. A crash between the append and the checkpoint —
    even with a compaction in between — still replays into a no-op."""
    from pyspark_big_data_spark.operators.versioned import (
        append_version,
        chain_writer_markers,
        compact_version,
        latest_snapshot,
        snapshot,
        write_version,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = latest_snapshot(spark, root)
        if latest is not None:
            if int(batch_id) in chain_writer_markers(spark, root, latest):
                return  # redelivery: this batch already committed
            append_version(
                batch_df,
                root,
                stats_cols=stats_cols,
                manifest_extra={"writer_batch_id": int(batch_id)},
            )
        else:
            write_version(
                batch_df,
                root,
                stats_cols=stats_cols,
                manifest_extra={"writer_batch_id": int(batch_id)},
            )
        if compact_every is not None:
            tip = snapshot(spark, root)
            if len(tip.chain) >= compact_every:
                compact_version(
                    spark,
                    root,
                    target_files=compact_target_files,
                    version=tip,
                    manifest_extra={
                        "writer_batch_ids": sorted(chain_writer_markers(spark, root, tip))
                    },
                )

    return write


def exactly_once_merge_sink(
    root: str,
    key: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
    stats_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function applying each micro-batch as a
    MERGE INTO the versioned chain (operators/merge.py) — the
    CDC-apply-to-lakehouse loop: upserts land as matched-update /
    not-matched-insert, rows flagged in ``delete_col`` become
    matched-deletes, and every commit is the single-rename atomic
    delta+vector MERGE shape. Exactly-once under redelivery by the
    same ``writer_batch_id`` manifest marker as the append-chain sink:
    a redelivered batch whose id is already on the chain is skipped
    before any scan.

    ``seq_col`` (CDC sequencing): when a micro-batch can carry several
    ops per key, keep only the row with the HIGHEST sequence per key —
    (key, seq) must be unique, or the fold is refused (the
    operators/cdc.py contract). Without ``seq_col``, the batch must
    already be key-unique (merge_into raises otherwise). ``delete_col``
    and ``seq_col`` ride the source as condition-only columns — never
    written to the table.

    First batch on an empty root commits the base snapshot (delete
    rows dropped — there is nothing to delete from). MOR reads serve
    the current state; materialize/compact on the maintenance cadence —
    both of which CUT the chain, so both carry the chain's marker set
    forward as ``writer_batch_ids`` (materialize_deletes does this
    automatically; compact_version via manifest_extra like the
    append-chain sink) and a batch redelivered right after maintenance
    still resolves to a no-op.

    Single-writer contract, enforced not assumed: the MERGE pins its
    planned base (expected_base), so a foreign concurrent commit makes
    the batch fail with WriteConflict and Structured Streaming retries
    it — the marker check then decides idempotently."""
    from pyspark.sql import Window

    from pyspark_big_data_spark.operators.merge import merge_into
    from pyspark_big_data_spark.operators.versioned import (
        chain_writer_markers,
        latest_snapshot,
        write_version,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df
        if seq_col is not None:
            # last-sequence-wins fold; duplicate (key, seq) and NULL
            # sequences refused (a null seq would sort arbitrarily)
            if src.filter(F.col(seq_col).isNull()).limit(1).count():
                raise ValueError(
                    f"micro-batch carries NULL {seq_col} values — the "
                    "last-wins fold would be non-deterministic"
                )
            dup = (
                src.groupBy(key, seq_col)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"micro-batch carries duplicate ({key}, {seq_col}) "
                    "pairs — the last-wins fold would be non-deterministic"
                )
            w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", seq_col)
            )
        latest = latest_snapshot(spark, root)
        if latest is None:
            base = src
            if delete_col is not None:
                base = base.filter(~F.col(delete_col)).drop(delete_col)
            write_version(
                base,
                root,
                stats_cols=stats_cols,
                manifest_extra={"writer_batch_id": int(batch_id)},
            )
            return
        if int(batch_id) in chain_writer_markers(spark, root, latest):
            return  # redelivery: this batch already committed
        merge_into(
            spark,
            root,
            src,
            key,
            when_matched_update=(
                f"NOT source.{delete_col}" if delete_col is not None else True
            ),
            when_matched_delete=(
                f"source.{delete_col}" if delete_col is not None else None
            ),
            when_not_matched_insert=(
                f"NOT source.{delete_col}" if delete_col is not None else True
            ),
            stats_cols=stats_cols,
            manifest_extra={"writer_batch_id": int(batch_id)},
        )

    return write


def exactly_once_multi_table_sink(
    group_root: str,
    splitter: Callable[[DataFrame], dict[str, DataFrame]],
    stats_cols: dict[str, list[str]] | None = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function publishing each micro-batch across
    SEVERAL tables ATOMICALLY (operators/multitxn.py) — the streaming
    fan-out-to-a-star-schema loop: ``splitter`` maps the batch to
    ``{table: DataFrame}`` (e.g. facts to one table, a derived
    dimension delta to another), and ALL of them land under ONE ``t=K``
    transaction manifest. A reader joining the group's tables can never
    observe the batch half-applied — the invariant a per-table sink
    cannot offer, however exactly-once each table is individually.

    Exactly-once under redelivery by the same ``writer_batch_id``
    marker as the single-table sinks, stamped into the TRANSACTION
    manifest (``commit_txn(manifest_extra=...)``): a redelivered batch
    whose id appears in any committed transaction is skipped before
    any write. The marker walk reads the txn manifests (driver-side
    JSON, O(transactions)); unlike version chains, the txn log is
    never cut, so no carry-forward is needed.

    First batch bootstraps the group (full writes); later batches
    APPEND to every table the splitter names — O(batch) bytes per
    table per commit. A batch whose splitter yields an empty dict is
    refused (a silent no-op would desynchronize the marker from the
    checkpoint). Single-writer contract per group, enforced by the
    txn CAS: a foreign concurrent commit makes the batch fail with
    TxnConflict and Structured Streaming retries it — the marker check
    then decides idempotently."""
    from pyspark_big_data_spark.operators.multitxn import (
        commit_txn,
        latest_txn,
        list_txns,
        txn_manifest,
    )

    def _txn_markers(spark) -> set[int]:
        seen: set[int] = set()
        for t in list_txns(spark, group_root):
            m = txn_manifest(spark, group_root, t)
            if "writer_batch_id" in m:
                seen.add(int(m["writer_batch_id"]))
        return seen

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        writes = splitter(batch_df)
        if not writes:
            raise ValueError(
                "multi-table sink splitter returned no tables for batch "
                f"{batch_id}; an empty commit would desynchronize the "
                "redelivery marker from the checkpoint"
            )
        if int(batch_id) in _txn_markers(spark):
            return  # redelivery: this batch already committed atomically
        commit_txn(
            spark,
            group_root,
            writes,
            append=latest_txn(spark, group_root) is not None,
            stats_cols=stats_cols,
            manifest_extra={"writer_batch_id": int(batch_id)},
        )

    return write
