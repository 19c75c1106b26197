"""CDC apply: fold a sequenced change stream (upserts + delete
tombstones) into a keyed snapshot.

This is the APPLY CHANGES half of change-data-capture that
operators/upsert.py (unordered MERGE) and queries/quality.py's
snapshot_diff (CDC extract) don't cover: the input is a LOG of change
events — ``(key, seq, op, payload)`` with op in {'u' (upsert), 'd'
(delete)} — arriving in ARBITRARY ORDER, possibly many events per key,
and the result must be as if the events had been applied one at a time
in sequence order. Debezium->warehouse pipelines and Delta Live
Tables' APPLY CHANGES INTO implement exactly this contract.

Resolution is one aggregation, not an event replay: for each key the
event with the highest ``seq`` wins (the engine's canonical
max(struct(...)) argmax — seq first, payload after), because
upsert/delete are both last-writer-wins; intermediate events are
algebraically dead. That makes the fold ONE shuffle on the key over
the change log — at 100 TB of log the cost is the log's group-by, not
|log| sequential applies — followed by the same anti-join + union
apply as upsert_parquet, published through ``versioned.replace_parquet``
(stage, rename the live dir aside and the staged one in, roll back if
the move-in fails).

Contract: (key, seq) pairs must be unique — a tie between two ops at
the same sequence number has no defined order, so duplicates raise
rather than pick a nondeterministic winner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.operators.versioned import replace_parquet


def resolve_changes(
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
    check_unique: bool = True,
) -> DataFrame:
    """Collapse a change log to one winning event per key.

    Returns one row per key with the winner's op and payload columns
    (payload is null-padded for deletes if the log carries nulls
    there). Raises when the WINNING sequence number of any key is
    ambiguous (two events share it) — the tie that would make the fold
    nondeterministic. The guard is folded into the winner aggregation
    itself (r9 advice item): a per-row id rides along and the same
    group-by also takes max(struct(seq, +id)) and max(struct(seq, -id));
    the two agree on the id iff the top seq is unique, so the check
    costs TWO extra tiny agg buffers, not a second shuffle-and-scan of
    the 100 TB log. ``check_unique=False`` skips it (and the eager
    materialization it requires) for pre-validated feeds.
    """
    payload = [c for c in changes.columns if c not in (key, seq_col)]
    winner = F.max(F.struct(F.col(seq_col), *[F.col(c) for c in payload])).alias("_w")
    out_cols = [
        key,
        F.col(f"_w.{seq_col}").alias(seq_col),
        *[F.col(f"_w.{c}").alias(c) for c in payload],
    ]
    if not check_unique:
        return changes.groupBy(key).agg(winner).select(*out_cols)

    tagged = changes.withColumn("_rid", F.monotonically_increasing_id())
    m = tagged.groupBy(key).agg(
        winner,
        F.max(F.struct(F.col(seq_col).alias("s"), F.col("_rid").alias("r"))).alias("_hi"),
        F.max(F.struct(F.col(seq_col).alias("s"), (-F.col("_rid")).alias("r"))).alias("_lo"),
    )
    # one log pass materializes the per-key winners; the tie probe and
    # the returned select both read this small pinned frame
    m = m.localCheckpoint(eager=True)
    ties = m.filter(F.col("_hi.r") != -F.col("_lo.r")).count()
    if ties:
        raise ValueError(
            f"change log has an ambiguous winning (key, seq) for {ties} key(s) — "
            "tie order between ops is undefined"
        )
    return m.select(*out_cols)


def apply_changes(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> dict:
    """Fold ``changes`` into the parquet snapshot at ``path``.

    The winning event per key is applied: 'u' replaces-or-inserts the
    payload row, 'd' removes the key (deleting an absent key is a
    no-op, as in every CDC sink). Commits through
    ``versioned.replace_parquet``. Returns
    {"upserted": n, "deleted": n, "total": n}."""
    winners = resolve_changes(changes, key, seq_col, op_col).localCheckpoint(
        eager=True
    )  # pin: the apply reads it twice and must not recompute across the swap
    upserts = winners.filter(F.col(op_col) == "u").drop(seq_col, op_col)
    touched = winners.select(key)

    spark.catalog.refreshByPath(path)
    # plain parquet with no manifest: its schema is only known by inference
    existing = spark.read.parquet(path)
    if set(existing.columns) != set(upserts.columns):
        raise ValueError(
            f"apply_changes schema mismatch: dataset {sorted(existing.columns)} "
            f"vs change payload {sorted(upserts.columns)}"
        )

    survivors = existing.join(touched, key, "left_anti")
    total = replace_parquet(survivors.unionByName(upserts), path)

    return {
        "upserted": upserts.count(),
        "deleted": winners.filter(F.col(op_col) == "d").count(),
        "total": total,
    }
