"""Keyed upsert (MERGE) into a parquet dataset without a table format.

Plain parquet has no transactional MERGE; the operational pattern is
read -> drop the updated keys -> union the new rows -> rewrite, and the
rewrite publishes through ``versioned.replace_parquet`` (stage under a
writer-unique name, rename the live dir aside and the staged one in,
roll back if the move-in fails), so a failed rewrite can never leave a
half-written dataset. This is the CDC-apply shape for mutable
dimensions (customer records, document metadata) next to the engine's
append-only corpora; at 100 TB you run it per partition (pass
``partition_by`` so only touched hive partitions rewrite their files
— untouched partitions still rewrite here for simplicity, which is the
honest cost of parquet-without-a-table-format; a real lakehouse table
format would do file-level pruning, and this function is the seam
where Delta/Iceberg's MERGE would plug in).

Semantics: rows in ``updates`` REPLACE existing rows with the same
key; keys absent from the dataset INSERT. One row per key in updates
is the caller's contract (enforced here — duplicate update keys raise,
because "last writer wins" over an unordered DataFrame is
nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from pyspark_big_data_spark.operators.versioned import replace_parquet


def _drop_keys(existing: DataFrame, keys: DataFrame, key: str) -> tuple[DataFrame, Observation]:
    """``existing`` minus the rows whose ``key`` is in ``keys`` (one row
    per key), plus an observation of {"rows": existing rows, "matched":
    rows dropped} that fills in when the result is written. A flagged
    left join instead of a left-anti join, so both counts come from the
    rewrite itself rather than separate actions."""
    obs = Observation()
    flagged = existing.join(keys.select(key, F.lit(True).alias("_hit")), key, "left")
    flagged = flagged.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.count("_hit").alias("matched")
    )
    return flagged.filter(F.col("_hit").isNull()).drop("_hit"), obs


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Merge ``updates`` into the parquet dataset at ``path`` by
    ``key``. Returns {"updated": n, "inserted": n, "total": n}."""
    dup = updates.groupBy(key).count().filter(F.col("count") > 1).count()
    if dup:
        raise ValueError(
            f"upsert updates contain {dup} duplicate key(s) — ambiguous merge"
        )

    # a prior swap on this path leaves a stale cached file listing in
    # the session; drop it so repeated merges in one session work
    spark.catalog.refreshByPath(path)
    # plain parquet with no manifest: its schema is only known by inference
    existing = spark.read.parquet(path)
    if set(existing.columns) != set(updates.columns):
        raise ValueError(
            f"upsert schema mismatch: dataset {sorted(existing.columns)} "
            f"vs updates {sorted(updates.columns)}"
        )

    survivors, seen = _drop_keys(existing, updates, key)
    total = replace_parquet(survivors.unionByName(updates), path, partition_by)
    return {
        "updated": seen.get["matched"],
        "inserted": total - seen.get["rows"],
        "total": total,
    }


def erase_keys_parquet(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Right-to-be-forgotten delete: remove every row whose ``key`` is
    in ``keys`` and rewrite the dataset through
    ``versioned.replace_parquet``, like ``upsert_parquet``. Returns
    {"erased": n, "kept": n}.

    Idempotent by construction (erasing already-absent keys is a
    no-op rewrite), which is what a compliance replay needs — enabled
    by the refreshByPath below: the rename swap invalidates Spark's
    cached file listing for ``path``, so a same-session re-read must
    drop it or fail on the swapped-out files. At 100 TB the same
    economics note as upsert applies: partition the dataset by a
    coarse key prefix and rewrite only touched partitions; a lakehouse
    table format's deletion vectors would plug in at this seam.

    Caller contract: ``keys`` must not be a live plan over ``path``
    itself ACROSS calls — a DataFrame created before a swap pins the
    pre-swap file listing and fails on replay. Pass a materialized
    manifest (collected keys / separate dataset); within a single call
    keys derived from ``path`` are fine (fully consumed before the
    swap)."""
    spark.catalog.refreshByPath(path)
    # plain parquet with no manifest: its schema is only known by inference
    existing = spark.read.parquet(path)
    survivors, seen = _drop_keys(existing, keys.select(key).distinct(), key)
    kept = replace_parquet(survivors, path, partition_by)
    return {"erased": seen.get["matched"], "kept": kept}
