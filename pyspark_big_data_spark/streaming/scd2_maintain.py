"""Continuous SCD Type-2 maintenance: the streaming loop around the
dimension derived by ``queries/dimension.py::scd2_customer_priority``.

Each micro-batch of arriving orders touches ONLY its customers: their
open (is-current) versions are read from the persisted dimension,
change detection runs across [open version ∥ batch orders] in event
order, and the affected rows — the open version (order count grown
and/or closed) plus any newly opened versions — are MERGEd back via
``operators/upsert.py``. Untouched customers' history is never read or
rewritten (beyond the parquet-without-table-format rewrite cost
documented in upsert.py).

foreachBatch rather than stream-native state for the same reason as
incremental_dedup: the dimension must outlive any watermark horizon,
stay queryable as a table between batches, and serve as the batch
path's output too.

Arrival-order contract: batches must arrive in event-time order per
customer (the CDC-stream guarantee a log-compacted topic provides).
An order arriving BEHIND its customer's open version would have to
rewrite closed history — that replay is the batch derivation, not this
loop. In-batch disorder is fine (the window sorts each batch).

Equivalence: replaying the orders table in date-split batches yields a
dimension identical to the one-shot batch derivation — asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyspark_big_data_spark.operators.upsert import upsert_parquet
from pyspark_big_data_spark.operators.versioned import path_exists

# persisted dimension schema (typed; the oracled query's formatted
# strings are a VIEW over this): c_custkey, version, priority,
# valid_from_ts, valid_to_ts (null while open), n_orders, ukey


def _dim_view(spark: SparkSession, dim_dir: str) -> DataFrame:
    return spark.read.parquet(dim_dir)


def process_order_batch(batch: DataFrame, dim_dir: str) -> dict:
    """Fold one micro-batch of orders into the SCD2 dimension at
    ``dim_dir``. Returns the upsert stats dict."""
    spark = batch.sparkSession
    orders = batch.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("okey"),
    )

    if path_exists(spark, dim_dir):
        dim = _dim_view(spark, dim_dir)
        cur = dim.filter(F.col("valid_to_ts").isNull()).select(
            "c_custkey",
            F.col("version").alias("cur_version"),
            F.col("priority").alias("cur_priority"),
            F.col("valid_from_ts").alias("cur_valid_from"),
            F.col("n_orders").alias("cur_n_orders"),
        )
    else:
        cur = None

    w = Window.partitionBy("c_custkey").orderBy("ts", "okey")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered = orders.withColumn("prev_p", F.lag("priority").over(w))
    if cur is not None:
        # open versions are one row per known customer — small relative
        # to the fact stream, but NOT broadcast-hinted: at 100 TB the
        # open-version set is dimension-sized and AQE picks the strategy
        ordered = ordered.join(cur, "c_custkey", "left")
    else:
        for c, t in [
            ("cur_version", "long"),
            ("cur_priority", "string"),
            ("cur_valid_from", "timestamp"),
            ("cur_n_orders", "long"),
        ]:
            ordered = ordered.withColumn(c, F.lit(None).cast(t))

    # a row opens a new version iff its priority differs from what
    # precedes it: the previous batch row, or (for the first batch row)
    # the customer's open version — absent either, it always opens
    first_changed = (
        F.col("cur_priority").isNull() | (F.col("cur_priority") != F.col("priority"))
    ).cast("long")
    later_changed = (F.col("prev_p") != F.col("priority")).cast("long")
    changed = F.when(F.col("prev_p").isNull(), first_changed).otherwise(later_changed)
    versioned = ordered.withColumn(
        "version", F.coalesce("cur_version", F.lit(0)) + F.sum(changed).over(w_cum)
    )

    # collapse batch rows into per-version aggregates
    newver = versioned.groupBy(
        "c_custkey",
        "version",
        "priority",
        "cur_version",
        "cur_priority",
        "cur_valid_from",
        "cur_n_orders",
    ).agg(F.min("ts").alias("batch_from"), F.count(F.lit(1)).alias("batch_n"))

    # rows continuing the open version keep its valid_from and grow its
    # count; new versions start at their first batch order
    merged = newver.select(
        "c_custkey",
        "version",
        "priority",
        F.when(F.col("version") == F.col("cur_version"), F.col("cur_valid_from"))
        .otherwise(F.col("batch_from"))
        .alias("valid_from_ts"),
        (
            F.when(F.col("version") == F.col("cur_version"), F.col("cur_n_orders"))
            .otherwise(F.lit(0))
            + F.col("batch_n")
        ).alias("n_orders"),
        "cur_version",
        "cur_priority",
        "cur_valid_from",
        "cur_n_orders",
    )

    # an open version superseded by the batch (priority changed, so no
    # batch row carries its version) must still be CLOSED: re-emit it so
    # the lead() below stamps its valid_to
    superseded = (
        merged.filter(F.col("cur_version").isNotNull())
        .groupBy("c_custkey", "cur_version", "cur_priority", "cur_valid_from", "cur_n_orders")
        .agg(F.min("version").alias("min_new_version"))
        .filter(F.col("min_new_version") > F.col("cur_version"))
        .select(
            "c_custkey",
            F.col("cur_version").alias("version"),
            F.col("cur_priority").alias("priority"),
            F.col("cur_valid_from").alias("valid_from_ts"),
            F.col("cur_n_orders").alias("n_orders"),
        )
    )
    affected = merged.select(
        "c_custkey", "version", "priority", "valid_from_ts", "n_orders"
    ).unionByName(superseded)

    w_ver = Window.partitionBy("c_custkey").orderBy("version")
    rows = affected.select(
        "c_custkey",
        "version",
        "priority",
        "valid_from_ts",
        F.lead("valid_from_ts").over(w_ver).alias("valid_to_ts"),
        "n_orders",
        F.concat_ws(":", "c_custkey", "version").alias("ukey"),
    )

    if cur is None:
        rows.write.mode("overwrite").parquet(dim_dir)
        n = rows.count()
        return {"updated": 0, "inserted": n, "total": n}
    return upsert_parquet(spark, dim_dir, rows, key="ukey")


def run_scd2_stream(orders_stream: DataFrame, dim_dir: str, checkpoint_dir: str):
    """foreachBatch loop: maintain the SCD2 dimension continuously from
    an order stream (availableNow replays the backlog then stops)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        process_order_batch(batch_df, dim_dir)

    return (
        orders_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def scd2_report(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The maintained dimension in the oracled query's report shape
    (formatted dates, is_current flag) — directly comparable to
    ``scd2_customer_priority``'s output."""
    return _dim_view(spark, dim_dir).select(
        "c_custkey",
        "version",
        "priority",
        F.date_format("valid_from_ts", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to_ts", "yyyy-MM-dd").alias("valid_to"),
        F.col("valid_to_ts").isNull().cast("int").alias("is_current"),
        "n_orders",
    )
