"""Incremental view maintenance (IVM): keep a join-aggregate view
exact while its fact table grows, without ever rescanning old facts.

The maintained view is ``revenue_by_nation``'s aggregate (revenue +
item count per nation, TPC-H Q5 shape). Classic self-maintainable-view
theory: an append-only fact stream under a distributive aggregate
(SUM/COUNT) needs only the DELTA aggregated and folded in —
``V_new = V_old (+) agg(delta ⋈ dims)`` — because sums merge. The
static dimension chain (orders → customer → nation → region here)
broadcasts onto each delta batch exactly as in the full query.

Exactness across any batching: per-row revenue is IEEE-double
(identical in every plan), but the RUNNING sums are carried as
DECIMAL(38,8) — associative, commutative, overflow-checked — so a
3-batch fold is bit-identical to the one-shot aggregate (asserted in
tests/test_streaming.py). Folding double sums instead would drift with
batch boundaries; this is the same order-independence policy as
functions/aggregates.py, persisted.

At 100 TB: each fold touches |delta| fact rows + a nation-sized state
table. The crash-safe MERGE is operators/upsert.py; the view is plain
parquet — queryable between folds, and the seam where a table format's
MERGE plugs in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.operators.upsert import upsert_parquet
from pyspark_big_data_spark.operators.versioned import path_exists

_DEC = "decimal(38,8)"


def _delta_agg(batch_lineitem: DataFrame, sf_dir: str) -> DataFrame:
    """Aggregate one lineitem delta through the static dim chain —
    the same join tree and filters as revenue_by_nation."""
    spark = batch_lineitem.sparkSession
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'")
    )
    dims = F.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"]).select(
            "n_nationkey", "n_name"
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        customer.join(dims, customer["c_nationkey"] == dims["n_nationkey"])
        .join(orders, F.col("c_custkey") == orders["o_custkey"])
        .join(batch_lineitem, F.col("o_orderkey") == batch_lineitem["l_orderkey"])
        .groupBy("n_name")
        .agg(
            F.sum(revenue.cast(_DEC)).alias("revenue_dec"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def fold_revenue_batch(batch_lineitem: DataFrame, view_dir: str, sf_dir: str) -> dict:
    """Fold one fact delta into the persisted view at ``view_dir``."""
    spark = batch_lineitem.sparkSession
    delta = _delta_agg(batch_lineitem, sf_dir)
    if not path_exists(spark, view_dir):
        delta.write.mode("overwrite").parquet(view_dir)
        n = spark.read.parquet(view_dir).count()
        return {"updated": 0, "inserted": n, "total": n}
    old = spark.read.parquet(view_dir).select(
        "n_name",
        F.col("revenue_dec").alias("old_revenue"),
        F.col("n_items").alias("old_items"),
    )
    merged = delta.join(old, "n_name", "left").select(
        "n_name",
        (F.coalesce("old_revenue", F.lit(0).cast(_DEC)) + F.col("revenue_dec"))
        .cast(_DEC)
        .alias("revenue_dec"),
        (F.coalesce("old_items", F.lit(0)) + F.col("n_items")).alias("n_items"),
    )
    return upsert_parquet(spark, view_dir, merged, key="n_name")


def revenue_report(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained view in revenue_by_nation's report shape."""
    return (
        spark.read.parquet(view_dir)
        .select(
            "n_name",
            F.col("revenue_dec").cast("double").alias("revenue"),
            "n_items",
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def run_ivm_stream(lineitem_stream: DataFrame, view_dir: str, sf_dir: str, checkpoint_dir: str):
    """foreachBatch loop: maintain the revenue view continuously from a
    lineitem stream (availableNow replays the backlog then stops)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        fold_revenue_batch(batch_df, view_dir, sf_dir)

    return (
        lineitem_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
