"""Globally-sorted table export via range partitioning.

Downstream consumers that merge-read (external sorters, sorted-merge
loaders, sequential time-series scanners, the sorted-run inputs of an
LSM ingest) need a table that is sorted ACROSS files, not just inside
them. The distributed plan is Spark's own total-order machinery:
``repartitionByRange`` samples the sort key to build range boundaries
(one Exchange with rangepartitioning), ``sortWithinPartitions`` sorts
each range locally (no second shuffle, no single-node sort), and the
writer emits one file per range — so lexicographic file order IS
global key order. At 100 TB this is the only sort shape that works:
the global sort costs one sampled shuffle, and no executor ever holds
more than its range.

``verify_sorted_export`` is the independent check (used by the
witness): it re-reads the files, asserts each is internally sorted and
that per-file [min, max] ranges are disjoint and ordered by file name
— together those two properties are exactly "globally sorted".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_sorted(
    df: DataFrame, path: str, sort_cols: list[str], num_files: int
) -> None:
    """Write ``df`` at ``path`` globally sorted on ``sort_cols`` across
    ``num_files`` range files."""
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def verify_sorted_export(
    spark: SparkSession, path: str, sort_cols: list[str]
) -> dict:
    """Check global sortedness of a written export. Returns
    ``{"files": n, "files_sorted_within": bool, "ranges_disjoint":
    bool}`` — both booleans must hold for the export to be globally
    sorted. Distributed: per-file order is checked with one window per
    file partition; the cross-file check compares only per-file
    [min, max] summaries (O(files) rows on the driver)."""
    key = F.struct(*[F.col(c) for c in sort_cols])
    # _metadata.row_index gives the PHYSICAL position inside each file —
    # the window must order by position and test key monotonicity, not
    # order by the key (which would vacuously report sorted).
    # any plain parquet path, with no manifest: infer its schema
    data = spark.read.parquet(path).select(
        F.input_file_name().alias("_file"),
        F.col("_metadata.row_index").alias("_pos"),
        key.alias("_k"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_file").orderBy("_pos")
    disorder = (
        data.withColumn("_prev", F.lag("_k").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") > F.col("_k")))
        .count()
    )
    summaries = (
        data.groupBy("_file")
        .agg(F.min("_k").alias("lo"), F.max("_k").alias("hi"))
        .orderBy("_file")
        .collect()
    )
    disjoint = all(
        summaries[i]["hi"] <= summaries[i + 1]["lo"]
        for i in range(len(summaries) - 1)
    )
    return {
        "files": len(summaries),
        "files_sorted_within": disorder == 0,
        "ranges_disjoint": disjoint,
    }
