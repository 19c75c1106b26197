"""Materialized aggregate views with automatic query rewrite.

The classic OLAP accelerator (Calcite/StarRocks/BigQuery MV rewrite,
Kimball "aggregate navigation"): materialize ONE fine-grained aggregate
over a fact table, then answer every coarser aggregate query by rolling
the MV up instead of rescanning the fact — at 100 TB the MV is orders
of magnitude smaller than the fact (bounded by the group-key
cardinality), so a dashboard query goes from a full fact scan to a
scan of a few thousand pre-aggregated rows.

Rewrite rules (standard summary-table algebra):

- a query is SERVABLE from an MV iff its GROUP BY columns are a subset
  of the MV's group columns and every requested measure is derivable:
    sum(x)    <- SUM(mv.sum_x)        (decimal partials: exact,
                                        order-independent re-aggregation)
    count(*)  <- SUM(mv.count_star)
    count(x)  <- SUM(mv.count_x)
    min(x)    <- MIN(mv.min_x),  max(x) <- MAX(mv.max_x)
    avg(x)    <- SUM(mv.sum_x) / SUM(mv.count_x)   (exact sum / count)
- anything else (distinct counts, medians, measures the MV did not
  store) is NOT derivable and falls back to the base table — silently
  correct, never silently wrong.

Partial SUMs are stored as DECIMAL(30,8)-cast exact sums (the engine's
order-independence policy, functions/aggregates.py), so re-aggregating
partials is bit-identical to aggregating the base rows directly — the
property that makes MV-vs-base differential testing (and the DuckDB
oracle) exact rather than tolerance-based.

The MV itself is a plain parquet directory plus a ``_mv.json``
descriptor (group columns + stored measures), written atomically via
stage-then-rename like every other persisted artifact in this engine.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

_DEC = "decimal(30,8)"
_DESCRIPTOR = "_mv.json"

# (agg, col) -> stored measure column name
def _mv_col(agg: str, col: str | None) -> str:
    return f"{agg}_{col}" if col is not None else "count_star"


def _measure_exprs(measures: list[tuple[str, str | None]]) -> list:
    exprs = []
    for agg, col in measures:
        name = _mv_col(agg, col)
        if agg == "sum":
            exprs.append(F.sum(F.col(col).cast(_DEC)).alias(name))
        elif agg == "count":
            exprs.append(
                (F.count(F.lit(1)) if col is None else F.count(F.col(col))).alias(name)
            )
        elif agg == "min":
            exprs.append(F.min(F.col(col)).alias(name))
        elif agg == "max":
            exprs.append(F.max(F.col(col)).alias(name))
        else:
            raise ValueError(f"unsupported MV measure: {agg}({col})")
    return exprs


def create_matview(
    base: DataFrame,
    mv_dir: str,
    group_cols: list[str],
    measures: list[tuple[str, str | None]],
) -> dict:
    """Materialize an aggregate view of ``base`` at ``mv_dir``.

    ``measures`` is a list of ``(agg, col)`` with agg in
    {sum, count, min, max}; ``(count, None)`` is COUNT(*). Returns the
    descriptor. ``avg`` is intentionally not storable: store the
    (sum, count) pair instead — the rewriter derives avg from them.
    """
    mv = base.groupBy(*group_cols).agg(*_measure_exprs(measures))
    data_dir = os.path.join(mv_dir, "data_v0")
    mv.write.mode("overwrite").parquet(data_dir)
    desc = {
        "group_cols": list(group_cols),
        "measures": [[agg, col] for agg, col in measures],
        "data_dir": "data_v0",
        "refresh_epoch": 0,
    }
    _publish_descriptor(mv_dir, desc)
    return desc


def _publish_descriptor(mv_dir: str, desc: dict) -> None:
    tmp = os.path.join(mv_dir, f".{_DESCRIPTOR}.tmp")
    with open(tmp, "w") as f:
        json.dump(desc, f)
    os.replace(tmp, os.path.join(mv_dir, _DESCRIPTOR))  # atomic publish


def _load_descriptor(mv_dir: str) -> dict:
    with open(os.path.join(mv_dir, _DESCRIPTOR)) as f:
        return json.load(f)


def _data_dir(mv_dir: str, desc: dict) -> str:
    return os.path.join(mv_dir, desc.get("data_dir", "data_v0"))


def refresh_incremental(spark: SparkSession, mv_dir: str, delta: DataFrame) -> dict:
    """Fold an INSERT-ONLY base-table delta into the stored partials.

    Partial-aggregate algebra: decimal sums and counts ADD, min/max
    take least/greatest — all correct under inserts only (a delete can
    invalidate a stored min/max, so deleted/updated bases must rebuild
    with create_matview instead; this function's contract is the
    append-only fact feed, the overwhelmingly common MV refresh).
    Groups new in the delta appear; groups untouched keep their
    partials bit-for-bit (a full-outer join on the group key).

    The refreshed partials land in a NEW epoch directory and the
    descriptor repoints atomically, so concurrent readers keep a
    consistent snapshot (single-writer contract, like the engine's
    other descriptor-swapped artifacts).
    """
    desc = _load_descriptor(mv_dir)
    group_cols = desc["group_cols"]
    measures = [(a, c) for a, c in desc["measures"]]

    # the view's plain parquet data has no manifest: infer its schema
    old = spark.read.parquet(_data_dir(mv_dir, desc))
    new = delta.groupBy(*group_cols).agg(*_measure_exprs(measures))

    # Null-SAFE group-key equality: groupBy treats NULL as one group,
    # but a plain equi-join would never match it, so a null-keyed group
    # would accumulate one extra partial row per refresh instead of
    # folding (r9 advice item). eqNullSafe + coalesced key columns keep
    # the "untouched groups bit-for-bit, touched groups fold once"
    # invariant for null keys too.
    o = old.select(
        *[F.col(c).alias(f"go_{c}") for c in group_cols],
        *[F.col(_mv_col(a, c)).alias(f"o_{_mv_col(a, c)}") for a, c in measures],
    )
    n = new.select(
        *[F.col(c).alias(f"gn_{c}") for c in group_cols],
        *[F.col(_mv_col(a, c)).alias(f"n_{_mv_col(a, c)}") for a, c in measures],
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"go_{c}").eqNullSafe(F.col(f"gn_{c}")) for c in group_cols],
    )
    joined = o.join(n, cond, "full_outer")
    group_exprs = [
        F.coalesce(F.col(f"go_{c}"), F.col(f"gn_{c}")).alias(c) for c in group_cols
    ]

    combined = []
    for agg, col in measures:
        name = _mv_col(agg, col)
        a, b = F.col(f"o_{name}"), F.col(f"n_{name}")
        if agg == "sum":
            # both-null stays null (a group whose every row has a null
            # measure must re-aggregate to NULL, not 0)
            expr = F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
                F.coalesce(a, F.lit(0).cast(_DEC)) + F.coalesce(b, F.lit(0).cast(_DEC))
            )
        elif agg == "count":
            expr = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        elif agg == "min":
            expr = F.least(a, b)  # null-skipping: smallest non-null
        elif agg == "max":
            expr = F.greatest(a, b)
        else:
            raise ValueError(f"unsupported MV measure: {agg}({col})")
        combined.append(expr.alias(name))

    refreshed = joined.select(*group_exprs, *combined)
    epoch = int(desc.get("refresh_epoch", 0)) + 1
    new_dir = f"data_v{epoch}"
    refreshed.write.mode("overwrite").parquet(os.path.join(mv_dir, new_dir))
    desc["data_dir"] = new_dir
    desc["refresh_epoch"] = epoch
    _publish_descriptor(mv_dir, desc)
    # Epoch retention: keep the published epoch plus its predecessor
    # (a reader that resolved the old descriptor may still be scanning
    # it); everything older is unreachable by any descriptor a live
    # reader could hold and is reclaimed — same keep-horizon compromise
    # as versioned.expire_versions.
    import shutil

    for stale in range(epoch - 1):
        shutil.rmtree(os.path.join(mv_dir, f"data_v{stale}"), ignore_errors=True)
    return desc


def rewrite_aggregate(
    spark: SparkSession,
    mv_dir: str,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str | None]],
) -> DataFrame | None:
    """Rewrite ``GROUP BY group_cols`` + ``aggs`` onto the MV.

    ``aggs`` maps output column name -> (agg, col); agg additionally
    allows ``avg``. Returns the rolled-up DataFrame, or None when the
    query is not servable from this MV (caller falls back to base).
    """
    desc = _load_descriptor(mv_dir)
    stored = {tuple(m) for m in ((a, c) for a, c in desc["measures"])}
    if not set(group_cols) <= set(desc["group_cols"]):
        return None

    exprs = []
    for out, (agg, col) in aggs.items():
        if agg == "sum" and ("sum", col) in stored:
            exprs.append(F.sum(F.col(_mv_col("sum", col))).cast("double").alias(out))
        elif agg == "count" and ("count", col) in stored:
            exprs.append(F.sum(F.col(_mv_col("count", col))).alias(out))
        elif agg == "min" and ("min", col) in stored:
            exprs.append(F.min(F.col(_mv_col("min", col))).alias(out))
        elif agg == "max" and ("max", col) in stored:
            exprs.append(F.max(F.col(_mv_col("max", col))).alias(out))
        elif agg == "avg" and ("sum", col) in stored and ("count", col) in stored:
            exprs.append(
                (
                    F.sum(F.col(_mv_col("sum", col))).cast("double")
                    / F.sum(F.col(_mv_col("count", col)))
                ).alias(out)
            )
        else:
            return None  # not derivable — must fall back, never approximate

    # the view's plain parquet data has no manifest: infer its schema
    mv = spark.read.parquet(_data_dir(mv_dir, desc))
    return mv.groupBy(*group_cols).agg(*exprs)


def answer_aggregate(
    spark: SparkSession,
    mv_dir: str,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str | None]],
    base_loader,
) -> tuple[DataFrame, bool]:
    """Serve the aggregate from the MV when derivable, else from base.

    Returns ``(df, served_from_mv)``. The base fallback applies the
    SAME decimal-exact measure semantics, so both paths are
    bit-identical — the rewrite is a pure access-path decision, exactly
    like a database's aggregate navigator.
    """
    rewritten = rewrite_aggregate(spark, mv_dir, group_cols, aggs)
    if rewritten is not None:
        return rewritten, True

    exprs = []
    for out, (agg, col) in aggs.items():
        if agg == "sum":
            exprs.append(F.sum(F.col(col).cast(_DEC)).cast("double").alias(out))
        elif agg == "count":
            exprs.append(
                (F.count(F.lit(1)) if col is None else F.count(F.col(col))).alias(out)
            )
        elif agg == "min":
            exprs.append(F.min(F.col(col)).alias(out))
        elif agg == "max":
            exprs.append(F.max(F.col(col)).alias(out))
        elif agg == "avg":
            exprs.append(
                (F.sum(F.col(col).cast(_DEC)).cast("double") / F.count(F.col(col))).alias(out)
            )
        else:
            raise ValueError(f"unsupported aggregate: {agg}({col})")
    return base_loader().groupBy(*group_cols).agg(*exprs), False
