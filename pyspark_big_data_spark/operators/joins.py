"""Join operators: broadcast and skew salting.

The reference hand-rolls broadcast and repartition joins as RDD code
(``src/query4.py:104-173``); on the engine those are one-liners around
the DataFrame join. What the reference never needed — and 100 TB does —
is **skew mitigation**: a handful of hot keys turning one shuffle
partition into a straggler. AQE's skew-join split handles sort-merge
cases at runtime; `salted_join` is the declarative fallback that also
works for shuffled-hash joins and extreme key concentration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def broadcast_join(
    large: DataFrame, small: DataFrame, on: list[str] | Column, how: str = "inner"
) -> DataFrame:
    """Map-side hash join: dimension shipped to every task (J6 — the
    DataFrame form of the reference's collectAsMap+broadcast RDD join)."""
    return large.join(F.broadcast(small), on, how)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join on a single key.

    The skewed (probe) side gets a deterministic per-row salt in
    [0, num_salts); the other (build) side is replicated num_salts times;
    the join runs on (key, salt), spreading each hot key over num_salts
    shuffle partitions. Build-side cost: x num_salts — use for dim-ish
    or pre-aggregated build sides, and only when AQE's runtime skew
    split isn't applicable.

    Deterministic (no rand()): the salt hashes the row's full content,
    so replays and retries place rows identically.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(num_salts))
    s = skewed.withColumn("__salt", salt)
    o = other.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1))))
    out = s.join(o, [key, "__salt"], how)
    return out.drop("__salt")
