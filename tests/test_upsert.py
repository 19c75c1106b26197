"""Keyed parquet upsert: replace/insert semantics, duplicate-key and
schema guards, counts at the edges (the swap rollback is pinned for
every caller in tests/test_replace_parquet.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.operators.upsert import upsert_parquet


def _seed(spark, sf_dir, tmp_path):
    path = str(tmp_path / "dim")
    read_table(spark, sf_dir, "customer").write.parquet(path)
    return path


def test_upsert_updates_and_inserts(spark, sf_dir, tmp_path):
    path = _seed(spark, sf_dir, tmp_path)
    before = spark.read.parquet(path)
    n = before.count()
    cols = before.columns

    # update 3 existing customers' segment, insert 2 new keys
    upd = before.orderBy("c_custkey").limit(3).withColumn(
        "c_mktsegment", F.lit("UPSERTED")
    )
    ins = (
        before.orderBy("c_custkey").limit(2)
        .withColumn("c_custkey", F.col("c_custkey") + 10_000_000)
        .withColumn("c_mktsegment", F.lit("INSERTED"))
    )
    # materialize the expectation BEFORE the swap replaces the files
    keys = [r["c_custkey"] for r in upd.select("c_custkey").collect()]
    untouched_before = {tuple(r) for r in before.filter(~F.col("c_custkey").isin(keys)).collect()}
    updates_df = upd.unionByName(ins).select(cols).localCheckpoint(eager=True)

    rep = upsert_parquet(spark, path, updates_df, "c_custkey")
    assert rep == {"updated": 3, "inserted": 2, "total": n + 2}

    after = spark.read.parquet(path)
    assert after.count() == n + 2
    assert after.filter(F.col("c_mktsegment") == "UPSERTED").count() == 3
    assert after.filter(F.col("c_mktsegment") == "INSERTED").count() == 2
    untouched_after = {
        tuple(r)
        for r in after.filter(
            ~F.col("c_custkey").isin(keys) & (F.col("c_custkey") < 10_000_000)
        ).collect()
    }
    assert untouched_before == untouched_after


def test_upsert_rejects_duplicate_update_keys(spark, sf_dir, tmp_path):
    path = _seed(spark, sf_dir, tmp_path)
    one = spark.read.parquet(path).limit(1)
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_parquet(spark, path, one.unionByName(one), "c_custkey")


def test_upsert_rejects_schema_mismatch(spark, sf_dir, tmp_path):
    path = _seed(spark, sf_dir, tmp_path)
    bad = spark.read.parquet(path).limit(1).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_parquet(spark, path, bad, "c_custkey")


def _kv(spark, keys, tag):
    return spark.createDataFrame([(k, f"{tag}{k}") for k in keys], "k long, v string")


def _state(spark, path):
    return sorted((r["k"], r["v"]) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize(
    "existing,updates,report",
    [
        # empty updates: a no-op rewrite
        (range(10), [], {"updated": 0, "inserted": 0, "total": 10}),
        # empty existing dataset: every key inserts
        ([], range(5), {"updated": 0, "inserted": 5, "total": 5}),
        # all-new keys: nothing updates
        (range(10), range(100, 104), {"updated": 0, "inserted": 4, "total": 14}),
    ],
    ids=["empty_updates", "empty_existing", "all_new_keys"],
)
def test_upsert_counts_edge_cases(spark, tmp_path, existing, updates, report):
    """The counts come from observations on the rewrite, not separate
    actions; they must hold when either side is empty."""
    path = str(tmp_path / "kv")
    _kv(spark, existing, "old").write.parquet(path)
    assert upsert_parquet(spark, path, _kv(spark, updates, "new"), "k") == report
    want = {k: f"old{k}" for k in existing} | {k: f"new{k}" for k in updates}
    assert _state(spark, path) == sorted(want.items())


def test_erase_keys_removes_and_is_idempotent(spark, sf_dir, tmp_path):
    from pyspark_big_data_spark.operators.upsert import erase_keys_parquet

    path = _seed(spark, sf_dir, tmp_path)
    before = spark.read.parquet(path)
    n_before = before.count()
    # materialized key manifest (not a live plan over `path`): a lazy
    # frame over the dataset being rewritten would pin the pre-swap
    # file listing and fail on replay — the operator docstring's
    # caller contract
    key_rows = [
        (r.c_custkey,)
        for r in before.filter(F.col("c_custkey") % 100 == 0).select("c_custkey").collect()
    ]
    keys = spark.createDataFrame(key_rows, ["c_custkey"])
    n_keys = len(key_rows)
    assert n_keys > 0

    stats = erase_keys_parquet(spark, path, keys, "c_custkey")
    assert stats == {"erased": n_keys, "kept": n_before - n_keys}
    after = spark.read.parquet(path)
    assert after.count() == n_before - n_keys
    assert after.filter(F.col("c_custkey") % 100 == 0).count() == 0

    # compliance replay: erasing the same keys again is a no-op
    stats2 = erase_keys_parquet(spark, path, keys, "c_custkey")
    assert stats2 == {"erased": 0, "kept": n_before - n_keys}
    assert spark.read.parquet(path).count() == n_before - n_keys
