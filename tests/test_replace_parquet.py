"""versioned.replace_parquet — the one replace-by-rename seam for
plain-parquet datasets: row counts from the write, no staging debris,
and a rollback that every caller inherits."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from pyspark_big_data_spark.operators.versioned import replace_parquet


def _rows(spark, path):
    return sorted(repr(tuple(r)) for r in spark.read.parquet(path).collect())


def _debris(path):
    parent, name = os.path.split(path)
    return [n for n in os.listdir(parent) if n.startswith(f".{name}.")]


def _kv(spark, n=20):
    return spark.createDataFrame([(i, f"v{i}") for i in range(n)], "k long, v string")


def test_replace_counts_rows_and_leaves_no_debris(spark, tmp_path):
    path = str(tmp_path / "ds")
    assert replace_parquet(_kv(spark), path) == 20  # first write: nothing live
    assert replace_parquet(spark.read.parquet(path).filter("k < 5"), path) == 5
    assert _rows(spark, path) == sorted(repr((i, f"v{i}")) for i in range(5))
    assert replace_parquet(_kv(spark).limit(0), path) == 0
    assert spark.read.parquet(path).count() == 0
    assert _debris(path) == []


def test_replace_keeps_partition_layout(spark, tmp_path):
    path = str(tmp_path / "parted")
    df = _kv(spark).withColumn("p", F.col("k") % 3)
    assert replace_parquet(df, path, partition_by=["p"]) == 20
    assert sorted(n for n in os.listdir(path) if n.startswith("p=")) == ["p=0", "p=1", "p=2"]
    assert _rows(spark, path) == sorted(repr(tuple(r)) for r in df.select("k", "v", "p").collect())


# each case: build the pre-state, return (dataset path, the failing call)
def _upsert(spark, tmp_path):
    from pyspark_big_data_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "dim")
    _kv(spark).write.parquet(path)
    upd = spark.createDataFrame([(1, "new"), (99, "ins")], "k long, v string")
    return path, lambda: upsert_parquet(spark, path, upd, "k")


def _erase(spark, tmp_path):
    from pyspark_big_data_spark.operators.upsert import erase_keys_parquet

    path = str(tmp_path / "dim")
    _kv(spark).write.parquet(path)
    keys = spark.createDataFrame([(1,), (2,)], "k long")
    return path, lambda: erase_keys_parquet(spark, path, keys, "k")


def _cdc_apply(spark, tmp_path):
    from pyspark_big_data_spark.operators.cdc import apply_changes

    path = str(tmp_path / "snap")
    _kv(spark).write.parquet(path)
    log = spark.createDataFrame(
        [(1, 1, "u", "x"), (2, 1, "d", None), (50, 2, "u", "y")],
        "k long, seq long, op string, v string",
    )
    return path, lambda: apply_changes(spark, path, log, "k")


def _cms_fold(spark, tmp_path):
    from pyspark_big_data_spark.streaming.cms_maintain import update_cms_index

    idx = str(tmp_path / "cms")
    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "the lazy dog")], "doc_id long, text string"
    )
    update_cms_index(docs, idx, batch_id=0)
    return f"{idx}/grid", lambda: update_cms_index(docs, idx, batch_id=1)


def _compaction(spark, tmp_path):
    from tools.compact_index import compact_dataset

    path = str(tmp_path / "sigs")
    _kv(spark).repartition(4).write.parquet(path)
    return path, lambda: compact_dataset(spark, path)


def _moments(spark, tmp_path):
    from pyspark_big_data_spark.queries.pca_reduce import update_moments

    path = str(tmp_path / "moments")
    batch = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 5.0])], "vec_id long, e array<double>"
    )
    update_moments(batch, 2, path)
    return path, lambda: update_moments(batch, 2, path)


def _cluster_map(spark, tmp_path):
    from pyspark_big_data_spark.streaming.incremental_dedup import update_cluster_map

    path = str(tmp_path / "cmap")
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    update_cluster_map(ids, pairs, path)
    new_ids = spark.createDataFrame([(4,)], "doc_id long")
    new_pairs = spark.createDataFrame([(3, 4)], "id_a long, id_b long")
    return path, lambda: update_cluster_map(new_ids, new_pairs, path)


_CALLERS = {
    "cluster_map": _cluster_map,
    "upsert": _upsert,
    "erase": _erase,
    "cdc_apply": _cdc_apply,
    "cms_fold": _cms_fold,
    "compaction": _compaction,
    "moments": _moments,
}


@pytest.mark.parametrize("caller", sorted(_CALLERS))
def test_every_caller_rolls_back_when_move_in_fails(
    spark, tmp_path, monkeypatch, fail_move_in, caller
):
    path, call = _CALLERS[caller](spark, tmp_path)
    before = _rows(spark, path)
    fail_move_in()
    with pytest.raises(RuntimeError, match=re.escape(path)):
        call()
    monkeypatch.undo()
    spark.catalog.refreshByPath(path)
    assert _rows(spark, path) == before
    assert _debris(path) == []
