"""Offline compaction of the persisted incremental-dedup index: fewer
files, identical probe semantics (the swap rollback is pinned in
tests/test_replace_parquet.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_big_data_spark.io import read_table
from pyspark_big_data_spark.streaming.incremental_dedup import process_document_batch

from tools.compact_index import compact_index, dataset_file_stats

_SHARDS = 4


def _build_index(spark, docs, index_dir: str):
    """Append the first _SHARDS-1 doc shards batch-by-batch (so the
    dataset really fragments); return the held-back final shard."""
    for shard in range(_SHARDS - 1):
        process_document_batch(docs.filter(F.col("doc_id") % _SHARDS == shard), index_dir)
    return docs.filter(F.col("doc_id") % _SHARDS == _SHARDS - 1)


def test_compaction_reduces_files_and_preserves_pairs(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents")
    dir_a = str(tmp_path / "index_a")  # stays fragmented
    dir_b = str(tmp_path / "index_b")  # gets compacted
    nxt = _build_index(spark, docs, dir_a)
    _build_index(spark, docs, dir_b)

    sigs_rows = spark.read.parquet(f"{dir_b}/sigs").count()
    bands_rows = spark.read.parquet(f"{dir_b}/bands").count()
    files_before, _ = dataset_file_stats(spark, f"{dir_b}/bands")
    assert files_before > 8  # the appends really did fragment it

    for rep in compact_index(spark, dir_b, target_mb=128):
        assert rep["files_after"] <= rep["files_before"]
    files_after, _ = dataset_file_stats(spark, f"{dir_b}/bands")
    assert files_after < files_before

    # identical contents after the rewrite, band_no layout preserved
    assert spark.read.parquet(f"{dir_b}/sigs").count() == sigs_rows
    assert spark.read.parquet(f"{dir_b}/bands").count() == bands_rows
    assert "band_no" in spark.read.parquet(f"{dir_b}/bands").columns

    # the held-back batch must probe the compacted index to EXACTLY the
    # pair set it produces against the fragmented twin
    pairs_a = {
        (r["id_a"], r["id_b"]) for r in process_document_batch(nxt, dir_a).collect()
    }
    pairs_b = {
        (r["id_a"], r["id_b"]) for r in process_document_batch(nxt, dir_b).collect()
    }
    assert pairs_a == pairs_b
    assert pairs_a  # non-degenerate: the probe actually found duplicates
