"""File-level APPEND commits (operators/versioned.py::append_version):
chain resolution, chain-aware metadata/pruning/blooms, retention
ancestor protection, flatten-by-compaction, and MOR composition."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from pyspark_big_data_spark.operators.deletes import (
    delete_keys,
    materialize_deletes,
    read_version_mor,
)
from pyspark_big_data_spark.operators.versioned import (
    append_version,
    bloom_file_plan,
    compact_version,
    expire_versions,
    list_versions,
    pruned_file_plan,
    read_version,
    read_version_point,
    read_version_pruned,
    snapshot_history,
    snapshot_min_max,
    snapshot_row_count,
    version_chain,
    write_version,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("x"))
    )


def _rows(df):
    return sorted((r["k"], r["x"]) for r in df.collect())


def test_append_chain_reads_base_plus_deltas(spark, tmp_path):
    root = str(tmp_path / "vds")
    assert write_version(_df(spark, 0, 100), root) == 0
    assert append_version(_df(spark, 100, 150), root) == 1
    assert append_version(_df(spark, 150, 160), root) == 2

    assert version_chain(spark, root, 2) == [2, 1, 0]
    assert version_chain(spark, root, 0) == [0]
    assert read_version(spark, root, 0).count() == 100
    assert read_version(spark, root, 1).count() == 150
    assert _rows(read_version(spark, root, 2)) == _rows(_df(spark, 0, 160))


def test_append_writes_only_the_delta(spark, tmp_path):
    """The append commit's directory holds the delta files, never a
    base copy — the O(delta) write contract."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 1000), root)
    append_version(_df(spark, 1000, 1010).coalesce(1), root)
    delta_files = [
        f for f in os.listdir(f"{root}/v=1") if f.endswith(".parquet")
    ]
    assert len(delta_files) == 1
    import pyarrow.parquet as pq

    assert pq.ParquetFile(f"{root}/v=1/{delta_files[0]}").metadata.num_rows == 10


def test_append_contracts(spark, tmp_path):
    root = str(tmp_path / "vds")
    with pytest.raises(ValueError, match="needs a base"):
        append_version(_df(spark, 0, 10), root)
    write_version(_df(spark, 0, 10), root)
    with pytest.raises(ValueError, match="schema mismatch"):
        append_version(
            _df(spark, 10, 20).withColumnRenamed("x", "y"), root
        )


def test_chain_aware_pruning_and_metadata(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 1000).repartitionByRange(4, "k"), root, stats_cols=["k"]
    )
    append_version(
        _df(spark, 1000, 2000).repartitionByRange(4, "k"), root, stats_cols=["k"]
    )

    # metadata-only row count and min/max merge over the chain
    assert snapshot_row_count(spark, root, 1) == 2000
    assert snapshot_min_max(spark, root, ["k"], 1)["k"] == (0, 1999)

    # pruning selects across BOTH members; values equal full+filter
    sel, n_sel, n_total = pruned_file_plan(spark, root, "k", 900, 1100, version=1)
    assert n_total == 8 and 0 < n_sel < n_total
    assert {"/v=0/" in p for p in sel} == {True, False} or n_sel <= 2
    got = read_version_pruned(spark, root, "k", 900, 1100, version=1)
    want = read_version(spark, root, 1).filter(
        (F.col("k") >= 900) & (F.col("k") <= 1100)
    )
    assert _rows(got) == _rows(want)


def test_chain_aware_bloom_point_lookup(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 500).repartition(4, "k"), root, bloom_cols=["k"]
    )
    append_version(
        _df(spark, 500, 1000).repartition(4, "k"), root, bloom_cols=["k"]
    )
    sel, n_sel, n_total = bloom_file_plan(spark, root, "k", [777], version=1)
    assert n_total == 8 and n_sel < n_total
    got = read_version_point(spark, root, "k", 777, version=1)
    assert _rows(got) == [(777, 1554.0)]


def test_retention_protects_chain_ancestors(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)
    append_version(_df(spark, 100, 110), root)
    append_version(_df(spark, 110, 120), root)
    # the survivor (v=2) depends on 1 and 0: nothing may expire
    assert expire_versions(spark, root, keep_last=1) == []
    assert list_versions(spark, root) == [0, 1, 2]
    # a later FULL snapshot cuts the dependency; old chain reclaims
    write_version(_df(spark, 0, 120), root)
    assert expire_versions(spark, root, keep_last=1) == [0, 1, 2]
    assert read_version(spark, root, 3).count() == 120


def test_compaction_flattens_a_chain(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 500).repartitionByRange(4, "k"), root, stats_cols=["k"]
    )
    append_version(
        _df(spark, 500, 600).repartitionByRange(2, "k"), root, stats_cols=["k"]
    )
    res = compact_version(spark, root, target_files=2, cluster_by="k")
    assert res["files_before"] == 6  # logical chain census
    assert res["files_after"] <= 2
    flat = res["version"]
    assert version_chain(spark, root, flat) == [flat]
    assert _rows(read_version(spark, root, flat)) == _rows(_df(spark, 0, 600))
    # the flattened snapshot no longer pins its ancestors
    assert expire_versions(spark, root, keep_last=1) == [0, 1]


def test_deletes_compose_with_append_chains(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)
    append_version(_df(spark, 100, 150), root)
    keys = spark.createDataFrame([(5,), (105,)], "k long")
    delete_keys(spark, root, keys, "k", version=1)
    mor = read_version_mor(spark, root, 1)
    assert mor.count() == 148
    assert {r["k"] for r in mor.filter(F.col("k").isin(5, 105)).collect()} == set()
    v2 = materialize_deletes(spark, root, 1)
    assert read_version(spark, root, v2).count() == 148
    assert version_chain(spark, root, v2) == [v2]  # materialize writes FULL


def test_broken_chain_fails_loudly(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 10), root)
    append_version(_df(spark, 10, 20), root)
    shutil.rmtree(f"{root}/v=0")
    with pytest.raises(ValueError, match="chain is broken"):
        read_version(spark, root, 1)


def test_history_reports_logical_rows_and_base(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root, stats_cols=["k"])
    append_version(_df(spark, 100, 130), root)
    hist = snapshot_history(spark, root)
    assert hist[0]["base_version"] is None and hist[0]["n_rows"] == 100
    assert hist[1]["base_version"] == 0 and hist[1]["n_rows"] == 130


def test_manifest_extra_marker_and_reserved_guard(spark, tmp_path):
    root = str(tmp_path / "vds")
    from pyspark_big_data_spark.operators.versioned import manifest

    write_version(_df(spark, 0, 10), root, manifest_extra={"writer_batch_id": 7})
    assert manifest(spark, root, 0)["writer_batch_id"] == 7
    with pytest.raises(ValueError, match="reserved"):
        write_version(_df(spark, 0, 5), root, manifest_extra={"files": {}})


def test_exactly_once_append_chain_sink(spark, tmp_path):
    """Each batch commits once (base, then appends); a redelivered
    batch_id is skipped without a new version; the chain read serves
    the union."""
    from pyspark_big_data_spark.streaming.sinks import (
        exactly_once_append_chain_sink,
    )

    root = str(tmp_path / "chain_table")
    sink = exactly_once_append_chain_sink(root)
    sink(_df(spark, 0, 10), 0)
    sink(_df(spark, 10, 20), 1)
    sink(_df(spark, 20, 30), 2)
    assert list_versions(spark, root) == [0, 1, 2]
    assert version_chain(spark, root, 2) == [2, 1, 0]
    # redelivery of any already-committed batch id is a no-op
    sink(_df(spark, 20, 30), 2)
    sink(_df(spark, 0, 10), 0)
    assert list_versions(spark, root) == [0, 1, 2]
    assert _rows(read_version(spark, root, 2)) == _rows(_df(spark, 0, 30))


def test_table_changes_reads_only_delta_dirs(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import table_changes

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)
    append_version(_df(spark, 100, 150), root)
    append_version(_df(spark, 150, 160), root)

    feed = table_changes(spark, root, 0, 2)
    assert _rows(feed) == _rows(_df(spark, 100, 160))
    # O(changes) I/O: the feed's file index never touches the base
    assert all("/v=0/" not in p for p in feed.inputFiles())

    assert _rows(table_changes(spark, root, 1, 2)) == _rows(_df(spark, 150, 160))
    empty = table_changes(spark, root, 2, 2)
    assert empty.count() == 0 and empty.columns == ["k", "x"]


def test_table_changes_contracts(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import table_changes

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 10), root)
    append_version(_df(spark, 10, 20), root)
    write_version(_df(spark, 0, 30), root)  # v=2: full rewrite
    append_version(_df(spark, 30, 40), root)

    with pytest.raises(ValueError, match="full rewrite"):
        table_changes(spark, root, 0, 2)
    with pytest.raises(ValueError, match="full rewrite"):
        table_changes(spark, root, 1, 3)  # range crosses the rewrite
    assert table_changes(spark, root, 2, 3).count() == 10
    with pytest.raises(ValueError, match="newer than"):
        table_changes(spark, root, 3, 1)
    with pytest.raises(ValueError, match="does not exist"):
        table_changes(spark, root, 0, 9)


def test_additive_schema_evolution(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import table_changes

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root)
    evolved = _df(spark, 100, 120).withColumn("tag", F.lit("late"))
    # refused without the explicit opt-in
    with pytest.raises(ValueError, match="schema mismatch"):
        append_version(evolved, root)
    append_version(evolved, root, allow_evolution=True)

    out = read_version(spark, root, 1)
    assert set(out.columns) == {"k", "x", "tag"}
    # pre-evolution rows null-fill the new column; new rows carry it
    assert out.filter(F.col("tag").isNull()).count() == 100
    assert out.filter(F.col("tag") == "late").count() == 20
    # the CDF over the evolved range carries the new column too
    feed = table_changes(spark, root, 0, 1)
    assert feed.filter(F.col("tag") == "late").count() == 20

    # a range whose first delta predates the added column: both feeds
    # carry the head's columns in the head's order, null-filled
    from pyspark_big_data_spark.operators.cdf import table_changes_typed

    root2 = str(tmp_path / "vds2")
    write_version(_df(spark, 0, 10), root2)
    append_version(_df(spark, 10, 20), root2)
    append_version(
        _df(spark, 20, 25).select(F.lit("late").alias("tag"), "k", "x"),
        root2,
        allow_evolution=True,
    )
    head_cols = read_version(spark, root2, 2).columns
    typed_cols = ["_change_type", "_commit_version"]
    for feed, extra in (
        (table_changes(spark, root2, 0, 2), []),
        (table_changes_typed(spark, root2, 0, 2), typed_cols),
    ):
        assert feed.columns == head_cols + extra
        assert feed.filter(F.col("tag").isNull()).count() == 10
        assert feed.filter(F.col("tag") == "late").count() == 5


def test_evolution_refuses_drops(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 10), root)
    with pytest.raises(ValueError, match="ADDITIVE only"):
        append_version(
            _df(spark, 10, 20).drop("x"), root, allow_evolution=True
        )


def test_evolved_chain_pruned_read(spark, tmp_path):
    root = str(tmp_path / "vds")
    write_version(
        _df(spark, 0, 1000).repartitionByRange(4, "k"), root, stats_cols=["k"]
    )
    append_version(
        _df(spark, 1000, 2000).withColumn("tag", F.lit("l")).repartitionByRange(4, "k"),
        root,
        stats_cols=["k"],
        allow_evolution=True,
    )
    got = read_version_pruned(spark, root, "k", 900, 1100, version=1)
    assert set(got.columns) == {"k", "x", "tag"}
    assert got.count() == 201
    assert got.filter(F.col("tag").isNull()).count() == 100


def test_sink_auto_compaction_carries_markers(spark, tmp_path):
    """compact_every flattens the chain in-sink; the flatten carries
    the batch-id markers forward, so a batch redelivered right AFTER a
    compaction (crash between append and checkpoint) is still a
    no-op — the window that would otherwise double-append."""
    from pyspark_big_data_spark.operators.versioned import manifest
    from pyspark_big_data_spark.streaming.sinks import (
        exactly_once_append_chain_sink,
    )

    root = str(tmp_path / "chain_table")
    sink = exactly_once_append_chain_sink(root, compact_every=3, compact_target_files=2)
    sink(_df(spark, 0, 10), 0)
    sink(_df(spark, 10, 20), 1)
    sink(_df(spark, 20, 30), 2)  # chain hits 3 -> flatten to v=3
    tip = max(list_versions(spark, root))
    assert version_chain(spark, root, tip) == [tip]
    assert sorted(manifest(spark, root, tip)["writer_batch_ids"]) == [0, 1, 2]
    # redelivery of the pre-compaction batch: must be skipped
    sink(_df(spark, 20, 30), 2)
    assert max(list_versions(spark, root)) == tip
    assert read_version(spark, root, tip).count() == 30
    # and the feed continues appending on top of the flat version
    sink(_df(spark, 30, 40), 3)
    assert _rows(read_version(spark, root)) == _rows(_df(spark, 0, 40))


def test_restore_version_is_metadata_only(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import (
        manifest,
        restore_version,
        snapshot_row_count,
        table_changes,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root, stats_cols=["k"])       # v0
    write_version(_df(spark, 0, 30), root, stats_cols=["k"])        # v1 (bad rewrite)
    v2 = restore_version(spark, root, 0)
    assert v2 == 2
    # current state == v0 again, resolved through the chain
    assert _rows(read_version(spark, root)) == _rows(_df(spark, 0, 100))
    assert version_chain(spark, root, v2) == [v2, 0]
    assert manifest(spark, root, v2)["restored_from"] == 0
    # O(1) bytes: the restore commit's own dir carries no data rows
    own = sum(int(n) for n in manifest(spark, root, v2)["file_rows"].values())
    assert own == 0
    assert snapshot_row_count(spark, root, v2) == 100  # chain metadata
    # the rolled-back version stays readable history
    assert read_version(spark, root, 1).count() == 30
    # a restore adds no rows to the feed
    assert table_changes(spark, root, 0, v2).count() == 0
    # retention: the restore pins its target's chain, v1 reclaims
    assert expire_versions(spark, root, keep_last=1) == [1]
    assert _rows(read_version(spark, root)) == _rows(_df(spark, 0, 100))


def test_restore_contracts(spark, tmp_path):
    from pyspark_big_data_spark.operators.versioned import restore_version

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 10), root)
    with pytest.raises(ValueError, match="does not exist"):
        restore_version(spark, root, 5)
    with pytest.raises(ValueError, match="no-op"):
        restore_version(spark, root, 0)


def test_evolved_chain_pruned_schema_is_pruning_independent(spark, tmp_path):
    """Which files survive pruning must not decide the result schema:
    a predicate whose survivors all live in pre-evolution members still
    returns the full chain-merged schema (evolved columns null-filled),
    bit-identical to the full read + filter (r10 advice item)."""
    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root, stats_cols=["k"])
    evolved = _df(spark, 100, 200).withColumn("y", F.lit("new"))
    append_version(evolved, root, allow_evolution=True, stats_cols=["k"])

    full_cols = read_version(spark, root, 1).columns
    got = read_version_pruned(spark, root, "k", upper=50, version=1)
    assert got.columns == full_cols  # evolved column present, same order
    assert got.filter(F.col("y").isNotNull()).count() == 0
    want = read_version(spark, root, 1).filter(F.col("k") <= 50)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # survivors spanning both eras and the empty selection agree too
    both = read_version_pruned(spark, root, "k", 50, 150, version=1)
    assert both.columns == full_cols
    empty = read_version_pruned(spark, root, "k", 10_000, 20_000, version=1)
    assert empty.columns == full_cols and empty.count() == 0

    # the not-null fast path gets the same reconciliation
    from pyspark_big_data_spark.operators.versioned import read_version_not_null

    nn = read_version_not_null(spark, root, "k", version=1)
    assert nn.columns == full_cols


def test_as_of_timestamp_resolution(spark, tmp_path):
    """AS-OF-TIMESTAMP: latest version with commit time <= ts; before
    the first commit raises; datetime/ISO inputs accepted."""
    import datetime as dt

    from pyspark_big_data_spark.operators.versioned import (
        read_version_as_of,
        table_changes_as_of,
        version_as_of,
        version_commit_times,
    )

    root = str(tmp_path / "vds")
    write_version(_df(spark, 0, 100), root, stats_cols=["k"])
    append_version(_df(spark, 100, 150), root, stats_cols=["k"])
    write_version(_df(spark, 0, 10), root, stats_cols=["k"])

    times = version_commit_times(spark, root)
    assert sorted(times) == [0, 1, 2]
    t0, t1, t2 = times[0], times[1], times[2]
    assert t0 < t1 < t2  # committed_at stamps are strictly ordered

    mid = (t1 + t2) / 2
    assert version_as_of(spark, root, mid) == 1
    assert version_as_of(spark, root, t2) == 2      # boundary: <= ts
    assert version_as_of(spark, root, t2 + 60) == 2
    assert version_as_of(spark, root, dt.datetime.fromtimestamp(mid)) == 1
    assert version_as_of(
        spark, root, dt.datetime.fromtimestamp(mid).isoformat()
    ) == 1
    with pytest.raises(ValueError, match="predates"):
        version_as_of(spark, root, t0 - 60)

    assert read_version_as_of(spark, root, mid).count() == 150
    assert table_changes_as_of(spark, root, (t0 + t1) / 2, mid).count() == 50


def test_snapshot_ndv_sketches(spark, tmp_path):
    """Manifest NDV: exact in list mode (tiny cardinalities), ~1.6%
    RSE at lgK=12, chain-merged across members, missing-col refused."""
    from pyspark_big_data_spark.operators.versioned import snapshot_ndv

    root = str(tmp_path / "vds")
    seg = (F.col("k") % 7).cast("string").alias("seg")
    write_version(
        _df(spark, 0, 5000).select("k", "x", seg).repartition(4),
        root,
        ndv_cols=["k", "seg"],
    )
    assert snapshot_ndv(spark, root, "seg") == 7  # list mode: exact
    est = snapshot_ndv(spark, root, "k")
    assert abs(est / 5000 - 1.0) <= 0.05
    append_version(
        _df(spark, 5000, 8000).select("k", "x", seg).repartition(2),
        root,
        ndv_cols=["k", "seg"],
    )
    est2 = snapshot_ndv(spark, root, "k")
    assert abs(est2 / 8000 - 1.0) <= 0.05
    assert est2 > est  # the chain union really merged
    with pytest.raises(ValueError, match="no NDV sketch"):
        snapshot_ndv(spark, root, "x")
